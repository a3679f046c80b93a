"""The two workloads and their three sections. Each workload is a closed
loop with one client: a pass runs its sections one after another, a
section runs its parts one after another, and each part sends its
requests one at a time, waiting for each result. A part checks its
outputs itself or returns the check, which the caller runs after the
pass. The set-up's warm-up runs each section's parts, checks included,
side by side.

- chain: the GraphSense path, the raw keyspace written, then read.
  - chain-ingest: the write path. Backfill writes the whole raw keyspace
    (7 tables); follow stages the chain tail as block-range files, one
    at a time, each ingested by one availableNow stream query and by
    one daemon step.
  - chain-analytics: the read path. Ledger operators and iterative
    graph operators over a chain from the same generator and seed, in a
    seeded order.
- corpus-curation: the LLM-data path, one section of the same name.
  Text curation and near-duplicate search over a corpus, and vector
  search and clustering over embeddings, in a seeded order.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import inputs
from harness import Recorder, digest, error_line

# Input sizes and loop counts per section; "tiny" is the self-test size.
SIZES = {
    "chain-ingest": {
        "full": {"blocks": 6000, "tail_files": 3, "file_blocks": 50},
        "tiny": {"blocks": 200, "tail_files": 2, "file_blocks": 10},
    },
    "chain-analytics": {
        "full": {"blocks": 1500, "rounds": 2},
        "tiny": {"blocks": 200, "rounds": 1},
    },
    "corpus-curation": {
        "full": {"docs": 1500, "vectors": 400, "rounds": 2},
        "tiny": {"docs": 200, "vectors": 100, "rounds": 1},
    },
}

STREAM = "streaming.ingest.stream_transactions"
DAEMON = "plans.daemon.ingest_daemon_step"
STREAM_TIMEOUT_S = 60

# table -> (sink function, layout arguments after the path)
SINK_LAYOUT = {
    "block": ("write_bucketed_table", ("block_id_group", "block_id")),
    "transaction": ("write_bucketed_table", ("tx_id_group", "tx_id")),
    # range-sorted, not partitionBy: a 5-hex prefix is ~1M directories
    "transaction_by_tx_prefix": ("write_range_sorted", ("tx_prefix",)),
    "block_transactions": ("write_bucketed_table", ("block_id_group", "block_id")),
    "summary_statistics": ("write_range_sorted", ("id", 1)),
    "configuration": ("write_range_sorted", ("id", 1)),
    "exchange_rates": ("write_range_sorted", ("date",)),
}

LEDGER_CALLS = (
    "operators.linkage.address_balances",
    "operators.linkage.daily_balances",
    "operators.linkage.address_transactions",
    "plans.ingest.transactions_with_rates",
)
GRAPH_CALLS = (
    "operators.graph.connected_components",
    "operators.graph.pagerank",
    "operators.graph.bfs_reachability",
    "operators.graph.kcore",
    "operators.graph.label_propagation",
    "operators.graph.louvain",
)
TEXT_CALLS = ("plans.curate.curate", "operators.text_dedup.minhash_lsh_pairs")
VECTOR_CALLS = (
    "operators.similarity.cosine_topk_gemm",
    "operators.similarity.cosine_topk_ivf_exact",
    "operators.similarity.cosine_topk_lsh",
    "operators.similarity.embedding_neardup_gemm",
    "operators.clustering.kmeans_lloyd",
    "operators.clustering.semdedup",
)

CALLS = {
    "chain-ingest": tuple(f"sources.sinks.{t}" for t in SINK_LAYOUT) + (STREAM, DAEMON),
    "chain-analytics": LEDGER_CALLS + GRAPH_CALLS,
    "corpus-curation": TEXT_CALLS + VECTOR_CALLS,
}


def _rows(path: Path) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def _files(path: Path) -> tuple[int, int]:
    parts = [p for p in path.rglob("*.parquet") if p.is_file()]
    return len(parts), sum(p.stat().st_size for p in parts)


class ChainIngest:
    name = "chain-ingest"

    def prepare(self, root: Path, seed: int, size: dict) -> dict:
        chain = inputs.chain(root, seed, size["blocks"])
        txs = pq.read_table(chain / "raw_txs.parquet", columns=["tx_id", "tx_hash"])
        blocks = pq.read_metadata(chain / "raw_blocks.parquet").num_rows
        rates = pq.read_metadata(chain / "raw_exchange_rates.parquet").num_rows
        return {
            "chain": chain,
            "tail": inputs.chain_tail(chain, size["tail_files"], size["file_blocks"]),
            # what the generator made, to check the keyspace against
            "expect": {
                "block": blocks,
                "transaction": txs.num_rows,
                "transaction_by_tx_prefix": pc.count_distinct(txs["tx_hash"]).as_py(),
                "block_transactions": blocks,
                "summary_statistics": 1,
                "configuration": 1,
                "exchange_rates": rates,
                "no_blocks": blocks,
                "no_txs": txs.num_rows,
            },
        }

    def parts(self, rec: Recorder, spark, inp: dict, work: Path, rng) -> list:
        """Backfill, one table write per part, then follow; no two parts
        share a file."""
        from graphsense_blocksci_spark.plans.ingest import exchange_rates_table, ingest_all

        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        chain = inp["chain"]
        tables = ingest_all(
            spark,
            spark.read.parquet(str(chain / "raw_blocks.parquet")),
            spark.read.parquet(str(chain / "raw_txs.parquet")),
        )
        tables["exchange_rates"] = exchange_rates_table(
            spark.read.parquet(str(chain / "raw_exchange_rates.parquet"))
        )
        return [
            *(lambda t=t: self._write(rec, tables[t], t, inp["expect"], work) for t in SINK_LAYOUT),
            lambda: self._follow(rec, spark, inp, work),
        ]

    @staticmethod
    def _write(rec: Recorder, df, table: str, expect: dict, work: Path) -> None:
        """One table of the raw keyspace, written and checked."""
        from graphsense_blocksci_spark.sources import sinks

        fn, layout = SINK_LAYOUT[table]
        call = f"sources.sinks.{table}"
        out = work / "keyspace" / table
        write = getattr(sinks, fn)
        done = rec.request(call, lambda: write(df, str(out), *layout), plan_of=df)
        if done is None:
            return
        n_files, n_bytes = _files(out)
        done[0].extra.update(files=n_files, bytes_out=n_bytes)
        rec.check(call, _rows(out), expect[table])
        if table == "summary_statistics":
            row = ds.dataset(out).to_table(columns=["no_blocks", "no_txs"]).to_pylist()
            want = [{"no_blocks": expect["no_blocks"], "no_txs": expect["no_txs"]}]
            rec.check(call, row, want)

    def _follow(self, rec: Recorder, spark, inp: dict, work: Path) -> None:
        """One staged block-range file per append, each ingested by one
        stream query and one daemon step."""
        from graphsense_blocksci_spark.plans.daemon import ingest_daemon_step
        from graphsense_blocksci_spark.plans.ingest import transaction_table

        src, stream_sink, daemon_sink = work / "source", work / "stream_sink", work / "daemon_sink"
        src.mkdir()
        staged = 0
        staged_ids = set()
        for part in inp["tail"]:
            shutil.copy(part, src / part.name)
            ids = pq.read_table(part, columns=["tx_id"])["tx_id"].to_pylist()
            staged += len(ids)
            staged_ids.update(ids)
            done = rec.request(
                STREAM, lambda: _stream_once(spark, src, stream_sink, work / "checkpoint")
            )
            if done is not None:
                done[0].group = done[1]["run_id"] if rec.trace else None
                done[0].extra.update(done[1])
                if done[1]["nonterminated"]:
                    rec.fail(STREAM, f"availableNow query still active after {STREAM_TIMEOUT_S} s")
                else:
                    rec.check(STREAM, _rows(stream_sink), staged)
            done = rec.request(
                DAEMON,
                lambda: ingest_daemon_step(
                    spark, str(src), str(daemon_sink), transform=transaction_table, lag=0
                ),
            )
            if done is not None:
                rec.check(DAEMON, done[1], len(ids))
        if daemon_sink.exists() and stream_sink.exists():
            got = set(ds.dataset(daemon_sink).to_table(columns=["tx_id"])["tx_id"].to_pylist())
            rec.check(DAEMON, got, staged_ids)
            got = set(ds.dataset(stream_sink).to_table(columns=["tx_id"])["tx_id"].to_pylist())
            rec.check(STREAM, got, staged_ids)


def _stream_once(spark, src: Path, sink: Path, checkpoint: Path) -> dict:
    """One availableNow query over the source: it processes the files
    the checkpoint has not seen and stops."""
    from graphsense_blocksci_spark.streaming.ingest import stream_transactions

    q = stream_transactions(spark, str(src), str(sink), str(checkpoint), available_now=True)
    finished = q.awaitTermination(STREAM_TIMEOUT_S)
    if not finished:
        q.stop()
    elif q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return {
        "run_id": str(q.runId),
        "nonterminated": 0 if finished else 1,
        "progress": [p["durationMs"] for p in q.recentProgress],
    }


class _FrameSection:
    """A section whose requests each return a DataFrame; a request's
    output is checked by digest against the first digest seen for the
    same seed and size."""

    name = ""

    def requests(self, spark, inp: dict) -> dict:
        raise NotImplementedError

    def parts(self, rec: Recorder, spark, inp: dict, work: Path, rng) -> list:
        """One request per part, in a seeded order; each part returns the
        check of its output."""
        reqs = self.requests(spark, inp)
        order = list(reqs)
        rng.shuffle(order)
        return [lambda call=call: self._request(rec, call, reqs[call], inp) for call in order]

    @staticmethod
    def _request(rec: Recorder, call: str, fn, inp: dict):
        done = rec.request(call, fn)
        if done is None:
            return None

        def check() -> None:
            try:
                got = digest(done[1])
            except Exception as e:  # an output that cannot be read back fails its request
                rec.fail(call, f"digest raised {error_line(e)}")
                return
            rec.check(call, got, inp["digests"].setdefault(call, got))

        return check


class ChainAnalytics(_FrameSection):
    name = "chain-analytics"

    def prepare(self, root: Path, seed: int, size: dict) -> dict:
        chain = inputs.chain(root, seed, size["blocks"])
        return {"chain": chain, "graph": inputs.spend_graph(chain), "rounds": size["rounds"]}

    def requests(self, spark, inp: dict) -> dict:
        from graphsense_blocksci_spark.operators import graph, linkage
        from graphsense_blocksci_spark.plans.ingest import (
            exchange_rates_table,
            transaction_table,
            transactions_with_rates,
        )

        txs = spark.read.parquet(str(inp["chain"] / "raw_txs.parquet"))
        rates = spark.read.parquet(str(inp["chain"] / "raw_exchange_rates.parquet"))
        edges = spark.read.parquet(str(inp["graph"] / "edges.parquet"))
        seeds = spark.read.parquet(str(inp["graph"] / "seeds.parquet"))
        r = inp["rounds"]
        return {
            "operators.linkage.address_balances": lambda: linkage.address_balances(txs),
            "operators.linkage.daily_balances": lambda: linkage.daily_balances(txs),
            "operators.linkage.address_transactions": lambda: linkage.address_transactions(txs),
            "plans.ingest.transactions_with_rates": lambda: transactions_with_rates(
                transaction_table(txs), exchange_rates_table(rates)
            ),
            "operators.graph.connected_components": lambda: graph.connected_components(edges),
            "operators.graph.pagerank": lambda: graph.pagerank(edges, iterations=r),
            "operators.graph.bfs_reachability": lambda: graph.bfs_reachability(edges, seeds, max_hops=r),
            "operators.graph.kcore": lambda: graph.kcore(edges, k=2, rounds=r),
            "operators.graph.label_propagation": lambda: graph.label_propagation(edges, iterations=r),
            "operators.graph.louvain": lambda: graph.louvain(edges, sub_rounds=r, levels=1),
        }


class CorpusCuration(_FrameSection):
    name = "corpus-curation"

    def prepare(self, root: Path, seed: int, size: dict) -> dict:
        return {
            "docs": inputs.corpus(root, seed, size["docs"]),
            "vectors": inputs.vectors(root, seed, size["vectors"]),
            "rounds": size["rounds"],
        }

    def requests(self, spark, inp: dict) -> dict:
        from graphsense_blocksci_spark.operators import clustering, text_dedup
        from graphsense_blocksci_spark.operators import similarity as sim
        from graphsense_blocksci_spark.plans.curate import curate

        docs = spark.read.parquet(str(inp["docs"] / "docs.parquet"))
        vecs = spark.read.parquet(str(inp["vectors"] / "vectors.parquet"))
        return {
            "plans.curate.curate": lambda: curate(docs),
            "operators.text_dedup.minhash_lsh_pairs": lambda: text_dedup.minhash_lsh_pairs(docs),
            "operators.similarity.cosine_topk_gemm": lambda: sim.cosine_topk_gemm(vecs, k=5),
            "operators.similarity.cosine_topk_ivf_exact": lambda: sim.cosine_topk_ivf_exact(vecs, k=5),
            "operators.similarity.cosine_topk_lsh": lambda: sim.cosine_topk_lsh(vecs, k=5),
            "operators.similarity.embedding_neardup_gemm": lambda: sim.embedding_neardup_gemm(
                vecs, threshold=0.99
            ),
            "operators.clustering.kmeans_lloyd": lambda: clustering.kmeans_lloyd(vecs, n_iter=inp["rounds"]),
            "operators.clustering.semdedup": lambda: clustering.semdedup(vecs),
        }


# workload -> its sections, in the order a pass runs them
WORKLOADS = {
    "chain": (ChainIngest(), ChainAnalytics()),
    "corpus-curation": (CorpusCuration(),),
}
