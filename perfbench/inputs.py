"""Seeded benchmark inputs, generated once per (seed, size) and cached.

Generation is never timed. Every generator is pure Python + pyarrow and
depends only on its seed and size, so the same seed gives byte-equal
inputs in any checkout.

- ``chain``: the package's own fixture chain (``fixtures.generate``),
  re-seeded from the benchmark seed. The generator reads the module
  constant ``fixtures.SEED`` at call time, so it is swapped for the call
  and restored after; the package is not edited.
- ``corpus``: documents in four stopword languages, with planted exact
  duplicates and near duplicates.
- ``vectors``: clustered 64-d float32 embeddings with planted near twins.
"""

from __future__ import annotations

import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from graphsense_blocksci_spark import fixtures

# Word pools for the corpus. Each language's stopwords are the ones
# `text_analysis.language_id` scores, so the language mix is known.
_STOP = {
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "de": ("der", "die", "das", "und", "zu", "ist", "ein"),
    "es": ("el", "los", "que", "y", "es"),
    "fr": ("le", "les", "des", "et", "est"),
}
_CONTENT = [
    f"{a}{b}"
    for a in ("block", "chain", "spark", "graph", "table", "query", "value", "batch")
    for b in ("er", "ing", "ed", "ly", "ness", "ment", "ion", "al", "ive", "ous")
]


def _cached(path: Path, build) -> Path:
    """Build `path` through a temporary sibling so a killed run never
    leaves a half-written input behind."""
    if path.exists():
        return path
    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    tmp.rename(path)
    return path


def chain(root: Path, seed: int, n_blocks: int) -> Path:
    """The fixture chain (raw_blocks, raw_txs, raw_exchange_rates)."""

    def build(out: Path) -> None:
        saved = fixtures.SEED
        fixtures.SEED = seed
        try:
            fixtures.generate(out, n_blocks)
        finally:
            fixtures.SEED = saved

    return _cached(root / f"chain-s{seed}-b{n_blocks}", build)


def chain_tail(chain_dir: Path, n_files: int, file_blocks: int) -> list[Path]:
    """The last `n_files * file_blocks` blocks of the chain's raw txs as
    `n_files` block-range files, oldest first: what a chain follower
    drops into the ingest daemon's source directory."""

    def build(out: Path) -> None:
        txs = pq.read_table(chain_dir / "raw_txs.parquet")
        top = pc.max(txs["block_id"]).as_py() + 1
        for k in range(n_files):
            lo = top - (n_files - k) * file_blocks
            keep = pc.and_(
                pc.greater_equal(txs["block_id"], lo),
                pc.less(txs["block_id"], lo + file_blocks),
            )
            pq.write_table(txs.filter(keep), out / f"blocks-{lo:08d}.parquet")

    tail = _cached(chain_dir.with_name(f"{chain_dir.name}-tail{n_files}x{file_blocks}"), build)
    return sorted(tail.glob("*.parquet"))


def spend_graph(chain_dir: Path, n_seeds: int = 50) -> Path:
    """`edges.parquet` (src, dst): one edge per distinct spent tx ->
    spending tx pair; `seeds.parquet` (node): coinbase txs spread evenly
    over the chain, the taint sources for reachability."""

    def build(out: Path) -> None:
        txs = pq.read_table(chain_dir / "raw_txs.parquet", columns=["tx_id", "coinbase", "inputs"])
        parents = pc.list_parent_indices(txs["inputs"])
        src = pc.struct_field(pc.list_flatten(txs["inputs"]), "spent_tx_id")
        dst = pc.take(txs["tx_id"], parents)
        edges = pa.table({"src": src, "dst": dst}).filter(pc.is_valid(src))
        edges = edges.group_by(["src", "dst"]).aggregate([]).sort_by([("src", "ascending"), ("dst", "ascending")])
        pq.write_table(edges, out / "edges.parquet")
        coinbase = txs.filter(txs["coinbase"])["tx_id"]
        step = max(1, len(coinbase) // n_seeds)
        pq.write_table(pa.table({"node": coinbase[::step][:n_seeds]}), out / "seeds.parquet")

    return _cached(chain_dir.with_name(f"{chain_dir.name}-graph"), build)


def corpus(root: Path, seed: int, n_docs: int) -> Path:
    """`docs.parquet` (doc_id, text): 70 % en, 10 % each de/es/fr; one
    doc in ten repeats an earlier doc exactly, one in ten repeats one
    with about a twentieth of its words replaced."""

    def build(out: Path) -> None:
        rng = random.Random(seed)
        langs = ["en"] * 7 + ["de", "es", "fr"]
        texts: list[str] = []
        for i in range(n_docs):
            roll = rng.random()
            if i > 10 and roll < 0.1:
                texts.append(texts[rng.randrange(i)])
            elif i > 10 and roll < 0.2:
                words = texts[rng.randrange(i)].split()
                for _ in range(max(1, len(words) // 20)):
                    words[rng.randrange(len(words))] = rng.choice(_CONTENT)
                texts.append(" ".join(words))
            else:
                stop = _STOP[rng.choice(langs)]
                n = rng.randint(20, 80)
                texts.append(
                    " ".join(
                        rng.choice(stop) if rng.random() < 0.3 else rng.choice(_CONTENT)
                        for _ in range(n)
                    )
                )
        table = pa.table(
            {"doc_id": pa.array(range(n_docs), pa.int64()), "text": pa.array(texts)}
        )
        pq.write_table(table, out / "docs.parquet")

    return _cached(root / f"corpus-s{seed}-n{n_docs}", build)


def vectors(root: Path, seed: int, n_vecs: int, dim: int = 64, n_clusters: int = 10) -> Path:
    """`vectors.parquet` (vec_id, embedding array<float>): Gaussian
    clusters; one vector in twenty is a slightly perturbed copy of an
    earlier one."""

    def build(out: Path) -> None:
        rng = random.Random(seed)
        centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)]
        vecs: list[list[float]] = []
        for i in range(n_vecs):
            if i > 10 and rng.random() < 0.05:
                base = vecs[rng.randrange(i)]
                vecs.append([x + rng.gauss(0, 0.001) for x in base])
            else:
                c = centers[rng.randrange(n_clusters)]
                vecs.append([x + rng.gauss(0, 0.35) for x in c])
        table = pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
            }
        )
        pq.write_table(table, out / "vectors.parquet")

    return _cached(root / f"vectors-s{seed}-n{n_vecs}", build)
