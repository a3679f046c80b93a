"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 the per-layer metrics. Lines before it
are a human-readable summary. See perfbench/README.md.

The command runs the benchmark in a child process with a session of its
own, and on the way out stops every process left in that session (the
JVM, PySpark's Python daemon and its workers) and waits until each has
ended.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORK = ROOT / ".perfbench"  # inputs, digests and per-run scratch


def _env() -> None:
    """Everything the run writes stays under WORK; Spark uses every core
    and a driver heap well below physical memory."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _conf(log_dir: Path | None) -> dict[str, str]:
    from sparktrace import event_log_conf

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
    }
    if log_dir is not None:
        conf.update(event_log_conf(log_dir))
    return conf


def _start(conf: dict[str, str]):
    from graphsense_blocksci_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("OFF")
    return spark


def _stop_all(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _latency(walls: list[float]) -> str:
    """Median, and the highest whole percentile with at least ten samples
    above it."""
    if not walls:
        return "no samples"
    n = len(walls)
    tail = "no tail (needs 20+ samples)"
    for p in range(99, 49, -1):
        if n - n * p / 100 >= 10:
            cut = statistics.quantiles(walls, n=100, method="inclusive")[p - 1]
            tail = f"p{p} {cut:.4f} s"
            break
    return f"p50 {statistics.median(walls):.4f} s, {tail}, n={n}"


def summary_lines(sec_name: str, rec, n_txs: int) -> list[str]:
    """A section's own named figures, for people reading the log."""
    from workloads import CALLS, DAEMON, GRAPH_CALLS, LEDGER_CALLS, STREAM, TEXT_CALLS, VECTOR_CALLS

    samples = [s for s in rec.samples if s.section == sec_name]

    def pass_median(calls) -> float:
        per_pass: dict[int, float] = {}
        for s in samples:
            if s.call in calls:
                per_pass[s.extra["pass"]] = per_pass.get(s.extra["pass"], 0.0) + s.wall_s
        return statistics.median(per_pass.values()) if per_pass else float("nan")

    by_call: dict[str, list[float]] = {}
    for s in samples:
        by_call.setdefault(s.call, []).append(s.wall_s)
    lines = [
        f"section {sec_name}: {len(samples)} requests",
        "median request s: " + ", ".join(
            f"{call.rsplit('.', 1)[-1]}={statistics.median(w):.3f}" for call, w in by_call.items()
        ),
        f"request {_latency([s.wall_s for s in samples])}",
    ]
    if sec_name == "chain-ingest":
        backfill = pass_median([c for c in CALLS[sec_name] if c.startswith("sources.sinks.")])
        lines.append(f"backfill_txs_per_s {n_txs / backfill:.1f} 1/s at {n_txs} txs")
        lines.append(f"append_stream {_latency([s.wall_s for s in samples if s.call == STREAM])}")
        lines.append(f"append_daemon {_latency([s.wall_s for s in samples if s.call == DAEMON])}")
    elif sec_name == "chain-analytics":
        lines.append(f"ledger_pass_s {pass_median(LEDGER_CALLS):.4f} s")
        lines.append(f"graph_pass_s {pass_median(GRAPH_CALLS):.4f} s")
    else:
        lines.append(f"text_pass_s {pass_median(TEXT_CALLS):.4f} s")
        lines.append(f"vector_pass_s {pass_median(VECTOR_CALLS):.4f} s")
    return lines


def _warm_up(sections, rec, spark, inputs: dict, work: Path, seed: int) -> None:
    """One pass of the workload, each section's parts sent side by side,
    one thread per core: the requests and checks of a timed pass, so that
    code generation and JIT compilation are done before timing. Sent one
    after another, the same pass made a run 8-20 s longer (see README).
    Parts are sent last first: the ingest follow loop, the longest part,
    would otherwise start only once the table writes had taken every
    thread."""
    for sec in sections:
        rec.section = sec.name
        parts = sec.parts(rec, spark, inputs[sec.name], work / sec.name, random.Random(seed))
        _side_by_side([lambda part=part: _then_check(part) for part in reversed(parts)])


def _side_by_side(fns) -> None:
    """Run every function, one thread per core, and wait for all."""
    with ThreadPoolExecutor(os.cpu_count()) as pool:
        for job in [pool.submit(fn) for fn in fns]:
            job.result()


def _then_check(part) -> None:
    check = part()
    if check is not None:
        check()


def _measure(sections, rec, spark, inputs: dict, work: Path, seed: int, seconds: float):
    """The closed loop: passes until `seconds` have gone by, at least one.
    A pass's output checks run side by side after it. Returns each pass's
    summed request time."""
    rng = random.Random(seed)
    passes: list[float] = []
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < seconds:
        first = len(rec.samples)
        checks = []
        for sec in sections:
            rec.section = sec.name
            parts = sec.parts(rec, spark, inputs[sec.name], work / sec.name, rng)
            checks += [part() for part in parts]
        _side_by_side([c for c in checks if c is not None])
        for s in rec.samples[first:]:
            s.extra["pass"] = len(passes)
        passes.append(sum(s.wall_s for s in rec.samples[first:]))
    return passes


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the benchmark's self-test")
    ap.add_argument("--wrong-digest", action="store_true",
                    help="expect a wrong output for one request (self-test)")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    try:
        import graphsense_blocksci_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    from harness import Recorder
    from workloads import CALLS, SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    _env()
    sections = WORKLOADS[args.workload]
    trace = bool(args.trace)
    # a traced run also makes one pass of every other workload, so that it
    # reports every per-layer metric
    others = [w for name, w in WORKLOADS.items() if name != args.workload] if trace else []
    every = [sec for w in [sections, *others] for sec in w]
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)

    # inputs: generated once per seed and size, never timed
    inputs = {sec.name: sec.prepare(WORK / "inputs", args.seed, SIZES[sec.name][args.size])
              for sec in every}
    stores = {}
    for sec in every:
        # keyed by every size parameter, so a resized section starts afresh
        size = "-".join(f"{k}{v}" for k, v in sorted(SIZES[sec.name][args.size].items()))
        stores[sec.name] = WORK / "digests" / f"{sec.name}-s{args.seed}-{size}.json"
        path = stores[sec.name]
        inputs[sec.name]["digests"] = json.loads(path.read_text()) if path.exists() else {}
    saved = {k: dict(v["digests"]) for k, v in inputs.items()}

    log_dir = run_dir / "eventlog" if trace else None
    if log_dir is not None:
        log_dir.mkdir(parents=True)
    spark = None
    try:
        # set-up: session start plus a warm-up pass, checked like any other
        t0 = time.perf_counter()
        spark = _start(_conf(log_dir))
        warm = Recorder(spark, trace=False)
        _warm_up(sections, warm, spark, inputs, run_dir / "warm", args.seed)
        setup_s = time.perf_counter() - t0
        # every workload a traced run times is warmed up before any is timed
        for w in others:
            _warm_up(w, warm, spark, inputs, run_dir / "warm", args.seed)

        poison = CALLS[sections[0].name][0] if args.wrong_digest else None
        rec = Recorder(spark, trace, poison=poison)
        passes = _measure(sections, rec, spark, inputs, run_dir / "pass", args.seed, args.seconds)
        runs = {sec.name: (rec, len(passes)) for sec in sections}
        for w in others:
            n = len(_measure(w, rec, spark, inputs, run_dir / "pass", args.seed, 0))
            runs.update({sec.name: (rec, n) for sec in w})
    finally:
        if spark is not None:
            _stop_all(spark)

    try:
        attempted = warm.attempted + rec.attempted
        failed = warm.failed + rec.failed
        for line in warm.failures + rec.failures:
            print(f"FAILED {line}")
        print(f"workload {args.workload}: {len(passes)} passes, "
              f"failed_op_share {failed / max(attempted, 1):.4f} ({failed}/{attempted})")
        print(f"setup_s {setup_s:.3f}")
        print(f"pass_s samples {[round(p, 3) for p in passes]}")
        for sec in sections:
            n_txs = inputs[sec.name].get("expect", {}).get("transaction", 0)
            for line in summary_lines(sec.name, rec, n_txs):
                print(line)
        if trace:
            from layers import per_layer

            metrics, notes = per_layer(runs, log_dir)
            for line in notes:
                print(line)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (statistics.median(passes), "s"),
            }
        if failed == 0 and not args.wrong_digest:
            for name, path in stores.items():
                if inputs[name]["digests"] != saved[name]:
                    path.parent.mkdir(parents=True, exist_ok=True)
                    path.write_text(json.dumps(inputs[name]["digests"], indent=1, sort_keys=True))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


PR_SET_CHILD_SUBREAPER = 36
CHILD_ENV = "PERFBENCH_CHILD"


def _session_pids(sid: int) -> list[int]:
    """Every process of session `sid`, zombies included."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            stat = Path("/proc", entry, "stat").read_text()
        except OSError:
            continue
        # after the parenthesised command: state ppid pgrp session ...
        if int(stat[stat.rindex(")") + 2:].split()[3]) == sid:
            pids.append(int(entry))
    return pids


def _end_session(sid: int, grace_s: float = 10.0, limit_s: float = 30.0) -> bool:
    """Stop every process of session `sid` (SIGTERM, SIGKILL after
    `grace_s`) and reap each one this process inherited, until none is
    left. False if some process outlived `limit_s`."""
    import signal

    start = time.monotonic()
    while True:
        pids = _session_pids(sid)
        sig = signal.SIGTERM if time.monotonic() - start < grace_s else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            if not pids:
                return True
        if time.monotonic() - start > limit_s:
            return False
        time.sleep(0.05)


def supervise(cmd: list[str]) -> int:
    """Run `cmd` in a new session, then end that session. As child
    subreaper this process inherits the session's orphans (PySpark's
    daemon outlives the JVM that started it) and waits for them too."""
    import ctypes
    import signal
    import subprocess

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    child = subprocess.Popen(cmd, env={**os.environ, CHILD_ENV: "1"}, start_new_session=True)
    try:
        code = child.wait()
    finally:
        if not _end_session(child.pid):
            print(f"perfbench: processes {_session_pids(child.pid)} did not end", file=sys.stderr)
            code = 1
    return code


if __name__ == "__main__":
    if os.environ.get(CHILD_ENV):
        sys.exit(main())
    sys.exit(supervise([sys.executable, __file__, *sys.argv[1:]]))
