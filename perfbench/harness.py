"""The closed-loop client: times each request, checks its output and
counts failures.

A request is one call into the program. Frame-returning calls are
materialized with the `noop` sink inside the timed span; their output
digest is computed afterwards, outside it.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparktrace import catalyst_ms


@dataclass
class Sample:
    section: str
    call: str
    wall_s: float
    build_s: float | None = None  # time until the call returned its frame
    plan_ms: float = 0.0  # Catalyst phases (traced runs only)
    group: str | None = None  # Spark job group (traced runs only)
    extra: dict = field(default_factory=dict)


def _normalized(c: Column, dtype: T.DataType) -> Column:
    """A value that is equal across runs: floats rounded to 9 decimals
    (aggregation order may move the last bits), maps as sorted entries."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.round(c.cast("double"), 9)
    if isinstance(dtype, T.ArrayType):
        return F.transform(c, lambda x: _normalized(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_normalized(c[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    if isinstance(dtype, T.MapType):
        entries = T.ArrayType(
            T.StructType([T.StructField("key", dtype.keyType), T.StructField("value", dtype.valueType)])
        )
        return _normalized(F.array_sort(F.map_entries(c)), entries)
    return c


def digest(df: DataFrame) -> str:
    """Row count plus the sum of every row's xxhash64: order-free."""
    cols = [_normalized(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    row = (
        df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .first()
    )
    return f"{row['n']}:{row['s'] or 0}"


def error_line(e: Exception) -> str:
    """The exception's type and the first line of its message."""
    lines = str(e).splitlines()
    return f"{type(e).__name__}: {lines[0][:300] if lines else ''}"


class Recorder:
    """One client's requests, samples and failures."""

    def __init__(self, spark, trace: bool, poison: str | None = None):
        self.spark = spark
        self.trace = trace
        self.poison = poison  # call whose next expected value is made wrong
        self.samples: list[Sample] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.section = ""  # the section whose requests are being sent
        self._n = 0
        self._lock = threading.Lock()  # the warm-up sends requests from threads

    def fail(self, call: str, why: str) -> None:
        with self._lock:
            self.failed += 1
            self.failures.append(f"{call}: {why}")

    def check(self, call: str, got, want) -> bool:
        """Compare an output with its expected value; a mismatch fails
        the request that produced it."""
        if call == self.poison:
            want, self.poison = ("deliberately wrong", want), None
        if got != want:
            self.fail(call, f"output check: got {got!r}, want {want!r}")
            return False
        return True

    def request(self, call: str, fn, plan_of: DataFrame | None = None):
        """Run `fn()` as one timed request. If it returns a DataFrame, the
        frame is materialized inside the timed span. Returns
        (sample, result), or None if the call raised.

        A traced request also reports the Catalyst phases of its frame
        (`plan_of`, else the returned frame), planned once more after the
        timed span: the write plans the frame again itself."""
        with self._lock:
            self.attempted += 1
        sc = self.spark.sparkContext
        group = None
        if self.trace:
            self._n += 1
            group = f"{self.section}|{call}|{self._n}"
            sc.setJobGroup(group, call)
        try:
            t0 = time.perf_counter()
            out = fn()
            build = time.perf_counter() - t0
            if isinstance(out, DataFrame):
                out.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
        except Exception as e:  # any raised call is a failed request
            self.fail(call, f"raised {error_line(e)}")
            return None
        finally:
            if self.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
        frame = plan_of if plan_of is not None else out
        sample = Sample(
            self.section, call, wall,
            build_s=build if isinstance(out, DataFrame) else None,
            plan_ms=catalyst_ms(frame) if self.trace and isinstance(frame, DataFrame) else 0.0,
            group=group,
        )
        with self._lock:
            self.samples.append(sample)
        return sample, out
