"""Data-derived partition sizing for materialized intermediate frames.

The iterative operators (connected components, PageRank, LPA, pointer
doubling) and the banded sketch joins all follow the same shape: a
frame is materialized once (``localCheckpoint``; the iterative loops'
checkpoint contract is stated in ``functions/iterate.py``) and then
re-read by several downstream jobs — per-round joins and aggregates whose per-row
work is LIGHT (hash, compare, add over narrow rows).  For those jobs
the cost driver is task count, not bytes: a local-mode exchange over
64 map × 32 reduce tasks costs ~1 s of pure scheduling whether it
carries 10 thousand rows or 8 million (measured, OPTIMIZATION_r13.md),
and at cluster scale the M×R shuffle-block blow-up is the same disease
(optimization guide §2.2 — "fewer, larger map tasks / fewer, larger
reduce partitions").

The honest fix in both regimes is to size partition count from the
DATA, not from the core count: ``bytes / 64 MB`` partitions (the AQE
advisory default), floored at 1.  At sf0.1 a 400k-row edge list is one
partition; a 100 TB corpus' edge frame is thousands — the same formula,
nothing tuned to local[32].

Two entry points:

* :func:`right_size` — coalesce an already-materialized frame down to
  its data-sized partition count (narrow dependency, no shuffle, never
  recomputes the checkpointed blocks).  Apply ONLY where downstream
  per-row work is light; CPU-heavy chains (Arrow decodes, regex
  batteries) keep core-count parallelism upstream of the checkpoint.
* :func:`shuffle_partitions` — a context manager pinning
  ``spark.sql.shuffle.partitions`` (``iterate.Fixpoint.pin`` holds it
  around the iterative loops) for a driver-side loop whose
  actions all operate at a known, measured scale, so the per-round
  exchanges are born data-sized instead of core-count-sized.  AQE
  stays on (skew handling at real scale is untouched — the pinned
  value is the pre-AQE upper bound, exactly like the session default).

Row-width estimation is schema-driven (Catalyst ``defaultSize``
semantics, with strings assumed at 48 bytes — URLs/doc ids — plus
per-row overhead); an estimate is enough because the target only picks
a task-count decade, not an exact byte budget.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TARGET_PARTITION_BYTES = 64 << 20  # AQE advisoryPartitionSizeInBytes default

_FIXED_WIDTHS: dict[type, int] = {
    T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4,
    T.FloatType: 4, T.DateType: 4, T.LongType: 8, T.DoubleType: 8,
    T.TimestampType: 8, T.TimestampNTZType: 8,
}


def est_field_bytes(dt: T.DataType) -> int:
    """Rough per-value width for a column of this type."""
    for cls, w in _FIXED_WIDTHS.items():
        if isinstance(dt, cls):
            return w
    if isinstance(dt, T.DecimalType):
        return 16
    if isinstance(dt, (T.StringType, T.BinaryType)):
        return 48
    if isinstance(dt, T.ArrayType):
        return 16 * est_field_bytes(dt.elementType)  # assume short arrays
    if isinstance(dt, T.StructType):
        return sum(est_field_bytes(f.dataType) for f in dt.fields)
    if isinstance(dt, T.MapType):
        return 16 * (est_field_bytes(dt.keyType) + est_field_bytes(dt.valueType))
    return 48


def est_row_bytes(schema: T.StructType) -> int:
    """Estimated bytes per row: field widths + 8 bytes/field overhead."""
    return sum(est_field_bytes(f.dataType) + 8 for f in schema.fields)


def adaptive_partitions(n_rows: int, schema: T.StructType, *,
                        target_bytes: int = TARGET_PARTITION_BYTES) -> int:
    """Data-sized partition count: ceil(rows × est_width / target)."""
    if n_rows <= 0:
        return 1
    total = n_rows * est_row_bytes(schema)
    return max(1, -(-total // target_bytes))


def right_size(df: DataFrame, n_rows: int | None = None, *,
               target_bytes: int = TARGET_PARTITION_BYTES) -> tuple[DataFrame, int]:
    """Coalesce a MATERIALIZED (checkpointed/cached) frame to its
    data-sized partition count.  Returns ``(frame, n_partitions)``.

    ``coalesce`` is a narrow dependency over the existing blocks — no
    shuffle, no recompute of the upstream chain.  ``n_rows`` skips the
    count job when the caller already knows the cardinality.

    A LAZILY checkpointed frame (``localCheckpoint(eager=False)``) is
    the cheapest input: the ``count()`` here doubles as the
    materializing action, so the caller pays ONE job instead of the
    eager checkpoint's internal count plus this one (r14; the measured
    CC/graph loops are job-count-bound at local scale).

    The partition probe reads the physical plan's RDD partition count
    JVM-side (``queryExecution.toRdd``) instead of ``df.rdd``: the
    Python accessor builds a separate InternalRow→pickle conversion
    plan per call (~35-100 ms of driver time; r13 verdict noted it as
    real overhead at 7 timed runs × several call sites), while the plan
    probe is ~1 ms and, on the just-counted checkpoint, free of any
    recompute.  Both are plan inspection — no job either way.
    """
    if n_rows is None:
        n_rows = df.count()  # materializes a lazy checkpoint; cheap if eager
    parts = adaptive_partitions(n_rows, df.schema, target_bytes=target_bytes)
    if parts < df._jdf.queryExecution().toRdd().getNumPartitions():
        df = df.coalesce(parts)
    return df, parts


@contextmanager
def shuffle_partitions(spark: SparkSession, n: int) -> Iterator[None]:
    """Pin ``spark.sql.shuffle.partitions`` for a measured-scale loop.

    The pinned value is an upper bound exactly like the session default
    (AQE still coalesces below it and still splits skew above it); the
    point is that a loop whose frames are KNOWN to be n-partitions-sized
    should not be born at core-count width.  Always restores the prior
    value, including on error.
    """
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(max(1, int(n))))
    try:
        yield
    finally:
        spark.conf.set(key, old)
