"""Skew-mitigation operators (SCALE.md "salting").

AQE's skew-join splitting handles most runtime skew; salted
aggregation is the manual lever for pathological hot keys in
aggregations, where one key's partition would otherwise serialize the
stage.  Two-phase: aggregate on (key, salt) first — spreading a hot
key over N reducers — then aggregate the partials on key alone.
Works for any algebraic aggregate (sum/count/min/max).

The module also owns the engine's ONE partition-sizing rule: every
batch width is bytes / the AQE advisory partition size
(``sized_partitions``), from an exact size or the plan-stats estimate
(``plan_partitions``), and the scan spread (``spread_scan``) is built
on it.  No other module reads defaultParallelism or a plan-size
estimate (tests/test_operators.py gates it).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, Column]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation over a salted key.

    ``aggs``: {out_name: (combine_fn_name, partial_expr)} where
    ``partial_expr`` is the phase-1 aggregate column and
    ``combine_fn_name`` in {'sum', 'min', 'max'} re-combines partials
    in phase 2 (count combines with 'sum').

    Example::

        salted_agg(events, ["user_id"], {
            "n":     ("sum", F.count(F.lit(1))),
            "total": ("sum", F.sum("value")),
            "first": ("min", F.min("ts")),
        })
    """
    keys = list(keys)
    supported = {"sum", "min", "max"}
    bad = {fn for fn, _ in aggs.values()} - supported
    if bad:
        raise ValueError(
            f"unsupported combine fn(s) {sorted(bad)}; supported: {sorted(supported)} "
            "(express avg as a sum+count pair and divide afterwards)"
        )
    salted = df.withColumn("__salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)))
    phase1 = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(f"__p_{name}") for name, (_, expr) in aggs.items()]
    )
    combine = {"sum": F.sum, "min": F.min, "max": F.max}
    phase2 = phase1.groupBy(*keys).agg(
        *[combine[fn](f"__p_{name}").alias(name) for name, (fn, _) in aggs.items()]
    )
    return phase2


def sized_partitions(spark, n_bytes: int) -> int:
    """ceil(n_bytes / the session's AQE advisory partition size),
    floored at 1 — the shared partition-count derivation for callers
    holding an EXACT size (catalog row counts x row width), who should
    prefer it over the plan-stats default: exact knowledge needs no
    defaultParallelism safety cap, so the count is a pure function of
    data size at any core count, and a rank over one partition skips
    the range-boundary sampling pass entirely (RangePartitioner only
    samples when it needs boundaries, i.e. numPartitions > 1 — at
    fixture scale that deletes a full re-execution of the rank's
    input subtree)."""
    try:
        target = int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                spark.conf.get(
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"
                )
            )
        )
    except Exception:  # pragma: no cover - conf unavailable
        target = 64 * 1024 * 1024
    return max(1, -(-int(n_bytes) // max(target, 1)))


def plan_partitions(df: DataFrame, expansion: int = 1) -> int:
    """Data-derived partition count for ``df``: its optimized plan's
    estimated bytes x ``expansion`` over the AQE advisory partition
    size (``sized_partitions``), capped at defaultParallelism; the
    cap alone when no estimate is available.  The engine's ONE
    plan-stats probe (it plans, it runs no job).

    A core-count width makes the layout a function of the CORE COUNT:
    local[32] shredded sub-MB fixture inputs into 32 partitions
    (32-task sample + sort, 32 cached blocks, 3x the task dispatch of
    local[8]) while the per-task compute never saturated the extra
    cores — the r13 scaling block's "32 cores lose to 8" signature
    (VERDICT r13 item 3).  Deriving the count from estimated bytes
    builds the same layout at ANY core count, and on a cluster
    (advisory raised to 64-256m per SCALE.md) yields advisory-sized
    partitions instead of one per core.

    Estimates on join-bearing inputs can be badly inflated (Catalyst
    multiplies join child sizes); the cap bounds that failure mode at
    exactly the core-count width, and callers with exact knowledge
    (catalog row counts) call ``sized_partitions`` directly.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:  # pragma: no cover - estimate unavailable
        return cores
    return min(cores, sized_partitions(df.sparkSession, size * expansion))


def spread_scan(df: DataFrame, *keys: str, expansion: int | None = None) -> DataFrame:
    """Scale-adaptive fixture spread: hash-repartition ``df`` across
    the session's cores ONLY when its planned scan parallelism is
    below them.

    A one-file local fixture plans as a single input split, so every
    downstream per-row stage (tokenize, explode, codec work) would
    serialize on one task; the spread buys full-core parallelism for
    the price of shuffling the payload once.  On a real deployment the
    scan already yields >= cores splits and that same shuffle would
    move the whole payload for nothing — so it is skipped.  The
    partition-count probe reads the planned RDD partitioning (file
    splits); it runs no job.

    ``expansion`` (r14): when the consumer's downstream stage BLOWS UP
    the rows (window/shingle explodes), pass its documented blow-up
    factor and the spread width derives from DATA instead of cores
    (``plan_partitions``), so the same query runs the same layout at
    any core count while the cap keeps compute-bound consumers whole.
    Leave it unset for row-local consumers (tokenize, ``mapInPandas``):
    a sub-advisory input would size to ONE partition and put the whole
    per-row stage back on one task.
    """
    if expansion is None:
        p = df.sparkSession.sparkContext.defaultParallelism
    else:
        p = plan_partitions(df, expansion)
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p, *keys)
