"""Distributed global ranking — no single-partition window.

``Window.orderBy(...)`` with no ``partitionBy`` forces every row through
ONE task (Spark warns "Moving all data to a single partition"); fine on a
fixture, fatal on a 100 TB table.  The classic fix is a two-pass rank:

1. ``repartitionByRange`` on the sort keys + ``sortWithinPartitions`` —
   rows are now globally ordered ACROSS partitions and locally sorted
   WITHIN each (one range shuffle, P-way parallel).
2. ``monotonically_increasing_id()`` projected IN THE SAME STAGE encodes
   (partition_id << 33) | local_row_index, so both the partition id and
   the local 0-based position come for free — no Window, and crucially
   no second (hash-by-pid) exchange: a ``Window.partitionBy(pid)`` here
   would re-shuffle the whole table because RangePartitioning does not
   satisfy the window's ClusteredDistribution.  Caveat: breaks only
   past 2^33 ≈ 8.6e9 rows in ONE partition, far beyond any sane
   partition sizing.
3. Count rows per partition (tiny P-row aggregate over the pid), prefix
   -sum the counts to per-partition rank offsets, broadcast-join them
   back: global_rank = offset(pid) + local_index + 1.

The range boundaries Spark samples are irrelevant to correctness ONLY
as long as both consumers observe the SAME placement, which requires a
SINGLE execution of the ranged stream.  The offsets branch and the
output join are two planned copies (DeduplicateRelations re-aliases
the self-reference; AQE's stage dedup misses it — tools/
selfref_audit.py, round 8), and RangePartitioner's reservoir sampling
is seeded by the physical RDD id: two independent executions on data
large enough for PARTIAL sampling can pick DIFFERENT boundaries, so
counts from one execution would join against partition ids of the
other — silent duplicate/gapped ranks (round-10 review finding; the
fixture scale hid it because small partitions are sampled
exhaustively).  The ranged stream is therefore ``materialize``d:
block-level locking makes every block compute exactly once and both
branches read one lineage.  The round-7 A/B that measured the
un-cached form faster (0.9 vs 2.3 s at sf0.1) chose wrongly — that
comparison traded a correctness invariant for local wall; the persist
is the price of a consistent partitioning.  (The sort keys must still
form a TOTAL order — unique tiebreaker — and the id projection sits
above the sort in the same whole-stage pipeline, numbering rows in
sorted order.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pgshovel_spark.operators.skew import plan_partitions

_PID = "__gr_pid"
_OFF = "__gr_off"
_TOT = "__gr_tot"
_RANK = "__gr_rank"


def with_global_rank(
    df: DataFrame,
    order: list[Column],
    *,
    rank_col: str = "global_rank",
    total_col: str | None = None,
    num_partitions: int | None = None,
    group_prefix: list[str] | None = None,
    group_count_col: str = "group_n",
    group_rank0_col: str = "group_rank0",
) -> DataFrame:
    """Append a dense 1-based global row_number over ``order`` without a
    single-partition window.

    ``order`` must be a total order (unique tiebreaker) for the result
    to be deterministic.  If ``total_col`` is given, the total row count
    is appended too (computed in the same job, no extra action).

    ``group_prefix`` (column NAMES that form an ASCENDING prefix of
    ``order``) additionally appends, per row, the row's group size
    (``group_count_col``) and the group's minimum global rank
    (``group_rank0_col``) — so per-group rank = rank_col -
    group_rank0_col + 1 — WITHOUT a second pass over the ranked
    stream: because the groups are a prefix of the range-partitioning
    order, every (partition, group) cell is contiguous, so per-group
    counts and first-rank offsets all derive from the same tiny
    (<= partitions x groups)-row cell aggregate that already yields
    the per-partition rank offsets.  The naive alternative — a
    ``groupBy(group)`` over the ranked output plus a broadcast join —
    costs one EXTRA full aggregation pass over the corpus-sized
    stream; this form reads the stream exactly once outside the
    consumer's own pass (guide: aggregate before you shuffle / do
    fewer passes).

    Callers should PRE-PROJECT ``df`` to the columns they need: the
    ranged stream is cached (see module docstring) and column pruning
    cannot push through the cache boundary, so the materialized width
    is exactly the input width.
    """
    from pgshovel_spark.operators.scratch import materialize

    # The plan-stats estimate is the only adaptive signal here: the
    # ranged stream is cached, and a cached plan pins its output
    # partitioning (spark.sql.optimizer.canChangeCachedPlanOutput-
    # Partitioning defaults false), so no runtime AQE coalesce follows.
    n = num_partitions or plan_partitions(df)
    # materialize: BOTH consumers (the counts branch and the output
    # join) must read ONE execution of the range shuffle — see the
    # module docstring's boundary-divergence invariant.
    ranged = materialize(
        df.repartitionByRange(n, *order)
        .sortWithinPartitions(*order)
        .withColumn("__gr_mid", F.monotonically_increasing_id())
        .withColumn(_PID, F.shiftright(F.col("__gr_mid"), 33))
        .withColumn("__gr_local", F.col("__gr_mid") % F.lit(1 << 33))
        .drop("__gr_mid")
    )

    if group_prefix:
        return _ranked_with_group_stats(
            ranged,
            group_prefix,
            rank_col=rank_col,
            total_col=total_col,
            group_count_col=group_count_col,
            group_rank0_col=group_rank0_col,
        )

    counts = ranged.groupBy(_PID).agg(F.count(F.lit(1)).alias("__gr_cnt"))
    # Prefix-sum the (≤ n)-row counts with a window over ONE coalesced
    # partition.  The counts table has at most num_partitions rows, so
    # a single task is the right physical plan here — coalesce(1) is a
    # narrow dependency (no exchange), unlike a bare Window.orderBy,
    # which would insert a single-partition EXCHANGE of the same n
    # rows; and unlike the previous broadcast-crossJoin prefix sum,
    # which paid two extra exchanges (broadcast build + re-aggregate)
    # for the same n-row result.
    wpre = (
        Window.orderBy(_PID)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.orderBy(_PID).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.coalesce(1).select(
        _PID,
        F.coalesce(F.sum("__gr_cnt").over(wpre), F.lit(0))
        .cast("long")
        .alias(_OFF),
        F.sum("__gr_cnt").over(wall).cast("long").alias(_TOT),
    )

    out = ranged.join(F.broadcast(offsets), _PID).withColumn(
        rank_col, (F.col("__gr_local") + F.col(_OFF) + 1).cast("long")
    )
    out = out.drop(_PID, _OFF, "__gr_local")
    if total_col is None:
        return out.drop(_TOT)
    return out.withColumnRenamed(_TOT, total_col)


def _ranked_with_group_stats(
    ranged: DataFrame,
    group_prefix: list[str],
    *,
    rank_col: str,
    total_col: str | None,
    group_count_col: str,
    group_rank0_col: str,
) -> DataFrame:
    """Group-prefix variant of the rank join: ONE (pid, group) cell
    aggregate yields per-partition rank offsets AND per-group
    (count, min-rank) stats, attached through a SINGLE broadcast join
    on (pid, *group_prefix).

    Correctness rests on the prefix property: rows within a range
    partition are sorted by ``order``, whose leading columns are the
    ascending ``group_prefix``, so cells ordered by (pid, *group) are
    exactly physical row order — a running sum of cell counts in that
    order gives each cell's first global (0-based) position, the
    minimum over a group's cells gives the group's first rank, and a
    RANGE frame to pid-1 gives the partition's rank offset without a
    partition-spec window (the cell table is coalesced to one task,
    a narrow dependency — same posture as the pid-counts prefix sum
    in the ungrouped path).
    """
    from pgshovel_spark.operators.scratch import materialize

    gcols = [F.col(c) for c in group_prefix]
    cells = ranged.groupBy(_PID, *gcols).agg(
        F.count(F.lit(1)).alias("__gr_cnt")
    )
    # cell table feeds two tiny branches (group stats + the enriched
    # broadcast); materialize so the full-stream aggregate runs once.
    w_pre = Window.orderBy(_PID, *gcols).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy(_PID, *gcols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # RANGE frame over the integer pid: sums every cell of STRICTLY
    # smaller pid = the partition's global rank offset.
    w_pid_pre = Window.orderBy(_PID).rangeBetween(
        Window.unboundedPreceding, -1
    )
    cell = materialize(
        cells.coalesce(1).select(
            _PID,
            *gcols,
            "__gr_cnt",
            F.coalesce(F.sum("__gr_cnt").over(w_pid_pre), F.lit(0))
            .cast("long")
            .alias(_OFF),
            F.coalesce(F.sum("__gr_cnt").over(w_pre), F.lit(0))
            .cast("long")
            .alias("__gr_cell0"),
            F.sum("__gr_cnt").over(w_all).cast("long").alias(_TOT),
        )
    )
    gstats = cell.groupBy(*gcols).agg(
        F.sum("__gr_cnt").cast("long").alias(group_count_col),
        (F.min("__gr_cell0") + 1).cast("long").alias(group_rank0_col),
    )
    enriched = cell.join(gstats, group_prefix).select(
        _PID,
        *gcols,
        _OFF,
        _TOT,
        group_count_col,
        group_rank0_col,
    )
    out = ranged.join(
        F.broadcast(enriched), [_PID, *group_prefix]
    ).withColumn(
        rank_col, (F.col("__gr_local") + F.col(_OFF) + 1).cast("long")
    )
    out = out.drop(_PID, _OFF, "__gr_local")
    if total_col is None:
        return out.drop(_TOT)
    return out.withColumnRenamed(_TOT, total_col)


def global_ntile(
    df: DataFrame,
    order: list[Column],
    n_buckets: int,
    *,
    bucket_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed ``ntile(n_buckets) OVER (ORDER BY order)``.

    SQL ntile semantics: bucket sizes differ by at most one, with the
    larger buckets first.  With N rows, q = N div n, rem = N mod n:
    buckets 1..rem hold q+1 rows, buckets rem+1..n hold q rows.  The
    bucket for global rank r (1-based) follows in closed form, so no
    second sort is needed once the global rank is known.
    """
    ranked = with_global_rank(
        df, order, rank_col=_RANK, total_col=_TOT, num_partitions=num_partitions
    )
    nb = F.lit(n_buckets).cast("long")
    q = (F.col(_TOT) / nb).cast("long")  # floor division on non-negative longs
    rem = F.col(_TOT) % nb
    r = F.col(_RANK)
    big = rem * (q + 1)  # rows covered by the (q+1)-sized buckets
    in_big = -F.floor(-r / (q + 1))  # ceil(r / (q+1)) via floor trick
    in_small = rem - F.floor((big - r) / q)  # rem + ceil((r-big)/q)
    bucket = F.when(r <= big, in_big).otherwise(in_small)
    # Degenerate N < n_buckets: q == 0, every row lands in the big branch.
    return ranked.withColumn(bucket_col, bucket.cast("long")).drop(_RANK, _TOT)
