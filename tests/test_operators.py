"""Unit tests for composed operators (asof, topk) on crafted frames."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import datetime as dt

from pyspark.sql import functions as F

from pgshovel_spark.operators.asof import asof_join
from pgshovel_spark.operators.topk import topk_per_group

D = dt.datetime


def _frames(spark):
    left = spark.createDataFrame(
        [
            (1, D(2024, 1, 1, 10, 0), "a"),   # before any right row
            (2, D(2024, 1, 1, 12, 0), "b"),   # exactly at a right ts
            (3, D(2024, 1, 1, 15, 0), "c"),   # after several
        ],
        "lid long, ts timestamp, tag string",
    ).withColumn("k", F.lit(1))
    right = spark.createDataFrame(
        [
            (10, D(2024, 1, 1, 11, 0), 1.0),
            (11, D(2024, 1, 1, 12, 0), 2.0),  # ties left row 2's ts
            (12, D(2024, 1, 1, 12, 0), 3.0),  # same ts: higher rid wins
            (13, D(2024, 1, 1, 14, 0), 4.0),
        ],
        "rid long, ts timestamp, val double",
    ).withColumn("k", F.lit(1))
    return left, right


def test_asof_inner_semantics(spark):
    left, right = _frames(spark)
    out = {
        r.lid: (r.rid, r.val)
        for r in asof_join(
            left, right, on=["k"], order_col="ts", right_tiebreak="rid",
            right_value_cols=["rid", "val"], how="inner",
        ).collect()
    }
    assert 1 not in out, "left row before any right row drops in inner"
    assert out[2] == (12, 3.0), "equal-ts rights match; max tiebreak wins"
    assert out[3] == (13, 4.0)


def test_asof_left_semantics(spark):
    left, right = _frames(spark)
    out = {
        r.lid: r.rid
        for r in asof_join(
            left, right, on=["k"], order_col="ts", right_tiebreak="rid",
            right_value_cols=["rid", "val"], how="left",
        ).collect()
    }
    assert out[1] is None, "left keeps unmatched rows with NULLs"
    assert out[2] == 12 and out[3] == 13


def test_asof_empty_right(spark):
    left, right = _frames(spark)
    empty = right.filter(F.lit(False))
    inner = asof_join(
        left, empty, on=["k"], order_col="ts", right_tiebreak="rid",
        right_value_cols=["rid", "val"], how="inner",
    )
    assert inner.count() == 0
    left_out = asof_join(
        left, empty, on=["k"], order_col="ts", right_tiebreak="rid",
        right_value_cols=["rid", "val"], how="left",
    )
    assert left_out.count() == left.count()


def test_topk_per_group_rank_and_cutoff(spark):
    df = spark.createDataFrame(
        [(g, i, float(100 - i)) for g in (1, 2) for i in range(5)],
        "g long, i long, score double",
    )
    out = topk_per_group(df, ["g"], [F.col("score").desc(), F.col("i").asc()], 2)
    rows = sorted((r.g, r.rn, r.i) for r in out.collect())
    assert rows == [(1, 1, 0), (1, 2, 1), (2, 1, 0), (2, 2, 1)]


def test_global_ntile_matches_native(spark):
    # 103 rows (not divisible by 4) across several input partitions.
    from pyspark.sql import Window

    from pgshovel_spark.operators.rank import global_ntile

    df = spark.range(103).select(
        F.col("id"), (F.col("id") * 37 % 101).alias("v")
    ).repartition(8)
    got = global_ntile(
        df, order=[F.col("v").asc(), F.col("id").asc()], n_buckets=4,
        bucket_col="q", num_partitions=6,
    )
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    want = df.select("id", "v", F.ntile(4).over(w).cast("long").alias("q"))
    assert sorted(got.select("id", "q").collect()) == sorted(
        want.select("id", "q").collect()
    )


def test_global_ntile_fewer_rows_than_buckets(spark):
    from pgshovel_spark.operators.rank import global_ntile

    df = spark.createDataFrame([(1,), (2,), (3,)], "x long")
    got = global_ntile(df, order=[F.col("x").asc()], n_buckets=10, bucket_col="b")
    assert sorted((r.x, r.b) for r in got.collect()) == [(1, 1), (2, 2), (3, 3)]


def test_global_rank_derived_default_partitions(spark):
    # r14: with no explicit num_partitions the operator derives the
    # range-partition count from the input's estimated bytes (clamped
    # to [1, defaultParallelism]) instead of using defaultParallelism
    # outright — the ranks must be identical either way, and for a
    # tiny input the derived count must be small (core-independent).
    from pgshovel_spark.operators.rank import with_global_rank
    from pgshovel_spark.operators.skew import plan_partitions, sized_partitions

    df = spark.range(100).select(F.col("id"), (F.col("id") * 13 % 31).alias("v"))
    n = plan_partitions(df)
    assert 1 <= n <= spark.sparkContext.defaultParallelism
    got = with_global_rank(df, [F.col("v").asc(), F.col("id").asc()], rank_col="r")
    want = with_global_rank(
        df, [F.col("v").asc(), F.col("id").asc()], rank_col="r", num_partitions=5
    )
    assert sorted(map(tuple, got.select("id", "r").collect())) == sorted(
        map(tuple, want.select("id", "r").collect())
    )
    # exact-size helper: pure function of bytes and the advisory conf
    assert sized_partitions(spark, 0) == 1
    assert sized_partitions(spark, 1) == 1
    adv = int(
        spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        )
    )
    assert sized_partitions(spark, adv + 1) == 2


def test_global_rank_no_single_partition_window(spark):
    from pgshovel_spark.operators.rank import with_global_rank

    df = spark.range(50).select(F.col("id"), (F.col("id") % 7).alias("v"))
    out = with_global_rank(df, order=[F.col("v").asc(), F.col("id").asc()],
                           rank_col="r", num_partitions=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every Window in the physical plan must carry a partition spec
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "__gr_pid" in line, line
    ranks = sorted((r.v, r.id, r.r) for r in out.collect())
    assert [t[2] for t in ranks] == list(range(1, 51))


def test_global_rank_group_prefix_matches_two_pass(spark):
    # The group_prefix variant must agree exactly with the naive
    # second-pass computation (groupBy(group) over the ranked output)
    # it replaces: same global rank, same per-group count, same
    # per-group min rank — across several groups, skewed group sizes,
    # and more partitions than groups.
    from pgshovel_spark.operators.rank import with_global_rank

    df = spark.range(211).select(
        F.col("id"),
        (F.col("id") % 5).alias("g"),
        ((F.col("id") * 131) % 97).alias("v"),
    ).repartition(7)
    order = [F.col("g").asc(), F.col("v").asc(), F.col("id").asc()]
    got = with_global_rank(
        df, order, rank_col="r", num_partitions=6,
        group_prefix=["g"], group_count_col="ng", group_rank0_col="r0",
    )
    base = with_global_rank(df, order, rank_col="r", num_partitions=6)
    stats = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("ng"), F.min("r").alias("r0")
    )
    want = base.join(stats, "g")
    cols = ["id", "g", "v", "r", "ng", "r0"]
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )
    # per-group rank sanity: r - r0 + 1 is 1..ng within each group
    rows = got.select("g", "r", "r0", "ng").collect()
    per_g = {}
    for row in rows:
        per_g.setdefault(row.g, []).append(row.r - row.r0 + 1)
    for g, idxs in per_g.items():
        assert sorted(idxs) == list(range(1, len(idxs) + 1)), g


def test_asof_null_right_values_stay_together(spark):
    # Right rows carry (a, b) where one column may be NULL; the as-of
    # fill must never stitch a's value from one row with b's from another,
    # and a NULL in the FIRST value column must not drop an inner match.
    left = spark.createDataFrame(
        [(1, D(2024, 1, 1, 13, 0), "x")], "lid long, ts timestamp, tag string"
    ).withColumn("k", F.lit(1))
    right = spark.createDataFrame(
        [
            (10, D(2024, 1, 1, 11, 0), 1.0, "early"),
            (11, D(2024, 1, 1, 12, 0), None, "late"),  # newest match: a is NULL
        ],
        "rid long, ts timestamp, a double, b string",
    ).withColumn("k", F.lit(1))
    out = asof_join(
        left, right, on=["k"], order_col="ts", right_tiebreak="rid",
        right_value_cols=["a", "b"], how="inner",
    ).collect()
    assert len(out) == 1
    # the newest right row (rid=11) wins WHOLE: a=None together with b='late'
    assert out[0].a is None and out[0].b == "late"


def test_connected_components_basic(spark):
    from pgshovel_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "node long")
    # components: {1,2,3,4} chained, {5,6}, singletons {7}, {8}
    edges = spark.createDataFrame(
        [(2, 3), (3, 4), (1, 2), (5, 6)], "src long, dst long"
    )
    got = {r.node: r.component for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 8}


def test_connected_components_no_edges(spark):
    from pgshovel_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(1,), (2,)], "node long")
    edges = spark.createDataFrame([], "src long, dst long")
    got = {r.node: r.component for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 2}


def test_connected_components_long_chain(spark):
    # a 40-node path exercises pointer jumping past naive round counts
    # (local_threshold=0 forces the distributed rounds; the default
    # would route a 39-edge graph to the union-find path)
    from pgshovel_spark.operators.graph import connected_components

    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    got = {
        r.node: r.component
        for r in connected_components(
            nodes, edges, local_threshold=0
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_connected_components_local_and_distributed_agree(spark):
    """The size gate selects a physical strategy, never the answer:
    the single-task union-find path and the distributed min-label
    rounds must label an identical component map on the same graph
    (chains, a cycle, a star, reversed/duplicate edges, isolated
    nodes)."""
    from pgshovel_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(30)], "node long")
    raw = (
        [(i, i + 1) for i in range(0, 9)]          # chain 0..9
        + [(10, 11), (11, 12), (12, 10)]           # cycle
        + [(20, k) for k in range(21, 26)]         # star
        + [(25, 20), (1, 0), (0, 1)]               # reversed + dup edges
    )
    edges = spark.createDataFrame(raw, "src long, dst long")
    local = {
        r.node: r.component
        for r in connected_components(nodes, edges).collect()
    }
    dist = {
        r.node: r.component
        for r in connected_components(nodes, edges, local_threshold=0).collect()
    }
    assert local == dist
    assert local[9] == 0 and local[12] == 10 and local[25] == 20
    # isolated nodes keep their own id in both paths
    assert local[29] == 29


def test_ivf_index_build_search_and_pruning(spark, tmp_path):
    """IVF index: search touches ONLY n_probe partitions (inputFiles
    pruning), and its top-k equals brute force over the probed
    clusters."""
    from pgshovel_spark.operators.ann import build_ivf_index, ivf_search
    from pgshovel_spark.functions.vectors import cosine_sim
    from pgshovel_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "ivf")
    build_ivf_index(e, idx, k_clusters=4, n_iter=3)

    probe = [float(x) for x in
             e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    res = ivf_search(spark, idx, probe, n_probe=2, top_k=5)
    rows = res.collect()
    assert len(rows) == 5

    # pruning: the centroid_id filter must reach the scan as a
    # PARTITION filter (directory-level pruning), not a data filter
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan.split(
        "PartitionFilters"
    )[1][:200]
    probed = sorted({r.centroid_id for r in rows})
    assert 0 < len(probed) <= 2  # results come from at most n_probe clusters

    # equivalence: brute force over the same probed clusters
    chosen = [int(c) for c in probed]
    full = spark.read.parquet(idx + "/vectors").filter(
        F.col("centroid_id").isin(chosen)
    )
    probe_df = spark.createDataFrame([(probe,)], "p array<double>")
    brute = (
        full.crossJoin(F.broadcast(probe_df))
        .select("vec_id", cosine_sim(F.col("embedding").cast("array<double>"), "p").alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(5)
        .collect()
    )
    assert [r.vec_id for r in rows] == [r.vec_id for r in brute]


def test_ivf_recall_vs_brute_force(spark, tmp_path):
    """ANN quality gate on CLUSTERABLE data: with the k-means++
    quantizer (k=8) and n_probe=4, mean recall@10 against exact
    brute-force cosine over the whole corpus must be >= 0.9.

    The fixture embeddings are isotropic noise (measured mean
    same-label cosine ~= 0), on which NO coarse quantizer can
    concentrate neighbors — so quantizer quality is tested on a
    deterministic mixture of 8 well-separated Gaussian clusters, the
    regime IVF exists for.  The fixture-embedding path is covered by
    test_ivf_index_build_search_and_pruning above."""
    import numpy as np

    from pgshovel_spark.operators.ann import build_ivf_index, ivf_search

    rng = np.random.RandomState(7)
    centers = rng.randn(8, 32) * 4.0
    X = np.vstack([c + rng.randn(80, 32) for c in centers])
    ids = np.arange(len(X))
    e = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in ids],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "ivf")
    build_ivf_index(e, idx, k_clusters=8, n_iter=5)

    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    recalls = []
    for i in range(0, len(X), 130):  # 5 probes across different clusters
        probe = [float(x) for x in X[i]]
        p = np.asarray(probe)
        p = p / max(np.linalg.norm(p), 1e-12)
        exact = set(ids[np.argsort(-(Xn @ p), kind="stable")[:10]].tolist())
        got = {
            r.vec_id
            for r in ivf_search(spark, idx, probe, n_probe=4, top_k=10).collect()
        }
        recalls.append(len(exact & got) / 10.0)
    assert sum(recalls) / len(recalls) >= 0.9, recalls

    # determinism: a rebuild yields byte-identical centroids
    idx2 = str(tmp_path / "ivf2")
    build_ivf_index(e, idx2, k_clusters=8, n_iter=5)
    c1 = sorted(
        (r.centroid_id, tuple(r.centroid))
        for r in spark.read.parquet(idx + "/centroids").collect()
    )
    c2 = sorted(
        (r.centroid_id, tuple(r.centroid))
        for r in spark.read.parquet(idx2 + "/centroids").collect()
    )
    assert c1 == c2


def test_ivf_knn_join_matches_per_probe_search(spark, tmp_path):
    """Batched KNN join == N independent ivf_search calls (same index,
    same n_probe) for every probe."""
    from pyspark.sql import functions as F

    from pgshovel_spark.operators.ann import build_ivf_index, ivf_knn_join, ivf_search
    from pgshovel_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "ivf_join")
    build_ivf_index(e, idx, k_clusters=4, n_iter=3)
    probe_rows = e.orderBy("vec_id").limit(8).collect()
    probes = spark.createDataFrame(
        [(r.vec_id, [float(x) for x in r.embedding]) for r in probe_rows],
        "probe_id long, probe_vec array<double>",
    )
    joined = ivf_knn_join(spark, idx, probes, n_probe=2, top_k=5)
    got = {}
    for r in joined.collect():
        got.setdefault(r.probe_id, []).append((r.rank, r.neighbor_id))
    for pr in probe_rows:
        single = ivf_search(
            spark, idx, [float(x) for x in pr.embedding], n_probe=2, top_k=5
        ).collect()
        want = [(i + 1, r.vec_id) for i, r in enumerate(single)]
        assert sorted(got[pr.vec_id]) == want, pr.vec_id
    # each probe must find itself first (it's in the corpus)
    for pid, pairs in got.items():
        assert sorted(pairs)[0][1] == pid


def test_minhash_est_invariants(spark):
    """Every LSH candidate pair shares >=1 band => >=4 of 8 hashes
    match => est_milli >= 500; the signed error is exactly
    est - exact; and a full-match signature (n_match=8) on identical
    token sets reports zero error."""
    from pgshovel_spark.queries.similarity import q_sim_minhash_est

    rows = q_sim_minhash_est(spark, "/root/testdata/sf0.001").collect()
    assert rows, "sf0.001 fixture should produce at least one candidate pair"
    for r in rows:
        assert 1 <= r.n_bands <= 2
        assert 4 * r.n_bands <= r.n_match <= 8
        assert r.est_milli == r.n_match * 125
        assert 0 <= r.exact_milli <= 1000
        assert r.err_milli == r.est_milli - r.exact_milli
        if r.exact_milli == 1000:  # identical token sets
            assert r.n_match == 8 and r.err_milli == 0


def test_dedup_semantic_invariants(spark):
    """SemDeDup decision table: a pruned vector always has a near-dup
    neighbor; a vector with no neighbors is never pruned; within any
    near-dup PAIR at least one side survives (dominance is a strict
    total order per pair, so both can't prune each other); and the
    survivor of a pair is the one farther from the centroid."""
    from pgshovel_spark.queries.similarity import (
        q_dedup_embedding,
        q_dedup_semantic,
    )

    SF = "/root/testdata/sf0.001"
    rows = {r.vec_id: r for r in q_dedup_semantic(spark, SF).collect()}
    assert rows
    for r in rows.values():
        if r.is_pruned:
            assert r.n_neighbors >= 1
        if r.n_neighbors == 0:
            assert not r.is_pruned
    pairs = q_dedup_embedding(spark, SF).collect()
    for p in pairs:
        a, b = rows[p.id1], rows[p.id2]
        assert not (a.is_pruned and b.is_pruned and a.n_neighbors == 1 and b.n_neighbors == 1), (
            "a 1-neighbor pair pruned both sides"
        )
        # the dominated side of THIS pair is pruned
        if (a.csim, a.vec_id) < (b.csim, b.vec_id):
            assert b.is_pruned
        else:
            assert a.is_pruned


def test_asof_join_null_keys_never_match(spark):
    """Equi-join NULL semantics: NULL join keys (or NULL order values)
    on the right never match; NULL-key left rows survive a left join
    unmatched instead of picking up a NULL-key right row."""
    from pgshovel_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "l1"), (None, 100, "l2")], "k int, t int, lv string"
    )
    right = spark.createDataFrame(
        [(1, 50, 7), (None, 50, 8), (1, None, 9)], "k int, t int, rid int"
    )
    out = asof_join(
        left, right, on=["k"], order_col="t",
        right_tiebreak="rid", right_value_cols=["rid"], how="left",
    ).collect()
    got = {r.lv: r.rid for r in out}
    assert got["l1"] == 7          # real match (NULL-order rid=9 excluded)
    assert got["l2"] is None       # NULL key matches nothing
    inner = asof_join(
        left, right, on=["k"], order_col="t",
        right_tiebreak="rid", right_value_cols=["rid"], how="inner",
    ).collect()
    assert [r.lv for r in inner] == ["l1"]


def test_ivf_rebuild_resets_staleness_stats(spark, tmp_path):
    """Rebuilding an IVF index in place resets the stats log: the
    retrain flag must CLEAR after the rebuild the monitor recommended,
    not stay pinned on the previous era's drifted append rows."""
    import numpy as np

    from pgshovel_spark.operators.ann import (
        build_ivf_index,
        ivf_append,
        ivf_staleness,
    )

    rng = np.random.default_rng(7)
    base = [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(200)]
    # 300 appended vs 200 base rows: appended_frac 0.6 > 0.5 trips
    # the volume threshold deterministically (the cosine-ratio leg is
    # distribution-sensitive; volume is not)
    drift = [
        (1000 + i, [float(x) for x in rng.normal(5, 1, 8)]) for i in range(300)
    ]
    schema = "vec_id long, embedding array<double>"
    idx = str(tmp_path / "ivf")
    build_ivf_index(spark.createDataFrame(base, schema), idx, k_clusters=4)
    ivf_append(spark, idx, spark.createDataFrame(drift, schema))
    assert ivf_staleness(spark, idx)["retrain"] is True
    # the recommended action: rebuild in place over the full corpus
    build_ivf_index(
        spark.createDataFrame(base + drift, schema), idx, k_clusters=4
    )
    after = ivf_staleness(spark, idx)
    assert after["retrain"] is False, f"stale-era stats leaked: {after}"


def test_spread_scan_is_scale_adaptive(spark):
    from pgshovel_spark.operators.skew import spread_scan

    p = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1000, 1, 1).withColumnRenamed("id", "doc_id")
    wide = spark.range(0, 1000, 1, p).withColumnRenamed("id", "doc_id")

    spread = spread_scan(narrow, "doc_id")
    assert spread.rdd.getNumPartitions() == p
    assert "repartitionbyexpression" in spread._jdf.queryExecution().logical().toString().lower()

    # already >= cores of parallelism: returned untouched, no shuffle added
    kept = spread_scan(wide, "doc_id")
    assert kept is wide


def test_spread_scan_expansion_derives_width_from_data(spark):
    # r14: with an expansion factor the spread width is data-derived
    # (estimated bytes x expansion / advisory target), capped at
    # defaultParallelism — a tiny input must spread to FEWER
    # partitions than cores, identically at any core count.
    from pgshovel_spark.operators.skew import spread_scan

    p = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1000, 1, 1).withColumnRenamed("id", "doc_id")
    spread = spread_scan(narrow, "doc_id", expansion=2)
    n = spread.rdd.getNumPartitions()
    assert 1 <= n <= p
    # a tiny table times a small expansion stays under one advisory
    # partition -> width 1 -> the scan is returned untouched
    assert spread is narrow or n < p
    # rows are preserved either way
    assert spread.count() == 1000


def test_partition_widths_come_from_one_module():
    # Static gate, no Spark: operators/skew.py owns the one
    # partition-sizing rule, so no other engine module may read the
    # core count (.defaultParallelism) or a plan-size estimate
    # (.sizeInBytes) to pick a width of its own.  Attribute nodes
    # only — comments and docstrings may still name them.
    import ast

    root = Path(__file__).resolve().parent.parent / "pgshovel_spark"
    owner = root / "operators" / "skew.py"
    assert owner.is_file()
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path == owner:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and node.attr in (
                "defaultParallelism",
                "sizeInBytes",
            ):
                hits.append(f"{path.relative_to(root)}:{node.lineno} .{node.attr}")
    assert not hits, "partition width decided outside operators/skew.py:\n" + "\n".join(hits)
