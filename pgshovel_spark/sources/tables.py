"""Parquet table catalog for the testdata star schema.

Parquet is the engine's canonical batch source: self-describing
schemas, columnar layout, predicate pushdown + column pruning at the
scan (verify with ``df.explain()`` → ``PushedFilters`` /
``ReadSchema``). At 100 TB the same loader reads a date-partitioned
directory tree and Catalyst adds partition pruning for free; the
single-file-per-table layout here is just the test fixture shape.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: (applicationId, sf_dir, table) -> prepared DataFrame.  Schema
#: inference reads the parquet footer on every ``spark.read.parquet``
#: — real file I/O plus several driver round-trips, ~50-150 ms per
#: call.  A query joining five tables pays that five times per
#: CONSTRUCTION, which at fixture scale rivals its execution time.
#: DataFrames are immutable plan handles, so memoizing per session is
#: safe; the catalog entry a production metastore provides serves the
#: same role at scale.
_DF_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table of the star schema from ``{sf_dir}/{name}.parquet``.

    Timestamp columns in the fixtures are naive ``timestamp[us]``
    (no zone), which Spark 4 reads as TIMESTAMP_NTZ.  With the session
    timezone pinned to UTC we cast NTZ -> TIMESTAMP (same wall-clock,
    UTC instant) so epoch arithmetic (``unix_micros`` etc., which
    rejects NTZ) works and matches the DuckDB oracle's naive-UTC
    semantics.  Older fixture generations used TIMESTAMP(NANOS) read
    as a long via ``nanosAsLong``; that path is kept for
    compatibility.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Dynamic session confs so queries are correct under ANY
    # caller-provided SparkSession (the verification driver builds its
    # own): timestamps in these tables are NTZ, and ntz->epoch
    # (unix_timestamp) is session-timezone-dependent — pin UTC to match
    # the DuckDB oracle's naive-UTC arithmetic.
    # the conf pins run on EVERY call (cache hit or not): they must
    # hold at execution time, and an external caller may have touched
    # the session between queries.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    got = _DF_CACHE.get(key)
    if got is not None:
        return got
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    from pyspark.sql import functions as F

    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    _DF_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once; all when ``names`` is empty."""
    names = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works ad hoc."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


#: (applicationId, sf_dir) -> collected dim catalog rows.
_CATALOG_CACHE: dict[tuple[str, str], dict[str, list]] = {}


def dim_catalog(spark: SparkSession, sf_dir: str) -> dict[str, list]:
    """The nation (25-row) + region (5-row) catalog tables, collected
    once per (session, corpus) in ONE padded-union action and memoized.

    These are the star schema's fixed catalogs: every production
    engine resolves predicates against them driver-side — Spark's own
    runtime filters (InSubqueryExec) collect a dim's values to build
    an IN-list, and a metastore serves the same rows for free.
    Queries consume the result as LITERAL predicates/maps (an ``isin``
    that pushes into the scan, a ``create_map`` name lookup in a
    projection), replacing multi-level broadcast-join chains over
    rows that never change: fewer broadcast-build jobs locally, and
    scan-level predicate pushdown at 100 TB.

    Returns ``{"nation": [Row(key, name, regionkey)], "region":
    [Row(key, name)]}``; rows sorted by key for determinism.
    """
    from pyspark.sql import functions as F

    key = (spark.sparkContext.applicationId, sf_dir)
    got = _CATALOG_CACHE.get(key)
    if got is None:
        n = load_table(spark, sf_dir, "nation")
        r = load_table(spark, sf_dir, "region")
        rows = (
            n.select(
                F.lit("n").alias("src"),
                F.col("n_nationkey").cast("long").alias("key"),
                F.col("n_name").alias("name"),
                F.col("n_regionkey").cast("long").alias("regionkey"),
            )
            .unionByName(
                r.select(
                    F.lit("r").alias("src"),
                    F.col("r_regionkey").cast("long").alias("key"),
                    F.col("r_name").alias("name"),
                    F.lit(None).cast("long").alias("regionkey"),
                )
            )
            .collect()
        )
        got = {
            "nation": sorted((x for x in rows if x.src == "n"), key=lambda x: x.key),
            "region": sorted((x for x in rows if x.src == "r"), key=lambda x: x.key),
        }
        _CATALOG_CACHE[key] = got
    return got


#: (sf_dir, table) -> exact footer row count (content-addressed by
#: path, not session: the fixture files are immutable per corpus dir).
_ROWCOUNT_CACHE: dict[tuple[str, str], int] = {}


def table_rowcount(sf_dir: str, name: str) -> int:
    """Exact table row count from the parquet footer metadata — zero
    Spark jobs, driver-side, memoized per (corpus dir, table).

    This is catalog-statistics access, not a scan: every warehouse
    keeps exact row counts in table metadata (parquet footers carry
    them natively; a metastore serves ANALYZE stats the same way), and
    Spark's own count(*)-over-parquet answers from the identical
    footer field when aggregate pushdown is on.  Queries needing a
    corpus-size scalar (TF-IDF's N) fold it as a LITERAL so Catalyst
    constant-folds the expression — replacing a broadcast 1-row
    aggregate subquery (2 jobs locally, one full metadata pass at
    100 TB) with a catalog lookup."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Key the cache on the target's mtime/size so an in-place regenerated
    # fixture is re-read, and support the documented directory-tree table
    # layout (a parquet dataset dir of part files) by summing footers.
    # For the DIRECTORY layout the stamp aggregates over the data files
    # themselves: rewriting a part file's bytes in place (same name) or
    # adding one inside a nested partition dir does NOT touch the top
    # directory's own mtime/size, so a top-level stat alone served
    # stale counts.
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            n_files = tot_mtime = tot_size = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if f.endswith(".parquet"):
                        fst = os.stat(os.path.join(root, f))
                        n_files += 1
                        tot_mtime = max(tot_mtime, fst.st_mtime_ns)
                        tot_size += fst.st_size
            stamp = (n_files, tot_mtime, tot_size)
        else:
            stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    key = (sf_dir, name, stamp)
    got = _ROWCOUNT_CACHE.get(key)
    if got is None:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            got = 0
            for root, _dirs, files in os.walk(path):
                for f in sorted(files):
                    if f.endswith(".parquet"):
                        got += pq.ParquetFile(
                            os.path.join(root, f)
                        ).metadata.num_rows
        else:
            got = pq.ParquetFile(path).metadata.num_rows
        _ROWCOUNT_CACHE[key] = got
    return got


def nations_in_region(spark: SparkSession, sf_dir: str, region_name: str) -> list[int]:
    """Nation keys belonging to ``region_name``, as plain ints."""
    cat = dim_catalog(spark, sf_dir)
    rk = next((x.key for x in cat["region"] if x.name == region_name), None)
    if rk is None:
        raise ValueError(
            f"region {region_name!r} not found in the dim catalog "
            f"(known: {[x.name for x in cat['region']]})"
        )
    return [int(x.key) for x in cat["nation"] if x.regionkey == rk]


def nation_name_expr(spark: SparkSession, sf_dir: str, key_col):
    """LITERAL map lookup ``nationkey -> n_name`` (no join, no build)."""
    from pyspark.sql import functions as F

    cat = dim_catalog(spark, sf_dir)
    pairs: list = []
    for x in cat["nation"]:
        pairs.append(F.lit(int(x.key)))
        pairs.append(F.lit(x.name))
    return F.element_at(F.create_map(*pairs), key_col.cast("long"))


def docs_parallel(spark: SparkSession, sf_dir: str):
    """documents spread across all cores BEFORE tokenize/explode or
    ``mapInPandas`` work — the single-file fixture otherwise scans as
    ONE task and serializes every interpreted higher-order expression
    (measured 3-6x whole-query on the similarity family) or every Arrow
    batch onto one thread.  The width is ``operators.skew.spread_scan``'s
    rule: the scan is hash-spread on ``doc_id`` only when it plans
    fewer splits than cores, so on a real multi-file corpus, where the
    scan is already parallel, it is returned untouched.  No
    ``expansion``: the consumers are row-local, and a data-derived
    width would size a sub-advisory corpus to one task."""
    from pgshovel_spark.operators.skew import spread_scan

    return spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
