
"""End-to-end training-data curation pipeline as ONE declarative plan.

``q_pipeline_curate`` chains the curation stages the individual
queries implement in isolation — exact dedup, repetition filter,
minimum-length quality gate, budget-driven mixture sampling, and
sequence packing — into a single DataFrame, proving the operators
COMPOSE: a user runs their whole pipeline as one Catalyst-optimized
job (one plan, shared scans/shuffles, no intermediate materialization)
instead of five.

Plan shape (the part that matters at 100 TB): one tokenize pass at the
scan; dedup is a window-min over xxhash64(norm) (16-byte shuffle keys,
same documented collision trade as q_dedup_exact); the repetition and
length gates are row-local codegen'd expressions; sampling needs one
5-row + one 1-row broadcast back onto the stream; packing is one
window cumsum per language.  Total: two window shuffles and one tiny
aggregate for the whole pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pgshovel_spark.functions.textfns import norm_text, tokens
from pgshovel_spark.operators.scratch import materialize
from pgshovel_spark.functions.determinism import knuth_bucket
from pgshovel_spark.queries.training import (
    _BUDGET_MILLI,
    _KNUTH,
    _MIX_WEIGHTS,
    _PACK_CAP,
    _TOKS,
    _TRI_DUCK,
    _TRI_SPARK,
)

#: minimum tokens for the quality gate (docs below carry no signal)
_MIN_TOKS = 10

#: maximum within-doc duplicated-trigram ratio (Gopher/C4 heuristic)
_MAX_DUP_RATIO = 0.05


def q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup -> repetition filter -> length gate -> budget mixture
    sample -> pack, composed into one plan; emits the packed survivor
    set (doc_id, lang, token counts, chunk spans)."""
    # ONE scan of documents carrying both the token array and the
    # dedup key — computing h in the same select as the tokenize
    # removes the former doc_id self-join (a full corpus shuffle) that
    # re-derived h from a second scan of the base table.  The spread
    # repartition (the fixture parquet is one sub-split-size file)
    # keys on h, the dedup window's own partitioning — the window then
    # runs exchange-free on it (hash(h) satisfies its clustering), so
    # the spread and the dedup shuffle are the SAME exchange; the
    # tokenize still lands after it, core-wide.
    from pgshovel_spark.operators.skew import spread_scan
    from pgshovel_spark.sources.tables import load_table

    d = (
        spread_scan(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "lang", "text", F.xxhash64(norm_text("text")).alias("h")
            ),
            "h",
        )
        .select(
            "doc_id",
            "lang",
            F.filter(tokens("text"), lambda t: t != "").alias("a"),
            "h",
        )
    )

    # 1. exact dedup: survivor = min doc_id per normalized-text hash
    keeper = F.min("doc_id").over(Window.partitionBy("h"))
    d = d.withColumn("keeper", keeper).filter(F.col("doc_id") == F.col("keeper"))

    # 2.+3. repetition + length gates (row-local)
    tris = F.expr(_TRI_SPARK)
    dup_ratio = F.lit(1.0) - F.size(F.array_distinct(tris)).cast(
        "double"
    ) / F.size(tris).cast("double")
    d = (
        d.withColumn("n_toks", F.size("a").cast("long"))
        .filter(F.col("n_toks") >= _MIN_TOKS)
        .filter(dup_ratio <= _MAX_DUP_RATIO)
        .select("doc_id", "lang", "n_toks")
    )
    # The survivor stream is SELF-REFERENCED (the totals broadcast
    # derives from it and joins back), so AQE's stage dedup re-plans
    # the whole scan+tokenize+window subtree per occurrence after
    # DeduplicateRelations re-aliases it (two documents scans,
    # tools/selfref_audit.py; same miss as q_skyline).  The consumers
    # are strictly sequential — the probe cannot start before the
    # totals broadcast exists — so a LAZY cache of the slim survivor
    # rows (24 B/doc) populates race-free and the corpus is scanned
    # and tokenized once.  (The round-7 persist that measured worse
    # was the EAGER form racing concurrent population.)  Round-9 A/B
    # closed the book on the alternative: a doc_id repartition top
    # (the q_important_stock trick) holds the same 7-job count at
    # sf0.1 but LOSES at 10x (3.14 vs 2.35 s run-1; 2.29 vs 0.70
    # run-2) — re-shuffling the full survivor stream costs more than
    # caching its 24 B/doc rows.  DOCUMENTED-FINAL (EXPERIMENTS.md
    # round 9).
    d = materialize(d)

    # 4. budget mixture sample over the SURVIVING corpus
    w = F.lit(None).cast("long")
    for lang, wt in sorted(_MIX_WEIGHTS.items()):
        w = F.when(F.col("lang") == lang, F.lit(wt)).otherwise(w)
    d = d.withColumn("w_milli", w).filter(F.col("w_milli").isNotNull())
    # ONE broadcast carries both the per-lang mass and the global
    # budget: the corpus total folds into the 5-row totals table as an
    # unpartitioned window over coalesce(1) (narrow, one task, no
    # single-partition exchange), instead of a separate 1-row
    # aggregate + crossJoin, which paid its own shuffle + broadcast
    # stage pair under AQE (the q_sample_token_budget shape).
    totals = (
        d.groupBy("lang")
        .agg(F.sum("n_toks").alias("lang_toks"))
        .coalesce(1)
        .withColumn(
            "budget_toks",
            F.expr(
                f"(sum(lang_toks) OVER (ROWS BETWEEN UNBOUNDED PRECEDING"
                f" AND UNBOUNDED FOLLOWING) * {_BUDGET_MILLI}) div 1000"
            ),
        )
    )
    rate = F.least(
        F.lit(1000).cast("long"),
        F.expr("(budget_toks * w_milli) div lang_toks"),
    )
    bucket = knuth_bucket("doc_id", 1000)
    d = (
        d.join(F.broadcast(totals), "lang")
        .filter(bucket.cast("long") < rate)
        .select("doc_id", "lang", "n_toks")
    )

    # 5. pack the sampled survivors into _PACK_CAP-token sequences
    cum = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    start = F.coalesce(F.sum("n_toks").over(cum), F.lit(0)).cast("long")
    first = F.floor(F.col("start_off") / float(_PACK_CAP)).cast("long")
    last = F.floor(
        (F.col("start_off") + F.col("n_tokens") - 1) / float(_PACK_CAP)
    ).cast("long")
    return (
        d.select(
            "doc_id",
            "lang",
            F.col("n_toks").alias("n_tokens"),
            start.alias("start_off"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "start_off",
            first.alias("first_chunk"),
            last.alias("last_chunk"),
        )
    )


_PIPELINE_CURATE_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS norm,
         {_TOKS} AS a
  FROM documents
), ded AS (
  SELECT doc_id, lang, a FROM (
    SELECT doc_id, lang, a, MIN(doc_id) OVER (PARTITION BY norm) AS keeper
    FROM t
  ) WHERE doc_id = keeper
), gated AS (
  SELECT doc_id, lang, CAST(len(a) AS BIGINT) AS n_toks
  FROM (SELECT doc_id, lang, a, {_TRI_DUCK} AS tris FROM ded)
  WHERE len(a) >= {_MIN_TOKS}
    AND 1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris)
        <= {_MAX_DUP_RATIO}
), d2 AS (
  SELECT doc_id, lang, n_toks,
         CAST(CASE lang WHEN 'en' THEN 400 WHEN 'de' THEN 200
                        WHEN 'fr' THEN 200 WHEN 'es' THEN 100
                        WHEN 'zh' THEN 100 END AS BIGINT) AS w_milli
  FROM gated
  WHERE lang IN ('en', 'de', 'fr', 'es', 'zh')
), totals AS (
  SELECT lang, CAST(SUM(n_toks) AS BIGINT) AS lang_toks FROM d2 GROUP BY lang
), b AS (
  SELECT CAST(SUM(n_toks) * {_BUDGET_MILLI} // 1000 AS BIGINT) AS budget_toks
  FROM d2
), sampled AS (
  SELECT d2.doc_id, d2.lang, d2.n_toks
  FROM d2 JOIN totals USING (lang) CROSS JOIN b
  WHERE CAST(((d2.doc_id % 2147483648) * {_KNUTH}) % 4294967296 % 1000 AS BIGINT)
        < LEAST(CAST(1000 AS BIGINT),
                (b.budget_toks * d2.w_milli) // totals.lang_toks)
), packed AS (
  SELECT doc_id, lang, n_toks AS n_tokens,
         CAST(COALESCE(SUM(n_toks) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_off
  FROM sampled
)
SELECT doc_id, lang, n_tokens, start_off,
  CAST(FLOOR(start_off / {_PACK_CAP}.0) AS BIGINT) AS first_chunk,
  CAST(FLOOR((start_off + n_tokens - 1) / {_PACK_CAP}.0) AS BIGINT) AS last_chunk
FROM packed
"""


QUERIES = {"q_pipeline_curate": q_pipeline_curate}
ORACLES = {"q_pipeline_curate": _PIPELINE_CURATE_SQL}
