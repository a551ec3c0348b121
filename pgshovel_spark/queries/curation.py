"""Corpus-curation and event-analytics operators (round-2, second
batch): BPE-style pre-tokenization statistics, int8 embedding
quantization and per-label centroids, incremental-batch dedup,
cross-document duplicate-trigram coverage, banded SimHash pairs,
Broder containment pairs, winnowing fingerprints, and the
funnel/cohort queries an event pipeline serves — the remaining pieces
of a production training-data + product-analytics stack.

Registered FIRST (after the one-plan pipeline module) as of round 3
(see queries/__init__.py): this batch had never had a driver
correctness row, so it now leads the driver's ~50-entry window; it is
also hash-checked by tools/selfcheck.py and tests/test_oracle_parity.py.

Determinism: integer outputs wherever possible (quantized levels,
counts, milli-scaled floors); the only floats are ROUND()ed ratios of
exact BIGINT sums, and all per-element arithmetic casts FLOAT->DOUBLE
first so Spark and DuckDB fold identical IEEE doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pgshovel_spark.functions.textfns import norm_text, tokens
from pgshovel_spark.operators.scratch import materialize
from pgshovel_spark.queries.similarity import _DF_CAP as _SIM_DF_CAP
from pgshovel_spark.queries.training import _TOKS as _CUR_TOKS
from pgshovel_spark.functions.determinism import iratio
from pgshovel_spark.sources.tables import load_table
from pgshovel_spark.sources.tables import docs_parallel as _docs_parallel


# ------------------------------------------------- BPE pre-tokenization

#: GPT-2-style pre-tokenizer, restricted to constructs Java regex and
#: RE2 (DuckDB) treat identically: leftmost-first alternation, greedy
#: classes, no lookaround (RE2 has none).  Contraction suffixes split
#: first, then space-prefixed letter runs / digit runs / punctuation
#: runs.  Whitespace itself is never emitted as a piece.
# Whitespace is spelled as an explicit character class, not \s: Java's
# \s is [ \t\n\x0B\f\r] but RE2/DuckDB's \s omits vertical tab, so a
# document containing U+000B would pre-tokenize differently per engine.
_WS_CLS = r" \t\n\x0B\f\r"
_BPE_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9" + _WS_CLS + "']+"


def q_text_bpe_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language pre-tokenizer statistics: piece count, distinct
    pieces (the BPE alphabet-size driver), pieces per doc, mean piece
    length — the corpus pass a tokenizer trainer runs first.

    Scale shape: regexp_extract_all + explode are map-side inside the
    scan task; the shuffle carries (lang, piece-hash-sized) rows into
    one partial+final agg per lang.  Distinct-piece counting uses the
    exact two-level aggregate Spark plans for countDistinct (partial
    distinct inside the map task), not a global collect.
    """
    d = _docs_parallel(spark, sf_dir)
    pieces = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PAT), F.lit(0))
        ).alias("piece"),
    )
    return (
        pieces.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_pieces"),
            F.countDistinct("piece").alias("n_distinct_pieces"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum(F.length("piece")).alias("piece_chars"),
        )
        .select(
            "lang",
            "n_pieces",
            "n_distinct_pieces",
            "n_docs",
            iratio("n_pieces", "n_docs", 2).alias("pieces_per_doc"),
            iratio("piece_chars", "n_pieces", 4).alias("avg_piece_len"),
        )
    )


# DuckDB RE2: '' escapes the quote; backslash escapes inside a
# standard (non-E'') string pass through verbatim to the regex engine.
# Whitespace is the same explicit class as _WS_CLS (see above) so both
# engines agree on U+000B.
_BPE_PRETOKENIZE_SQL = r"""
WITH p AS (
  SELECT doc_id, lang,
         unnest(regexp_extract_all(lower(text),
                '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 \t\n\x0B\f\r'']+'))
           AS piece
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_pieces,
       COUNT(DISTINCT piece) AS n_distinct_pieces,
       COUNT(DISTINCT doc_id) AS n_docs,
       CAST((COUNT(*) * 200 + COUNT(DISTINCT doc_id)) // (COUNT(DISTINCT doc_id) * 2) AS DOUBLE) / 100.0
         AS pieces_per_doc,
       CAST((SUM(length(piece)) * 20000 + COUNT(*)) // (COUNT(*) * 2) AS DOUBLE) / 10000.0
         AS avg_piece_len
FROM p
GROUP BY lang
"""


# ------------------------------------------------- int8 quantization


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of every embedding: per-vector scale
    = max|x|/127, levels q_i = round(x_i*127/max|x|) — the compaction
    step before shipping vectors to an ANN index.  Emits integer-only
    per-vector stats (scale in milli-units, L1 mass of levels, zeroed
    and saturated dims) so the hash check is exact.

    Scale shape: pure per-row higher-order expressions (transform /
    aggregate / filter) — no shuffle at all; whole-stage codegen keeps
    it JVM-side.  FLOAT widens to DOUBLE before any arithmetic so both
    engines fold identical IEEE values.
    """
    e = load_table(spark, sf_dir, "embeddings")
    xd = F.transform("embedding", lambda x: x.cast("double"))
    e = e.select(
        "vec_id",
        "label",
        xd.alias("xd"),
        F.array_max(F.transform(xd, F.abs)).alias("maxabs"),
    )
    q = F.transform(
        "xd",
        lambda x: F.when(F.col("maxabs") == 0.0, F.lit(0).cast("long")).otherwise(
            F.round(x * F.lit(127.0) / F.col("maxabs"), 0).cast("long")
        ),
    )
    e = e.select("vec_id", "label", "maxabs", q.alias("q"))
    zero = F.lit(0).cast("long")
    return e.select(
        "vec_id",
        "label",
        F.size("q").alias("dims"),
        F.floor(F.col("maxabs") * 1000).cast("long").alias("scale_milli"),
        F.aggregate("q", zero, lambda a, x: a + F.abs(x)).alias("q_l1"),
        F.size(F.filter("q", lambda x: x == 0)).alias("n_zero"),
        F.size(F.filter("q", lambda x: F.abs(x) == 127)).alias("n_sat"),
    )


_EMBED_QUANTIZE_SQL = """
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS xd,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS maxabs
  FROM embeddings
), lv AS (
  SELECT vec_id, label, maxabs,
         list_transform(xd, x -> CASE WHEN maxabs = 0 THEN CAST(0 AS BIGINT)
           ELSE CAST(round(x * 127 / maxabs, 0) AS BIGINT) END) AS q,
         len(xd) AS dims
  FROM v
)
SELECT vec_id, label, dims,
       CAST(floor(maxabs * 1000) AS BIGINT) AS scale_milli,
       CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
       len(list_filter(q, x -> x = 0)) AS n_zero,
       len(list_filter(q, x -> abs(x) = 127)) AS n_sat
FROM lv
"""


#: Gram-matrix quantization scale: embedding values quantize to
#: micro-units (round(x * 1e6) as BIGINT) so the 64x64 Gram entries
#: are EXACT integer sums — |q| <= ~2e6 per element, products <= 4e12,
#: corpus sums far under 2^63 at any fixture scale (a 100 TB corpus
#: re-scales to 1e3 units, trading 3 digits for 6 orders of headroom).
_GRAM_SCALE = 1_000_000


def q_embed_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix of the embedding corpus (upper
    triangle, 64x64) in EXACT integer arithmetic — the X^T X
    covariance/whitening/PCA-prep step of an embedding pipeline,
    hash-checkable because micro-unit quantization makes every entry
    an order-independent integer sum.

    Engine plan: quantization is a row-local Spark expression (the
    q_embed_quantize rounding precedent, identical in the oracle);
    each Arrow batch then contributes ONE exact int64 Q^T Q partial
    (numpy integer matmul — 4096 rows per batch regardless of batch
    size), and a final dim^2-sized groupBy sums partials.  The
    all-pairs-of-dimensions work never touches the shuffle: at 100 TB
    the shuffle is (#batches x 2080) rows of 24 bytes.  The oracle is
    the naive unnest self-join (row x dim explosion) — same integers,
    quadratic-in-dims join the engine never runs.
    """
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * F.lit(float(_GRAM_SCALE)), 0).cast(
            "long"
        ),
    )
    qd = e.select(q.alias("q"))

    def gram_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            G = Q.T @ Q  # exact int64 integer matmul
            d = G.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {"i": iu.astype(np.int64), "j": ju.astype(np.int64), "s": G[iu, ju]}
            )

    return (
        qd.mapInPandas(gram_partials, "i long, j long, s long")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("gram_micro2"))
        # full 2080-entry triangle, no LIMIT -> no global sort needed
    )


_EMBED_GRAM_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * {_GRAM_SCALE}, 0) AS BIGINT)) AS q
  FROM embeddings
), el AS (
  SELECT vec_id, unnest(q) AS v,
         unnest(range(1, len(q) + 1)) AS pos
  FROM q
)
SELECT a.pos - 1 AS i, b.pos - 1 AS j,
       CAST(SUM(a.v * b.v) AS BIGINT) AS gram_micro2
FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.pos <= b.pos
GROUP BY 1, 2
ORDER BY i, j
"""


# --------------------------------------------- incremental batch dedup


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: a deterministic 20% slice of the
    corpus (doc_id % 5 = 0) plays the role of today's crawl batch; the
    other 80% is the already-ingested corpus.  Every batch doc is
    flagged against BOTH the corpus (is_corpus_dup + the surviving
    dup_of id) and the batch itself (is_batch_dup: an earlier batch doc
    has the same normalized text) — the exact decision table a daily
    ingest job needs.

    Scale shape: the corpus side reduces to (xxhash64(norm), min id)
    16-byte fingerprint rows before the join — the incremental-dedup
    state table you would persist between runs; the batch side is one
    groupBy over the (small) batch.  Both joins are plain equi-joins on
    the 8-byte hash, never on document text (same documented ~1e-8
    collision trade as q_dedup_exact; the oracle joins raw normalized
    strings).
    """
    # ONE pass, ONE shuffle: both lookup tables of the old formulation
    # (corpus fingerprint state, batch keeper) are conditional MINs
    # within the same h-group, so they fold into two window aggregates
    # over a single hash-partitioned fingerprint stream — no joins, no
    # repeated normalize scan (the join form planned the normalize+
    # hash scan THREE times under DeduplicateRelations + the AQE
    # stage-dedup miss; tools/selfref_audit.py).  The shuffle carries
    # 16-byte fingerprint rows, never text.
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.xxhash64(norm_text("text")).alias("h")
    )
    is_batch = F.col("doc_id") % 5 == 0
    wh = Window.partitionBy("h")
    return (
        d.select(
            "doc_id",
            is_batch.alias("in_batch"),
            F.min(F.when(~is_batch, F.col("doc_id"))).over(wh).alias("dup_of"),
            F.min(F.when(is_batch, F.col("doc_id"))).over(wh).alias("batch_keeper"),
        )
        .filter(F.col("in_batch"))
        .select(
            "doc_id",
            F.col("dup_of").isNotNull().cast("int").alias("is_corpus_dup"),
            "dup_of",
            (F.col("doc_id") > F.col("batch_keeper")).cast("int").alias("is_batch_dup"),
        )
    )


_DEDUP_INCREMENTAL_SQL = r"""
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
  FROM documents
), corpus AS (
  SELECT norm, MIN(doc_id) AS dup_of FROM d WHERE doc_id % 5 <> 0 GROUP BY norm
), batch AS (
  SELECT doc_id, norm FROM d WHERE doc_id % 5 = 0
), keeper AS (
  SELECT norm, MIN(doc_id) AS batch_keeper FROM batch GROUP BY norm
)
SELECT b.doc_id,
       CAST(c.dup_of IS NOT NULL AS INT) AS is_corpus_dup,
       c.dup_of,
       CAST(b.doc_id > k.batch_keeper AS INT) AS is_batch_dup
FROM batch b
LEFT JOIN corpus c USING (norm)
JOIN keeper k USING (norm)
"""


# ------------------------------------- cross-doc duplicate-trigram coverage


def q_text_crossdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-corpus duplication coverage: the fraction of
    a doc's distinct trigrams that also occur in at least one OTHER
    same-language doc — the triage metric exact-substring dedup
    pipelines compute to pick which documents to suffix-array scan.
    Docs with fewer than 3 tokens have no trigrams and are excluded
    (both engines drop them in the explode/unnest).

    Scale shape: the per-doc distinct-trigram rows come from the
    SHARED _trigram_postings parquet artifact (built once per corpus —
    the doc-frequency substrate q_text_decontaminate probes too), so
    this query adds NO tokenize pass of its own; the one shuffle
    carries (lang, 8-byte trigram hash, doc_id) rows into the window
    aggregates (the oracle joins raw strings — same collision trade
    as q_dedup_exact).
    """
    from pgshovel_spark.queries.training import _trigram_postings

    dt = _trigram_postings(spark, sf_dir).select("doc_id", "lang", "h")
    # "shared with at least one OTHER doc" needs only min != max of
    # doc_id within the (lang, trigram-hash) group (trigram rows are
    # DISTINCT per doc), so the doc-frequency table folds into two
    # window aggregates over ONE shuffle — no groupBy + join-back, no
    # second tokenize scan (the join form planned the whole subtree
    # twice under the AQE stage-dedup miss; tools/selfref_audit.py).
    # Re-measured round 8: 4 jobs / 1.5 s at sf0.1 vs the join form's
    # 4 jobs / 1.9-2.2 s AND two corpus scans — the r7 note rejecting
    # a window rewrite measured a windowed COUNT stacked on top of
    # the join, not this replacement.
    wh = Window.partitionBy("lang", "h")
    shared = F.min("doc_id").over(wh) != F.max("doc_id").over(wh)
    return (
        dt.select("doc_id", "lang", shared.alias("is_shared"))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tri"),
            F.sum(F.col("is_shared").cast("long")).alias("n_shared"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tri",
            "n_shared",
            iratio("n_shared", "n_tri", 4).alias("shared_ratio"),
        )
    )


_TEXT_CROSSDUP_SQL = r"""
WITH d AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'), x -> x <> '') AS a
  FROM documents
), dt AS (
  SELECT DISTINCT doc_id, lang, tri
  FROM (
    SELECT doc_id, lang,
           unnest(list_transform(generate_series(1, len(a)-2),
                  i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS tri
    FROM d WHERE len(a) >= 3
  )
), freq AS (
  SELECT lang, tri, COUNT(*) AS tri_docs FROM dt GROUP BY lang, tri
)
SELECT dt.doc_id, dt.lang,
       COUNT(*) AS n_tri,
       CAST(SUM(CASE WHEN f.tri_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       CAST((SUM(CASE WHEN f.tri_docs >= 2 THEN 1 ELSE 0 END) * 20000 + COUNT(*)) // (COUNT(*) * 2) AS DOUBLE) / 10000.0 AS shared_ratio
FROM dt JOIN freq f ON dt.lang = f.lang AND dt.tri = f.tri
GROUP BY dt.doc_id, dt.lang
"""


# ------------------------------------------------ exact-substring dedup

#: exact-substring window width (tokens): a pair is reported iff the
#: docs share a VERBATIM run of at least this many tokens (Lee et al.
#: 2021, "Deduplicating Training Data Makes Language Models Better",
#: uses 50 BPE tokens ~ this order of magnitude; 25 matches the
#: repo's paragraph unit _DCHUNK_W so the chunk-dedup triage and this
#: scan agree on what "a duplicated passage" means).
_SUBSTR_K = 25

#: grams occurring more than this many times corpus-wide are dropped
#: from pairing on BOTH engines: a ubiquitous K-token boilerplate line
#: (license header, nav bar) would otherwise emit O(df^2) pair rows.
#: Zipf-head-small by construction (fixture max df = 2 — the cap is
#: pure 100 TB insurance, same contract as _DF_CAP/_BUCKET_CAP).
_SUBSTR_CAP = 1000


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (the suffix-array-family scan the
    crossdup triage feeds): for every same-language document pair
    sharing a verbatim token run of >= {_SUBSTR_K} tokens, report the
    LONGEST shared run (in tokens) and the number of matching
    {_SUBSTR_K}-token windows — integer-exact, banded by gram hash,
    never all-pairs (Lee et al. 2021 semantics, distributed as
    overlapping window-hash matching instead of a single-node suffix
    array).

    Exactness: a shared run of L >= K tokens is exactly L-K+1
    CONSECUTIVE matching K-token windows on the same alignment
    diagonal (ia - ib); conversely m consecutive diagonal matches
    reconstruct a run of m+K-1 tokens.  So max_run = K-1 + the longest
    consecutive-ia island per (pair, diagonal) — a gap-islands window
    (ia - row_number) over the pair shuffle, no string re-comparison.

    Plan shape — TWO shuffles, no joins: ONE tokenize scan emits
    (8-byte gram hash, doc_id, pos) window rows map-side (the oracle
    joins raw gram strings — the documented ~2^-64 collision trade of
    q_dedup_exact); a single groupBy on the hash collects each gram's
    sorted occurrence list (cap-bounded) and expands cross-doc
    occurrence pairs MAP-SIDE with a nested transform — no self-join,
    so there is no dual plan branch for the AQE stage-dedup miss to
    re-execute (tools/selfref_audit.py) and no over-cap broadcast
    build (the size filter on the collected list IS the cap).  The
    pair stream then takes one explicit repartition on (doc_a, doc_b),
    which satisfies the diagonal window AND both island aggregates
    (hash partitioning on a key subset satisfies the finer
    clustering).  At 100 TB: shuffle 1 is corpus-token-linear 20-byte
    rows; a gram's pair expansion is bounded by _SUBSTR_CAP^2/2 rows
    in one task (same Σdf² output bound as the shingle family);
    shuffle 2 carries true-duplicate pairs only.
    """
    # Data-derived spread (r14): the window explode below emits one
    # ~20-byte row per token against ~1 byte/token of compressed
    # source text, so the spread width sizes the EXPANDED stream to
    # advisory partitions (expansion=16) instead of one per core —
    # the plain core-count spread ran 33-36-task stages at local[32]
    # on a sub-MB fixture where local[8] ran 9-12, and lost (measured
    # 1.25-1.52 s vs 0.95-1.36 s, identical stage structure; the r13
    # scaling block's 0.62 low/high ratio).  At scale the scan
    # already yields >= the derived width and the spread is skipped.
    from pgshovel_spark.operators.skew import spread_scan

    d = spread_scan(
        load_table(spark, sf_dir, "documents"), "doc_id", expansion=16
    ).select(
        "doc_id", "lang", F.filter(tokens("text"), lambda t: t != "").alias("a")
    )
    k = _SUBSTR_K
    wins = d.filter(F.size("a") >= k).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(a) - {k}), i -> "
                f"struct(i AS pos, xxhash64(lang, "
                f"concat_ws(' ', slice(a, i + 1, {k}))) AS h))"
            )
        ).alias("w"),
    )
    occ = (
        wins.groupBy("w.h")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", F.col("w.pos").alias("pos")))
            ).alias("occ")
        )
        # cap + cheap >=2-docs prefilter (occ sorted by doc_id: ends differ)
        .filter(
            (F.size("occ") <= _SUBSTR_CAP)
            & (
                F.element_at("occ", 1)["doc_id"]
                != F.element_at("occ", -1)["doc_id"]
            )
        )
    )
    pairs = occ.select(
        F.explode(
            F.expr(
                "flatten(transform(occ, (x, i) -> filter("
                "transform(slice(occ, i + 2, size(occ)), y -> "
                "struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
                "x.pos AS ia, x.pos - y.pos AS d)), "
                "p -> p.doc_a < p.doc_b)))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b", "p.ia", "p.d")
    wd = Window.partitionBy("doc_a", "doc_b", "d").orderBy("ia")
    return (
        pairs.repartition("doc_a", "doc_b")
        .withColumn("grp", F.col("ia") - F.row_number().over(wd))
        .groupBy("doc_a", "doc_b", "d", "grp")
        .agg(F.count(F.lit(1)).alias("m"))
        .groupBy("doc_a", "doc_b")
        .agg(
            (F.max("m") + F.lit(k - 1)).cast("long").alias("max_run"),
            F.sum("m").cast("long").alias("n_windows"),
        )
    )


_DEDUP_SUBSTRING_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, {_CUR_TOKS} AS a FROM documents
), g AS (
  SELECT doc_id, lang, gi AS pos,
         array_to_string(a[gi + 1 : gi + {_SUBSTR_K}], ' ') AS gram
  FROM t, LATERAL (SELECT unnest(generate_series(0, len(a) - {_SUBSTR_K})) AS gi)
  WHERE len(a) >= {_SUBSTR_K}
), small AS (
  SELECT lang, gram FROM g
  GROUP BY lang, gram HAVING COUNT(*) <= {_SUBSTR_CAP}
), ok AS (
  SELECT g.* FROM g JOIN small USING (lang, gram)
), pairs AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.pos AS ia, x.pos - y.pos AS d
  FROM ok x JOIN ok y
    ON x.lang = y.lang AND x.gram = y.gram AND x.doc_id < y.doc_id
), isl AS (
  SELECT doc_a, doc_b, d, ia,
         ia - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, d ORDER BY ia) AS grp
  FROM pairs
), runs AS (
  SELECT doc_a, doc_b, d, grp, COUNT(*) AS m
  FROM isl GROUP BY doc_a, doc_b, d, grp
)
SELECT doc_a, doc_b,
       CAST(MAX(m) + {_SUBSTR_K} - 1 AS BIGINT) AS max_run,
       CAST(SUM(m) AS BIGINT) AS n_windows
FROM runs GROUP BY doc_a, doc_b
"""


# --------------------------------------- SimHash near-dup pairs (banded)

# The Knuth spread + polynomial token hash live in
# functions/hashing.py since round 11 (one definition, two
# renderings); local names preserved for in-module call sites.
from pgshovel_spark.functions.hashing import (  # noqa: E402
    SPREAD_MOD as _SPREAD_MOD,
    SPREAD_MUL as _SPREAD_MUL,
    SPREAD_RED as _SPREAD_RED,
    spread as _spread,
    spread_token_hash_sql as _spread_token_hash_sql,
)


def _simhash32(spark, sf_dir):
    """(doc_id, sig): 32-bit SimHash over Knuth-spread BIGRAM-SHINGLE
    hashes — the wide-conditional-sum form (no row blow-up), like
    q_sim_simhash but with 32 well-diffused bits so 8-bit bands have
    real entropy.  Shingle features, not single tokens: this corpus
    shares most of its vocabulary across documents, so token-set
    SimHash collapses (measured: 158k signature-identical pairs at
    sf0.1); bigram shingles carry word order and a far larger feature
    space, separating the signatures (40 identical pairs, ~300 within
    hamming 3 — actual near-dups).

    Consumes the shared checkpointed _bigram_shingles posting table
    (its th column IS the Knuth-spread shingle hash), so the shingle
    pass is shared with q_sim_ngram / q_sim_containment."""
    from pgshovel_spark.queries.similarity import _bigram_shingles

    rows = _bigram_shingles(spark, sf_dir).select("doc_id", "th")
    weights = [
        F.sum(
            F.when(F.shiftright(F.col("th"), b) % 2 == 1, 1).otherwise(-1)
        ).alias(f"w{b}")
        for b in range(32)
    ]
    per_doc = rows.groupBy("doc_id").agg(*weights)
    sig = None
    for b in range(32):
        contrib = F.when(F.col(f"w{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = contrib if sig is None else sig + contrib
    return per_doc.select("doc_id", sig.cast("long").alias("sig"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: doc pairs whose 32-bit signatures differ
    in at most 3 bits — found via PIGEONHOLE BANDING, never all-pairs.
    Hamming <= 3 over 4 bands of 8 bits means at least one band is
    bit-identical, so candidates come from an equi-join on
    (band_idx, band_value) buckets; exact Hamming (bit_count of xor)
    then filters the candidates.  The oracle verifies against the
    naive all-pairs form.

    Scale shape: candidate count is sum over buckets of C(bucket,2) —
    with 8-bit bands the fixture's 5k docs generate ~200k candidates
    vs 12.5M all-pairs (~64x); production widens the signature (64/128
    bits) to hold bucket sizes flat as the corpus grows.  The distinct
    on (id1, id2) dedups multi-band agreements before the bit_count
    filter; everything is integer arithmetic in codegen.

    The signature table is materialized (cached with lineage intact,
    one row per doc) so the shingle+32-sum subtree runs ONCE, not
    once per join side — same reuse pattern as q_dedup_minhash_pairs.
    """
    from pgshovel_spark.operators.lsh import pigeonhole_candidates

    s = materialize(_simhash32(spark, sf_dir))
    cand = pigeonhole_candidates(s, n_bands=4, bits=8)
    return (
        cand.select(
            "id1",
            "id2",
            F.bit_count(F.expr("s1 ^ s2")).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )


_SIMHASH_PAIRS_SQL = rf"""
WITH tokd AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'), x -> x <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])))
           AS t
  FROM tokd WHERE len(toks) >= 2
), th AS (
  SELECT doc_id,
         {_spread_token_hash_sql('t')} AS th
  FROM sh
), bits AS (
  SELECT doc_id, th, bit
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit)
), per_bit AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (th >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS w
  FROM bits GROUP BY doc_id, bit
), sigs AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN w > 0 THEN CAST(POWER(2, bit) AS BIGINT) ELSE 0 END)
           AS BIGINT) AS sig
  FROM per_bit GROUP BY doc_id
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
"""


# ------------------------------------------------------ event funnels


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase with
    conversion windows: per user, a click counts only STRICTLY AFTER
    the first view and within 1 hour of it; a purchase only strictly
    after that click and within 24 hours.  Emits the user count per
    steps_completed (0–3) — the product-analytics query every event
    pipeline serves.

    Scale shape: ONE scan and ONE shuffle — per user, one groupBy
    collects the first view time and the (bounded, per-user) click /
    purchase time arrays; the sequential step logic (each step only
    after the previous, inside its window) is then row-local
    array_min(filter(...)), which is order-independent, so
    collect_list's nondeterministic ordering cannot leak into the
    result.  All time comparisons are integer microsecond arithmetic
    (unix_micros), so ties and window edges resolve identically on
    both engines.  (The naive form — three filtered groupBys and three
    same-key joins — scans events 6x and shuffles 3x; hash-identical,
    measured 1.9 s vs 0.8 s at sf0.1.)
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("unix_micros(ts)").alias("um")
    )
    hour = 3_600_000_000
    day = 86_400_000_000
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("um"))).alias("t1"),
        F.collect_list(
            F.when(F.col("event_type") == "click", F.col("um"))
        ).alias("clicks"),
        F.collect_list(
            F.when(F.col("event_type") == "purchase", F.col("um"))
        ).alias("purchases"),
    )
    t1 = F.col("t1")
    t2 = F.array_min(
        F.filter("clicks", lambda c: (c > t1) & (c <= t1 + F.lit(hour)))
    )
    steps = per_user.select(
        "user_id",
        (
            t1.isNotNull().cast("int")
            + t2.isNotNull().cast("int")
            + F.array_min(
                F.filter(
                    "purchases",
                    lambda p: (p > t2) & (p <= t2 + F.lit(day)),
                )
            )
            .isNotNull()
            .cast("int")
        ).alias("steps_completed"),
    )
    return (
        steps.groupBy("steps_completed")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select("steps_completed", "n_users")
    )


_FUNNEL_STEPS_SQL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS um FROM events
), v AS (
  SELECT user_id, MIN(um) AS t1 FROM ev WHERE event_type = 'view'
  GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.um) AS t2
  FROM ev e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.um > v.t1
    AND e.um <= v.t1 + 3600000000
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.um) AS t3
  FROM ev e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.um > c.t2
    AND e.um <= c.t2 + 86400000000
  GROUP BY e.user_id
), steps AS (
  SELECT u.user_id,
         (CASE WHEN v.user_id IS NULL THEN 0 ELSE 1 END
          + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
          + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END) AS steps_completed
  FROM (SELECT DISTINCT user_id FROM ev) u
  LEFT JOIN v ON u.user_id = v.user_id
  LEFT JOIN c ON u.user_id = c.user_id
  LEFT JOIN p ON u.user_id = p.user_id
)
SELECT steps_completed, COUNT(*) AS n_users
FROM steps GROUP BY steps_completed
"""


def q_funnel_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per funnel step: for users who
    completed view→click (within 1h) and click→purchase (within 24h,
    strictly ordered — same windows as q_funnel_steps), the exact
    integer-microsecond p50/p90 and mean of each step's latency — the
    "how fast do users move through the funnel" companion to the
    step-count query.

    Determinism: percentiles are type-1 (inverted CDF — the value at
    the first position whose cumulative count reaches ceil(q*n)), so
    every output is an exact BIGINT microsecond value with no float
    interpolation to diverge between engines; the mean is a ROUND of
    exact-BIGINT sum / count.

    Scale shape: same one-scan + one-user-shuffle base as
    q_funnel_steps, then the percentile runs over the FREQUENCY table
    (step, delta_us, count) — the groupBy pre-reduces with map-side
    combine, and the per-step cumulative-sum window sorts only
    distinct latency values, not raw conversions.  This is the exact-
    percentile-without-buffering-raw-values pattern (Spark's exact
    ``percentile`` aggregate buffers every row per group, which a
    100 TB event stream cannot afford).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("unix_micros(ts)").alias("um")
    )
    hour = 3_600_000_000
    day = 86_400_000_000
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("um"))).alias("t1"),
        F.collect_list(
            F.when(F.col("event_type") == "click", F.col("um"))
        ).alias("clicks"),
        F.collect_list(
            F.when(F.col("event_type") == "purchase", F.col("um"))
        ).alias("purchases"),
    )
    t1 = F.col("t1")
    per_user = per_user.select(
        "user_id",
        "t1",
        F.array_min(
            F.filter("clicks", lambda c: (c > t1) & (c <= t1 + F.lit(hour)))
        ).alias("t2"),
        "purchases",
    )
    t2 = F.col("t2")
    per_user = per_user.select(
        "user_id",
        "t1",
        "t2",
        F.array_min(
            F.filter("purchases", lambda p: (p > t2) & (p <= t2 + F.lit(day)))
        ).alias("t3"),
    )
    deltas = (
        per_user.select(
            F.explode(
                F.array(
                    F.when(
                        F.col("t2").isNotNull(),
                        F.struct(
                            F.lit("view_to_click").alias("step"),
                            (F.col("t2") - F.col("t1")).alias("delta_us"),
                        ),
                    ),
                    F.when(
                        F.col("t3").isNotNull(),
                        F.struct(
                            F.lit("click_to_purchase").alias("step"),
                            (F.col("t3") - F.col("t2")).alias("delta_us"),
                        ),
                    ),
                )
            ).alias("x")
        )
        .filter(F.col("x").isNotNull())
        .select("x.step", "x.delta_us")
    )
    freq = deltas.groupBy("step", "delta_us").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy("step")
        .orderBy("delta_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("step")
    cum = freq.select(
        "step",
        "delta_us",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("tot"),
        F.sum(F.col("delta_us") * F.col("cnt")).over(w_all).alias("s"),
    )
    return cum.groupBy("step").agg(
        F.max("tot").cast("long").alias("n_conversions"),
        F.min(
            F.when(F.col("cum") >= F.expr("(tot + 1) DIV 2"), F.col("delta_us"))
        )
        .cast("long")
        .alias("p50_us"),
        F.min(
            F.when(F.col("cum") >= F.expr("(9 * tot + 9) DIV 10"), F.col("delta_us"))
        )
        .cast("long")
        .alias("p90_us"),
        iratio(F.max("s"), F.max("tot"), 2).alias("avg_us"),
    )


_FUNNEL_WINDOWS_SQL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS um FROM events
), v AS (
  SELECT user_id, MIN(um) AS t1 FROM ev WHERE event_type = 'view'
  GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.um) AS t2
  FROM ev e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.um > v.t1
    AND e.um <= v.t1 + 3600000000
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.um) AS t3
  FROM ev e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.um > c.t2
    AND e.um <= c.t2 + 86400000000
  GROUP BY e.user_id
), deltas AS (
  SELECT 'view_to_click' AS step, c.t2 - v.t1 AS delta_us
  FROM c JOIN v ON c.user_id = v.user_id
  UNION ALL
  SELECT 'click_to_purchase' AS step, p.t3 - c.t2 AS delta_us
  FROM p JOIN c ON p.user_id = c.user_id
), freq AS (
  SELECT step, delta_us, COUNT(*) AS cnt FROM deltas GROUP BY step, delta_us
), cum AS (
  SELECT step, delta_us, cnt,
         SUM(cnt) OVER (PARTITION BY step ORDER BY delta_us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER (PARTITION BY step) AS tot,
         SUM(delta_us * cnt) OVER (PARTITION BY step) AS s
  FROM freq
)
SELECT step,
       CAST(MAX(tot) AS BIGINT) AS n_conversions,
       CAST(MIN(CASE WHEN cum >= (tot + 1) // 2 THEN delta_us END) AS BIGINT)
         AS p50_us,
       CAST(MIN(CASE WHEN cum >= (9 * tot + 9) // 10 THEN delta_us END) AS BIGINT)
         AS p90_us,
       CAST((MAX(s) * 200 + MAX(tot)) // (MAX(tot) * 2) AS DOUBLE) / 100.0 AS avg_us
FROM cum GROUP BY step
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users are cohorted by the epoch week
    of their FIRST event; for every (cohort_week, weeks_since) cell,
    count how many of that cohort were active — the retention triangle
    behind every growth dashboard.

    Determinism: weeks are epoch_microseconds DIV the week in micros —
    pure BIGINT arithmetic identical on both engines, no
    calendar/timezone semantics (date_trunc('week') would drag in
    locale week-start rules) and no float epoch division (DuckDB's
    epoch() returns DOUBLE and ::BIGINT *rounds*, which can cross a
    week boundary Spark's truncation does not).  Scale shape: ONE scan,
    ONE user shuffle — per user, a single groupBy yields both the
    cohort (min week) and the distinct active-week set (bounded by
    the retention horizon, here ≤5); exploding that set and counting
    per (cohort, offset) needs only a tiny second agg.  collect_set
    order is nondeterministic but explode+count is order-independent.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_micros(ts) div 604800000000").alias("wk")
    )
    per_user = e.groupBy("user_id").agg(
        F.min("wk").alias("cohort_week"), F.collect_set("wk").alias("wks")
    )
    return (
        per_user.select("cohort_week", F.explode("wks").alias("wk"))
        .select(
            "cohort_week", (F.col("wk") - F.col("cohort_week")).alias("weeks_since")
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_COHORT_RETENTION_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events
), first AS (
  SELECT user_id, MIN(wk) AS cohort_week FROM e GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, wk FROM e
)
SELECT f.cohort_week, a.wk - f.cohort_week AS weeks_since,
       COUNT(*) AS n_users
FROM active a JOIN first f ON a.user_id = f.user_id
GROUP BY f.cohort_week, a.wk - f.cohort_week
"""


# -------------------------------------------------- containment pairs


def q_sim_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder CONTAINMENT near-dup pairs on bigram shingles:
    |A∩B| / min(|A|,|B|) ≥ 0.8 within a language block — the
    asymmetric complement of Jaccard resemblance.  A short document
    quoted or embedded inside a longer one scores near 1.0 here while
    its Jaccard stays low, so dedup suites run both.  SHINGLE sets,
    not token sets: token-set containment over-matches on this
    shared-vocabulary corpus (27k pairs at sf0.01); order-carrying
    shingles make it a real quoted-content detector.  Emits the pair,
    the shared count, the containment ratio, and which doc is the
    contained one (smaller shingle set; doc_id breaks ties).

    Scale shape: identical to q_sim_ngram's — consumes the same
    shared checkpointed _bigram_shingles posting table, drops shingles
    with document frequency > _DF_CAP on both engines (no posting list
    can go quadratic), blocked equi-join on the 8-byte
    xxhash64(lang, shingle) key (same documented ~1e-8 collision
    trade; the oracle joins raw strings), integer-only threshold
    (shared·10 ≥ min_sz·8), ratio from exact BIGINTs post-filter.
    """
    from pgshovel_spark.queries import similarity

    min_sz = F.least("sz1", "sz2")
    return (
        similarity._shingle_pair_stats(spark, sf_dir)
        .filter(F.col("shared") * 10 >= min_sz * 8)
        .select(
            "id1",
            "id2",
            "shared",
            min_sz.alias("min_sz"),
            iratio(F.col("shared"), min_sz, 4).alias("containment"),
            F.when(F.col("sz1") < F.col("sz2"), F.col("id1"))
            .when(F.col("sz2") < F.col("sz1"), F.col("id2"))
            .otherwise(F.least("id1", "id2"))
            .alias("contained_id"),
        )
    )


def _sim_containment_sql(df_cap: int) -> str:
    from pgshovel_spark.queries.similarity import _shingle_capped_sql

    return (
        _shingle_capped_sql(df_cap)
        + """
, sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id1, id2, shared,
       LEAST(s1.sz, s2.sz) AS min_sz,
       CAST((shared * 20000 + LEAST(s1.sz, s2.sz)) // (LEAST(s1.sz, s2.sz) * 2) AS DOUBLE) / 10000.0 AS containment,
       CASE WHEN s1.sz < s2.sz THEN id1
            WHEN s2.sz < s1.sz THEN id2
            ELSE LEAST(id1, id2) END AS contained_id
FROM shared
JOIN sizes s1 ON s1.doc_id = id1
JOIN sizes s2 ON s2.doc_id = id2
WHERE shared * 10 >= LEAST(s1.sz, s2.sz) * 8
"""
    )


# --------------------------------------------------------- winnowing

#: winnowing parameters: trigram k-grams, window of 4 consecutive
#: k-gram hashes (guarantee threshold t = k + w - 1 = 6 tokens: any
#: shared run of >= 6 tokens yields >= 1 shared fingerprint)
_WIN_W = 4


def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    token trigram, slide a window of 4 consecutive hashes, keep each
    window's minimum — any two documents sharing >= 6 consecutive
    tokens are then guaranteed >= 1 common fingerprint.  Emits per-doc
    selected-fingerprint count and density (selected / positions),
    the compact signature a plagiarism/near-dup index stores.

    Scale shape: trigram hashing is map-side (the same enumeration as
    q_text_crossdup); the ROWS-frame min and the distinct both run
    inside the per-doc partition of ONE window shuffle — no
    cross-document data movement at all.  The hash must be the SAME
    function on both engines (which positions win the window-min —
    and hence the distinct count — depends on hash VALUES, not just
    collisions), so this uses the shared Knuth-spread polynomial
    hash, not engine-native xxhash64/hash().
    """
    d = _docs_parallel(spark, sf_dir).select(
        "doc_id", F.filter(tokens("text"), lambda t: t != "").alias("a")
    )
    tri = F.expr(
        "transform(sequence(0, size(a)-3), i -> concat_ws(' ', a[i], a[i+1], a[i+2]))"
    )
    # need >= w k-grams so every position has a full window
    from pgshovel_spark.functions.hashing import token_hash as _token_hash

    g = d.filter(F.size("a") >= 3 + _WIN_W - 1).select(
        "doc_id", F.posexplode(tri).alias("i", "t")
    )
    g = g.select(
        "doc_id",
        "i",
        _spread(_token_hash(F.col("t"))).alias("h"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    n_grams = Window.partitionBy("doc_id")
    fps = (
        g.select(
            "doc_id",
            F.count(F.lit(1)).over(n_grams).alias("n_grams"),
            F.min("h").over(w).alias("fp"),
            "i",
        )
        # only positions with a full w-window select a fingerprint
        .filter(F.col("i") <= F.col("n_grams") - _WIN_W)
    )
    return fps.groupBy("doc_id").agg(
        F.countDistinct("fp").alias("n_fingerprints"),
        F.count(F.lit(1)).alias("n_windows"),
        iratio(F.countDistinct("fp"), F.count(F.lit(1)), 4).alias("density"),
    )


_TEXT_WINNOWING_SQL = rf"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'), x -> x <> '') AS a
  FROM documents
), tg AS (
  SELECT doc_id, i - 1 AS i,
         a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS t,
         len(a) - 2 AS n_grams
  FROM d CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(a) - 2)) AS i)
  WHERE len(a) >= 6
), g AS (
  SELECT doc_id, i, n_grams,
         {_spread_token_hash_sql('t')} AS h
  FROM tg
), fps AS (
  SELECT doc_id, i,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         n_grams
  FROM g
)
SELECT doc_id,
       COUNT(DISTINCT fp) AS n_fingerprints,
       COUNT(*) AS n_windows,
       CAST((COUNT(DISTINCT fp) * 20000 + COUNT(*)) // (COUNT(*) * 2) AS DOUBLE) / 10000.0 AS density
FROM fps
WHERE i <= n_grams - 4
GROUP BY doc_id
"""


# ----------------------------------------------- per-label centroids


def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(label, dimension) centroid of the embedding vectors — the
    statistic a k-means/IVF refresh recomputes every iteration, in
    long format (label, dim, n_vecs, sum_milli, centroid_milli).

    Determinism: each component is floor-quantized to integer
    milli-units BEFORE summing, so the aggregation is exact integer
    arithmetic — commutative under any row order and partitioning,
    unlike a float sum (which both engines would order differently).
    centroid_milli = sum_milli / n rounded to 3dp from exact integers.

    Scale shape: posexplode is map-side; the single shuffle carries
    pre-reduced (label, dim) partials — 64·|labels| groups regardless
    of corpus size.  This is the update step of operators/ann.py's
    k-means quantizer expressed as one declarative aggregation.
    """
    e = load_table(spark, sf_dir, "embeddings")
    milli = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("long")
    )
    return (
        e.select("label", F.posexplode(milli).alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("v").alias("sum_milli"))
        .select(
            "label",
            "dim",
            "n_vecs",
            "sum_milli",
            F.when(
                F.col("sum_milli") >= 0, iratio("sum_milli", "n_vecs", 3)
            )
            .otherwise(-iratio(-F.col("sum_milli"), "n_vecs", 3))
            .alias("centroid_milli"),
        )
    )


# Spark posexplode emits 0-based positions; DuckDB's parallel unnests
# zip positionally, so generate_series(1, len(embedding)) derives the
# dim bound PER ROW (a hardcoded 64 would silently count NULL
# list-index rows if dimensionality ever changed) -> i-1 aliases the
# same dim ids as posexplode.
_EMBED_CENTROIDS_SQL = """
WITH dims AS (
  SELECT label,
         unnest(generate_series(1, len(embedding))) AS i,
         unnest(embedding) AS v
  FROM embeddings
)
SELECT label, dim, n_vecs, sum_milli,
       CASE WHEN sum_milli >= 0 THEN CAST((sum_milli * 2000 + n_vecs) // (n_vecs * 2) AS DOUBLE) / 1000.0
            ELSE -(CAST(((-sum_milli) * 2000 + n_vecs) // (n_vecs * 2) AS DOUBLE) / 1000.0) END AS centroid_milli
FROM (
  SELECT label, i - 1 AS dim,
         COUNT(*) AS n_vecs,
         CAST(SUM(CAST(floor(v::DOUBLE * 1000) AS BIGINT)) AS BIGINT)
           AS sum_milli
  FROM dims
  GROUP BY label, i
)
"""


def q_embed_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QA panel per label — the health check a vector
    corpus gets before an ANN index build or a semantic-dedup pass
    (collapsed or zero vectors poison cosine math; dimension drift
    breaks the index): vector count, dimension min/max (uniformity
    audit), zero-norm count, and min/max/sum of the vector norm in
    exact integer MILLI units.

    Determinism: the squared-norm fold runs in array (index) order
    with a 0.0 init on both engines (Spark ``aggregate`` vs DuckDB
    ``list_reduce`` — the round-5 verified same-direction fold), each
    element cast to DOUBLE first; the only float→int crossing is
    ``floor(sqrt(ss)·1000 + 0.5)``, explicit half-up in exact floor
    arithmetic on both sides (the q_sim_cosine 3dp-round precedent,
    one digit tighter).

    Scale: one scan, map-side fold per row, one |labels|-sized hash
    aggregate — the shuffle carries a few integers per label.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ss = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norm_milli = F.floor(F.sqrt(ss) * 1000 + F.lit(0.5)).cast("long")
    per = e.select(
        "label",
        F.size("embedding").alias("dim"),
        norm_milli.alias("nm"),
    )
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("dim").alias("dim_min"),
        F.max("dim").alias("dim_max"),
        F.sum((F.col("nm") == 0).cast("long")).alias("n_zero"),
        F.min("nm").alias("norm_milli_min"),
        F.max("nm").alias("norm_milli_max"),
        F.sum("nm").alias("norm_milli_sum"),
    )


_EMBED_HEALTH_SQL = """
WITH per AS (
  SELECT label,
         len(embedding) AS dim,
         -- empty-vector guard: list_reduce has no init form and
         -- ERRORS on an empty list; Spark's aggregate(init 0.0)
         -- returns norm 0 — the exact corrupt row this health check
         -- exists to count, so both sides must report it, not crash
         CASE WHEN len(embedding) = 0 THEN 0
              ELSE CAST(FLOOR(sqrt(list_reduce(
                     list_transform(embedding::DOUBLE[], x -> x * x),
                     (a, b) -> a + b)) * 1000 + 0.5) AS BIGINT)
         END AS nm
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n_vecs,
       MIN(dim) AS dim_min,
       MAX(dim) AS dim_max,
       CAST(SUM(CASE WHEN nm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       MIN(nm) AS norm_milli_min,
       MAX(nm) AS norm_milli_max,
       CAST(SUM(nm) AS BIGINT) AS norm_milli_sum
FROM per GROUP BY label
"""


QUERIES = {
    "q_embed_health": q_embed_health,
    "q_text_bpe_pretokenize": q_text_bpe_pretokenize,
    "q_embed_quantize": q_embed_quantize,
    "q_embed_gram": q_embed_gram,
    "q_dedup_incremental": q_dedup_incremental,
    "q_text_crossdup": q_text_crossdup,
    "q_dedup_substring": q_dedup_substring,
    "q_simhash_pairs": q_simhash_pairs,
    "q_embed_centroids": q_embed_centroids,
    "q_text_winnowing": q_text_winnowing,
    "q_sim_containment": q_sim_containment,
    "q_funnel_steps": q_funnel_steps,
    "q_funnel_windows": q_funnel_windows,
    "q_cohort_retention": q_cohort_retention,
}

ORACLES = {
    "q_embed_health": _EMBED_HEALTH_SQL,
    "q_text_bpe_pretokenize": _BPE_PRETOKENIZE_SQL,
    "q_embed_quantize": _EMBED_QUANTIZE_SQL,
    "q_embed_gram": _EMBED_GRAM_SQL,
    "q_dedup_incremental": _DEDUP_INCREMENTAL_SQL,
    "q_text_crossdup": _TEXT_CROSSDUP_SQL,
    "q_dedup_substring": _DEDUP_SUBSTRING_SQL,
    "q_simhash_pairs": _SIMHASH_PAIRS_SQL,
    "q_embed_centroids": _EMBED_CENTROIDS_SQL,
    "q_text_winnowing": _TEXT_WINNOWING_SQL,
    "q_sim_containment": _sim_containment_sql(_SIM_DF_CAP),
    "q_funnel_steps": _FUNNEL_STEPS_SQL,
    "q_funnel_windows": _FUNNEL_WINDOWS_SQL,
    "q_cohort_retention": _COHORT_RETENTION_SQL,
}
