"""Text-analysis operators over the ``documents`` table — pure Catalyst.

These are the training-data-pipeline operators (token counting, quality
scoring, language ID, fingerprinting) the engine adds beyond the reference's
own inventory. Every one of them is expressed exclusively with built-in
``pyspark.sql.functions`` — no UDFs — so the whole stage stays inside
whole-stage codegen and pushes column pruning to the Parquet scan. Each
builder has a colocated DuckDB oracle with identical semantics.

Reference analogs: tokenization/normalization scalar work
(``bioel/bioel/utils/bigbio_utils.py:302-319`` word-window slicing;
``sapbert/data/utils.py:88`` lowercasing), dataset statistics
(``bioel/bioel/utils/statistics.py:6-75``), and the language filter
(``bioel/bioel/ontology.py:361``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# BPE-ish tokenizer regex: letter runs | single digits | single punctuation.
_BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

_STOP_EN = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"]
_STOP_DE = ["der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein"]
_STOP_FR = ["le", "la", "les", "et", "de", "un", "une", "est", "pour", "dans"]
_STOP_ES = ["el", "la", "los", "las", "y", "de", "un", "una", "es", "para"]


def _tokens(col):
    """Whitespace tokens; empty text → empty array (both engines agree)."""
    return F.when(F.length(F.trim(col)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(col), r"\s+")
    )


def _sql_tokens(expr: str) -> str:
    return (
        f"CASE WHEN length(trim({expr})) = 0 THEN [] "
        f"ELSE regexp_split_to_array(trim({expr}), '\\s+') END"
    )


# --------------------------------------------------------------------------
# token counting
# --------------------------------------------------------------------------

def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = _tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0)).alias(
            "n_bpe_tokens"
        ),
        F.length("text").alias("n_chars_computed"),
    ).orderBy("doc_id")


TOKEN_STATS_SQL = f"""
SELECT doc_id,
       len({_sql_tokens('text')}) AS n_tokens,
       len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe_tokens,
       length(text) AS n_chars_computed
FROM documents
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# quality scoring
# --------------------------------------------------------------------------

def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # stage the split once: the projection contains a HOF (filter), which
    # evaluates interpreted with no common-subexpression elimination, so an
    # inline `toks` would re-run the regex split per reference (4x per row)
    staged = docs.select("doc_id", "text", _tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    n_chars = F.length("text")
    n_alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?'\"()-]", ""))
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(_STOP_EN)))
    return staged.select(
        "doc_id",
        n_chars.alias("n_chars_q"),
        F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 6).alias("alpha_ratio"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(
            (n_chars - F.size(toks) + 1) / F.greatest(n_tokens, F.lit(1)), 6
        ).alias("avg_token_len"),
    ).orderBy("doc_id")


_STOP_EN_SQL = "[" + ",".join(f"'{w}'" for w in _STOP_EN) + "]"

QUALITY_SCORES_SQL = f"""
SELECT doc_id,
       length(text) AS n_chars_q,
       round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
             / greatest(length(text), 1), 6) AS alpha_ratio,
       round(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
             / greatest(length(text), 1), 6) AS punct_ratio,
       round(len(list_filter({_sql_tokens('text')},
                             t -> list_contains({_STOP_EN_SQL}, lower(t))))
             / greatest(len({_sql_tokens('text')}), 1), 6) AS stopword_ratio,
       round((length(text) - len({_sql_tokens('text')}) + 1)
             / greatest(len({_sql_tokens('text')}), 1), 6) AS avg_token_len
FROM documents
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# language identification (stopword-hit heuristic)
# --------------------------------------------------------------------------

def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # three staged projections: the lowered token array is referenced by
    # four per-language filter HOFs, and each hit count is referenced up to
    # three more times by the argmax cascade — inline, the regex split
    # would re-run ~10x per row (HOF expressions evaluate interpreted,
    # no common-subexpression elimination); CollapseProject keeps the
    # stages because it refuses to duplicate non-cheap expressions
    staged = docs.select(
        "doc_id",
        F.transform(_tokens(F.col("text")), lambda t: F.lower(t)).alias("toks"),
    )

    def hits(stops: list[str]):
        return F.size(F.filter(F.col("toks"), lambda t: t.isin(stops)))

    counted = staged.select(
        "doc_id",
        hits(_STOP_EN).alias("en_hits"),
        hits(_STOP_DE).alias("de_hits"),
        hits(_STOP_FR).alias("fr_hits"),
        hits(_STOP_ES).alias("es_hits"),
    )
    en, de, fr, es = (
        F.col("en_hits"), F.col("de_hits"), F.col("fr_hits"), F.col("es_hits")
    )
    best = F.greatest(en, de, fr, es)
    pred = (
        F.when(best == 0, F.lit("und"))
        .when(en == best, F.lit("en"))
        .when(de == best, F.lit("de"))
        .when(fr == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return counted.select(
        "doc_id",
        "en_hits",
        "de_hits",
        "fr_hits",
        "es_hits",
        pred.alias("lang_pred"),
    ).orderBy("doc_id")


def _hits_sql(stops: list[str]) -> str:
    arr = "[" + ",".join(f"'{w}'" for w in stops) + "]"
    return (
        f"len(list_filter(list_transform({_sql_tokens('text')}, t -> lower(t)),"
        f" t -> list_contains({arr}, t)))"
    )


LANG_ID_SQL = f"""
WITH h AS (
  SELECT doc_id,
         {_hits_sql(_STOP_EN)} AS en_hits,
         {_hits_sql(_STOP_DE)} AS de_hits,
         {_hits_sql(_STOP_FR)} AS fr_hits,
         {_hits_sql(_STOP_ES)} AS es_hits
  FROM documents
)
SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
       CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
            WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
            WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
            WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
            ELSE 'es' END AS lang_pred
FROM h
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# document fingerprinting (md5 of normalized text + min-shingle fingerprint)
# --------------------------------------------------------------------------

def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-doc fingerprint = md5 of lowercase/ws-collapsed text;
    min-shingle fingerprint = min md5 over 8-token rolling windows (a
    winnowing-style rolling-hash fingerprint; md5 keeps it engine-portable).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    # stage the split: inline, the window lambda would re-run the regex
    # split once per window position (HOF lambdas evaluate interpreted,
    # no common-subexpression elimination) — O(L^2) regex work per row
    staged = docs.select(
        "doc_id", F.md5(norm).alias("fp_norm"), _tokens(F.col("text")).alias("toks")
    )
    toks = F.col("toks")
    n = F.size(toks)
    windows = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(7), F.lit(0))),
        lambda i: F.md5(F.array_join(F.slice(toks, i, 8), " ")),
    )
    return staged.select(
        "doc_id",
        "fp_norm",
        F.when(n >= 8, F.array_min(windows)).alias("fp_minshingle"),
    ).orderBy("doc_id")


FINGERPRINTS_SQL = f"""
WITH t AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_norm,
         {_sql_tokens('text')} AS toks
  FROM documents
)
SELECT doc_id,
       fp_norm,
       CASE WHEN len(toks) >= 8 THEN
         list_min([md5(array_to_string(toks[i:i+7], ' '))
                   for i in generate_series(1, len(toks) - 7)])
       END AS fp_minshingle
FROM t
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# intra-document repetition quality scores (Gopher-style filters)
# --------------------------------------------------------------------------

def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics (the Rae et al. 2021 Gopher quality
    filters): fraction of duplicated 2-grams and 3-grams WITHIN each
    document — high values mark boilerplate/spam a training pipeline
    down-weights. One row per document.

    Entirely per-row Catalyst: no explode, no shuffle, no UDF, and no
    HOF lambdas — at 10^12 rows this is a pure map stage that fuses into
    the scan.

    Two hard-won shapes (both measured on the sf0.1 bench):

    1. The tokenization and each gram array are staged as real columns in
       separate projections. Higher-order-function lambdas evaluate
       interpreted (outside whole-stage codegen) with NO common-
       subexpression elimination, so an inline ``toks`` expression would
       re-run the regex split once per gram position — O(L²) regex work
       per document (measured 40×). CollapseProject keeps the staging: it
       refuses to inline non-cheap expressions referenced more than once.
    2. Grams are ``arrays_zip`` of n shifted slices of the token array —
       bulk Tungsten copies with no per-element lambda at all (the same
       zip-sliced shape as ``dedup.dup_spans``' gram relation), another
       ~35% over a transform-lambda formulation; ``array_distinct`` over
       the little per-doc struct arrays does the within-doc dedup."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def grams(n: int):
        toks = F.col("toks")
        cnt = F.size(toks) - F.lit(n - 1)
        return F.when(
            cnt > 0, F.arrays_zip(*[F.slice(toks, j + 1, cnt) for j in range(n)])
        )

    def dup_frac(col: str):
        g = F.col(col)
        return F.when(
            F.size(g) > 0,
            F.round(
                1.0 - F.size(F.array_distinct(g)) / F.size(g).cast("double"), 6
            ),
        )

    return (
        docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            grams(2).alias("g2"),
            grams(3).alias("g3"),
        )  # g2/g3 NULL for docs shorter than n → dup_frac propagates NULL,
        # matching the oracle's CASE (size(NULL) is NULL, when(NULL>0) is NULL)
        .select(
            "doc_id",
            "n_tokens",
            dup_frac("g2").alias("dup_2gram_frac"),
            dup_frac("g3").alias("dup_3gram_frac"),
        )
        .orderBy("doc_id")
    )


def _sql_dup_frac(n: int) -> str:
    grams = (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"[array_to_string(toks[i:i+{n - 1}], ' ') "
        f"for i in generate_series(1, len(toks) - {n - 1})] "
        f"ELSE [] END"
    )
    return (
        f"CASE WHEN len({grams}) > 0 THEN "
        f"round(1.0 - CAST(len(list_distinct({grams})) AS DOUBLE) "
        f"/ len({grams}), 6) END"
    )


REPETITION_SCORES_SQL = f"""
WITH t AS (
  SELECT doc_id, {_sql_tokens('text')} AS toks FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       {_sql_dup_frac(2)} AS dup_2gram_frac,
       {_sql_dup_frac(3)} AS dup_3gram_frac
FROM t
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# training-mix operators: stratified sampling, shard packing, vocabulary
# --------------------------------------------------------------------------

# demo mixture: downsample the dominant language, keep the tail
SAMPLE_RATES = {"en": 0.3, "zh": 1.0, "de": 1.0, "fr": 1.0, "es": 1.0}
SAMPLE_DEFAULT_RATE = 0.1
SAMPLE_SALT = "mix-v1"
_U60 = float(1 << 60)  # 15 hex chars of md5 → uniform in [0, 1)


def _uniform_expr(col):
    """Deterministic uniform [0,1) from a key column: md5 is identical in
    Spark and DuckDB, so the oracle reproduces the exact selection —
    Spark's xxhash64 has no DuckDB twin (same portability choice as the
    simhash token hash, ``dedup.py``). Engine-portable, seedable via the
    salt, and a pure per-row map."""
    h = F.md5(F.concat(F.lit(SAMPLE_SALT), F.lit(":"), col.cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") / F.lit(_U60)


def _sql_uniform(expr: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{SAMPLE_SALT}:' || CAST({expr} AS "
        f"VARCHAR)), 1, 15)) AS BIGINT) / {_U60!r}"
    )


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language stratified sampling — the training-mix
    reweighting step of a data pipeline (downsample the dominant crawl
    language, keep the tail). keep ⇔ u(doc_id) < rate(lang), u derived
    from md5 so reruns, resumes, and the SQL oracle select the identical
    rows. Pure map: no shuffle, no state — at 10^12 rows this fuses into
    the scan and the output is a filter pushdown away from free."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rate = F.coalesce(
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in SAMPLE_RATES.items() for x in kv]
            ),
            F.col("lang"),
        ),
        F.lit(SAMPLE_DEFAULT_RATE),
    )
    return (
        docs.withColumn("u", _uniform_expr(F.col("doc_id")))
        .filter(F.col("u") < rate)
        .select("doc_id", "lang", "source", F.round("u", 6).alias("u"))
        .orderBy("doc_id")
    )


STRATIFIED_SAMPLE_SQL = f"""
WITH u AS (
  SELECT doc_id, lang, source,
         {_sql_uniform('doc_id')} AS u
  FROM documents
)
SELECT doc_id, lang, source, round(u, 6) AS u
FROM u
WHERE u < CASE lang
            WHEN 'en' THEN 0.3 WHEN 'zh' THEN 1.0 WHEN 'de' THEN 1.0
            WHEN 'fr' THEN 1.0 WHEN 'es' THEN 1.0 ELSE {SAMPLE_DEFAULT_RATE} END
ORDER BY doc_id
"""


PACK_BUDGET = 2048  # tokens per shard
PACK_STREAMS = 8  # independent packing streams (cluster parallelism knob)


def shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign documents to fixed token-budget
    shards — the step between dedup/filter and tokenizer sharding in a
    training pipeline. Documents are hashed into ``PACK_STREAMS``
    independent streams and packed sequentially within each (cumulative
    token count → shard = the budget bucket where the document STARTS).

    Scale shape: ONE hash shuffle on the stream key, then a window per
    stream — global sequential packing would be a single-partition
    window (a non-starter at 10^12 rows); per-stream packing is how a
    distributed packer actually works (each worker packs its own
    shards), and the stream count is the parallelism knob. The token
    count is staged (see the module's expression-staging discipline)."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    staged = docs.select(
        "doc_id",
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(PACK_STREAMS),
        ).alias("stream"),
    )
    w = (
        Window.partitionBy("stream")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return (
        staged.select(
            "doc_id",
            "n_tokens",
            "stream",
            F.floor(start / PACK_BUDGET).alias("shard"),
            (start - F.floor(start / PACK_BUDGET) * PACK_BUDGET).alias(
                "offset_in_shard"
            ),
        )
        .orderBy("doc_id")
    )


SHARD_PACKING_SQL = f"""
WITH staged AS (
  SELECT doc_id,
         CAST(len({_sql_tokens('text')}) AS BIGINT) AS n_tokens,
         CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {PACK_STREAMS} AS stream
  FROM documents
),
packed AS (
  SELECT doc_id, n_tokens, stream,
         sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM staged
)
SELECT doc_id, n_tokens, stream,
       CAST(floor((cum - n_tokens) / {PACK_BUDGET}) AS BIGINT) AS shard,
       CAST(cum - n_tokens
            - floor((cum - n_tokens) / {PACK_BUDGET}) * {PACK_BUDGET}
            AS BIGINT) AS offset_in_shard
FROM packed
ORDER BY doc_id
"""


VOCAB_TOPK = 100


VOCAB_CAND = 10_000  # candidate hash-groups carried into the exact phase


def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-k lowercased whitespace tokens by
    frequency, ties broken by token.

    Single-scan exact top-k, engineered for the heavy-tail reality of
    web vocabularies (this corpus: 154M tokens, 33.5M DISTINCT — urls,
    numbers, typos). Two measured facts drive the shape (1M docs,
    isolated-JVM legs; raw logs ``tools/trainmix_campaign_r5_vocab.log``
    and ``tools/vocab_decompose_r5.log``, at commit ``0d9120d``):

    * a vanilla ``groupBy(hash)`` puts an UNBOUNDED map-side combine map
      (~6M entries/task) in every task; with a generous heap nothing
      forces the sort fallback, and concurrent multi-GB random-probe
      maps inflate the SAME work from 101 CPU-s / 0.5 GC-s at 2 cores to
      592 CPU-s / 126 GC-s at 8 — negative scaling — while the combine
      only compresses a heavy-tail vocab 4.6x. So the count REPARTITIONS
      FIRST on the raw 8-byte ``xxhash64(token)`` stream and skips
      map-side combine: every count map is bounded at
      distinct/shuffle_partitions entries (~520k here — cache-resident
      probes, no GC churn).
    * the earlier two-phase variant (count by hash, then broadcast the
      candidate hashes and RE-SCAN the corpus to recount by string)
      spent 73 of its 107 s at 8 cores in the second pass (2→8 eff 0.28
      for that increment vs 0.79 for the scan+split+explode path and
      0.58 for the shuffle+count phase). A second full-corpus read is
      also exactly what you cannot afford at 100 TB.

    So phase 1 now carries ``min(token)``/``max(token)`` per hash group
    (+~14 B/row of shuffle payload — far cheaper than re-reading the
    corpus) and the second pass exists only as a lazily-unioned
    collision-repair branch that in practice never runs:

    1. repartition-then-aggregate ``(count, min(token), max(token))``
       per 8-byte hash; keep the top ``VOCAB_CAND`` groups via
       TakeOrdered. A hash-group's count ≥ any member token's count, so
       with C ≥ k + collisions the true top-k tokens' hashes are all
       present — 64-bit over ~10^7 keys has ~10^-5 expected collisions,
       and C = 10k leaves a 100x margin over k = 100. The ≤C-row
       relation is persisted (KBs) and shared by both branches below.
    2. groups with ``min(token) == max(token)`` are PROVEN
       collision-free: their hash count IS the token count — emit
       directly.
    3. groups with ``min != max`` (expected none) feed an exact
       broadcast-semi-join recount by string over the token stream. The
       branch is lazy; at runtime AQE materializes the (empty) broadcast
       side first and propagates the empty relation, so the corpus
       re-scan is pruned, not executed. A planted-collision test can
       only exercise this path synthetically (two tokens sharing an
       xxhash64 do not occur in test-sized corpora).

    At 100 TB: one corpus read total; size shuffle partitions so
    distinct/partitions x ~64 B fits task memory; the next shuffle-
    volume lever (not needed here) is a sampled-head hybrid — broadcast
    a ~50k "probable head" set from a 1% sample and map-side-combine
    ONLY those tokens (a tiny bounded map collapses the Zipf head; the
    tail goes repartition-then-count as before).

    The oracle stays the direct GROUP BY / ORDER BY / LIMIT SQL — output
    equality is the contract, not plan equality."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "token"
        )
    )
    cand = (
        toks.select(F.col("token"), F.xxhash64("token").alias("th"))
        # columns-only repartition → spark.sql.shuffle.partitions-many
        # BOUNDED count maps; see docstring for the measured rationale
        .repartition(F.col("th"))
        .groupBy("th")
        .agg(
            F.count("*").alias("hfreq"),
            F.min("token").alias("tok_min"),
            F.max("token").alias("tok_max"),
        )
        .orderBy(F.desc("hfreq"), F.asc("th"))
        .limit(VOCAB_CAND)
        # ≤ VOCAB_CAND rows (KBs): materialized once, read by both the
        # clean branch and the (empty) collision branch
        .persist()
    )
    clean = cand.filter(F.col("tok_min") == F.col("tok_max")).select(
        F.col("tok_min").alias("token"), F.col("hfreq").alias("freq")
    )
    dirty_hashes = cand.filter(F.col("tok_min") != F.col("tok_max")).select(
        "th"
    )
    recount = (
        toks.withColumn("th", F.xxhash64("token"))
        .join(F.broadcast(dirty_hashes), "th")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    return (
        clean.unionByName(recount)
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(VOCAB_TOPK)
    )


VOCAB_TOPK_SQL = f"""
SELECT token, CAST(count(*) AS BIGINT) AS freq
FROM (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
  FROM documents WHERE length(trim(text)) > 0
)
GROUP BY token
ORDER BY freq DESC, token ASC
LIMIT {VOCAB_TOPK}
"""


# --------------------------------------------------------------------------
# PII detection / redaction (pre-training scrub)
# --------------------------------------------------------------------------

# patterns verified to extract IDENTICALLY under Java regex (Spark) and
# RE2 (DuckDB) — no lookarounds, no backrefs, POSIX-safe classes
_PII_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b(\d{1,3}\.){3}\d{1,3}\b"
_PII_PHONE = r"\+?\d[\d\- ]{7,}\d"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the scrub step every pre-training
    pipeline runs before anything else sees the text. Counts emails /
    IPv4s / phone-like digit runs in the original text, then redacts
    them in sequence (emails → IPs → phones) to typed placeholder
    tokens; the scrubbed text is emitted as an md5 so the oracle's
    value-hash certifies the exact redacted bytes without shipping them.
    Pure per-row regex map: no shuffle, no UDF — fuses into the scan at
    10^12 rows (regexes are RE2-compatible, so the same operator runs
    unchanged on engines that compile to RE2)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_EMAIL), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_IPV4), 0)).alias(
            "n_ipv4"
        ),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_PHONE), 0)).alias(
            "n_phones"
        ),
        F.md5(scrubbed).alias("scrub_md5"),
    ).orderBy("doc_id")


PII_SCRUB_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(text, '{_PII_IPV4}')) AS n_ipv4,
       len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phones,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IPV4}', '<IP>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g')) AS scrub_md5
FROM documents
ORDER BY doc_id
"""


def length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source document-length percentiles (p50/p90/p99) — the
    numbers that set a corpus's quality cutoffs (truncation budgets,
    too-short filters). Built-in percentile functions are avoided on
    BOTH sides: Spark's exact ``percentile`` interpolates in floats
    (addition-order-hashable nowhere) and ``percentile_approx`` is a
    sketch — so the op implements the discrete-percentile definition
    (smallest value whose rank reaches ceil(q·n)) directly with integer
    arithmetic: one window rank per source + a conditional aggregate.
    ceil(q·n) is computed as ``(q_num·n + q_den - 1) div q_den`` —
    exact in both engines.

    Scale shape: one shuffle keyed by source + a per-partition sort —
    the honest cost of EXACT percentiles (they are order statistics; a
    global pass per group is irreducible). At 10^12 rows the default
    tool is a mergeable sketch (t-digest / percentile_approx) with THIS
    operator as the exact-audit path on sampled partitions; sources are
    the natural partition key and skew-bounded (a source's group sorts
    within its own partitions via range partitioning)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    def _pick(num: int, den: int, name: str):
        target = F.expr(f"({num} * n + {den} - 1) div {den}")
        return F.max(
            F.when(F.col("rn") == target, F.col("n_chars"))
        ).alias(name)

    return (
        ranked.groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            _pick(1, 2, "p50"),
            _pick(9, 10, "p90"),
            _pick(99, 100, "p99"),
        )
        .orderBy("source")
    )


LENGTH_QUANTILES_SQL = """
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (
           PARTITION BY source ORDER BY n_chars ASC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source,
       max(n) AS n_docs,
       max(CASE WHEN rn = (1 * n + 1) // 2 THEN n_chars END) AS p50,
       max(CASE WHEN rn = (9 * n + 9) // 10 THEN n_chars END) AS p90,
       max(CASE WHEN rn = (99 * n + 99) // 100 THEN n_chars END) AS p99
FROM ranked
GROUP BY source
ORDER BY source
"""


SPLIT_TRAIN, SPLIT_VAL = 0.8, 0.9  # cumulative split boundaries


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, cluster_id, split): train/val/test assigned
    per DUP-CLUSTER, never per doc — the leakage guard every eval split
    needs. A near-duplicate of a training page sitting in the test split
    is silent contamination (the within-corpus twin of benchmark
    ``decontamination``); assigning the split from a hash of the
    CLUSTER id makes straddling structurally impossible. Clusters here
    are the engine's normalized-prefix exact groups (the same grouping
    ``incremental_linkage`` and ``survivorship`` key on); a production
    pipeline feeds ``neardup_clusters``' labels through the identical
    shape.

    Determinism: the split comes from the ``_uniform_expr`` md5 map of
    cluster_id — rerun-stable, resume-stable, and reproduced exactly by
    the oracle. Scale: one window over the cluster key (or a join
    against an existing cluster table), then a pure per-row map.
    """
    from .incremental import NORM_LEN

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.lower(F.substring("text", 1, NORM_LEN)).alias("norm")
    )
    clustered = docs.withColumn(
        "cluster_id",
        F.min("doc_id").over(Window.partitionBy("norm")),
    )
    u = _uniform_expr(F.col("cluster_id"))
    return (
        clustered.withColumn(
            "split",
            F.when(u < SPLIT_TRAIN, F.lit("train"))
            .when(u < SPLIT_VAL, F.lit("val"))
            .otherwise(F.lit("test")),
        )
        .select("doc_id", "cluster_id", "split")
        .orderBy("doc_id")
    )


LEAKAGE_SAFE_SPLIT_SQL = f"""
WITH docs AS (
  SELECT doc_id, lower(substr(text, 1, 48)) AS norm FROM documents
),
clustered AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY norm) AS cluster_id
  FROM docs
)
SELECT doc_id, cluster_id,
       CASE WHEN {_sql_uniform('cluster_id')} < {SPLIT_TRAIN} THEN 'train'
            WHEN {_sql_uniform('cluster_id')} < {SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split
FROM clustered
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Naive-Bayes domain-posterior quality scoring (importance filtering)
# --------------------------------------------------------------------------

DOMAIN_SCALE = 1_000_000_000  # posterior micro-units (10^9)
DOMAIN_MIN_COUNT = 5  # tokens below this total count score at the prior


def _domain_scores(docs: DataFrame, ref_col) -> DataFrame:
    """Core of ``domain_posterior_scores`` over ANY (doc_id, text)
    relation with a boolean reference-membership column expression —
    separated so tests can run it on a corpus with PLANTED distribution
    differences (see ``domain_posterior_scores`` for why the driver
    corpus can't exhibit statistical power)."""
    S = DOMAIN_SCALE
    # token relation referenced 3x (model count, prior totals, score
    # join): one lazy localCheckpoint replaces three tokenize+explode
    # corpus passes with one
    toks = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        ref_col.cast("long").alias("is_ref"),
        F.explode(_tokens(F.col("text"))).alias("token"),
    ).localCheckpoint(eager=False)
    model = (
        # repartition-first before the vocabulary-keyed count — the
        # measured vocab_topk lesson (text_analysis.vocab_topk docstring):
        # an unbounded map-side combine map over 10^7+ distinct tokens
        # GC-churns at high core counts; hash-partitioning the stream
        # first bounds every count map at distinct/partitions entries
        toks.repartition(F.col("token"))
        .groupBy("token")
        .agg(
            F.sum("is_ref").alias("c_ref"),
            F.count("*").alias("c_tot"),
        )
        .filter(F.col("c_tot") >= DOMAIN_MIN_COUNT)
        .select(
            "token",
            F.expr(f"(c_ref + 1) * {S} div (c_tot + 2)").alias("v_q"),
        )
    )
    totals = toks.agg(
        F.sum("is_ref").alias("pos_tot"), F.count("*").alias("all_tot")
    ).select(F.expr(f"(pos_tot + 1) * {S} div (all_tot + 2)").alias("prior_q"))
    scored = (
        toks.join(model, "token", "left")
        .join(F.broadcast(totals))
        .select(
            "doc_id",
            "is_ref",
            (F.coalesce("v_q", F.col("prior_q")) - F.col("prior_q")).alias(
                "dev_q"
            ),
            "prior_q",
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.max("is_ref").alias("is_ref"),
            F.sum("dev_q").alias("ref_votes_q"),
            F.max("prior_q").alias("prior_q"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.col("is_ref").cast("int").alias("is_ref"),
            "ref_votes_q",
            "prior_q",
            (F.col("ref_votes_q") > 0).cast("int").alias("pred_ref"),
        )
        .orderBy("doc_id")
    )


def domain_posterior_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, n_tokens, is_ref, ref_votes_q, prior_q,
    pred_ref): per-doc Naive-Bayes evidence that the doc belongs to the
    reference domain — the CCNet/GPT-3-style LEARNED quality filter
    (score every page by its resemblance to a trusted corpus, keep the
    head), beside the HEURISTIC ``quality_scores``.

    Model: per-token Laplace-smoothed posterior ``P(ref | token) =
    (c_ref + 1) / (c_total + 2)`` in integer micro-units
    (``DOMAIN_SCALE``); tokens with total count < ``DOMAIN_MIN_COUNT``
    fall back to the corpus prior (no reliable signal, and the prune
    keeps the model relation head-sized under a Zipf vocabulary). The
    per-doc statistic is the SUM OF CENTERED VOTES ``Σ (P(ref|token) −
    prior)``: class-neutral tokens sit at the prior and contribute ~0;
    discriminative tokens pull hard either way. ``pred_ref = (Σ votes >
    0)`` is the Bayes-odds-neutral decision. The sum is deliberately
    NOT divided by n_tokens: integer division truncates toward zero in
    Spark but floors in DuckDB for NEGATIVE operands, so the un-divided
    sum (exact, order-independent int64) is what the value-hash
    certifies; callers normalize as they wish.

    Reference domain in this query: ``lang = 'en'``. Honest caveat: the
    driver corpus assigns ``lang`` INDEPENDENTLY of token content
    (measured: every frequent token sits at ~P(en) regardless of
    class), so on these tables no classifier can beat the prior and the
    oracle hash certifies the MECHANISM (counts → Laplace ratios →
    centered-vote sums), not statistical power. The power claim is
    tested where it can be: ``tests/test_domain_posterior.py`` plants a
    two-distribution corpus (disjoint stopword vocabularies over a
    shared body vocabulary) and requires ≥90% accuracy from the same
    ``_domain_scores`` core. Same division of labor as
    ``linkgraph.pagerank``'s synthesized edges: the hash certifies the
    iteration, the test certifies the semantics.

    Cross-engine exactness: counts, Laplace ratios (integer div on
    non-negative operands), and vote sums are all int64 arithmetic — no
    libm, no float sums (the ``pagerank`` micro-unit discipline).

    Scale shape (100 TB): two shuffles — the token-class count
    (map-side-combinable conditional sums onto the vocabulary key
    space; the repartition-before-count lesson from ``vocab_topk``
    applies at 10^7+ distinct tokens) and the stream⋈model equi-join
    back (the model relation is min-count-pruned to the vocabulary
    HEAD, ~1-10% of distinct under Zipf — broadcast it when it fits,
    else a standard token-key shuffle join). The per-doc vote sum is
    one map-side-combinable agg."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _domain_scores(docs, F.col("lang") == "en")


DOMAIN_POSTERIOR_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_ref,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents WHERE length(trim(text)) > 0
),
model AS (
  SELECT token,
         (sum(is_ref) + 1) * {DOMAIN_SCALE} // (count(*) + 2) AS v_q
  FROM toks GROUP BY token
  HAVING count(*) >= {DOMAIN_MIN_COUNT}
),
totals AS (
  SELECT (sum(is_ref) + 1) * {DOMAIN_SCALE} // (count(*) + 2) AS prior_q
  FROM toks
),
scored AS (
  SELECT t.doc_id, t.is_ref,
         COALESCE(m.v_q, x.prior_q) - x.prior_q AS dev_q, x.prior_q
  FROM toks t LEFT JOIN model m ON t.token = m.token, totals x
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(max(is_ref) AS INT) AS is_ref,
       CAST(sum(dev_q) AS BIGINT) AS ref_votes_q,
       CAST(max(prior_q) AS BIGINT) AS prior_q,
       CAST(CASE WHEN sum(dev_q) > 0 THEN 1 ELSE 0 END AS INT) AS pred_ref
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# bigram-LM fluency score (CCNet-style perplexity filter, integer-exact)
# --------------------------------------------------------------------------

LM_SCALE = 1_000_000
LM_REF_LANG = "en"


def _lm_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, w1, w2) — consecutive whitespace-token bigrams.

    The zipped-shifted-slices construction (dedup.dup_spans' measured
    7x-faster gram builder) staged once per row; docs with < 2 tokens
    produce no bigrams on either engine."""
    toks = (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id", "lang", F.split(F.trim(F.col("text")), r"\s+").alias("t")
        )
        .filter(F.size("t") >= 2)
    )
    n1 = F.size("t") - 1
    return (
        toks.select(
            "doc_id",
            "lang",
            F.arrays_zip(
                F.slice("t", 1, n1).alias("w1"), F.slice("t", 2, n1).alias("w2")
            ).alias("bg"),
        )
        .select("doc_id", "lang", F.explode("bg").alias("b"))
        .select("doc_id", "lang", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )


def _lm_fluency_core(docs: DataFrame, ref_lang: str = LM_REF_LANG) -> DataFrame:
    """Core of ``lm_fluency`` over ANY (doc_id, text, lang) relation —
    separated so tests can plant a fluent-vs-garbled corpus and assert
    the score separates them (the driver corpus draws tokens i.i.d., so
    it certifies the mechanism; the test certifies the power — the
    ``_domain_scores`` division of labor)."""
    # bigram relation referenced 3x (model count, vocab agg, score join):
    # one lazy localCheckpoint replaces three tokenize+explode corpus
    # passes with one
    big = _lm_bigrams(docs).localCheckpoint(eager=False)
    refbig = big.filter(F.col("lang") == ref_lang)
    # repartition-first before the vocabulary²-keyed count — the measured
    # vocab_topk lesson: bound every map-side combine map by
    # distinct/partitions instead of letting each task see the full
    # heavy-tail key space.
    c2 = (
        refbig.repartition(F.col("w1"), F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )
    # head-word continuation totals derived from the bigram model itself
    # (no second corpus pass): c1(w1) = Σ_w2 c2(w1, w2).
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = (
        big.filter(F.col("lang") == ref_lang)
        .agg(
            (
                F.count_distinct(F.col("w1")) + F.lit(1)
            ).alias("v")  # +1 = the single shared OOV/continuation slot
        )
    )
    scored = (
        big.join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.col("c2").isNull().cast("long").alias("oov"),
            F.coalesce("c2", F.lit(0)).alias("c2v"),
            F.coalesce("c1", F.lit(0)).alias("c1v"),
            "v",
        )
    )
    # Laplace-smoothed P(w2|w1) = (c2+1)/(c1+V) as integer micro-units,
    # and its binned surprisal floor(log2(1/p)) computed EXACTLY in
    # integers: for ints a ≥ b ≥ 1, floor(log2(a/b)) = bitlen(a div b) − 1
    # (a/b < (a div b)+1 ≤ 2^bitlen never crosses the next power of two),
    # and bitlen is length(bin(q)) on both engines. No libm anywhere.
    per_bigram = scored.select(
        "doc_id",
        "oov",
        F.expr(f"(c2v + 1) * {LM_SCALE} div (c1v + v)").alias("p_micro"),
        (F.length(F.bin(F.expr("(c1v + v) div (c2v + 1)"))) - 1)
        .cast("long")
        .alias("bits"),
    )
    return (
        per_bigram.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("oov").alias("oov_bigrams"),
            F.sum("p_micro").alias("sum_p"),
            F.sum("bits").alias("sum_bits"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "oov_bigrams",
            F.expr("sum_p div n_bigrams").alias("mean_prob_micro"),
            F.expr(f"sum_bits * {LM_SCALE} div n_bigrams").alias(
                "bits_per_bigram_micro"
            ),
        )
        .orderBy("doc_id")
    )


def lm_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, n_bigrams, oov_bigrams, mean_prob_micro,
    bits_per_bigram_micro): per-doc GENERATIVE fluency under a bigram
    language model trained on the trusted subset (``lang = 'en'``) —
    the CCNet-style perplexity filter (Wenzek et al. 2020: score every
    page under an LM fit to a trusted corpus, keep the low-perplexity
    head), beside the DISCRIMINATIVE ``domain_posterior_scores`` and
    the heuristic ``quality_scores``.

    Model: add-one-smoothed bigram probabilities ``P(w2|w1) = (c2 + 1) /
    (c1 + V)`` where counts come from the reference subset only, ``c1``
    is the head word's continuation total (Σ over the model itself — no
    second corpus pass), and ``V`` = distinct reference head words + 1
    (one shared out-of-vocabulary slot). Every document — reference or
    not — is scored; OOV heads fall to the uniform floor ``1/V``.

    Two per-doc statistics, both integer-exact and order-independent so
    the cross-engine value hash certifies them: ``mean_prob_micro``
    (arithmetic-mean smoothed probability in micro-units) and
    ``bits_per_bigram_micro`` — the mean of floor(log2 1/p), a
    LOG-BINNED surprisal, i.e. integer-granular log2-perplexity: the
    same no-libm bin-ladder discipline as ``sketch.length_histogram``,
    using the exact identity floor(log2(a/b)) = bitlen(a div b) − 1 for
    a ≥ b. At 10^12 pages the drop-in refinement is a real KenLM n-gram
    scored via ``mapInPandas`` with tolerance-based (not hash)
    validation; the relational skeleton — model counts, join-back,
    per-doc agg — is unchanged.

    Power caveat (same as ``domain_posterior_scores``): the driver
    corpus draws tokens i.i.d. per document, so language-model scores
    cannot separate classes here — the oracle hash certifies the
    mechanism; ``tests/test_training_mix.py`` plants a patterned-vs-
    shuffled corpus and requires the fluent half to win on BOTH
    statistics through the same core.

    Scale shape (100 TB): three shuffles — the bigram-model count
    (map-side-combinable onto the vocabulary² key space,
    repartition-first per the vocab_topk lesson), the corpus⋈model
    equi-join back on (w1, w2) (the add-one model is count≥1 by
    construction ≈ Zipf head of the pair space — broadcast when it
    fits, else a standard shuffle join; c1 rides the same join salted
    by w1), and the per-doc agg (map-side-combinable). The V scalar is
    an O(1) broadcast. Nothing is per-row Python; nothing collects.

    Reference analog: none (the reference has no corpus-quality
    operators) — this is part of the training-data tier grafted beside
    it (SURVEY §2 'beyond-reference')."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _lm_fluency_core(docs)


LM_FLUENCY_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
  WHERE length(trim(text)) > 0
    AND len(regexp_split_to_array(trim(text), '\\s+')) >= 2
),
big AS (
  SELECT doc_id, lang, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, lang, t,
               unnest(generate_series(1, len(t) - 1)) AS i
        FROM tok)
),
c2 AS (
  SELECT w1, w2, count(*) AS c2 FROM big WHERE lang = '{LM_REF_LANG}'
  GROUP BY w1, w2
),
c1 AS (
  SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1
),
vocab AS (
  SELECT count(DISTINCT w1) + 1 AS v FROM big WHERE lang = '{LM_REF_LANG}'
),
scored AS (
  SELECT b.doc_id,
         CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS oov,
         COALESCE(c2.c2, 0) AS c2v,
         COALESCE(c1.c1, 0) AS c1v,
         vocab.v AS v
  FROM big b
  LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
  LEFT JOIN c1 ON b.w1 = c1.w1, vocab
),
per_bigram AS (
  SELECT doc_id, oov,
         (c2v + 1) * {LM_SCALE} // (c1v + v) AS p_micro,
         length(bin((c1v + v) // (c2v + 1))) - 1 AS bits
  FROM scored
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(oov) AS BIGINT) AS oov_bigrams,
       CAST(sum(p_micro) // count(*) AS BIGINT) AS mean_prob_micro,
       CAST(sum(bits) * {LM_SCALE} // count(*) AS BIGINT) AS bits_per_bigram_micro
FROM per_bigram
GROUP BY doc_id
ORDER BY doc_id
"""
