"""Pairwise string-metric scoring on driver-oracle evidence.

The flagship score stage computes Jaro-Winkler and token-set Levenshtein
over candidate-pair titles inside one Arrow ``pandas_udf``
(``operators/scoring.py::score_components_udf``; north-rule-named
metrics; reference analog: pairwise mention/alias scoring in
``bioel/bioel/models/scispacy/candidate_generation.py:238-253``). Until
round 5 those kernels carried pytest property tests plus the
flagship-prefix parity oracle, but no driver-hashed CORRECTNESS row —
``er_clusters`` is rows-only by design, so the kernels' values never
reached a value-hash gate.

``pair_scores`` closes that: an equi-blocked title self-join over the
``documents`` table scored by the PRODUCTION UDF (same
``score_components_udf`` object the flagship imports — not a reimpl),
mirrored by a DuckDB oracle built on DuckDB's own independent
``jaro_winkler_similarity`` and ``levenshtein`` implementations. Both
engines compute IEEE-754 double results that were measured bit-identical
over 5k random word-vocab pairs (same match-window/greedy-matching JW
definition with the standard 0.7 boost threshold and 4-char prefix cap;
same DP edit distance), so the value-hash certifies the kernel
semantics themselves, not a rounded approximation.

Scale note: the two-token equi-block here is the ORACLE-tractable pair
generator, not the production one — the flagship generates pairs via
MinHash-LSH banding + sorted-neighborhood keys (``operators/blocking``).
The scored relation's shape is identical either way: (pair keys, title
pair) → Arrow batch → per-pair doubles, one shuffle on the block key,
pairs-per-block bounded by the key's group size. At 100 TB the same
plan holds because the block key (like an LSH band key) carries
Zipf-bounded group sizes; a hot key would be salted exactly as the
flagship's pair stage does (``functions/salting.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .scoring import score_components_udf

# first-k-token title, first-b-token block key
_TITLE_TOKENS = 5
_BLOCK_TOKENS = 2


def pair_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → blocked title pairs → (doc_a, doc_b, jw, ts_lev).

    - title  = first 5 whitespace tokens of ``text`` (the synthetic
      corpus's analog of a page title);
    - block  = first 2 tokens — a deterministic equi-block whose group
      sizes are vocabulary-bounded, so the self-join is a plain
      shuffle-key join (never all-pairs);
    - score  = the flagship's Arrow pandas UDF: one batched struct of
      (jw, tslev) per pair, strings-only through the Python boundary.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    titles = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 1, _TITLE_TOKENS)).alias("title"),
        F.concat_ws(" ", F.slice(toks, 1, _BLOCK_TOKENS)).alias("block"),
    )
    a = titles.select(
        F.col("doc_id").alias("doc_a"),
        F.col("title").alias("title_a"),
        "block",
    )
    b = titles.select(
        F.col("doc_id").alias("doc_b"),
        F.col("title").alias("title_b"),
        "block",
    )
    pairs = a.join(b, "block").filter(F.col("doc_a") < F.col("doc_b"))
    # r6: the string kernels depend only on the TITLE pair, and dedup
    # corpora repeat titles heavily (sf1.0: 50k docs, ~20k distinct
    # titles, quadratic within-block doc pairs) — so score each distinct
    # co-blocked title combination ONCE through the Python boundary and
    # attach the result to the doc-pair expansion with a (broadcastable)
    # join. The title-combination relation is built from the per-block
    # DISTINCT title set (a superset of the orientations doc ordering
    # can produce — unused rows simply never match), so the kernel input
    # shrinks from Σ block_size² to Σ distinct_titles_in_block² rows.
    # Output rows, values, and order are unchanged.
    t_in_block = titles.select("block", "title").distinct()
    tcombo = (
        t_in_block.select("block", F.col("title").alias("title_a"))
        .join(
            t_in_block.select("block", F.col("title").alias("title_b")),
            "block",
        )
        .select("title_a", "title_b")
        .distinct()
    )
    sc = score_components_udf()(F.col("title_a"), F.col("title_b"))
    scored = tcombo.withColumn("sc", sc).select(
        "title_a",
        "title_b",
        F.round(F.col("sc.jw"), 6).alias("jw"),
        F.round(F.col("sc.tslev"), 6).alias("ts_lev"),
    )
    return (
        pairs.join(scored, ["title_a", "title_b"])
        .select("doc_a", "doc_b", "jw", "ts_lev")
        .orderBy("doc_a", "doc_b")
    )


# The ASCII whitespace Python's ``str.split()`` splits on (the token-set
# kernel's tokenizer, ``functions/strings.py::_token_set``), as an RE2 class.
_PY_WHITESPACE_RUN = r"[ \t\n\r\x0b\x0c\x1c-\x1f]+"

# DuckDB's jaro_winkler_similarity / levenshtein are independent
# implementations of the same public definitions; the token-set
# normalization (split on whitespace runs, drop empty tokens → distinct →
# sort → rejoin) is mirrored relationally. NULL never arises (text is
# non-null in the corpus).
PAIR_SCORES_SQL = f"""
WITH t AS (
  SELECT doc_id,
         array_to_string(string_split(text, ' ')[1:{_TITLE_TOKENS}], ' ')
           AS title,
         array_to_string(string_split(text, ' ')[1:{_BLOCK_TOKENS}], ' ')
           AS block
  FROM documents
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.title AS ta, b.title AS tb
  FROM t a JOIN t b ON a.block = b.block AND a.doc_id < b.doc_id
),
n AS (
  SELECT doc_a, doc_b, ta, tb,
         array_to_string(list_sort(list_distinct(list_filter(
           regexp_split_to_array(ta, '{_PY_WHITESPACE_RUN}'), x -> x <> ''))),
           ' ') AS sa,
         array_to_string(list_sort(list_distinct(list_filter(
           regexp_split_to_array(tb, '{_PY_WHITESPACE_RUN}'), x -> x <> ''))),
           ' ') AS sb
  FROM p
)
SELECT doc_a, doc_b,
       round(jaro_winkler_similarity(ta, tb), 6) AS jw,
       round(CASE WHEN sa = sb THEN 1.0
             ELSE 1.0 - CAST(levenshtein(sa, sb) AS DOUBLE)
                        / greatest(length(sa), length(sb)) END, 6)
         AS ts_lev
FROM n
ORDER BY doc_a, doc_b
"""
