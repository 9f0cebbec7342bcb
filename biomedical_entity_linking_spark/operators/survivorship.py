"""Survivorship: golden-record construction — the step AFTER clustering.

Once ER has grouped duplicate pages into clusters (``er_clusters``,
``neardup_clusters``, ``incremental_linkage``), a deployment must emit
ONE canonical record per cluster with per-field survivorship rules —
the master-data step the reference performs when it picks a canonical
name per CUI by source rank (MRRANK ``rank = -rank + 850`` argmin
readoff, ``bioel/bioel/utils/umls_utils.py:160-166``; ``bigbio_utils.py``
canonical-name resolution). This
operator is the web-tier version, four classic rule families in one
pass:

* **min rule** — ``canonical_id`` = min doc_id (stable identity);
* **max rule** — ``best_n_chars`` = max n_chars (richest content wins);
* **frequency rule** — ``lang`` = the cluster's modal lang, ties broken
  lexicographically (most-attested value wins, DETERMINISTICALLY —
  built-in ``mode()``/``max_by`` are tie-nondeterministic on both
  engines and would break the value-hash, so the mode is computed as a
  count-then-rank window with a total tiebreak order);
* **recency/priority rule** — ``source`` = the source of the max-
  (n_chars, tie doc_id asc) member (attribute carried from the winning
  record, not aggregated independently — the distinction that makes
  survivorship a RECORD rule, not a column rule).

Clusters here are the normalized-prefix exact groups (the same grouping
``incremental.incremental_linkage`` installs as its base), so the two
operators compose: incremental attach names a cluster_id, this operator
emits that cluster's golden record.

Scale shape (100 TB): one hash shuffle on cluster_id; the mode and the
record-carry rules are windows over the same partitioning (Catalyst
reuses the exchange), and every aggregate combines map-side. No
collect, no UDF, no skew hazard beyond the cluster-size distribution
the dedup tier already bounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .incremental import NORM_LEN


def survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → one golden record per normalized-prefix cluster:
    (cluster_id, n_members, best_n_chars, lang, source)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "n_chars",
        "lang",
        "source",
        F.lower(F.substring("text", 1, NORM_LEN)).alias("norm"),
    )
    cid = Window.partitionBy("norm")
    # modal lang: count per (norm, lang), rank by (count desc, lang asc)
    lang_counts = docs.groupBy("norm", "lang").agg(
        F.count("*").alias("lc")
    )
    modal_lang = (
        lang_counts.withColumn(
            "lr",
            F.row_number().over(
                Window.partitionBy("norm").orderBy(
                    F.col("lc").desc(), F.col("lang").asc()
                )
            ),
        )
        .filter(F.col("lr") == 1)
        .select("norm", F.col("lang").alias("modal_lang"))
    )
    # record-carry: source of the (n_chars desc, doc_id asc) winner
    winner = (
        docs.withColumn(
            "wr",
            F.row_number().over(
                Window.partitionBy("norm").orderBy(
                    F.col("n_chars").desc(), F.col("doc_id").asc()
                )
            ),
        )
        .filter(F.col("wr") == 1)
        .select("norm", F.col("source").alias("win_source"))
    )
    agg = docs.groupBy("norm").agg(
        F.min("doc_id").alias("cluster_id"),
        F.count("*").alias("n_members"),
        F.max("n_chars").alias("best_n_chars"),
    )
    return (
        agg.join(modal_lang, "norm")
        .join(winner, "norm")
        .select(
            "cluster_id",
            "n_members",
            "best_n_chars",
            F.col("modal_lang").alias("lang"),
            F.col("win_source").alias("source"),
        )
        .orderBy("cluster_id")
    )


SURVIVORSHIP_SQL = f"""
WITH docs AS (
  SELECT doc_id, n_chars, lang, source,
         lower(substr(text, 1, {NORM_LEN})) AS norm
  FROM documents
),
modal AS (
  SELECT norm, lang AS modal_lang FROM (
    SELECT norm, lang,
           row_number() OVER (PARTITION BY norm
                              ORDER BY count(*) DESC, lang ASC) AS lr
    FROM docs GROUP BY norm, lang
  ) WHERE lr = 1
),
winner AS (
  SELECT norm, source AS win_source FROM (
    SELECT norm, source,
           row_number() OVER (PARTITION BY norm
                              ORDER BY n_chars DESC, doc_id ASC) AS wr
    FROM docs
  ) WHERE wr = 1
),
agg AS (
  SELECT norm, min(doc_id) AS cluster_id,
         CAST(count(*) AS BIGINT) AS n_members,
         max(n_chars) AS best_n_chars
  FROM docs GROUP BY norm
)
SELECT cluster_id, n_members, best_n_chars,
       modal_lang AS lang, win_source AS source
FROM agg JOIN modal USING (norm) JOIN winner USING (norm)
ORDER BY cluster_id
"""


# ---------------------------------------------------------------------------
# conflict detection — the audit table survivorship's rules resolve
# ---------------------------------------------------------------------------

_CONS_PPM = 1_000_000


def cluster_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → one row per (cluster, attribute) where members
    DISAGREE: the data-fusion conflict report read before trusting any
    survivorship rule (Bleiholder & Naumann 2008's conflict
    classification — this emits the "contradiction" class).

    Same normalized-prefix clusters as ``survivorship`` — the two
    compose: this table says WHERE the golden record had to choose,
    survivorship says WHAT it chose. Columns: member count, distinct
    conflicting values, the modal value with its count (the same
    deterministic count-then-rank the survivorship frequency rule uses
    — built-in ``mode()`` is tie-unstable on both engines), and a
    consensus ratio in ppm.

    Scale shape (100 TB): the three audited attributes unpivot via
    ``stack`` (3 rows per doc, a per-row map fused into the scan);
    then ONE hash shuffle keyed (cluster, attr, value) and two windows
    over the coarser (cluster, attr) partitioning — Catalyst satisfies
    both from the same exchange. Map-side combine bounds the shuffle
    by value cardinality; no collect, no UDF, no join back to items.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.lower(F.substring("text", 1, NORM_LEN)).alias("norm"),
        F.expr(
            "stack(3, 'lang', lang, 'source', source,"
            " 'n_chars', cast(n_chars as string)) as (attr, value)"
        ),
    )
    counts = docs.groupBy("norm", "attr", "value").agg(
        F.count("*").alias("vc"), F.min("doc_id").alias("min_id")
    )
    w = Window.partitionBy("norm", "attr")
    ranked = counts.select(
        "norm",
        "attr",
        "value",
        "vc",
        F.sum("vc").over(w).alias("n_rows"),
        F.count("*").over(w).alias("n_distinct"),
        F.min("min_id").over(w).alias("cluster_id"),
        F.row_number()
        .over(
            Window.partitionBy("norm", "attr").orderBy(
                F.col("vc").desc(), F.col("value").asc()
            )
        )
        .alias("vr"),
    )
    return (
        ranked.filter((F.col("vr") == 1) & (F.col("n_distinct") >= 2))
        .select(
            "cluster_id",
            "attr",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
            F.col("value").alias("top_value"),
            F.col("vc").cast("bigint").alias("top_count"),
            F.expr(f"(vc * {_CONS_PPM}) div n_rows").alias(
                "consensus_ppm"
            ),
        )
        .orderBy("cluster_id", "attr")
    )


CLUSTER_CONFLICTS_SQL = f"""
WITH docs AS (
  SELECT doc_id, lower(substr(text, 1, {NORM_LEN})) AS norm, attr, value
  FROM (
    SELECT doc_id, text, 'lang' AS attr, lang AS value FROM documents
    UNION ALL
    SELECT doc_id, text, 'source', source FROM documents
    UNION ALL
    SELECT doc_id, text, 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
  )
),
counts AS (
  SELECT norm, attr, value, CAST(count(*) AS BIGINT) AS vc,
         min(doc_id) AS min_id
  FROM docs GROUP BY norm, attr, value
),
ranked AS (
  SELECT norm, attr, value, vc,
         sum(vc) OVER (PARTITION BY norm, attr) AS n_rows,
         count(*) OVER (PARTITION BY norm, attr) AS n_distinct,
         min(min_id) OVER (PARTITION BY norm, attr) AS cluster_id,
         row_number() OVER (PARTITION BY norm, attr
                            ORDER BY vc DESC, value ASC) AS vr
  FROM counts
)
SELECT cluster_id, attr,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       value AS top_value,
       vc AS top_count,
       CAST((vc * {_CONS_PPM}) // n_rows AS BIGINT) AS consensus_ppm
FROM ranked
WHERE vr = 1 AND n_distinct >= 2
ORDER BY cluster_id, attr
"""
