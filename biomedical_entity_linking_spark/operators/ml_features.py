"""Candidate-pair feature vectorization — the ML training-data export.

Every learned entity matcher (the Magellan / py_entitymatching feature
table; Splink's comparison vectors; the reference's own crossencoder
training pairs, ``bioel/bioel/models/``) consumes the same relation:
one row per BLOCKED candidate pair, one column per similarity feature.
The reference builds these rows in per-example Python inside its torch
DataLoaders; at 10^12 documents the feature table itself is the
expensive artifact, so here it is a first-class Catalyst relation:

* blocking: the Fellegi–Sunter linker's own blocked self-join
  (``fellegi_sunter.blocked_pairs`` on the 24-char normalized prefix —
  the skew-measured key from ``incremental.py``; oracle:
  ``blocked_pairs_sql``), so this operator IS the feature stage a
  learned scorer would drop into that pipeline;
* features, all INTEGER (cross-engine hashable — no float kernels to
  certify): exact 96-char-normalized-text equality, language/source
  agreement flags, built-in JVM ``levenshtein`` over 32-char prefixes
  (bit-identical across Spark and DuckDB, certified by
  ``incremental_linkage``), distinct-token intersection/union counts
  with Jaccard in ppm by non-negative integer division, and absolute
  length difference.

Scale shape (100 TB): ONE blocked self-join (the same data-scale work
as ``fs_pair_posteriors`` — hot keys take the documented salting
hatch), every feature a per-row JVM expression on the joined pair; no
aggregation, no second pass, no Python. Downstream: feed the labeled
subset to any trainer; score the rest with ``fellegi_sunter`` or a
broadcast model.

Reference analog: ``bioel`` builds pair features inside torch collate
fns (excluded training stack, SURVEY §7); this is the corpus-scale
relational equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biomedical_entity_linking_spark.operators.fellegi_sunter import (
    blocked_pairs,
    blocked_pairs_sql,
    norm_docs,
)

LEV_LEN = 32  # levenshtein feature over this prefix — bounded per-row cost
_PPM = 1_000_000


def pair_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → one row per blocked candidate pair with the integer
    feature vector a learned matcher trains on."""
    return pair_features_over(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


def pair_features_over(raw_docs: DataFrame) -> DataFrame:
    """Generic core over ANY (doc_id, text, lang, source, n_chars)
    relation."""
    sides = norm_docs(raw_docs, "lang", "source", "n_chars").select(
        "*",
        F.substring("norm", 1, LEV_LEN).alias("lev_key"),
        F.array_distinct(F.split("norm", " ")).alias("toks"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    uni = F.size("toks_a") + F.size("toks_b") - inter
    return (
        blocked_pairs(sides)
        .select(
            "id_a",
            "id_b",
            (F.col("norm_a") == F.col("norm_b")).cast("int").alias("f_exact"),
            (F.col("lang_a") == F.col("lang_b")).cast("int").alias("f_lang"),
            (F.col("source_a") == F.col("source_b"))
            .cast("int")
            .alias("f_source"),
            F.levenshtein("lev_key_a", "lev_key_b").alias("f_lev32"),
            inter.alias("f_tok_inter"),
            uni.alias("f_tok_union"),
            # non-negative integer div — truncation identical on both
            # engines (the repo-wide divide-of-negatives rule)
            (inter.cast("bigint") * _PPM)
            .alias("_num"),
            F.abs(F.col("n_chars_a") - F.col("n_chars_b")).alias(
                "f_len_diff"
            ),
        )
        .withColumn("f_jaccard_ppm", F.expr("_num div f_tok_union"))
        .select(
            "id_a",
            "id_b",
            "f_exact",
            "f_lang",
            "f_source",
            "f_lev32",
            "f_tok_inter",
            "f_tok_union",
            "f_jaccard_ppm",
            "f_len_diff",
        )
        .orderBy("id_a", "id_b")
    )


_PAIRS = blocked_pairs_sql(
    "lang",
    "source",
    "n_chars",
    lev_key=f"substr(norm, 1, {LEV_LEN})",
    toks="list_distinct(string_split(norm, ' '))",
)
_INTER = "len(list_intersect(toks_a, toks_b))"
_UNION = f"(len(toks_a) + len(toks_b) - {_INTER})"
PAIR_FEATURES_SQL = f"""
WITH {_PAIRS}
SELECT id_a, id_b,
       CAST(norm_a = norm_b AS INT) AS f_exact,
       CAST(lang_a = lang_b AS INT) AS f_lang,
       CAST(source_a = source_b AS INT) AS f_source,
       CAST(levenshtein(lev_key_a, lev_key_b) AS INT) AS f_lev32,
       CAST({_INTER} AS INT) AS f_tok_inter,
       CAST({_UNION} AS INT) AS f_tok_union,
       CAST(({_INTER} * {_PPM}) // {_UNION} AS BIGINT) AS f_jaccard_ppm,
       CAST(abs(n_chars_a - n_chars_b) AS BIGINT) AS f_len_diff
FROM bpairs
ORDER BY id_a, id_b
"""
