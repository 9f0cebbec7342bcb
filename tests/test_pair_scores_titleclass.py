"""Focused test for the r6 ``pair_scores`` distinct-title rewrite
(OPTIMIZATION_r06.md): each distinct co-blocked title combination crosses
the Python boundary once, and the scores join back onto the doc-pair
expansion. The risky plumbing is the combo relation (built from per-block
DISTINCT titles — must cover every orientation doc ordering can produce)
and the join-back (must stay complete under heavy title duplication), so
the pin is the naive shape: score every doc pair directly with the same
production UDF and require identical rows. Kernel VALUE semantics are
certified separately (5k-pair cross-engine bit-identity + DuckDB parity)."""

import duckdb
from pyspark.sql import functions as F

from biomedical_entity_linking_spark.operators.scoring import (
    score_components_udf,
)
from biomedical_entity_linking_spark.operators.string_scores import (
    PAIR_SCORES_SQL,
    pair_scores,
)

# first 2 tokens = block, first 5 = title; duplicate title classes in both
# orientations: in block "red fox" the repeated title sits on LOW doc_ids,
# in block "blue owl" on HIGH ones — the combo relation must cover both.
_TEXTS = [
    "red fox alpha beta gamma trailing words here",     # 0  title R1 x3
    "red fox alpha beta gamma other suffix",            # 1  title R1
    "red fox alpha beta gamma",                         # 2  title R1
    "red fox delta epsilon zeta filler",                # 3  title R2
    "blue owl mu nu xi body text",                      # 4  title B1
    "blue owl omicron pi rho more text",                # 5  title B2 x2
    "blue owl omicron pi rho",                          # 6  title B2
    "green elm sole member of its block",               # 7  no pairs
]


# titles split on ' ' alone keep tabs/newlines inside tokens and yield
# empty tokens at leading, trailing and doubled spaces; the token-set
# kernel (str.split()) sees none of that, and the oracle must agree
_WS_TEXTS = [
    "red fox alpha\nbeta gamma",    # 0  same token set as 1
    "red fox alpha beta gamma",     # 1
    "red fox  alpha\tbeta delta",   # 2  doubled space
    "red fox gamma ",               # 3  trailing space
    " blue owl mu\r\nnu xi",        # 4  leading space
    " blue owl mu nu\x0bxi\x0cpi",  # 5  leading space, VT/FF
    " blue owl\t\x1fmu nu",         # 6  leading space, tab/US
]


def _write_docs(spark, tmp_path, texts=_TEXTS):
    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).write.parquet(f"{path}/documents.parquet")
    return path


def _naive(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    titles = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 1, 5)).alias("title"),
        F.concat_ws(" ", F.slice(toks, 1, 2)).alias("block"),
    )
    a = titles.select(
        F.col("doc_id").alias("doc_a"), F.col("title").alias("ta"), "block"
    )
    b = titles.select(
        F.col("doc_id").alias("doc_b"), F.col("title").alias("tb"), "block"
    )
    sc = score_components_udf()(F.col("ta"), F.col("tb"))
    return (
        a.join(b, "block")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("sc", sc)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("sc.jw"), 6).alias("jw"),
            F.round(F.col("sc.tslev"), 6).alias("ts_lev"),
        )
    )


def test_titleclass_rows_match_naive_per_pair_scoring(spark, tmp_path):
    sf = _write_docs(spark, tmp_path)
    got = [tuple(r) for r in pair_scores(spark, sf).collect()]
    want = sorted(tuple(r) for r in _naive(spark, sf).collect())
    assert len(got) == len(set(got)), "join-back duplicated a doc pair"
    assert got == want
    # shape sanity: 6 red-fox pairs + 3 blue-owl pairs, block 7 silent
    assert len(got) == 6 + 3
    # identical-title pairs score (1.0, 1.0) — the duplicate-class rows
    perfect = {(a, b) for a, b, jw, ts in got if jw == 1.0 and ts == 1.0}
    assert {(0, 1), (0, 2), (1, 2), (5, 6)} <= perfect


def test_whitespace_tokenization_matches_oracle(spark, tmp_path):
    sf = _write_docs(spark, tmp_path, _WS_TEXTS)
    got = [tuple(r) for r in pair_scores(spark, sf).collect()]
    with duckdb.connect() as con:
        con.execute(
            "CREATE VIEW documents AS "
            f"SELECT * FROM '{sf}/documents.parquet/*.parquet'"
        )
        want = [tuple(r) for r in con.execute(PAIR_SCORES_SQL).fetchall()]
    assert len(got) == 6 + 3
    assert got == want
    # 0 and 1 differ only in whitespace: identical token sets
    assert {(a, b): ts for a, b, jw, ts in got}[(0, 1)] == 1.0
