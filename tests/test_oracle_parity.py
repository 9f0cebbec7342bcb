"""In-suite spot check of the driver's correctness contract: a fast subset
of queries() vs oracle_sql() on DuckDB at sf0.001 (full sweep lives in
tools/parity_check.py and runs at sf0.01)."""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
FAST_QUERIES = [
    "exact_dedup",
    "dup_spans",
    "token_stats",
    "lang_id",
    "fingerprints",
    "content_tokens",
    "props_value_stats",
    "pricing_summary",
    "first_ship_per_supplier",
    "event_gaps",
    "ivf_topk",
    "pair_scores",
    "tfidf_cosine_topk",
    "pagerank",
    "triangle_count",
    "label_propagation",
    "blocking_quality",
    "bcubed_quality",
    "incremental_linkage",
    "prefix_jaccard_join",
    "edit_distance_join",
    "containment_join",
    "waterfall_link",
    "fs_tf_posteriors",
    "clk_linkage",
    "group_linkage",
    "pair_features",
    "ari_quality",
    "muc_quality",
    "vmeasure_quality",
    "blanc_quality",
    "kcore_decomposition",
    "fs_em_weights",
    "fs_pair_posteriors",
    "fs_uncertain_pairs",
    "fs_mutual_match",
    "multipass_blocking",
    "metablocking_prune",
    "snapshot_diff",
    "survivorship",
    "cluster_conflicts",
    "event_sessions",
    "funnel_conversion",
    "retention_cohorts",
    "leakage_safe_split",
    "domain_posterior_scores",
    "lm_fluency",
    "click_attribution_asof",
    "length_quantiles",
    "vocab_hll_registers",
    "token_cms_registers",
    "benchmark_bloom_bits",
    "length_histogram",
    "media_bytes_stats",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", FAST_QUERIES)
def test_query_matches_oracle(spark, con, name):
    sdf = _norm(entry_mod.queries()[name](spark, SF_DIR).toPandas())
    odf = _norm(con.execute(entry_mod.oracle_sql()[name]).df())
    assert list(sdf.columns) == list(odf.columns)
    assert len(sdf) == len(odf)
    pd.testing.assert_frame_equal(sdf, odf, check_dtype=False)


def test_registry_size():
    names, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert (len(names), len(oracles)) == (91, 90)
    assert set(names) - set(oracles) == {"er_clusters"}


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"url", "component"}
