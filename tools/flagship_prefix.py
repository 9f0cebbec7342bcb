"""Single-process parity oracle for the FULL flagship pipeline
(VERDICT r3 #7, extended through cc/clusters per VERDICT r4 #3).

``er_clusters`` is no-oracle in the driver gate by design (iterative
CC), but every stage — the ``extract``, ``pairs``, and ``score``
checkpoint tables, the CC labels, and the final ``clusters`` readoff —
is a pure function of the input pages. This module recomputes all five
with an INDEPENDENT single-process composition (pandas + DuckDB SQL:
global sorts instead of range-partitioned local ranks, one flat
self-join instead of the persisted/capped distributed plan, direct
kernel calls instead of Arrow-batched UDFs, union-find instead of the
distributed star-contraction loop) and compares rows + schema + value
hash against the pipeline's checkpoints, CORRECTNESS-style. The
string/embedding kernels themselves are shared pure functions — the
parity target is the distributed orchestration (repartitions, window
caps, join/dedup composition, prune masking), which is where a
distributed pipeline can silently diverge.

Used by ``tools/parity_check.py --flagship`` (entries ``flagship:*``).
"""

from __future__ import annotations

import re
import tempfile

import duckdb
import numpy as np
import pandas as pd

_DOMAIN_RE = re.compile(r"^[a-z][a-z0-9+.-]*://([^/:?#]+)")
_MIRROR_RE = re.compile(r"^(www\.|m\.|amp\.|mobile\.)+")


def _norm_domain(url: str) -> str:
    m = _DOMAIN_RE.match(url.lower())
    host = m.group(1).lower() if m else ""
    host = host.split(":")[0] if ":" in host else host
    return _MIRROR_RE.sub("", host)


def _norm_title(title: str) -> str:
    # Java \p{L}\p{N} ≈ str.isalnum (exact on this corpus's ASCII titles)
    t = "".join(ch if ch.isalnum() else " " for ch in title.lower())
    return " ".join(t.split())


def oracle_extract(pages: pd.DataFrame, rid_map: dict[str, int]) -> pd.DataFrame:
    """pages (url, warc_ts, html, text, lang) → the extract table, single
    process: lang filter, latest-crawl-wins, pure extraction kernels.
    ``rid_map`` (url → rid) comes from the pipeline's own table — rid is
    Spark's xxhash64 and is validated for injectivity, not recomputed."""
    from biomedical_entity_linking_spark.extract import _extract_one

    df = pages[pages["lang"] == "eng"]
    # latest warc_ts per url (generator guarantees distinct ts per url)
    df = df.sort_values(["url", "warc_ts"], ascending=[True, False])
    assert not df.duplicated(["url", "warc_ts"]).any(), "ts tie: ordering ambiguous"
    df = df.drop_duplicates("url", keep="first").copy()

    pairs = [_extract_one(bytes(h) if h is not None else None)
             for h in df["html"]]
    df["extracted_text"] = [text for text, _ in pairs]
    df["title"] = [title for _, title in pairs]
    df["norm_domain"] = df["url"].map(_norm_domain)
    df["norm_title"] = df["title"].map(_norm_title)
    df["rid"] = df["url"].map(rid_map)
    assert df["rid"].notna().all(), "pipeline extract table is missing urls"
    return df[
        ["url", "rid", "warc_ts", "extracted_text", "title", "norm_domain",
         "norm_title"]
    ].reset_index(drop=True)


def oracle_keys(extract: pd.DataFrame, *, num_perm=128, bands=16, rows=8,
                snm_window=2) -> pd.DataFrame:
    """extract → (rid, key_kind, key): LSH band keys via the shared MinHash
    kernel + sorted-neighborhood bucket keys from one GLOBAL sort (the
    distributed side computes the same rank with range partitioning +
    per-partition offsets)."""
    from biomedical_entity_linking_spark.functions.shingles import (
        MinHasher,
        band_keys,
    )

    hasher = MinHasher(num_perm=num_perm, ngram=3)
    out = []
    for rid, title in zip(extract["rid"], extract["norm_title"]):
        if not title.strip():
            continue  # zero-shingle guard
        sig = hasher.signature_for(title)
        for k in band_keys([int(v) for v in sig], bands, rows):
            out.append((rid, "lsh", k))
    snm = extract.sort_values(["norm_domain", "norm_title", "rid"]).reset_index(
        drop=True
    )
    for rank, rid in enumerate(snm["rid"]):
        bucket = rank // snm_window
        out.append((rid, "snm", bucket))
        out.append((rid, "snm", bucket + 1))
    return pd.DataFrame(out, columns=["rid", "key_kind", "key"])


def oracle_pairs(keys: pd.DataFrame, max_block_size: int = 64) -> pd.DataFrame:
    """keys → distinct candidate pairs, in DuckDB SQL: per-key cap on the
    64 smallest rids, self-join rid_a < rid_b, global dedup — one flat
    query vs the pipeline's persisted/size-filtered two-phase plan."""
    con = duckdb.connect()
    con.register("keys", keys)
    return con.execute(f"""
        WITH capped AS (
          SELECT key_kind, key, rid
          FROM (
            SELECT *, row_number() OVER (
                     PARTITION BY key_kind, key ORDER BY rid) AS rn
            FROM keys
          ) WHERE rn <= {max_block_size}
        )
        SELECT DISTINCT a.rid AS rid_a, b.rid AS rid_b
        FROM capped a JOIN capped b
          ON a.key_kind = b.key_kind AND a.key = b.key AND a.rid < b.rid
        ORDER BY rid_a, rid_b
    """).df()


def oracle_score(
    pairs: pd.DataFrame,
    extract: pd.DataFrame,
    *,
    weights=None,
    threshold: float = 0.82,
    dim: int = 64,
) -> pd.DataFrame:
    """pairs × extract → the score table (non-pruned rows only), via
    direct kernel calls: int8-quantized embeddings, float64 cosine, the
    cosine upper-bound prune, jw/token-set-lev on survivors."""
    from biomedical_entity_linking_spark.functions.embeddings import (
        BulkTokenCache,
        embed_batch,
    )
    from biomedical_entity_linking_spark.functions.strings import (
        jaro_winkler_batch,
        token_set_lev_batch,
    )

    w = weights or {"jw": 0.30, "tslev": 0.25, "cosine": 0.45}
    cache = BulkTokenCache(dim)
    vecs = embed_batch(extract["extracted_text"], dim, cache, as_numpy=True)
    q = np.clip(np.round(vecs * 127), -127, 127).astype(np.int8)
    emb = dict(zip(extract["rid"], q))
    title = dict(zip(extract["rid"], extract["norm_title"]))

    a = np.stack([emb[r] for r in pairs["rid_a"]]).astype(np.float64)
    b = np.stack([emb[r] for r in pairs["rid_b"]]).astype(np.float64)
    num = (a * b).sum(axis=1)
    den = np.sqrt((a * a).sum(axis=1)) * np.sqrt((b * b).sum(axis=1))
    cosine = np.where(den > 0, num / np.where(den > 0, den, 1.0), 0.0)

    cos_min = (threshold - w["jw"] - w["tslev"]) / w["cosine"]
    survivor = cosine >= cos_min
    ta = pd.Series([title[r] for r in pairs["rid_a"]])
    tb = pd.Series([title[r] for r in pairs["rid_b"]])
    jw = np.asarray(jaro_winkler_batch(ta, tb), dtype=np.float64)
    ts = np.asarray(token_set_lev_batch(ta, tb), dtype=np.float64)
    score = jw * w["jw"] + ts * w["tslev"] + cosine * w["cosine"]
    out = pd.DataFrame(
        {
            "rid_a": pairs["rid_a"],
            "rid_b": pairs["rid_b"],
            "jw": jw,
            "tslev": ts,
            "cosine": cosine,
            "pruned": ~survivor,
            "score": score,
        }
    )
    return out[survivor].reset_index(drop=True)


def oracle_cc(score: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """score → (rid, comp_rid) labels for every edge-touched node, via a
    plain single-process union-find with a min-rid readoff — independent
    of the distributed star-contraction loop. Mirrors the reference's own
    CC primitive (``eval_cluster_linking.py:130-146``: build the pair
    graph, take ``nx.connected_components``); labels cover exactly the
    nodes that appear in a thresholded edge, matching the distributed
    operator's contract."""
    edges = score[score["score"] >= threshold]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(edges["rid_a"], edges["rid_b"]):
        a, b = int(a), int(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return pd.DataFrame(
        sorted((n, comp_min[find(n)]) for n in parent),
        columns=["rid", "comp_rid"],
    )


def oracle_clusters(extract: pd.DataFrame, cc: pd.DataFrame) -> pd.DataFrame:
    """extract + cc labels → the final clusters table (url, component):
    singletons label themselves, anchor = the component's min rid, and the
    component label is the anchor's url — the pipeline's G5 readoff,
    recomputed with dict lookups instead of joins."""
    comp_of = dict(zip(cc["rid"], cc["comp_rid"]))
    url_of = dict(zip(extract["rid"], extract["url"]))
    rows = [
        (url, url_of[comp_of.get(int(rid), int(rid))])
        for url, rid in zip(extract["url"], extract["rid"])
    ]
    return pd.DataFrame(rows, columns=["url", "component"])


def run(spark, n_entities: int = 400, seed: int = 7):
    """Run the pipeline, recompute the prefix single-process, yield
    (name, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) triples."""
    import glob

    from biomedical_entity_linking_spark.data.generator import (
        corpus_to_spark,
        generate_corpus,
    )
    from biomedical_entity_linking_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    corpus = generate_corpus(n_entities=n_entities, seed=seed)
    pages_sdf, _ = corpus_to_spark(spark, corpus)
    wd = tempfile.mkdtemp(prefix="flagship_prefix_")
    cfg = PipelineConfig(work_dir=wd)
    run_pipeline(spark, pages_sdf, cfg)

    def read_ckpt(stage: str) -> pd.DataFrame:
        files = sorted(glob.glob(f"{wd}/{stage}/*.parquet"))
        return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)

    got_extract = read_ckpt("extract")
    rid_map = dict(zip(got_extract["url"], got_extract["rid"]))
    assert len(set(rid_map.values())) == len(rid_map), "rid collision"
    want_extract = oracle_extract(corpus.pages, rid_map)

    keys = oracle_keys(
        want_extract,
        num_perm=cfg.num_perm,
        bands=cfg.bands,
        rows=cfg.rows_per_band,
        snm_window=cfg.snm_window,
    )
    want_pairs = oracle_pairs(keys, max_block_size=cfg.max_block_size)
    got_pairs = read_ckpt("pairs")[["rid_a", "rid_b"]]

    want_score = oracle_score(
        want_pairs, want_extract, weights=cfg.weights, threshold=cfg.threshold
    )
    got_score = read_ckpt("score")[
        ["rid_a", "rid_b", "jw", "tslev", "cosine", "pruned", "score"]
    ]
    yield "flagship:extract", got_extract, want_extract
    yield "flagship:pairs", got_pairs, want_pairs
    yield "flagship:score", got_score, want_score

    # --- cc: the distributed star-contraction labels over the SAME edge
    # set (threshold filter over the score checkpoint — the pipeline's
    # derived view) vs a single-process union-find (VERDICT r4 #3)
    from biomedical_entity_linking_spark.operators.connected_components import (
        connected_components,
    )
    from biomedical_entity_linking_spark.operators.scoring import (
        threshold_edges,
    )

    score_sdf = spark.read.parquet(f"{wd}/score")
    labels, _ = connected_components(
        threshold_edges(score_sdf, cfg.threshold), src="rid_a", dst="rid_b"
    )
    got_cc = (
        labels.toPandas()
        .rename(columns={"url": "rid", "component": "comp_rid"})
        .astype({"rid": "int64", "comp_rid": "int64"})
    )
    want_cc = oracle_cc(want_score, cfg.threshold)
    yield "flagship:cc", got_cc, want_cc

    got_clusters = read_ckpt("clusters")[["url", "component"]]
    want_clusters = oracle_clusters(want_extract, want_cc)
    yield "flagship:clusters", got_clusters, want_clusters
