"""TF-adjusted FS posteriors vs a pure-Python rescoring chain."""

from collections import Counter

from biomedical_entity_linking_spark.operators.fellegi_sunter import (
    BLOCK_LEN,
    NORM_LEN,
    SCALE,
    _fit,
    _gamma_pairs,
    fs_tf_posteriors,
)


def _clamp_tf(cnt, n):
    return min(SCALE - 1, max(1, cnt * SCALE // n))


def _python_rescore(docs, lam, m, u):
    """docs: list of (doc_id, text, lang, source) → the operator's
    exact output, recomputed with plain dict/loop arithmetic."""
    n = len(docs)
    norm = {d[0]: d[1][:NORM_LEN].lower() for d in docs}
    tf_text = Counter(norm.values())
    tf_lang = Counter(d[2] for d in docs)
    tf_src = Counter(d[3] for d in docs)
    out = []
    by_block = {}
    for d in docs:
        by_block.setdefault(norm[d[0]][:BLOCK_LEN], []).append(d)
    for block in by_block.values():
        for i, a in enumerate(block):
            for b in block[i + 1:]:
                a_, b_ = (a, b) if a[0] < b[0] else (b, a)
                g = (
                    int(norm[a_[0]] == norm[b_[0]]),
                    int(a_[2] == b_[2]),
                    int(a_[3] == b_[3]),
                )
                tfv = (
                    _clamp_tf(tf_text[norm[a_[0]]], n),
                    _clamp_tf(tf_lang[a_[2]], n),
                    _clamp_tf(tf_src[a_[3]], n),
                )
                pm, pub, put = lam, SCALE - lam, SCALE - lam
                for k in range(3):
                    pm = pm * (m[k] if g[k] else SCALE - m[k]) // SCALE
                    pub = pub * (u[k] if g[k] else SCALE - u[k]) // SCALE
                    put = put * (tfv[k] if g[k] else SCALE - u[k]) // SCALE
                resp = pm * SCALE // max(1, pm + pub)
                resp_tf = pm * SCALE // max(1, pm + put)
                if resp_tf >= SCALE // 2:
                    out.append((a_[0], b_[0], *g, resp, resp_tf))
    return sorted(out)


def _mini_corpus():
    # doc 2j / 2j+1 are planted duplicates (full agreement → a clean
    # (1,1,1) match class for the EM); ten docs per block so plenty of
    # non-match pairs share the key; lang 'xx' is RARE (j % 8 == 3) so
    # the tf adjustment has both a common and a rare value to price
    docs = []
    for j in range(30):
        blk = f"shared block prefix {j % 6:04d}"  # 24 chars, 6 blocks
        text = f"{blk} pair number {j} content"
        lang = "xx" if j % 8 == 3 else "en"
        src = f"s{j % 3}"
        docs.append((2 * j, text, lang, src))
        docs.append((2 * j + 1, text, lang, src))
    return docs


def test_fs_tf_matches_python_rescore(spark, tmp_path):
    docs = _mini_corpus()
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string"
    ).write.parquet(f"{sf}/documents.parquet")
    vp = _gamma_pairs(spark, sf)
    lam, m, u, _ = _fit(
        vp.select("id_a", "id_b", "g_text", "g_lang", "g_source")
    )
    got = sorted(tuple(r) for r in fs_tf_posteriors(spark, sf).collect())
    assert got == _python_rescore(docs, lam, m, u)
    assert len(got) > 0


def test_fs_tf_direction_on_driver_corpus(spark):
    sf = "/root/testdata/sf0.001"
    rows = fs_tf_posteriors(spark, sf).collect()
    assert len(rows) > 0
    for r in rows:
        if r.g_text == 1:
            # text norms are near-unique → tf(text) < global u_text →
            # agreement on a rare value can only STRENGTHEN the match
            assert r.match_resp_tf_q >= r.match_resp_q
    # the adjustment must actually move scores somewhere
    assert any(r.match_resp_tf_q != r.match_resp_q for r in rows)
