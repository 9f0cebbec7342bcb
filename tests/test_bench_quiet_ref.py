"""bench.py window-noise self-annotation (VERDICT r4 #2): the committed
quiet reference must load, and the outlier rule must flag exactly the
shared-box artifacts it was built for (r4's 4.5x top_revenue_orders)
while passing ordinary window spread."""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402


def test_quiet_ref_loads_and_covers_all_bench_queries():
    ref = bench._load_quiet_ref()
    assert ref, "tools/bench_quiet_ref.json missing or empty"
    import __spark_entry__ as entry_mod

    benched = set(bench._bench_queries(entry_mod)) | {"er_pipeline"}
    missing = benched - set(ref)
    assert not missing, f"quiet ref lacks queries: {sorted(missing)}"
    assert all(v > 0 for v in ref.values())


def test_outlier_rule_flags_r4_artifacts_not_spread():
    ref = bench._load_quiet_ref()
    # the r4 driver artifact the rule exists for: 1.34s query read 5.95s
    assert bench._is_outlier(5.95, ref["top_revenue_orders"])
    # ordinary ±35% window spread must NOT trigger a retry
    assert not bench._is_outlier(ref["er_pipeline"] * 1.35,
                                 ref["er_pipeline"])
    # no reference -> never an outlier (fresh queries added mid-round)
    assert not bench._is_outlier(999.0, None)


def test_quiet_ref_is_min_across_sources():
    with open(os.path.join(ROOT, "tools", "bench_quiet_ref.json")) as f:
        doc = json.load(f)
    assert doc["sources"], "ref must record its source runs"
    # spot-check against one driver artifact: the ref can never exceed it
    with open(os.path.join(ROOT, "BENCH_r04.json")) as f:
        r4 = json.load(f)["parsed"]["queries"]
    for name, sec in r4.items():
        if name in doc["queries"]:
            assert doc["queries"][name] <= sec + 1e-9
    # the committed refs are exactly the per-query min over the listed
    # sources (driver artifacts at the root, extra runs under tools/)
    from tools.build_quiet_ref import _queries_from

    ref: dict[str, float] = {}
    for src in doc["sources"]:
        path = os.path.join(ROOT, src)
        if not os.path.exists(path):
            path = os.path.join(ROOT, "tools", src)
        qs = _queries_from(path)
        assert qs, f"source {src} holds no bench run"
        for name, sec in qs.items():
            ref[name] = min(sec, ref.get(name, sec))
    assert ref == doc["queries"]
