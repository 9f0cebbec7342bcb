"""O4/G2/G3 exact-mode sparsifier: reference greedy semantics
(``special_partition.pyx:288-442``) per component."""

import pytest
from pyspark.sql import functions as F

from biomedical_entity_linking_spark.operators.sparsify import (
    _greedy_partition_component,
    _max_spanning_forest,
    greedy_entity_partition,
)


class TestSequentialKernel:
    def test_chain_splits_between_entities(self):
        # E1(1)-m(2)-m(3)-E4(4): the weakest middle edge drops (both sides
        # still reach an entity); the entity-adjacent edges must stay
        edges = [(1, 2, 0.9), (2, 3, 0.6), (3, 4, 0.85)]
        kept = _greedy_partition_component(edges, {1, 4}, directed=False)
        assert sorted((u, v) for u, v, _ in kept) == [(1, 2), (3, 4)]

    def test_mst_drops_cycle_edge_first(self):
        # triangle: MST pre-filter (reference :389-392) removes the weakest
        # cycle edge before the greedy walk
        edges = [(1, 2, 0.9), (1, 3, 0.8), (2, 3, 0.7)]
        kept = _greedy_partition_component(edges, {1}, directed=False)
        assert sorted((u, v) for u, v, _ in kept) == [(1, 2), (1, 3)]

    def test_entityless_component_keeps_spanning_forest(self):
        # no entity reachable -> every tentative drop is restored (:345-352)
        edges = [(10, 11, 0.5), (11, 12, 0.4), (10, 12, 0.3)]
        kept = _greedy_partition_component(edges, set(), directed=False)
        assert sorted((u, v) for u, v, _ in kept) == [(10, 11), (11, 12)]

    def test_entity_entity_edge_drops(self):
        # both endpoints ARE entities -> reachable trivially -> edge drops
        edges = [(1, 2, 0.99)]
        kept = _greedy_partition_component(edges, {1, 2}, directed=False)
        assert kept == []

    def test_directed_single_sided_check(self):
        # directed: only the row endpoint needs entity reachability (:339)
        # 2->1(E), 3->2: dropping 3->2 strands 3 -> restored
        edges = [(2, 1, 0.9), (3, 2, 0.8)]
        kept = _greedy_partition_component(edges, {1}, directed=True)
        assert sorted((u, v) for u, v, _ in kept) == [(2, 1), (3, 2)]

    def test_max_spanning_forest(self):
        edges = [(1, 2, 0.1), (2, 3, 0.9), (1, 3, 0.5)]
        kept = _max_spanning_forest(edges)
        assert sorted((u, v) for u, v, _ in kept) == [(1, 3), (2, 3)]


def test_distributed_partition_matches_kernel(spark):
    # two independent components processed in parallel; entity set spans both
    edges = spark.createDataFrame(
        [
            (1, 2, 0.9), (2, 3, 0.6), (3, 4, 0.85),   # comp A: E=1,4
            (10, 11, 0.7), (11, 12, 0.65),            # comp B: E=10
        ],
        "rid_a long, rid_b long, weight double",
    )
    ents = spark.createDataFrame([(1,), (4,), (10,)], "rid long")
    kept = sorted(
        (r["rid_a"], r["rid_b"])
        for r in greedy_entity_partition(edges, ents).collect()
    )
    # comp A splits between the entities; comp B: 11-12 drops? 12 would
    # lose its only entity path -> restored; 10-11 restored likewise
    assert kept == [(1, 2), (3, 4), (10, 11), (11, 12)]


def test_component_edge_cap(spark):
    edges = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8)], "rid_a long, rid_b long, weight double"
    )
    ents = spark.createDataFrame([(1,)], "rid long")
    with pytest.raises(Exception, match="sequential-partition cap"):
        greedy_entity_partition(
            edges, ents, max_component_edges=1
        ).collect()


def test_pipeline_exact_mode_equals_threshold_cc_without_entities(
    spark, tmp_path
):
    """With no entity set the greedy pass keeps each component's spanning
    forest — connectivity, and therefore clusters and pairwise F1, are
    IDENTICAL to threshold+CC (the equivalence check SURVEY §7 promised)."""
    from biomedical_entity_linking_spark.data.generator import (
        corpus_to_spark,
        generate_corpus,
    )
    from biomedical_entity_linking_spark.operators.clusters import (
        label_candidate_pairs,
        pairwise_prf,
    )
    from biomedical_entity_linking_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    pages, gold = corpus_to_spark(spark, generate_corpus(n_entities=60, seed=11))
    out_cc = run_pipeline(
        spark, pages, PipelineConfig(work_dir=str(tmp_path / "cc"))
    )
    out_gx = run_pipeline(
        spark,
        pages,
        PipelineConfig(work_dir=str(tmp_path / "gx"), sparsifier="greedy_exact"),
    )
    prf_cc = pairwise_prf(
        label_candidate_pairs(out_cc["pairs"], gold, out_cc["clusters"])
    )
    prf_gx = pairwise_prf(
        label_candidate_pairs(out_gx["pairs"], gold, out_gx["clusters"])
    )
    assert prf_gx == prf_cc
    assert prf_gx["f1"] >= 0.99
    # identical cluster readoff, not just identical F1
    cc = {r["url"]: r["component"] for r in out_cc["clusters"].collect()}
    gx = {r["url"]: r["component"] for r in out_gx["clusters"].collect()}
    assert cc == gx


def test_unknown_sparsifier_rejected_at_config(tmp_path):
    """A typo fails when the config is built — Spark-free — not after the
    extract/pairs/features/score stages have run and committed."""
    from biomedical_entity_linking_spark.pipeline import PipelineConfig

    with pytest.raises(ValueError, match="unknown sparsifier: 'bogus'"):
        PipelineConfig(work_dir=str(tmp_path), sparsifier="bogus")


def test_pipeline_exact_mode_splits_on_entities(spark, tmp_path):
    """With entity pages marked, the exact mode partitions a merged
    component so each side anchors on its own entity."""
    from biomedical_entity_linking_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    html = lambda t: f"<html><head><title>{t}</title></head><body>b</body></html>".encode()
    # one chain of near-identical titles spanning two entity pages
    rows = [
        ("https://a.ex.com/p", None, html("Alpha Beta Gamma Delta One"),
         "Alpha Beta Gamma Delta One\nb", "eng"),
        ("https://b.ex.com/p", None, html("Alpha Beta Gamma Delta Two"),
         "Alpha Beta Gamma Delta Two\nb", "eng"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    ents = spark.createDataFrame(
        [("https://a.ex.com/p",), ("https://b.ex.com/p",)], "url string"
    )
    out = run_pipeline(
        spark,
        pages,
        PipelineConfig(work_dir=str(tmp_path / "wd"), sparsifier="greedy_exact"),
        entity_urls=ents,
    )
    comps = {r["url"]: r["component"] for r in out["clusters"].collect()}
    # both pages are entities: the edge between them drops (both trivially
    # reach an entity — themselves), so each is its own singleton component
    assert comps["https://a.ex.com/p"] != comps["https://b.ex.com/p"]
    inv = out["counters"]["clusters"]["entity_invariants"]
    assert inv["clusters_wo_entity"] == 0


class TestGreedyPartitionProperties:
    """Property checks of the reference's invariants over random graphs
    (pure-Python kernel — no Spark in the loop)."""

    def _random_graph(self, seed):
        import numpy as np

        rng = np.random.RandomState(seed)
        n = rng.randint(3, 12)
        edges = []
        seen = set()
        for _ in range(rng.randint(1, 20)):
            u, v = rng.randint(0, n, size=2)
            if u == v:
                continue
            key = (min(u, v), max(u, v))
            if key in seen:
                continue
            seen.add(key)
            edges.append((int(key[0]), int(key[1]), float(rng.rand())))
        ents = {int(x) for x in rng.choice(n, size=rng.randint(0, n), replace=False)}
        return edges, ents

    @staticmethod
    def _reachable(start, adj):
        seen = {start}
        frontier = [start]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in seen:
                        seen.add(v)
                        nxt.append(v)
            frontier = nxt
        return seen

    def test_invariants_over_random_graphs(self):
        from biomedical_entity_linking_spark.operators.sparsify import (
            _greedy_partition_component,
        )

        for seed in range(200):
            edges, ents = self._random_graph(seed)
            kept = _greedy_partition_component(list(edges), ents, directed=False)
            in_set = {(u, v) for u, v, _ in edges}
            # 1. kept edges come from the input
            assert all((u, v) in in_set for u, v, _ in kept)
            adj_in: dict = {}
            for u, v, _ in edges:
                adj_in.setdefault(u, set()).add(v)
                adj_in.setdefault(v, set()).add(u)
            adj_out: dict = {}
            for u, v, _ in kept:
                adj_out.setdefault(u, set()).add(v)
                adj_out.setdefault(v, set()).add(u)
            nodes = set(adj_in)
            for x in nodes:
                before = bool(self._reachable(x, adj_in) & ents)
                after = bool(self._reachable(x, adj_out) & ents)
                # 2. entity reachability is preserved exactly
                assert before == after, (seed, x)
            # 3. the reference's post-hoc assertion: no kept component
            # holds more than one entity (eval_cluster_linking.py:254)
            comp_seen: set = set()
            for x in nodes:
                if x in comp_seen:
                    continue
                comp = self._reachable(x, adj_out)
                comp_seen |= comp
                assert len(comp & ents) <= 1, (seed, comp)

