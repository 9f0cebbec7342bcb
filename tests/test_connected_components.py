"""Large-star/small-star CC vs a union-find oracle (the reference's own
primitive is scipy.sparse.csgraph.connected_components,
``eval_cluster_linking.py:134``; scipy is absent in this sandbox so the
oracle is a 15-line union-find — semantically identical)."""

import numpy as np
import pytest

from biomedical_entity_linking_spark.operators.connected_components import (
    connected_components,
)


def union_find_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    # label = min member per component
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def _run(spark, edges):
    nodes = sorted({x for e in edges for x in e})
    df = spark.createDataFrame(edges, ["url_a", "url_b"])
    labels, iters = connected_components(df)
    got = {r["url"]: r["component"] for r in labels.collect()}
    expected = union_find_components(edges, nodes)
    assert got == expected, f"mismatch (iters={iters})"
    return iters


def test_chain(spark):
    edges = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)]
    _run(spark, edges)


def test_star(spark):
    edges = [("hub", f"leaf{i}") for i in range(10)]
    _run(spark, edges)


def test_two_components_one_bridge(spark):
    edges = [("a1", "a2"), ("a2", "a3"), ("b1", "b2"), ("b2", "b3"), ("a3", "b1")]
    _run(spark, edges)


def test_self_loop_and_duplicates(spark):
    edges = [("x", "x"), ("x", "y"), ("y", "x"), ("x", "y")]
    df_edges = [e for e in edges]
    _run(spark, df_edges)


def test_random_graph_matches_union_find(spark):
    rng = np.random.RandomState(7)
    n = 120
    edges = [
        (f"v{rng.randint(n):03d}", f"v{rng.randint(n):03d}") for _ in range(150)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    _run(spark, edges)


def test_empty_edges(spark):
    df = spark.createDataFrame([], "url_a string, url_b string")
    labels, iters = connected_components(df)
    assert labels.count() == 0


def test_exclude_vertices_anti_join(spark):
    """P11: edges touching blocklisted vertices are dropped
    (special_partition.pyx:373-375)."""
    from biomedical_entity_linking_spark.operators.connected_components import (
        exclude_vertices,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
        "url_a string, url_b string",
    )
    bl = spark.createDataFrame([("b",)], "url string")
    kept = sorted(
        (r["url_a"], r["url_b"]) for r in exclude_vertices(edges, bl).collect()
    )
    assert kept == [("c", "d"), ("d", "e")]


def test_nonconvergence_guard(spark):
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], ["url_a", "url_b"])
    with pytest.raises(RuntimeError):
        connected_components(edges, max_iterations=0)
