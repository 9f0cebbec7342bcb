"""Stage 4: transitive clustering — large-star / small-star connected
components as iterative DataFrame self-joins.

Reference semantics: the cluster-linking partitioner takes the joint k-NN
graph, sparsifies it, and reads entity assignments off connected components
computed by ``scipy.sparse.csgraph.connected_components``
(``bioel/bioel/models/arboel/biencoder/model/eval_cluster_linking.py:
90-146``). SciPy's BFS is a single-machine algorithm; the distributed
re-expression (named by the north rule) is the alternating large-star /
small-star iteration of Kiveris et al., "Connected Components in MapReduce
and Beyond" (SOCC 2014) — each round is a groupBy-min + join, i.e. pure
shuffle algebra, converging in O(log^2 n) rounds (in practice < 10).

  large-star: every node points its *larger* neighbors at the minimum of its
              closed neighborhood;
  small-star: every node points its *smaller-or-equal* neighbors (and
              itself) at that minimum.

Node ids are kept as their natural type (url strings here): component label
= lexicographically smallest member, which doubles as the deterministic
canonical-representative readoff (G5 analog — the reference picks the
lowest-index entity of each cluster, ``eval_cluster_linking.py:149-257``).
At extreme scale, swap strings for dense longs (zipWithIndex-style) to
shrink shuffle width — semantics unchanged.

Skew note: after a few rounds every component collapses onto its root, so
the root's groupBy key is as hot as the largest component. Caps on block
size upstream bound component fan-in; AQE skew-join splitting handles the
rest. Each iteration checkpoints (localCheckpoint) to truncate lineage —
without it the plan doubles every round.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected canonical form: (src < dst), no self-loops, distinct."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) undirected → for each u: m = min(N(u) ∪ {u}); emit (v, m) ∀ v>u."""
    both = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = both.groupBy("src").agg(F.min("dst").alias("min_nbr"))
    mins = mins.select(
        "src", F.least("min_nbr", "src").alias("m")
    )
    return (
        both.filter(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct edges large→small; for each u: m = min(N_small(u) ∪ {u});
    emit (v, m) for v ∈ N_small(u) ∪ {u}, v ≠ m."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = directed.groupBy("src").agg(F.min("dst").alias("m"))
    to_small = (
        directed.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edges = mins.select(F.col("src"), F.col("m").alias("dst"))
    return to_small.unionAll(self_edges).filter(F.col("src") != F.col("dst"))


def _local_contract(edges: DataFrame) -> DataFrame:
    """Per-partition union-find contraction (the local-contraction
    optimization of Kiveris et al. §3.3): each task replaces ITS partition's
    edge set with an equivalent star forest (partition-local component
    minimum → member). Global connectivity is unchanged — a task's forest
    spans exactly what its edges spanned — but chains collapse to depth 1
    within every partition, so the global star loop starts within 1-2
    rounds of convergence instead of O(log² n). One narrow mapInPandas
    pass, no shuffle; output ≤ one edge per distinct node per partition.
    """
    dt = dict(edges.dtypes)
    schema = f"src {dt['src']}, dst {dt['dst']}"

    def contract(batches):
        parent: dict = {}
        nodes: set = set()

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for u, v in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                nodes.add(u)
                nodes.add(v)
                ru, rv = find(u), find(v)
                if ru == rv:
                    continue
                # attach the larger root under the smaller: the final root
                # of every set is its minimum (the star center downstream
                # rounds expect)
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        out = [(find(x), x) for x in nodes]
        yield pd.DataFrame(
            [(r, x) for r, x in out if r != x], columns=["src", "dst"]
        )

    return edges.mapInPandas(contract, schema)


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # bit_xor is overflow-free under ANSI mode (Spark 4 default), unlike sum
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    src: str = "url_a",
    dst: str = "url_b",
) -> tuple[DataFrame, int]:
    """edges(src, dst) → labels(url, component) plus the iteration count.

    ``component`` is the minimum node id of the component. Raises if the
    iteration hits ``max_iterations`` without converging (bounded-iteration
    guard for adversarial chain topologies — SURVEY §7(b)).
    """
    # local contraction first: one shuffle-free pass collapses every chain
    # that lives inside a partition, so the star loop below usually needs
    # 1-2 rounds + confirmation instead of 4-5 (each round is several tiny
    # barrier-latency-bound shuffles — pure fixed cost at any core count)
    # lazy checkpoint fused into the first checksum job (same pattern as
    # the loop): one Spark job to materialize + fingerprint the contracted
    # edge set instead of two
    cur = _canonical(
        _local_contract(
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        )
    ).localCheckpoint(eager=False)
    prev_sig = _checksum(cur)
    # shuffle width stays the session's, which AQE coalesces to each
    # round's tiny shuffles (session.get_spark); never set it here — the
    # session conf is shared with the pipeline's async checkpoint writers
    # planning on other threads
    iterations = 0
    for _ in range(max_iterations):
        iterations += 1
        # lazy localCheckpoint: the checksum aggregation is the action
        # that materializes it — one Spark job per iteration instead of
        # two (eager checkpoint + checksum)
        cur = _canonical(_small_star(_large_star(cur))).localCheckpoint(
            eager=False
        )
        sig = _checksum(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} iterations"
        )

    # At convergence edges form stars rooted at the component minimum
    # (canonicalization stores them as (root, member)). Direction-agnostic
    # readoff: label = min over the closed neighborhood — members get the
    # root, the root gets itself.
    members = (
        cur.select(F.col("src").alias("url"), F.col("dst").alias("component"))
        .unionAll(cur.select(F.col("dst").alias("url"), F.col("src").alias("component")))
        .unionAll(cur.select(F.col("src").alias("url"), F.col("src").alias("component")))
        .unionAll(cur.select(F.col("dst").alias("url"), F.col("dst").alias("component")))
        .groupBy("url")
        .agg(F.min("component").alias("component"))
    )
    return members, iterations


def exclude_vertices(
    edges: DataFrame,
    blocklist: DataFrame,
    src: str = "url_a",
    dst: str = "url_b",
    vertex_col: str = "url",
) -> DataFrame:
    """P11: drop edges touching any excluded vertex (reference: the
    ``special_partition`` exclusion set, ``special_partition.pyx:373-375``)
    — two left-anti joins, the distributed form of the Cython seen-set."""
    bl = blocklist.select(F.col(vertex_col).alias("_x"))
    return (
        edges.join(bl, edges[src] == F.col("_x"), "left_anti")
        .join(bl, edges[dst] == F.col("_x"), "left_anti")
    )

