"""K-core decomposition: iterative degree peeling as DataFrame algebra.

The k-core (the maximal subgraph where every vertex keeps ≥ k
neighbors INSIDE the subgraph) is the web-graph community/spam
primitive PageRank and label propagation sit beside: link farms and
tightly-knit boilerplate networks surface as deep cores, crawl-frontier
periphery peels off in the first rounds. The standard distributed
algorithm (Montresor et al. 2013 flavor) is exactly expressible
relationally: each round recomputes degrees over the surviving edge
relation and drops vertices below k — state SHRINKS monotonically,
the dual of connected components' label-spreading iteration.

Cross-engine exactness: everything is integer (degrees, rounds), so
the DuckDB oracle — the same rounds UNROLLED as chained CTEs, the
``pagerank`` precedent — matches bit-for-bit, including each removed
vertex's PEEL ROUND (the decomposition's onion layer, a richer output
than membership alone).

Bounded-by-construction iteration: a fixpoint loop over arbitrary data
can't be unrolled into a static oracle (peel depth on the pagerank
residue graph measured 61 rounds at one SF), so — like ``weburl.
_noisy_urls`` and ``linkgraph._LINK_EXPRS`` — the edge relation is
SYNTHESIZED deterministically from doc_id residues with a STRUCTURAL
depth bound: a dense core (every 16-residue block's first 6 ids,
wired by two index permutations i→i+1, i→i+5 → in-core degree 4 ≥ k=3
forever) plus per-block chain PAIRS of length 5 hanging off it, each
chain node holding degree 4 through its down-neighbors until the layer
below peels (tips start at degree 2 < 3). Peeling therefore consumes
EXACTLY one chain layer per round: 5 peel rounds + 1 empty confirm
round at ANY corpus size (tail-truncated chains only peel sooner) —
``N_ROUNDS = 6`` is an invariant of the generator, not a tuned
constant, and the pytest re-derives the fixpoint with a pure-Python
peeler at several corpus sizes. The value hash certifies the
ITERATION, not the generator.

Scale shape (100 TB): per round, one unpivoted degree count
(map-side-combinable — a hub's edge rows combine per partition before
the shuffle) folded LEFT onto the alive relation into a single
checkpointed degree-MARKED relation; peeled and surviving vertices are
then FILTERS of it, not joins (the naive peel pays an extra per-round
anti-join and two extra checkpoint barriers — together with pinning,
measured 309 s → 156 s at 8 cores / 10M docs,
``tools/kcore_campaign_r5_naive.log`` vs ``_pinned2.log`` at commit
``0d9120d``). Two semi-joins shrink the edge relation. Both per-round checkpoints are
``repartition``-pinned on
their join keys (the ``pagerank`` v2 move: an explicit-N repartition
survives the ``localCheckpoint`` as the LogicalRDD's partitioning, so
each round's sort-merge joins reuse the layout AND AQE cannot coalesce
the narrow 16-byte-row shuffles down to single-partition stages — the
failure mode that flattened the un-pinned plan to eff 0.255). On a
REAL web graph the loop runs to a counted fixpoint (the
``er_clusters`` pattern — its oracle is then rows-only) with
O(peel-depth) rounds; the per-round plan is identical.

Reference analog: none (the reference has no graph-peeling stage) —
this extends the link-graph tier (pagerank / triangles / label
propagation, SURVEY §2 'beyond-reference').
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

K_CORE = 3
N_ROUNDS = 6  # structural bound: 5 chain layers + 1 confirm (see module doc)

# core member: doc_id % 16 in 0..5; core index j <-> doc bijection
_CORE_J = "(doc_id div 16) * 6 + (doc_id % 16)"


def _core_doc(j_expr: str) -> str:
    return f"((({j_expr}) div 6) * 16 + (({j_expr}) % 6))"


def _kcore_edges(docs: DataFrame) -> DataFrame:
    """(a, b) undirected distinct edges of the bounded-peel onion graph."""
    nm = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.expr("CASE WHEN doc_id % 16 < 6 THEN 1 ELSE 0 END")).alias(
            "m_core"
        ),
    )
    with_nm = docs.select("doc_id").join(F.broadcast(nm))
    core = with_nm.filter(F.expr("doc_id % 16 < 6"))
    chain = with_nm.filter(F.expr("doc_id % 16 >= 6"))
    # chain coordinates: block g, chain c in {0,1}, position p in 0..4
    g, c, p = "(doc_id div 16)", "((doc_id % 16 - 6) div 5)", (
        "((doc_id % 16 - 6) % 5)"
    )
    parts = [
        core.select(
            F.col("doc_id").alias("src"),
            F.expr(_core_doc(f"({_CORE_J} + 1) % m_core")).alias("dst"),
            "n_docs",
        ),
        core.select(
            "doc_id",
            F.expr(_core_doc(f"({_CORE_J} + 5) % m_core")).alias("dst"),
            "n_docs",
        ).withColumnRenamed("doc_id", "src"),
        # same-chain down edge (p -> p+1) and cross-chain down edge
        chain.filter(F.expr(f"{p} <= 3")).select(
            F.col("doc_id").alias("src"),
            F.expr(f"{g} * 16 + 6 + {c} * 5 + {p} + 1").alias("dst"),
            "n_docs",
        ),
        chain.filter(F.expr(f"{p} <= 3")).select(
            F.col("doc_id").alias("src"),
            F.expr(f"{g} * 16 + 6 + (1 - {c}) * 5 + {p} + 1").alias("dst"),
            "n_docs",
        ),
        # anchor: chain head -> a core doc, spread by (2g + c) mod m
        chain.filter(F.expr(f"{p} = 0")).select(
            F.col("doc_id").alias("src"),
            F.expr(_core_doc(f"(2 * {g} + {c}) % m_core")).alias("dst"),
            "n_docs",
        ),
    ]
    e = parts[0]
    for part in parts[1:]:
        e = e.unionByName(part)
    return (
        e.filter("dst >= 0 AND dst < n_docs AND src != dst")
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


def _degrees(und: DataFrame) -> DataFrame:
    return (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )


def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, peel_round, core_deg): peel_round = 0 for
    3-core members (with their final in-core degree), else the 1-based
    round the vertex was peeled (core_deg 0)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_parts = spark.sparkContext.defaultParallelism * 2
    und = (
        _kcore_edges(docs)
        .repartition(n_parts, "a")
        .localCheckpoint(eager=True)
    )
    alive = (
        docs.select(F.col("doc_id").alias("node"))
        .repartition(n_parts, "node")
        .localCheckpoint(eager=True)
    )
    peeled_parts = []
    for r in range(1, N_ROUNDS + 1):
        # ONE checkpointed degree-marked relation per round; peeled and
        # surviving vertices are filters of it — the naive formulation's
        # per-round anti-join is redundant (module doc, scale shape)
        marked = (
            alive.join(_degrees(und), "node", "left")
            .select(
                "node", F.coalesce(F.col("deg"), F.lit(0)).alias("d")
            )
            .repartition(n_parts, "node")
            .localCheckpoint(eager=True)
        )
        peeled = marked.filter(F.col("d") < K_CORE)
        peeled_parts.append(
            peeled.select(
                "node", F.lit(r).cast("bigint").alias("peel_round")
            )
        )
        alive = marked.filter(F.col("d") >= K_CORE).select("node")
        # r6 note: a delta formulation (anti-join against the round's
        # peeled set — smaller join side, empty in the confirm round) was
        # measured head-to-head at sf0.1 and lost ~1.5 s of first-shot
        # wall to AQE re-planning of 12 adaptive joins; the r5 semi-join
        # update with the pinned repartition stays (OPTIMIZATION_r06.md).
        # A LAZY edge checkpoint (eager=False, materializing inside the
        # next round's marked job — one barrier per round) was also
        # measured and REJECTED: marginal at sf0.1 (~-0.5 s first shot,
        # tools/kcore_fuse_probe.py at commit 0d9120d) but slower at 10M
        # docs in a same-window A/B (min @8: 116 s eager vs 133 s fused,
        # worst fused leg 237 s; min @2: 284 vs 306 s —
        # tools/kcore_fuse_ab_r6.log at commit 0d9120d): the degree count
        # references the edge relation twice (a-leg + b-leg), and without an eager
        # materialization the semi-join update recomputes under each
        # reference at scale. The eager checkpoint stays.
        und = (
            und.join(alive, und.a == alive.node, "left_semi")
            .join(alive, und.b == alive.node, "left_semi")
            .repartition(n_parts, "a")
            .localCheckpoint(eager=True)
        )
    # left join + coalesce(deg, 0): totality even if the generator's
    # structural depth bound were ever violated (a survivor stranded with
    # zero incident edges would otherwise silently vanish from the output
    # — ADVICE r5); under the bound every survivor has deg ≥ K_CORE and
    # the rows are identical to the r5 inner join's.
    survivors = alive.join(_degrees(und), "node", "left").select(
        F.col("node").alias("doc_id"),
        F.lit(0).cast("bigint").alias("peel_round"),
        F.coalesce(F.col("deg"), F.lit(0)).alias("core_deg"),
    )
    removed = peeled_parts[0]
    for part in peeled_parts[1:]:
        removed = removed.unionByName(part)
    removed = removed.select(
        F.col("node").alias("doc_id"),
        "peel_round",
        F.lit(0).cast("bigint").alias("core_deg"),
    )
    return survivors.unionByName(removed).orderBy("doc_id")


def _round_sql(r: int) -> str:
    # AS MATERIALIZED: DuckDB inlines CTEs by default, and every round
    # references the previous round's relations more than once — without
    # materialization the 6-round unroll inlines EXPONENTIALLY many
    # parquet scans (observed: fd exhaustion before a single row)
    return f"""
d{r} AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT a AS node FROM e{r - 1} UNION ALL SELECT b FROM e{r - 1})
  GROUP BY node
),
p{r} AS MATERIALIZED (
  SELECT a{r - 1}.node FROM a{r - 1} LEFT JOIN d{r} USING (node)
  WHERE coalesce(deg, 0) < {K_CORE}
),
a{r} AS MATERIALIZED (
  SELECT node FROM a{r - 1} ANTI JOIN p{r} USING (node)
),
e{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{r - 1} e
  SEMI JOIN a{r} x ON e.a = x.node
  SEMI JOIN a{r} y ON e.b = y.node
)"""


def _kcore_sql() -> str:
    cj = "(doc_id // 16) * 6 + (doc_id % 16)"

    def cd(j: str) -> str:
        return f"((({j}) // 6) * 16 + (({j}) % 6))"

    g, c, p = "(doc_id // 16)", "((doc_id % 16 - 6) // 5)", (
        "((doc_id % 16 - 6) % 5)"
    )
    rounds = ",".join(_round_sql(r) for r in range(1, N_ROUNDS + 1))
    peel_union = "\n  UNION ALL\n".join(
        f"  SELECT node AS doc_id, CAST({r} AS BIGINT) AS peel_round,"
        f" CAST(0 AS BIGINT) AS core_deg FROM p{r}"
        for r in range(1, N_ROUNDS + 1)
    )
    return f"""
WITH nm AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN doc_id % 16 < 6 THEN 1 ELSE 0 END) AS BIGINT)
           AS m_core
  FROM documents
),
raw AS (
  SELECT doc_id AS src, {cd(f"({cj} + 1) % m_core")} AS dst, n_docs
  FROM documents, nm WHERE doc_id % 16 < 6
  UNION ALL
  SELECT doc_id, {cd(f"({cj} + 5) % m_core")}, n_docs
  FROM documents, nm WHERE doc_id % 16 < 6
  UNION ALL
  SELECT doc_id, {g} * 16 + 6 + {c} * 5 + {p} + 1, n_docs
  FROM documents, nm WHERE doc_id % 16 >= 6 AND {p} <= 3
  UNION ALL
  SELECT doc_id, {g} * 16 + 6 + (1 - {c}) * 5 + {p} + 1, n_docs
  FROM documents, nm WHERE doc_id % 16 >= 6 AND {p} <= 3
  UNION ALL
  SELECT doc_id, {cd(f"(2 * {g} + {c}) % m_core")}, n_docs
  FROM documents, nm WHERE doc_id % 16 >= 6 AND {p} = 0
),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE dst >= 0 AND dst < n_docs AND src != dst
),
a0 AS MATERIALIZED (SELECT doc_id AS node FROM documents),
{rounds}
SELECT doc_id, peel_round, core_deg FROM (
  SELECT a{N_ROUNDS}.node AS doc_id, CAST(0 AS BIGINT) AS peel_round,
         d.deg AS core_deg
  FROM a{N_ROUNDS}
  JOIN (SELECT node, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT a AS node FROM e{N_ROUNDS}
              UNION ALL SELECT b FROM e{N_ROUNDS})
        GROUP BY node) d USING (node)
  UNION ALL
{peel_union}
)
ORDER BY doc_id
"""


KCORE_DECOMPOSITION_SQL = _kcore_sql()
