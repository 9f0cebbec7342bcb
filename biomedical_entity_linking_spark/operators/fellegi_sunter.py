"""Fellegi–Sunter probabilistic record linkage with UNSUPERVISED
EM-estimated match weights — the classical ER model (Fellegi & Sunter
1969; the public Splink engine is the modern deployment of exactly this
construction) expressed Spark-first.

The reference scores candidate pairs with trained neural kernels
(``bioel/bioel/models/`` biencoder/crossencoder); the Fellegi–Sunter
model is the statistics-first sibling every production linkage stack
still runs where labels don't exist: compare each candidate pair on K
discrete fields (the comparison vector γ), assume field agreements are
independent given the latent match/non-match class, and estimate — with
NO labels, by EM over the γ-pattern counts — the match prevalence λ and
the per-field agreement probabilities m_k = P(agree | match), u_k =
P(agree | non-match). The posterior P(match | γ) then scores every pair
via Bayes.

Scale shape (the whole point at 10^12 rows): the DATA-scale work is one
blocked self-join producing comparison vectors and ONE map-side-
combinable count aggregation onto at most 2^K rows (K = 3 here → ≤ 8
groups; hot blocking keys combine per-partition before the shuffle
exactly like the A6 count family). EM itself runs over those ≤ 2^K
aggregated counts — state O(2^K), INDEPENDENT of corpus size — so
collecting the pattern table to the driver is bounded by the comparison
-space cardinality, not the data (same sanctioned move as chi²'s tiny
crosstab, ``metrics.py``). Per-pair posteriors come back as a ≤ 2^K-row
broadcast joined onto the pair relation: no second scoring pass, no
per-pair Python anywhere.

Cross-engine exactness: EM is float math in every textbook; floats are
unhashable across engines (sum-order, libm). Here every probability is
an INTEGER in micro-units (``SCALE = 10^9``) and every E/M step is
integer multiply-shift arithmetic — ``pm = pm·m_k div SCALE`` chained in
a FIXED field order, responsibilities ``resp = pm·SCALE div (pm+pu)``,
M-step ratios by integer division, parameters clamped to [1, SCALE−1]
(the clamp also removes the degenerate-fixpoint divide-by-zero). Sums
in the M-step are sums of integer products — exact and order-
independent — so after any number of iterations both engines hold
bit-identical parameters. The deliberate cost is ≤ 1 micro-unit of
truncation per multiply, identical on both sides (same fixed-point
trade as ``linkgraph.pagerank``'s RANK_SCALE mass). The Spark side runs
the recurrence in arbitrary-precision Python ints over the collected
pattern rows; the oracle unrolls the SAME recurrence as DuckDB CTEs in
HUGEINT (int128) — intermediate M-step products reach counts·SCALE²
which is why the oracle widens; final outputs are cast back to BIGINT.

Comparison fields over the ``documents`` table (doc_id, text, lang,
source): γ_text = 96-char-normalized-text equality (the planted
exact-dup groups make this the match signal), γ_lang = language
equality, γ_source = source equality. Candidate pairs block on the
24-char normalized prefix — the skew-measured key from
``incremental.py`` (BLOCK_LEN 12 put 3.2M of 3.8M pairs under the one
viral-title block at 1M docs; 24 reaches into the first body word).

Shared relations: every query here (and ``ml_features.pair_features``)
reads ONE blocked self-join, ``blocked_pairs`` (oracle:
``blocked_pairs_sql``); the four pair-level queries read ONE
posterior-edges relation, ``_posterior_edges`` — the blocked γ pairs,
materialized by a lazy ``localCheckpoint``, joined to the ≤ 2^K-row
per-pattern posterior broadcast (oracle: the ``edges`` CTE).

Outputs:
* ``fs_em_weights`` — the estimated MODEL: one row per observed
  γ-pattern with its pair count and posterior match responsibility,
  plus the converged global parameters (λ, m_k, u_k) in micro-units.
* ``fs_pair_posteriors`` — the LINKER: every candidate pair whose
  posterior P(match|γ) ≥ 1/2, i.e. the edge list a downstream
  connected-components pass would cluster (``connected_components``).
* ``fs_uncertain_pairs`` — the ``FS_LABEL_BUDGET`` pairs whose
  posterior sits closest to 1/2 (uncertainty-sampling active learning).
* ``fs_mutual_match`` — the mutual-best 1:1 pairs of the scored
  candidate graph (one handshake round, ``mutual_best_over``).
* ``fs_tf_posteriors`` — the posterior with Splink-style
  term-frequency adjustment of the u-chain, kept where it is ≥ 1/2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

NORM_LEN = 96  # comparison field: 96-char normalized text — wider than
# the 24-char BLOCK key so γ_text genuinely VARIES within blocks (a
# comparison field the blocking key saturates carries no information:
# EM would clamp its m = u and learn nothing from it)
BLOCK_LEN = 24
SCALE = 1_000_000_000  # probability micro-units (10^9)
N_ITER = 10
N_FIELDS = 3
_INIT_LAM = SCALE // 10
_INIT_M = 9 * SCALE // 10
_INIT_U = SCALE // 10
# γ in the FIXED field order every chain runs in: (γ column, compared value)
FIELDS = (("g_text", "norm"), ("g_lang", "lang"), ("g_source", "source"))
G_COLS = tuple(g for g, _ in FIELDS)


# ---------------------------------------------------------------------------
# the blocked comparison relation (shared with ml_features)
# ---------------------------------------------------------------------------


def norm_docs(docs: DataFrame, *cols: str) -> DataFrame:
    """(doc_id, text, *cols) → (doc_id, *cols, norm): ``norm`` is the
    NORM_LEN-char lowercased text every comparison and block key reads."""
    return docs.select(
        "doc_id", *cols, F.lower(F.substring("text", 1, NORM_LEN)).alias("norm")
    )


def blocked_pairs(docs: DataFrame) -> DataFrame:
    """ANY (doc_id, norm, ...) relation → its blocked candidate pairs:
    every (id_a < id_b) whose ``norm`` shares the BLOCK_LEN prefix, one
    block-key equi-join, each other column carried per side as
    ``{c}_a`` / ``{c}_b``."""
    cols = [c for c in docs.columns if c != "doc_id"]

    def side(s: str) -> DataFrame:
        return docs.select(
            F.col("doc_id").alias(f"id_{s}"),
            F.substring("norm", 1, BLOCK_LEN).alias("bk"),
            *(F.col(c).alias(f"{c}_{s}") for c in cols),
        )

    return (
        side("a")
        .join(side("b"), "bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .drop("bk")
    )


def blocked_pairs_sql(*cols: str, **derived: str) -> str:
    """WITH-clause body mirroring ``norm_docs`` → ``blocked_pairs`` over
    ``documents``: ``docs`` (doc_id, *cols, norm) and ``bpairs``, carrying
    norm, every col and every ``derived`` per-doc expression (over
    ``norm``) per side as ``{c}_a`` / ``{c}_b``."""
    extra = "".join(f", {e} AS {k}" for k, e in derived.items())
    carried = ",\n         ".join(
        f"a.{c} AS {c}_a, b.{c} AS {c}_b" for c in ("norm", *cols, *derived)
    )
    return f"""docs AS (
  SELECT doc_id, {", ".join(cols)}, lower(substr(text, 1, {NORM_LEN})) AS norm
  FROM documents
),
sides AS (
  SELECT *, substr(norm, 1, {BLOCK_LEN}) AS bk{extra} FROM docs
),
bpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         {carried}
  FROM sides a JOIN sides b ON a.bk = b.bk AND a.doc_id < b.doc_id
)"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return norm_docs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "lang", "source"
    )


def _gamma_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked candidate pairs with their binary comparison vector γ and
    the A side's compared values (the tf lookup keys)."""
    return blocked_pairs(_docs(spark, sf_dir)).select(
        "id_a",
        "id_b",
        *(f"{c}_a" for _, c in FIELDS),
        *(
            (F.col(f"{c}_a") == F.col(f"{c}_b")).cast("int").alias(g)
            for g, c in FIELDS
        ),
    )


def _pattern_counts(gamma: DataFrame) -> DataFrame:
    return gamma.groupBy(*G_COLS).agg(F.count("*").alias("n_pairs"))


# ---------------------------------------------------------------------------
# EM over the ≤ 2^K pattern counts: exact integer arithmetic
# ---------------------------------------------------------------------------


def _clamp(x: int) -> int:
    return min(SCALE - 1, max(1, x))


def _chain(g: tuple[int, ...], p: int, probs: list[int]) -> int:
    """p · Π_k P(γ_k | class): the multiply-shift chain in the FIXED
    field order (``_pm_expr`` is its SQL text)."""
    for k in range(N_FIELDS):
        p = p * (probs[k] if g[k] else SCALE - probs[k]) // SCALE
    return p


def _e_step(
    patterns: list[tuple[tuple[int, ...], int]],
    lam: int,
    m: list[int],
    u: list[int],
) -> list[tuple[tuple[int, ...], int, int]]:
    """(γ, n, resp) rows — fixed field order, integer multiply-shift."""
    rows = []
    for g, n in patterns:
        pm, pu = _chain(g, lam, m), _chain(g, SCALE - lam, u)
        rows.append((g, n, pm * SCALE // max(1, pm + pu)))
    return rows


def _em(
    patterns: list[tuple[tuple[int, ...], int]],
) -> tuple[int, list[int], list[int], list[tuple[tuple[int, ...], int, int]]]:
    """N_ITER EM iterations + one final E-step; all exact integer math.

    Returns (λ, m[], u[], final (γ, n, resp) rows), every value in
    micro-units. The recurrence is mirrored verbatim by the unrolled
    CTE chain in ``_em_sql`` — any edit here must edit both.
    """
    lam, m, u = _INIT_LAM, [_INIT_M] * N_FIELDS, [_INIT_U] * N_FIELDS
    for _ in range(N_ITER):
        rows = _e_step(patterns, lam, m, u)
        tot = sum(n for _, n, _ in rows)
        sm = max(1, sum(n * r for _, n, r in rows))
        su = max(1, sum(n * (SCALE - r) for _, n, r in rows))
        lam = _clamp(sm // tot)
        m = [
            _clamp(
                sum(n * r for g, n, r in rows if g[k]) * SCALE // sm
            )
            for k in range(N_FIELDS)
        ]
        u = [
            _clamp(
                sum(n * (SCALE - r) for g, n, r in rows if g[k])
                * SCALE
                // su
            )
            for k in range(N_FIELDS)
        ]
    return lam, m, u, _e_step(patterns, lam, m, u)


def _fit(gamma: DataFrame):
    pat_rows = _pattern_counts(gamma).collect()  # ≤ 2^K rows, bounded
    # by the comparison-space cardinality, never by the data
    patterns = sorted(
        (tuple(r[g] for g in G_COLS), r["n_pairs"]) for r in pat_rows
    )
    return _em(patterns)


_G_FIELDS = [T.StructField(g, T.IntegerType(), False) for g in G_COLS]
_MODEL_SCHEMA = T.StructType(
    [
        *_G_FIELDS,
        *(
            T.StructField(c, T.LongType(), False)
            for c in (
                "n_pairs", "match_resp_q", "lambda_q",
                "m_text_q", "u_text_q", "m_lang_q", "u_lang_q",
                "m_source_q", "u_source_q",
            )
        ),
    ]
)
_RESP_SCHEMA = T.StructType(
    [
        *_G_FIELDS,
        T.StructField("match_resp_q", T.LongType(), False),
        T.StructField("pm_q", T.LongType(), False),
    ]
)


def _posterior_edges(spark: SparkSession, sf_dir: str, *carry: str):
    """→ ((λ, m, u), edges): every blocked candidate pair (id_a, id_b,
    *carry, γ) joined to its pattern's posterior ``match_resp_q`` and
    m-chain numerator ``pm_q`` = λ·Π P(γ_k | match) — a ≤ 2^K-row
    broadcast, so the pairs are scored by ONE hash lookup, no re-scoring
    pass, no driver round-trip of pair rows.

    The γ relation is read twice (the EM's pattern count, then this
    join), so it is materialized by a lazy ``localCheckpoint``: the count
    job fills it, the join reads it back, the blocked self-join runs
    once, and nothing enters the session's cache manager — one query
    never warms another."""
    gamma = (
        _gamma_pairs(spark, sf_dir)
        .select("id_a", "id_b", *carry, *G_COLS)
        .localCheckpoint(eager=False)
    )
    lam, m, u, rows = _fit(gamma)
    resp_rel = spark.createDataFrame(
        [(*g, resp, _chain(g, lam, m)) for g, _, resp in rows], _RESP_SCHEMA
    )
    return (lam, m, u), gamma.join(F.broadcast(resp_rel), list(G_COLS))


def fs_em_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → one row per observed γ-pattern: count, posterior
    match responsibility, and the converged (λ, m_k, u_k) — all integer
    micro-units (divide by SCALE for probabilities)."""
    lam, m, u, rows = _fit(_gamma_pairs(spark, sf_dir))
    out = [
        (*g, n, resp, lam, m[0], u[0], m[1], u[1], m[2], u[2])
        for g, n, resp in rows
    ]
    return spark.createDataFrame(out, _MODEL_SCHEMA).orderBy(*G_COLS)


def fs_pair_posteriors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (id_a, id_b, γ, match_resp_q) for every candidate
    pair with posterior ≥ 1/2 — the probabilistic match edge list, read
    off the shared posterior-edges relation."""
    _, edges = _posterior_edges(spark, sf_dir)
    return (
        edges.filter(F.col("match_resp_q") >= SCALE // 2)
        .select("id_a", "id_b", *G_COLS, "match_resp_q")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# DuckDB oracles: the SAME integer recurrence, unrolled as CTEs in HUGEINT
# ---------------------------------------------------------------------------


def _pm_expr(src: str, pcte: str, row: str = "pat", tf: bool = False) -> str:
    """Chained multiply-shift for P(γ | class) in the FIXED field order —
    textual mirror of ``_chain``. ``tf`` prices each agreeing field at
    the row's own term frequency (``row.tf_*``) instead of u_k."""
    num = f"{pcte}.lam" if src == "m" else f"({SCALE} - {pcte}.lam)"
    for k, g in enumerate(G_COLS, start=1):
        p = f"{pcte}.{src}{k}"
        agree = f"{row}.tf{g[1:]}" if tf else p
        num = (
            f"(({num} * (CASE WHEN {row}.{g} = 1 THEN {agree} "
            f"ELSE {SCALE} - {p} END)) // {SCALE})"
        )
    return num


def _resp_sql(pm: str, pu: str) -> str:
    return (
        f"(({pm}) * {SCALE}) // GREATEST(CAST(1 AS HUGEINT), "
        f"({pm}) + ({pu}))"
    )


def _em_sql() -> str:
    """WITH-clause body: docs → bpairs → gpairs → pat → p0 → (e1,p1) …
    (eN,pN) → efinal (γ, n, resp, pm) → edges (gpairs ⋈ efinal)."""
    values = ", ".join(f"{c}_a" for _, c in FIELDS)
    gamma = ",\n         ".join(
        f"CAST({c}_a = {c}_b AS INT) AS {g}" for g, c in FIELDS
    )
    on = " AND ".join(f"g.{g} = e.{g}" for g in G_COLS)
    parts = [
        f"""{blocked_pairs_sql("lang", "source")},
gpairs AS (
  SELECT id_a, id_b, {values},
         {gamma}
  FROM bpairs
),
pat AS (
  SELECT g_text, g_lang, g_source, CAST(count(*) AS HUGEINT) AS n
  FROM gpairs GROUP BY g_text, g_lang, g_source
),
p0 AS (
  SELECT CAST({_INIT_LAM} AS HUGEINT) AS lam,
         CAST({_INIT_M} AS HUGEINT) AS m1, CAST({_INIT_U} AS HUGEINT) AS u1,
         CAST({_INIT_M} AS HUGEINT) AS m2, CAST({_INIT_U} AS HUGEINT) AS u2,
         CAST({_INIT_M} AS HUGEINT) AS m3, CAST({_INIT_U} AS HUGEINT) AS u3
)"""
    ]

    def e_cte(name: str, p: str) -> str:
        return f"""{name} AS (
  SELECT g_text, g_lang, g_source, n, pm, {_resp_sql("pm", "pu")} AS resp
  FROM (
    SELECT pat.g_text, pat.g_lang, pat.g_source, pat.n,
           {_pm_expr("m", p)} AS pm, {_pm_expr("u", p)} AS pu
    FROM pat, {p}
  )
)"""

    for i in range(1, N_ITER + 1):
        parts.append(e_cte(f"e{i}", f"p{i - 1}"))
        sums = f"""SELECT
     GREATEST(CAST(1 AS HUGEINT), sum(n * resp)) AS sm,
     GREATEST(CAST(1 AS HUGEINT), sum(n * ({SCALE} - resp))) AS su,
     sum(n) AS tot,
     sum(CASE WHEN g_text = 1 THEN n * resp ELSE CAST(0 AS HUGEINT) END) AS am1,
     sum(CASE WHEN g_lang = 1 THEN n * resp ELSE CAST(0 AS HUGEINT) END) AS am2,
     sum(CASE WHEN g_source = 1 THEN n * resp ELSE CAST(0 AS HUGEINT) END) AS am3,
     sum(CASE WHEN g_text = 1 THEN n * ({SCALE} - resp) ELSE CAST(0 AS HUGEINT) END) AS au1,
     sum(CASE WHEN g_lang = 1 THEN n * ({SCALE} - resp) ELSE CAST(0 AS HUGEINT) END) AS au2,
     sum(CASE WHEN g_source = 1 THEN n * ({SCALE} - resp) ELSE CAST(0 AS HUGEINT) END) AS au3
   FROM e{i}"""
        clamp = (
            lambda x: f"LEAST(CAST({SCALE - 1} AS HUGEINT), "
            f"GREATEST(CAST(1 AS HUGEINT), {x}))"
        )
        parts.append(
            f"""p{i} AS (
  SELECT {clamp('sm // tot')} AS lam,
         {clamp('(am1 * ' + str(SCALE) + ') // sm')} AS m1,
         {clamp('(au1 * ' + str(SCALE) + ') // su')} AS u1,
         {clamp('(am2 * ' + str(SCALE) + ') // sm')} AS m2,
         {clamp('(au2 * ' + str(SCALE) + ') // su')} AS u2,
         {clamp('(am3 * ' + str(SCALE) + ') // sm')} AS m3,
         {clamp('(au3 * ' + str(SCALE) + ') // su')} AS u3
  FROM ({sums})
)"""
        )
    parts.append(e_cte("efinal", f"p{N_ITER}"))
    parts.append(
        f"""edges AS (
  SELECT g.*, e.resp, e.pm
  FROM gpairs g JOIN efinal e ON {on}
)"""
    )
    return ",\n".join(parts)


FS_EM_WEIGHTS_SQL = f"""
WITH {_em_sql()}
SELECT e.g_text, e.g_lang, e.g_source,
       CAST(e.n AS BIGINT) AS n_pairs,
       CAST(e.resp AS BIGINT) AS match_resp_q,
       CAST(p.lam AS BIGINT) AS lambda_q,
       CAST(p.m1 AS BIGINT) AS m_text_q, CAST(p.u1 AS BIGINT) AS u_text_q,
       CAST(p.m2 AS BIGINT) AS m_lang_q, CAST(p.u2 AS BIGINT) AS u_lang_q,
       CAST(p.m3 AS BIGINT) AS m_source_q, CAST(p.u3 AS BIGINT) AS u_source_q
FROM efinal e, p{N_ITER} p
ORDER BY g_text, g_lang, g_source
"""


FS_PAIR_POSTERIORS_SQL = f"""
WITH {_em_sql()}
SELECT id_a, id_b, g_text, g_lang, g_source,
       CAST(resp AS BIGINT) AS match_resp_q
FROM edges
WHERE resp >= {SCALE // 2}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# active-learning pair selection (uncertainty sampling over the posterior)
# ---------------------------------------------------------------------------

FS_LABEL_BUDGET = 50  # pairs surfaced per labeling round


def fs_uncertain_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → the ``FS_LABEL_BUDGET`` candidate pairs whose converged
    Fellegi–Sunter posterior sits CLOSEST to 1/2 — uncertainty-sampling
    active learning (Settles 2009; the dedupe.io / Magellan labeling
    loop): each human label should go where the model is least sure, so
    the next EM round (with those pairs clamped) moves the decision
    boundary fastest.

    ``unc_q = |match_resp_q − SCALE/2|`` in the same integer micro-units
    as the EM itself — exact, order-independent. Global deterministic
    top-k: ORDER BY (unc_q, id_a, id_b) LIMIT k, which Spark plans as
    TakeOrderedAndProject — a per-partition heap of k rows then a k-row
    driver merge, NO global sort shuffle, safe at any pair count. The
    posterior lookup is the shared posterior-edges relation; nothing new
    shuffles.

    Reference analog: none (the reference links against a fixed
    ontology; labeling-loop tooling is part of the grafted ER tier)."""
    _, edges = _posterior_edges(spark, sf_dir)
    return (
        edges.select(
            "id_a",
            "id_b",
            *G_COLS,
            "match_resp_q",
            F.abs(F.col("match_resp_q") - F.lit(SCALE // 2)).alias("unc_q"),
        )
        .orderBy("unc_q", "id_a", "id_b")
        .limit(FS_LABEL_BUDGET)
    )


FS_UNCERTAIN_PAIRS_SQL = f"""
WITH {_em_sql()}
SELECT id_a, id_b, g_text, g_lang, g_source,
       CAST(resp AS BIGINT) AS match_resp_q,
       CAST(abs(resp - {SCALE // 2}) AS BIGINT) AS unc_q
FROM edges
ORDER BY unc_q, id_a, id_b
LIMIT {FS_LABEL_BUDGET}
"""


# ---------------------------------------------------------------------------
# mutual-best 1:1 matching (one synchronous round of distributed greedy)
# ---------------------------------------------------------------------------


def fs_mutual_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → the MUTUAL-BEST pairs of the Fellegi–Sunter-scored
    candidate graph: (id_a, id_b, match_resp_q) kept iff b is a's
    highest-posterior partner AND a is b's — one synchronous round of
    the classic distributed greedy matching (the locally-dominant-edge
    rule of Preis 1999 / the handshake step every parallel
    maximum-weight-matching algorithm opens with), i.e. the 1:1
    assignment a deployment runs when each record may link to AT MOST
    ONE other (master-record pairing), where threshold+CC would
    happily chain A−B−C into one cluster.

    Relational shape: score every blocked candidate pair by the shared
    posterior-edges relation (NO ½ filter — contention inside blocks is
    the point), symmetrize the edge list (one union — each direction
    carries its partner), take
    each node's argmax by (posterior DESC, partner id ASC — posteriors
    are pattern-level so ties are pervasive and the id tiebreak makes
    the matching DETERMINISTIC), and keep edges whose two endpoints
    chose each other. Scale: the symmetrized relation is 2|E|; the
    argmax is one window per node partition; the handshake is an
    equi-join of the best-choice relation with itself — all linear in
    edges, no iteration (rounds 2+ would re-run on unmatched residue;
    round 1 is the operator because it already yields a maximal-in-
    practice matching on near-dup graphs and is what the one-pass
    deployments run).

    Reference analog: none — the reference ranks ontology candidates
    per mention (one-sided argmax, W2/A3); the SYMMETRIC handshake is
    the grafted ER tier's 1:1 constraint.
    """
    _, edges = _posterior_edges(spark, sf_dir)
    return mutual_best_over(edges, "match_resp_q")


def mutual_best_over(edges: DataFrame, w: str) -> DataFrame:
    """Generic handshake core over ANY undirected weighted edge list
    (id_a, id_b, w): keep edges whose endpoints are each other's
    argmax by (w DESC, partner id ASC)."""
    sym = edges.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v"), w
    ).unionByName(
        edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"), w)
    )
    # per-endpoint argmax as a partially-aggregatable max_by over the
    # (w DESC, partner ASC) total order — the unique max of struct(w, -v)
    # is exactly the r5 row_number window's first row, without sorting
    # every endpoint's edge list; lazily checkpointed because the
    # handshake below references it twice (no cache-manager matching)
    best = (
        sym.groupBy("u")
        .agg(
            F.max_by(
                F.struct(F.col("v"), F.col(w)),
                F.struct(F.col(w), (-F.col("v"))),
            ).alias("_b")
        )
        .select("u", F.col("_b.v").alias("v"), F.col(f"_b.{w}").alias(w))
        .localCheckpoint(eager=False)
    )
    other = best.select(F.col("u").alias("v2"), F.col("v").alias("u2"))
    return (
        best.join(
            other, (F.col("u") == F.col("u2")) & (F.col("v") == F.col("v2"))
        )
        .filter(F.col("u") < F.col("v"))
        .select(F.col("u").alias("id_a"), F.col("v").alias("id_b"), w)
        .orderBy("id_a", "id_b")
    )


FS_MUTUAL_MATCH_SQL = f"""
WITH {_em_sql()},
sym AS (
  SELECT id_a AS u, id_b AS v, CAST(resp AS BIGINT) AS match_resp_q FROM edges
  UNION ALL
  SELECT id_b AS u, id_a AS v, CAST(resp AS BIGINT) AS match_resp_q FROM edges
),
best AS (
  SELECT u, v, match_resp_q FROM (
    SELECT u, v, match_resp_q,
           row_number() OVER (PARTITION BY u
                              ORDER BY match_resp_q DESC, v ASC) AS rn
    FROM sym
  ) WHERE rn = 1
)
SELECT a.u AS id_a, a.v AS id_b, a.match_resp_q
FROM best a JOIN best b ON a.u = b.v AND a.v = b.u
WHERE a.u < a.v
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# term-frequency-adjusted posteriors (Splink's tf adjustment)
# ---------------------------------------------------------------------------


def fs_tf_posteriors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (id_a, id_b, γ, match_resp_q, match_resp_tf_q):
    the FS posterior WITH Splink-style term-frequency adjustment.

    The classical model scores agreement on a field with one global
    u_k — the probability two RANDOM records agree. But agreeing on
    ``lang = 'en'`` is weak evidence while agreeing on ``lang = 'xx'``
    is strong: the honest u for agreement on a SPECIFIC value v is
    that value's own frequency. Splink ships exactly this adjustment
    (term_frequency_adjustments); here it is integer-exact: for each
    field where the pair AGREES on value v,

        u_k(v) = clamp(freq_k(v) · SCALE div N, 1, SCALE − 1)

    replaces u_k in the u-chain (disagreement keeps the global
    ``SCALE − u_k`` — tf says nothing about how records disagree, the
    same asymmetry Splink applies); the m-chain is untouched.

    Everything pattern-level comes from the shared posterior-edges
    relation: the unadjusted ``match_resp_q`` and the m-chain numerator
    ``pm_q``. Only the tf-adjusted u-chain depends on VALUES, so only it
    runs per pair — the SAME multiply-shift chain with the EM's
    converged (λ, u_k) embedded as literals. The value lookups are the
    honest value-keyed plan: three frequency relations (one
    map-side-combinable count each), the two small ones broadcast, the
    text-norm one a linear keyed join; the tf product
    ``cnt · SCALE`` is widened to decimal(38,0)/HUGEINT (int64 would
    overflow past ~9e9 rows). Output keeps BOTH posteriors so the
    adjustment is auditable pair by pair; the match decision
    (≥ SCALE/2) is taken on the ADJUSTED score.

    Reference analog: none — learned-similarity linkers absorb value
    rarity into the encoder; tf adjustment is the grafted ER tier
    (Splink's flagship feature on exactly this kind of field set).
    """
    docs = _docs(spark, sf_dir)
    n_docs = docs.count()  # O(1) scalar, needed as a literal denominator
    (lam, _, u), scored = _posterior_edges(
        spark, sf_dir, *(f"{c}_a" for _, c in FIELDS)
    )
    for g, c in FIELDS:
        tf = docs.groupBy(F.col(c).alias(f"{c}_a")).agg(
            F.expr(
                f"least({SCALE} - 1, greatest(1, cast(count(*) as "
                f"decimal(38,0)) * {SCALE} div {n_docs}))"
            )
            .cast("bigint")
            .alias(f"tf{g[1:]}")
        )
        # the norm relation is corpus-sized: a keyed join; lang and
        # source have a handful of values: broadcast
        scored = scored.join(tf if c == "norm" else F.broadcast(tf), f"{c}_a")
    # the m-chain numerator pm_q comes with the pattern posterior; only
    # the u-chain is per pair — the SAME fixed-order multiply-shift as
    # _chain, with tf_* replacing u_k on agreement (seeded as bigint: bare
    # int literals are 32-bit in Spark SQL and the products overflow)
    pu_tf = f"cast({SCALE - lam} as bigint)"
    for k, g in enumerate(G_COLS):
        pu_tf = (
            f"(({pu_tf} * (CASE WHEN {g} = 1 THEN tf{g[1:]} "
            f"ELSE {SCALE - u[k]} END)) div {SCALE})"
        )
    resp_tf = f"(pm_q * {SCALE}) div greatest(1, pm_q + {pu_tf})"
    return (
        scored.select(
            "id_a",
            "id_b",
            *G_COLS,
            "match_resp_q",
            F.expr(resp_tf).cast("bigint").alias("match_resp_tf_q"),
        )
        .filter(F.col("match_resp_tf_q") >= SCALE // 2)
        .orderBy("id_a", "id_b")
    )


def _tf_sql() -> str:
    """The oracle's tf relations (one per field) and their joins onto
    ``edges`` — the value-keyed lookups ``fs_tf_posteriors`` makes."""
    ctes = ["nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM docs)"]
    joins, cols = [], []
    for g, c in FIELDS:
        ctes.append(
            f"""tf_{c} AS (
  SELECT {c} AS v, LEAST({SCALE} - 1, GREATEST(1,
           CAST(count(*) AS HUGEINT) * {SCALE} // (SELECT n FROM nn))) AS tf
  FROM docs GROUP BY {c}
)"""
        )
        joins.append(f"JOIN tf_{c} ON tf_{c}.v = e.{c}_a")
        cols.append(f"tf_{c}.tf AS tf{g[1:]}")
    return ",\n".join(ctes) + f""",
v AS (
  SELECT e.*, {", ".join(cols)}
  FROM edges e
  {" ".join(joins)}
)"""


FS_TF_POSTERIORS_SQL = f"""
WITH {_em_sql()},
{_tf_sql()}
SELECT id_a, id_b, g_text, g_lang, g_source,
       CAST(resp AS BIGINT) AS match_resp_q,
       CAST(resp_tf AS BIGINT) AS match_resp_tf_q
FROM (
  SELECT v.*, {_resp_sql("v.pm", _pm_expr("u", "p", "v", tf=True))} AS resp_tf
  FROM v, p{N_ITER} p
)
WHERE resp_tf >= {SCALE // 2}
ORDER BY id_a, id_b
"""
