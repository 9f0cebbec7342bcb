"""Approximate-nearest-neighbor search over the ``embeddings`` table.

Reference semantics: the k-NN joins at the heart of candidate generation —
FAISS flat / IVF inner-product search (``arboel/biencoder/data/
data_process.py:517-562``, ``eval_cluster_linking.py:56-87``), brute-force
matmul top-k (``sapbert/model/model_wrapper.py:72-133``), and the
size-based exact-vs-IVF strategy switch (≤10k rows → flat, else IVF,
``data_process.py:545-562``).

Two physical paths, mirroring that switch:

* brute-force — baseline for small dictionaries: the dictionary side is
  collected and broadcast (same role as a broadcast hash join build side),
  each partition matmuls its query batch against it in one numpy call
  inside ``mapInPandas``.
* IVF — scale path: a deterministic coarse quantizer (the first 8 sign
  bits of the vector, right-shifted to ``bits ≈ log2(√n)`` effective bits →
  ~√n cells) shards the space; queries multi-probe their home cell plus
  three Hamming-1 neighbors; scoring is a vectorized numpy matmul per cell
  in a ``cogroup().applyInPandas`` kernel (the shuffle key IS the IVF cell
  — exactly how a 1000-executor deployment shards ANN), then a global
  window top-k merges the per-cell candidates. Candidate pairs never
  materialize as rows; join parallelism = 2^bits grows with n.

Dispatch (G8): ``knn_join`` is THE single query/dict-sided kNN dispatch —
≤ ``BRUTE_FORCE_MAX`` dictionary rows → broadcast matmul, else the IVF
kernel (never a driver collect). Every consumer (``cosine_topk``,
``proto_topk``, the k-ladder's mention→entity / mention→mention relations
in ``operators/ladder.py``, and any future operator) routes through it
instead of hand-rolling a collect; ``knn_join_sql`` emits the matching
count-gated DuckDB CTE so every consumer's oracle mirrors the SAME
switch and Spark↔oracle parity holds in both regimes.
``exact_cosine_topk`` is the guaranteed-exact variant for bounded
evaluation sets (it FAILS above the cap instead of silently
approximating — the evaluation-metric oracles assume exact neighbors).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TOP_K = 3
# G8 switch point (reference uses 10k: data_process.py:545-562)
BRUTE_FORCE_MAX = 10_000
# exact-evaluation guard (r6): the ranked-candidate metric family MUST be
# exact (its frozen oracles are), so it cannot take the ANN dispatch above
# BRUTE_FORCE_MAX — but its brute kernel's real constraint is the
# broadcast of n·dim·8 bytes of vectors, not the G8 ANN switch point. At
# the 64-dim eval schema 262,144 rows is a 134 MB broadcast (within the
# 8 GB broadcast cap and ordinary executor memory with wide margin); the
# r5 default of BRUTE_FORCE_MAX made the whole metric family hard-fail at
# sf1.0 (20,000 rows) for no memory reason. Above this the operator still
# fails loudly rather than silently approximating.
EXACT_EVAL_MAX = 262_144
_MAX_CELL_BITS = 8
# multi-probe: home cell + three Hamming-1 flips (static so the SQL oracle
# can enumerate them; distinct cells whenever bits >= 3)
_PROBE_FLIPS = (0, 1, 2, 4)


def _ivf_bits(n: int) -> int:
    """Effective quantizer bits: 2^bits ≈ √n cells, clamped to [3, 8].

    Mirrors the reference's ``nlist=√n`` IVF sizing (data_process.py:552).
    floor(x+0.5) rounding matches the SQL oracle exactly (Python ``round``
    is banker's; DuckDB's is not)."""
    return min(
        _MAX_CELL_BITS,
        max(3, int(math.floor(math.log2(math.sqrt(max(n, 2))) + 0.5))),
    )


def _cell8_expr(v):
    """First 8 sign bits of the vector as an int code (fixed-width so the
    effective cell is one right shift — keeps the oracle SQL static)."""
    return sum(
        F.when(F.element_at(v, i + 1) > 0, F.lit(1 << (7 - i))).otherwise(F.lit(0))
        for i in range(_MAX_CELL_BITS)
    ).cast("int")


def _unit(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1)
    n[n == 0] = 1.0
    return m / n[:, None]


# ---------------------------------------------------------------------------
# the ONE query/dict-sided kNN dispatch + its two kernels
# ---------------------------------------------------------------------------


def _vec(emb: DataFrame) -> DataFrame:
    """Normalize an embeddings frame to the kernel contract (vec_id, v)."""
    return emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _bf_knn(
    queries: DataFrame,
    dictionary: DataFrame,
    k: int,
    *,
    exclude_self: bool,
    proto: bool = False,
) -> DataFrame:
    """Broadcast-dictionary matmul top-k (src, dst, rank). The dictionary
    side is collected and broadcast (same role as a broadcast hash join
    build side) — ONLY reachable through ``knn_join``'s size guard or the
    explicitly-capped ``exact_cosine_topk``. ``proto=True`` scores each
    pair as cos(q, name) + cos(q, proto) — the G11 two-score sum (the
    reference doubles the query ``[v;v]`` against a ``[umls_vec;
    proto_vec]`` concat space, ``krissbert/model/model.py:173-187``; the
    prototype here is the deterministic reverse of the embedding, the
    synthetic stand-in for a second learned vector)."""
    spark = dictionary.sparkSession
    rows = dictionary.select("vec_id", "v").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    b_ids = spark.sparkContext.broadcast(ids)
    b_name = spark.sparkContext.broadcast(_unit(mat))
    b_proto = (
        spark.sparkContext.broadcast(_unit(mat[:, ::-1])) if proto else None
    )

    def search(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dict_ids = b_ids.value
        name_u = b_name.value
        proto_u = b_proto.value if proto else None
        for pdf in batches:
            q = _unit(np.array(list(pdf["v"]), dtype=np.float64))
            scores = q @ name_u.T
            if proto:
                scores = scores + q @ proto_u.T  # two-score sum
            out_rows = []
            for row_i, vid in enumerate(pdf["vec_id"]):
                s = scores[row_i]
                # order: score desc, neighbor_id asc, self optionally excluded
                order = np.lexsort((dict_ids, -s))
                picked = 0
                for j in order:
                    if exclude_self and dict_ids[j] == vid:
                        continue
                    picked += 1
                    out_rows.append((int(vid), int(dict_ids[j]), picked))
                    if picked == k:
                        break
            yield pd.DataFrame(out_rows, columns=["src", "dst", "rank"])

    return queries.select("vec_id", "v").mapInPandas(
        search, "src long, dst long, rank int"
    )


def _ivf_knn(
    queries: DataFrame,
    dictionary: DataFrame,
    k: int,
    bits: int,
    *,
    exclude_self: bool,
    proto: bool = False,
) -> DataFrame:
    """IVF ANN (src, dst, rank): ~2^bits coarse cells from dictionary
    sign bits, queries Hamming-1 multi-probe their home cell, exact scoring
    within probed cells via a vectorized numpy matmul per cell
    (cogroup/applyInPandas), global window top-k merge. ``proto=True``
    scores cos(q, name) + cos(q, proto) per pair — the two-score sum is
    per-pair math; the cell join is unchanged.

    The per-cell kernel emits at most k candidates per (query, cell), so
    the merge input is ≤ len(_PROBE_FLIPS)·k rows per query — constant.
    """
    cell = F.shiftright(_cell8_expr(F.col("v")), _MAX_CELL_BITS - bits)
    dict_side = dictionary.select("vec_id", "v", cell.alias("cell"))
    probes = queries.select("vec_id", "v", cell.alias("cell")).select(
        "vec_id",
        "v",
        F.explode(
            F.array(
                *[F.col("cell").bitwiseXOR(F.lit(f)) for f in _PROBE_FLIPS]
            )
        ).alias("cell"),
    )

    def score_cell(qpdf: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
        if qpdf.empty or dpdf.empty:
            return pd.DataFrame(
                {"src": pd.Series(dtype="int64"),
                 "dst": pd.Series(dtype="int64"),
                 "score": pd.Series(dtype="float64")}
            )
        q = _unit(np.array(list(qpdf["v"]), dtype=np.float64))
        d_raw = np.array(list(dpdf["v"]), dtype=np.float64)
        sims = q @ _unit(d_raw).T
        if proto:
            sims = sims + q @ _unit(d_raw[:, ::-1]).T
        qids = qpdf["vec_id"].to_numpy()
        dids = dpdf["vec_id"].to_numpy()
        out = []
        for i, qid in enumerate(qids):
            s = sims[i]
            order = np.lexsort((dids, -s))  # score desc, neighbor_id asc
            picked = 0
            for j in order:
                if exclude_self and dids[j] == qid:
                    continue
                out.append((int(qid), int(dids[j]), float(s[j])))
                picked += 1
                if picked == k:
                    break
        return pd.DataFrame(out, columns=["src", "dst", "score"])

    cand = (
        probes.groupBy("cell")
        .cogroup(dict_side.groupBy("cell"))
        .applyInPandas(score_cell, "src long, dst long, score double")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("src").orderBy(F.col("score").desc(), F.col("dst"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", F.col("rank").cast("int").alias("rank"))
    )


def knn_join(
    queries: DataFrame,
    dictionary: DataFrame,
    k: int,
    *,
    exclude_self: bool,
    proto: bool = False,
    dict_count: int | None = None,
) -> DataFrame:
    """THE shared G8-dispatched kNN join: (vec_id, v) queries × (vec_id, v)
    dictionary → (src, dst, rank), rank 1 = best, ordered (cosine desc,
    dst asc). ≤ ``BRUTE_FORCE_MAX`` dictionary rows → broadcast matmul
    kernel; above → IVF cogroup kernel — the driver-collect path is
    structurally unreachable at scale. Every kNN consumer (cosine_topk,
    proto_topk, the ladder relations) calls this instead of hand-rolling a
    collect (reference's own switch: ``data_process.py:545-562``).
    ``dict_count`` lets callers that already know the dictionary size skip
    a duplicate count."""
    n = dict_count if dict_count is not None else dictionary.count()
    if n > BRUTE_FORCE_MAX:
        return _ivf_knn(
            queries, dictionary, k, _ivf_bits(n),
            exclude_self=exclude_self, proto=proto,
        )
    return _bf_knn(queries, dictionary, k, exclude_self=exclude_self, proto=proto)


def _to_self(nn: DataFrame) -> DataFrame:
    """Self-join column contract: (src, dst, rank) → (vec_id, neighbor_id,
    rank) in canonical order."""
    return nn.select(
        F.col("src").alias("vec_id"),
        F.col("dst").alias("neighbor_id"),
        "rank",
    ).orderBy("vec_id", "rank")


# ---------------------------------------------------------------------------
# public entry points
# ---------------------------------------------------------------------------


def cosine_topk(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """Top-k cosine neighbors for every vector (excluding itself).

    Output: (vec_id, neighbor_id, rank) — scores deliberately omitted so
    the DuckDB oracle comparison is float-representation-proof; ordering is
    (cosine desc, neighbor_id asc), computed in float64 on both sides.

    G8 size switch: dictionaries over ``BRUTE_FORCE_MAX`` rows use the IVF
    kernel instead of the driver collect (reference:
    ``data_process.py:545-562`` — IndexFlatIP ≤10k else IndexIVFFlat). The
    SQL oracle mirrors the same switch, so parity holds in both regimes.
    """
    e = _vec(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return _to_self(knn_join(e, e, k, exclude_self=True))


def exact_cosine_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    fail_above: int = EXACT_EVAL_MAX,
) -> DataFrame:
    """Guaranteed-exact brute-force top-k for bounded evaluation sets.

    The ranked-candidate evaluation family (``operators/metrics.py``) needs
    EXACT neighbors — its oracles are exact, and the reference likewise
    brute-forces its eval-time searches (``model_wrapper.py:72-133``). This
    variant never silently approximates: above ``fail_above`` it raises so
    the caller chooses (sample the eval set, raise the cap knowingly, or
    switch to the ANN dispatch ``cosine_topk``).
    """
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    if n > fail_above:
        raise ValueError(
            f"exact_cosine_topk over {n} rows exceeds the broadcast cap of "
            f"{fail_above}; evaluation sets are expected to be bounded — "
            "sample the set, raise fail_above knowingly, or use the ANN "
            "dispatch cosine_topk"
        )
    e = _vec(emb)
    return _to_self(_bf_knn(e, e, k, exclude_self=True))


_EXACT_TOPK_CACHE: dict[tuple[str, str, int], DataFrame] = {}


def cached_exact_topk(
    spark: SparkSession, sf_dir: str, k: int = TOP_K
) -> DataFrame:
    """Memoized + persisted exact top-k neighbor relation, keyed on
    (session, sf_dir, k). The ranked-candidate evaluation family
    (recall/MAP/precision/attribution/chi² + label recall) all consume the
    same neighbor join — computing it once per session instead of once per
    query cuts the bench cost of the family ~5×. Entries are small
    (n_queries × k rows) and bounded by the number of distinct sf_dirs."""
    key = (spark.sparkContext.applicationId, sf_dir, k)
    df = _EXACT_TOPK_CACHE.get(key)
    if df is None:
        df = exact_cosine_topk(spark, sf_dir, k).persist()
        df.count()  # materialize so consumers share, not recompute
        _EXACT_TOPK_CACHE[key] = df
    return df


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    bits: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """IVF ANN entry point. ``n`` (row count) can be passed by callers that
    already know it, avoiding a duplicate metadata count."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if bits is None:
        bits = _ivf_bits(n if n is not None else emb.count())
    e = _vec(emb)
    return _to_self(_ivf_knn(e, e, k, bits, exclude_self=True))


def proto_topk(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """G11 prototype-vector two-score-sum: each dictionary entry carries a
    name vector AND a prototype vector; a query's score against an entry is
    the SUM of its cosine to both (the reference doubles the query ``[v;v]``
    against a ``[umls_vec; proto_vec]`` concat space —
    ``krissbert/model/model.py:173-187``, ``krissbert/evaluate.py:186`` —
    which is exactly two score columns summed; no special geometry).

    G8 size switch: same dispatch as ``cosine_topk`` — above
    ``BRUTE_FORCE_MAX`` the two-score sum is computed inside the IVF
    cogroup kernel (per-pair math; the cell join is unchanged), so the
    driver-collect path is unreachable at scale. The oracle mirrors the
    switch.
    """
    e = _vec(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return _to_self(knn_join(e, e, k, exclude_self=True, proto=True))


# ---------------------------------------------------------------------------
# DuckDB oracles — exact and IVF branches, composed with the same size
# switch the Spark dispatch uses
# ---------------------------------------------------------------------------

_CELL8_SQL = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] > 0 THEN {1 << (7 - i)} ELSE 0 END)"
    for i in range(_MAX_CELL_BITS)
)
_FLIPS_SQL = ", ".join(f"({f})" for f in _PROBE_FLIPS)

# exact branch: all-pairs cosine, ranked (bx_ = brute-force prefix)
_BX_RANKED_CTE = """
bx_e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
bx_ranked AS (
  SELECT vec_id, neighbor_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, neighbor_id)
           AS rank
  FROM (
    SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
           list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
             AS score
    FROM bx_e a, bx_e b
    WHERE a.vec_id <> b.vec_id
  )
)
"""

# exact branch, prototype two-score sum
_BX_PROTO_RANKED_CTE = """
bx_e AS (
  SELECT vec_id,
         CAST(embedding AS DOUBLE[]) AS v,
         CAST(list_reverse(CAST(embedding AS DOUBLE[])) AS DOUBLE[]) AS p
  FROM embeddings
),
bx_ranked AS (
  SELECT vec_id, neighbor_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, neighbor_id)
           AS rank
  FROM (
    SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
           list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
           + list_dot_product(a.v, b.p)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.p, b.p)))
             AS score
    FROM bx_e a, bx_e b
    WHERE a.vec_id <> b.vec_id
  )
)
"""


def _ix_ranked_cte(proto: bool) -> str:
    """IVF branch: sign-bit cells + Hamming-1 probes, ranked (ix_ prefix).
    ``proto`` adds the second cosine to the pair score."""
    proto_col = (
        ",\n         CAST(list_reverse(CAST(embedding AS DOUBLE[])) AS DOUBLE[]) AS p"
        if proto
        else ""
    )
    proto_score = (
        """
           + list_dot_product(q.v, d.p)
             / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(d.p, d.p)))"""
        if proto
        else ""
    )
    return f"""
ix_params AS (
  SELECT least(greatest(CAST(floor(log2(sqrt(count(*))) + 0.5) AS INT), 3), 8)
           AS bits
  FROM embeddings
),
ix_e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v{proto_col},
         ({_CELL8_SQL}) AS cell8
  FROM embeddings
),
ix_ec AS (
  SELECT * EXCLUDE (cell8), cell8 >> ({_MAX_CELL_BITS} - bits) AS cell
  FROM ix_e, ix_params
),
ix_probes AS (
  SELECT vec_id, v, xor(cell, f.flip) AS cell
  FROM ix_ec, (VALUES {_FLIPS_SQL}) f(flip)
),
ix_ranked AS (
  SELECT vec_id, neighbor_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, neighbor_id)
           AS rank
  FROM (
    SELECT q.vec_id AS vec_id, d.vec_id AS neighbor_id,
           list_dot_product(q.v, d.v)
             / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(d.v, d.v))){proto_score}
             AS score
    FROM ix_probes q JOIN ix_ec d USING (cell)
    WHERE q.vec_id <> d.vec_id
  )
)
"""


def _switched_sql(
    exact_cte: str, ivf_cte: str, k: int, switch_at: int = BRUTE_FORCE_MAX
) -> str:
    """Compose the G8 dispatch in SQL: a count-gated UNION of the exact and
    IVF ranked branches (exactly one side produces rows)."""
    return f"""
WITH sz AS (SELECT count(*) AS n FROM embeddings),
{exact_cte.strip().rstrip(",")},
{ivf_cte.strip().rstrip(",")}
SELECT vec_id, neighbor_id, CAST(rank AS INT) AS rank
FROM bx_ranked
WHERE rank <= {k} AND (SELECT n FROM sz) <= {switch_at}
UNION ALL
SELECT vec_id, neighbor_id, CAST(rank AS INT) AS rank
FROM ix_ranked
WHERE rank <= {k} AND (SELECT n FROM sz) > {switch_at}
ORDER BY vec_id, rank
"""


COSINE_TOPK_SQL = _switched_sql(_BX_RANKED_CTE, _ix_ranked_cte(proto=False), TOP_K)
PROTO_TOPK_SQL = _switched_sql(
    _BX_PROTO_RANKED_CTE, _ix_ranked_cte(proto=True), TOP_K
)

IVF_TOPK_SQL = f"""
WITH {_ix_ranked_cte(proto=False).strip()}
SELECT vec_id, neighbor_id, CAST(rank AS INT) AS rank
FROM ix_ranked WHERE rank <= {TOP_K}
ORDER BY vec_id, rank
"""


def knn_join_sql(
    name: str,
    query_where: str,
    dict_where: str,
    k: int,
    *,
    exclude_self: bool,
    switch_at: int = BRUTE_FORCE_MAX,
) -> str:
    """DuckDB CTE block mirroring ``knn_join`` for consumers whose oracles
    need a query/dict-sided kNN relation with the SAME G8 size switch the
    Spark dispatch applies. Emits CTEs ending in ``{name}`` with columns
    (src, dst, rank): a count-gated UNION of the exact (all-pairs) and IVF
    (sign-bit cells + Hamming-1 probes, bits from the DICTIONARY count)
    branches — exactly one side produces rows, decided by the dictionary
    size vs ``switch_at``. Both sides filter ``embeddings`` by the given
    WHERE predicates. Compose with a trailing SELECT over ``{name}``."""
    self_pred = "AND q.vec_id <> d.vec_id" if exclude_self else ""
    cos = (
        "list_dot_product(q.v, d.v)"
        " / (sqrt(list_dot_product(q.v, q.v))"
        " * sqrt(list_dot_product(d.v, d.v)))"
    )
    return f"""
{name}_q AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         ({_CELL8_SQL}) AS cell8
  FROM embeddings WHERE {query_where}
),
{name}_d AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         ({_CELL8_SQL}) AS cell8
  FROM embeddings WHERE {dict_where}
),
{name}_n AS (SELECT count(*) AS n FROM {name}_d),
{name}_bits AS (
  SELECT least(greatest(CAST(floor(log2(sqrt(greatest(n, 2))) + 0.5) AS INT), 3), 8)
           AS bits
  FROM {name}_n
),
{name}_bx AS (
  SELECT src, dst, rank FROM (
    SELECT q.vec_id AS src, d.vec_id AS dst,
           row_number() OVER (
             PARTITION BY q.vec_id ORDER BY {cos} DESC, d.vec_id) AS rank
    FROM {name}_q q, {name}_d d
    WHERE TRUE {self_pred}
  ) WHERE rank <= {k}
),
{name}_dc AS (
  SELECT vec_id, v, cell8 >> ({_MAX_CELL_BITS} - bits) AS cell
  FROM {name}_d, {name}_bits
),
{name}_qp AS (
  SELECT vec_id, v, xor(cell8 >> ({_MAX_CELL_BITS} - bits), f.flip) AS cell
  FROM {name}_q, {name}_bits, (VALUES {_FLIPS_SQL}) f(flip)
),
{name}_ix AS (
  SELECT src, dst, rank FROM (
    SELECT q.vec_id AS src, d.vec_id AS dst,
           row_number() OVER (
             PARTITION BY q.vec_id ORDER BY {cos} DESC, d.vec_id) AS rank
    FROM {name}_qp q JOIN {name}_dc d USING (cell)
    WHERE TRUE {self_pred}
  ) WHERE rank <= {k}
),
{name} AS (
  SELECT src, dst, rank FROM {name}_bx
  WHERE (SELECT n FROM {name}_n) <= {switch_at}
  UNION ALL
  SELECT src, dst, rank FROM {name}_ix
  WHERE (SELECT n FROM {name}_n) > {switch_at}
)"""
