"""Blocking- and cluster-quality metrics, all read off ONE (sys, gold)
contingency relation.

Every metric here compares a SYSTEM partition of items with a GOLD one,
and every one is a function of the contingency counts ``c`` of the
(sys, gold) cells, their two per-side marginals and N. So how agreement
is counted lives in one place:

* ``_contingency`` — items (or counted cells to roll up) → the
  relation (sys, gold, c): one map-side-combinable shuffle, bounded by
  the number of non-empty cells (≪ items), materialized (lazy
  ``localCheckpoint``) because each read-off below scans it three or
  four times.
* ``_marginal`` — per side: (size, parts) = the cluster's item count and
  how many clusters of the OTHER side it intersects.

Each metric is a read-off of one of two shared shapes:

* ``_pair_counts`` — ONE row from a tagged union of the cells
  (side = both) and the two marginals (side = sys / gold): n_items, the
  pair counts p_sys / p_gold / p_both (Σ size·(size−1)/2 on each side)
  and the link sums Σ(size − parts) / Σ(size − 1) on each side. No
  window, no sort, no join: ``blocking_quality``, ``ari_quality``,
  ``muc_over``, ``blanc_over``. (A first windowed ARI/MUC cut — per-side
  sums over two sorted windows plus first-row conditional sums — scaled
  at 0.305 on 50M items against 0.755 for this sort-free shape.)
* ``_cells`` — the contingency joined to its marginals, one
  (c, n_sys, n_gold) row per cell: ``bcubed_quality``,
  ``vmeasure_over``.

Pairs never materialize: the naive implementation (self-join per
cluster, then compare) is exactly the quadratic explosion these
metrics exist to judge. Ratios are integer parts-per-million
(``· 10^6 div denominator``) — exact integer division in both engines,
no float summation anywhere — so each ``*_QUALITY_SQL`` DuckDB oracle,
built from the same two shapes (``_cont_sql``, ``_counts_sql``,
``_cells_sql``), certifies the value hash bit-exactly. Contingency keys
are bigint here; hash long string cluster keys (xxhash64 pair) first.

Reference analog: ``eval_cluster_linking.py`` reports pairwise P/R/F1 of
predicted vs gold clusters — the pair-counting member of this family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .similarity import _CELL8_SQL, _cell8_expr

_PPM = 1_000_000
_DEC = "decimal(38,0)"  # Spark twin of the oracle's HUGEINT widening
_SCHEME_BITS = (8, 6, 4)
_BCUBED_BITS = 4  # system clustering under evaluation: 4-bit sign cells


# ---------------------------------------------------------------------------
# The shared contingency relation and its two read-off shapes
# ---------------------------------------------------------------------------


def _contingency(rows: DataFrame) -> DataFrame:
    """(sys, gold) items, or (sys, gold, c) cells to roll up → the
    materialized contingency relation (sys, gold, c)."""
    c = F.sum("c") if "c" in rows.columns else F.count("*")
    return (
        rows.groupBy("sys", "gold")
        .agg(c.cast("bigint").alias("c"))
        # every read-off scans it three or four times; lazy checkpoint:
        # no cache-manager matching, so one query never warms another
        .localCheckpoint(eager=False)
    )


def _marginal(cont: DataFrame, side: str) -> DataFrame:
    """One row per ``side`` cluster: (key, size, parts)."""
    return cont.groupBy(side).agg(
        F.sum("c").alias("size"), F.count("*").alias("parts")
    )


def _pair_counts(cont: DataFrame) -> DataFrame:
    """Contingency → ONE row: n_items, p_sys, p_gold, p_both, and the
    link sums r_num / r_den (gold: Σ size − parts, Σ size − 1) and
    p_num / p_den (the same on the sys side)."""
    tagged = cont.select(
        F.lit("both").alias("side"),
        F.col("c").alias("size"),
        F.lit(1).cast("bigint").alias("parts"),
    )
    for side in ("sys", "gold"):
        tagged = tagged.unionByName(
            _marginal(cont, side).select(
                F.lit(side).alias("side"), "size", "parts"
            )
        )

    def on(side: str, expr: str):
        return F.sum(F.when(F.col("side") == side, F.expr(expr)))

    pairs = "size * (size - 1) div 2"
    return tagged.agg(
        on("sys", "size").alias("n_items"),
        on("sys", pairs).alias("p_sys"),
        on("gold", pairs).alias("p_gold"),
        on("both", pairs).alias("p_both"),
        on("gold", "size - parts").alias("r_num"),
        on("gold", "size - 1").alias("r_den"),
        on("sys", "size - parts").alias("p_num"),
        on("sys", "size - 1").alias("p_den"),
    )


def _cells(cont: DataFrame) -> DataFrame:
    """Contingency joined to both marginals by key (sort-free, never
    windowed): one (c, n_sys, n_gold) row per cell."""
    by_sys = _marginal(cont, "sys").select("sys", F.col("size").alias("n_sys"))
    by_gold = _marginal(cont, "gold").select(
        "gold", F.col("size").alias("n_gold")
    )
    return (
        cont.join(by_sys, "sys").join(by_gold, "gold")
        .select("c", "n_sys", "n_gold")
    )


def _cont_sql(
    src: str,
    name: str = "cont",
    sys: str = "sys",
    gold: str = "gold",
    c: str = "count(*)",
) -> str:
    """Oracle twin of ``_contingency`` + ``_marginal``: CTE ``name``
    (sys, gold, c) over ``src``, then ``name_sys`` / ``name_gold``."""
    cont = f"""{name} AS (
  SELECT {sys} AS sys, {gold} AS gold, CAST({c} AS BIGINT) AS c
  FROM {src} GROUP BY 1, 2
)"""
    return ",\n".join([cont, *(_marg_sql(name, s) for s in ("sys", "gold"))])


def _marg_sql(cont: str, side: str) -> str:
    return f"""{cont}_{side} AS (
  SELECT {side}, CAST(sum(c) AS BIGINT) AS size,
         CAST(count(*) AS BIGINT) AS parts
  FROM {cont} GROUP BY {side}
)"""


def _counts_sql(cont: str = "cont") -> str:
    """Oracle twin of ``_pair_counts``: a one-row SELECT."""

    def on(side: str, expr: str) -> str:
        return f"CAST(sum(CASE WHEN side = '{side}' THEN {expr} END) AS BIGINT)"

    pairs = "size * (size - 1) // 2"
    return f"""
  SELECT {on("sys", "size")} AS n_items,
         {on("sys", pairs)} AS p_sys,
         {on("gold", pairs)} AS p_gold,
         {on("both", pairs)} AS p_both,
         {on("gold", "size - parts")} AS r_num,
         {on("gold", "size - 1")} AS r_den,
         {on("sys", "size - parts")} AS p_num,
         {on("sys", "size - 1")} AS p_den
  FROM (SELECT 'both' AS side, c AS size, 1 AS parts FROM {cont}
        UNION ALL SELECT 'sys', size, parts FROM {cont}_sys
        UNION ALL SELECT 'gold', size, parts FROM {cont}_gold)
"""


def _cells_sql(cont: str = "cont") -> str:
    """Oracle twin of ``_cells``."""
    return f"""
  SELECT c, s.size AS n_sys, g.size AS n_gold
  FROM {cont} JOIN {cont}_sys s USING (sys) JOIN {cont}_gold g USING (gold)
"""


# ---------------------------------------------------------------------------
# Blocking quality and B-cubed over the engine's sign-bit cells
# ---------------------------------------------------------------------------


def _embedding_cells(spark: SparkSession, sf_dir: str, bits: int) -> DataFrame:
    """embeddings → (sys = ``bits``-bit sign cell, gold = label)."""
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.shiftright(_cell8_expr(F.col("embedding")), 8 - bits).alias("sys"),
        F.col("label").alias("gold"),
    )


def blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings → one row PER BLOCKING SCHEME of counts + ppm ratios:
    reduction ratio / pairs completeness / pairs quality, the ER
    literature's standard triple for judging a blocking scheme BEFORE
    paying for pairwise scoring.

    Columns: scheme_bits, n_items, total_pairs, cand_pairs, gold_pairs,
    true_cand_pairs, reduction_ratio_ppm, completeness_ppm, quality_ppm.

    The reference tunes its candidate generator by measured recall@k
    over gold labels (``bioel/bioel/models/*/evaluate.py``); this is the
    blocking-stage analog. Blocking keys are the engine's certified
    sign-bit coarse quantizer (``similarity._cell8_expr`` — 8 sign bits
    of the embedding, the same cells the IVF path shards on) at THREE
    widths (8/6/4 bits), one row per scheme — the tuning table a
    deployment reads to pick its reduction-vs-completeness operating
    point. With sys = the cell and gold = the label, the three pair
    counts are the contingency's p_sys / p_gold / p_both; the 8-bit
    contingency is built once from the items and rolled up to 6 and 4
    bits by summing ``c``.
    """
    cont8 = _contingency(_embedding_cells(spark, sf_dir, 8))
    rows = None
    for bits in _SCHEME_BITS:
        cont = _contingency(
            cont8.select(
                F.shiftright("sys", 8 - bits).alias("sys"), "gold", "c"
            )
        )
        row = _pair_counts(cont).select(
            F.lit(bits).cast("int").alias("scheme_bits"),
            "n_items",
            F.col("p_sys").alias("cand_pairs"),
            F.col("p_gold").alias("gold_pairs"),
            F.col("p_both").alias("true_cand_pairs"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows.select(
        "scheme_bits",
        "n_items",
        F.expr("n_items * (n_items - 1) div 2").alias("total_pairs"),
        "cand_pairs",
        "gold_pairs",
        "true_cand_pairs",
        F.expr(
            f"(n_items * (n_items - 1) div 2 - cand_pairs) * {_PPM}"
            " div (n_items * (n_items - 1) div 2)"
        ).alias("reduction_ratio_ppm"),
        F.expr(
            f"true_cand_pairs * {_PPM} div gold_pairs"
        ).alias("completeness_ppm"),
        F.expr(
            f"true_cand_pairs * {_PPM} div cand_pairs"
        ).alias("quality_ppm"),
    ).orderBy(F.col("scheme_bits").desc())


def bcubed_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings → one row of B-cubed precision/recall/F1 (integer ppm).

    B-cubed is the ER literature's item-weighted cluster metric: for
    each ITEM, precision = |its cluster ∩ its gold class| / |cluster|
    and recall = the same overlap / |gold class|; corpus scores are the
    item averages. Every item of a cell shares its ratios, so the item
    sum is Σ_cells c·(c·10⁶ div n_sys) (recall: n_gold) — the same
    integer as the per-item average, read off ``_cells`` with no item
    rows joined back. The system clustering is the 4-bit sign-cell
    assignment (the coarsest ``blocking_quality`` scheme, so the two
    relations read together).
    """
    sums = _cells(
        _contingency(_embedding_cells(spark, sf_dir, _BCUBED_BITS))
    ).agg(
        F.sum("c").alias("n_items"),
        F.sum(F.expr(f"c * (c * {_PPM} div n_sys)")).alias("p_sum"),
        F.sum(F.expr(f"c * (c * {_PPM} div n_gold)")).alias("r_sum"),
    )
    return sums.select(
        "n_items",
        F.expr("p_sum div n_items").alias("bcubed_precision_ppm"),
        F.expr("r_sum div n_items").alias("bcubed_recall_ppm"),
    ).select(
        "*",
        F.expr(
            "2 * bcubed_precision_ppm * bcubed_recall_ppm"
            " div (bcubed_precision_ppm + bcubed_recall_ppm)"
        ).alias("bcubed_f1_ppm"),
    )


def _embedding_cells_sql(bits: int) -> str:
    """Oracle twin of ``_embedding_cells``: (cell, label)."""
    return (
        f"SELECT label, ({_CELL8_SQL}) // {1 << (8 - bits)} AS cell"
        " FROM embeddings"
    )


BCUBED_QUALITY_SQL = f"""
WITH e AS ({_embedding_cells_sql(_BCUBED_BITS)}),
{_cont_sql("e", sys="cell", gold="label")},
sums AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_items,
         CAST(sum(c * (c * {_PPM} // n_sys)) AS BIGINT) AS p_sum,
         CAST(sum(c * (c * {_PPM} // n_gold)) AS BIGINT) AS r_sum
  FROM ({_cells_sql()})
),
ppm AS (
  SELECT n_items, p_sum // n_items AS bcubed_precision_ppm,
         r_sum // n_items AS bcubed_recall_ppm
  FROM sums
)
SELECT n_items, bcubed_precision_ppm, bcubed_recall_ppm,
       CAST(2 * bcubed_precision_ppm * bcubed_recall_ppm
         // (bcubed_precision_ppm + bcubed_recall_ppm) AS BIGINT)
         AS bcubed_f1_ppm
FROM ppm
"""


def _scheme_sql(bits: int) -> str:
    return f"""
SELECT {bits} AS scheme_bits,
       n_items,
       n_items * (n_items - 1) // 2 AS total_pairs,
       p_sys AS cand_pairs,
       p_gold AS gold_pairs,
       p_both AS true_cand_pairs,
       CAST((n_items * (n_items - 1) // 2 - p_sys) * {_PPM}
         // (n_items * (n_items - 1) // 2) AS BIGINT)
         AS reduction_ratio_ppm,
       CAST(p_both * {_PPM} // p_gold AS BIGINT) AS completeness_ppm,
       CAST(p_both * {_PPM} // p_sys AS BIGINT) AS quality_ppm
FROM ({_counts_sql(f"cont{bits}")})
"""


BLOCKING_QUALITY_SQL = f"""
WITH e AS ({_embedding_cells_sql(8)}),
{_cont_sql("e", sys="cell", gold="label")},
{",".join(
    _cont_sql("cont", f"cont{b}", sys=f"sys // {1 << (8 - b)}", c="sum(c)")
    for b in _SCHEME_BITS
)}
{" UNION ALL ".join(_scheme_sql(b) for b in _SCHEME_BITS)}
ORDER BY scheme_bits DESC
"""


# ---------------------------------------------------------------------------
# Cluster agreement between a synthesized SYSTEM and GOLD document
# clustering: Rand/ARI, MUC, V-measure, BLANC
# ---------------------------------------------------------------------------

# gold = doc_id div 4; system corrupts gold BOTH ways (5k/5k+1 merge =
# over-merge, doc_id ≡ 3 mod 8 → singleton = over-split)
_SYS_GOLD_SQL = """
  SELECT CASE WHEN doc_id % 8 = 3 THEN 1000000000 + doc_id
              WHEN (doc_id // 4) % 5 < 2
                THEN (doc_id // 4) - ((doc_id // 4) % 5)
              ELSE doc_id // 4 END AS sys,
         doc_id // 4 AS gold
  FROM documents
"""


def _sys_gold_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (sys, gold). The documents table's natural keys are
    degenerate for pair counting (no exact-dup texts → every gold pair
    count is 0), so like ``setjoin``/``editjoin``/``linkgraph`` the two
    clusterings are SYNTHESIZED deterministically from doc_id and
    mirrored verbatim in the oracle (``_SYS_GOLD_SQL``) — the hash
    certifies the contingency read-offs, not the generator."""
    gold = F.expr("doc_id div 4")
    merged = F.when(gold % 5 < 2, gold - (gold % 5)).otherwise(gold)
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.when(
            F.col("doc_id") % 8 == 3, F.lit(1_000_000_000) + F.col("doc_id")
        )
        .otherwise(merged)
        .alias("sys"),
        gold.alias("gold"),
    )


def ari_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → ONE row: Rand index + Adjusted Rand Index (Hubert &
    Arabie 1985) between the synthesized system clustering and gold,
    read off ``_pair_counts``.

    RI = (T + 2·Σij − Σa − Σb) / T and the ARI ratio are emitted in ppm;
    the cross-products T·Σij etc. are widened to decimal(38,0) / HUGEINT
    (int64 would overflow past ~4.3e9 items) and the signed ppm division
    is SIGN-SPLIT (negate, divide non-negatives, negate back) because
    the engines disagree on negative integer division.
    """
    counts = _pair_counts(_contingency(_sys_gold_docs(spark, sf_dir)))
    wide = counts.select(
        "n_items",
        F.expr("n_items * (n_items - 1) div 2").alias("t_pairs"),
        "p_sys",
        "p_gold",
        "p_both",
    )
    t, a, b, i = (
        f"cast({c} as {_DEC})" for c in ("t_pairs", "p_sys", "p_gold", "p_both")
    )
    den = f"({t} * ({a} + {b}) - 2 * {a} * {b})"
    return wide.select(
        "*",
        F.expr(
            f"cast(({t} + 2 * {i} - {a} - {b}) * {_PPM} div {t} as bigint)"
        ).alias("ri_ppm"),
        F.expr(
            f"""cast(CASE WHEN 2 * ({t} * {i} - {a} * {b}) >= 0
              THEN 2 * ({t} * {i} - {a} * {b}) * {_PPM} div {den}
              ELSE -((2 * ({a} * {b} - {t} * {i})) * {_PPM} div {den})
            END as bigint)"""
        ).alias("ari_ppm"),
    )


ARI_QUALITY_SQL = f"""
WITH docs AS (
{_SYS_GOLD_SQL}
),
{_cont_sql("docs")},
agg AS ({_counts_sql()}),
wide AS (
  SELECT n_items,
         CAST(n_items * (n_items - 1) // 2 AS BIGINT) AS t_pairs,
         p_sys, p_gold, p_both,
         CAST(t AS HUGEINT) AS th, CAST(p_sys AS HUGEINT) AS ah,
         CAST(p_gold AS HUGEINT) AS bh, CAST(p_both AS HUGEINT) AS ih
  FROM (SELECT *, n_items * (n_items - 1) // 2 AS t FROM agg)
)
SELECT n_items, t_pairs, p_sys, p_gold, p_both,
       CAST((th + 2 * ih - ah - bh) * {_PPM} // th AS BIGINT) AS ri_ppm,
       CAST(CASE WHEN 2 * (th * ih - ah * bh) >= 0
         THEN 2 * (th * ih - ah * bh) * {_PPM}
              // (th * (ah + bh) - 2 * ah * bh)
         ELSE -((2 * (ah * bh - th * ih)) * {_PPM}
                // (th * (ah + bh) - 2 * ah * bh))
       END AS BIGINT) AS ari_ppm
FROM wide
"""


def muc_over(docs: DataFrame) -> DataFrame:
    """Generic core over ANY (sys, gold) item relation: one MUC row
    (Vilain et al. 1995), read off ``_pair_counts``.

    MUC counts MISSING LINKS, not pairs: a cluster of size c needs c−1
    links to hold together, and a gold cluster scattered over p system
    partitions is missing p−1 of them — so

      recall    = Σ_gold (|g| − p(g)) / Σ_gold (|g| − 1)
      precision = Σ_sys  (|s| − q(s)) / Σ_sys  (|s| − 1)

    with p(g)/q(s) = the marginal's ``parts``. Numerators are
    non-negative, so integer ppm division is engine-exact. Singletons
    contribute 0/0 and drop out, the standard MUC blind spot (why
    bcubed_quality sits beside this relation).
    """
    return _pair_counts(_contingency(docs)).select(
        "n_items",
        "r_num",
        "r_den",
        "p_num",
        "p_den",
        F.expr(f"r_num * {_PPM} div r_den").alias("muc_recall_ppm"),
        F.expr(f"p_num * {_PPM} div p_den").alias("muc_precision_ppm"),
    ).select(
        "*",
        F.expr(
            "2 * muc_recall_ppm * muc_precision_ppm"
            " div (muc_recall_ppm + muc_precision_ppm)"
        ).alias("muc_f1_ppm"),
    )


def muc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → ONE row of MUC recall/precision/F1 (integer ppm) over
    the synthesized clusterings (``_sys_gold_docs``). Over-merges are
    FREE under MUC recall — the metric that explains why a link-happy
    system can look good here and bad under B-cubed precision."""
    return muc_over(_sys_gold_docs(spark, sf_dir))


MUC_QUALITY_SQL = f"""
WITH docs AS (
{_SYS_GOLD_SQL}
),
{_cont_sql("docs")},
ppm AS (
  SELECT n_items, r_num, r_den, p_num, p_den,
         CAST(r_num * {_PPM} // r_den AS BIGINT) AS muc_recall_ppm,
         CAST(p_num * {_PPM} // p_den AS BIGINT) AS muc_precision_ppm
  FROM ({_counts_sql()})
)
SELECT *,
       CAST(2 * muc_recall_ppm * muc_precision_ppm
         // (muc_recall_ppm + muc_precision_ppm) AS BIGINT) AS muc_f1_ppm
FROM ppm
"""


def vmeasure_over(docs: DataFrame) -> DataFrame:
    """Generic core over ANY (sys, gold) item relation: one V-measure row
    (Rosenberg & Hirschberg 2007), read off ``_cells``.

    Homogeneity (each system cluster holds one gold class:
    1 − H(G|S)/H(G)) and completeness (each gold class lands in one
    system cluster: 1 − H(S|G)/H(S)), combined by their harmonic mean.

    Entropies are LOG-BINNED so every statistic is integer-exact and
    order-independent — the same no-libm bin-ladder discipline as
    ``lm_fluency``: a cell contributes ``c · floor(log2(a / b))`` via
    ``floor(log2(a/b)) = bitlen(a div b) − 1`` for ``a ≥ b`` (and
    ``length(bin(q))`` IS bitlen on both engines). The conditional
    entropies take (a, b) = (marginal, c); the marginal ones
    (N, marginal), summed per cell — Σ over a cluster's cells of c is
    its size, so this is the per-cluster sum exactly; N rides a one-row
    broadcast. Binned H(G|S) can exceed binned H(G) on adversarial
    shapes, so homogeneity_ppm / completeness_ppm are signed; the
    harmonic mean guards on both being positive. No division has a
    negative operand, so engine div semantics agree without the ari
    sign-split; the two ppm numerators are widened like ari_quality.
    """
    cont = _contingency(docs)
    n_rel = cont.agg(F.sum("c").alias("n"))

    def bins(num: str, den: str):
        return F.sum(
            F.col("c") * (F.length(F.bin(F.expr(f"{num} div {den}"))) - 1)
        ).cast("bigint")

    sums = _cells(cont).crossJoin(F.broadcast(n_rel)).agg(
        F.sum("c").alias("n_items"),
        bins("n_sys", "c").alias("hgs_bins"),
        bins("n", "n_gold").alias("hg_bins"),
        bins("n_gold", "c").alias("hsg_bins"),
        bins("n", "n_sys").alias("hs_bins"),
    )
    return sums.select(
        "*",
        F.expr(
            f"""cast(CASE WHEN hg_bins = 0 THEN {_PPM}
              ELSE {_PPM} - cast({_PPM} as {_DEC}) * cast(hgs_bins as {_DEC})
                   div cast(hg_bins as {_DEC})
            END as bigint)"""
        ).alias("homogeneity_ppm"),
        F.expr(
            f"""cast(CASE WHEN hs_bins = 0 THEN {_PPM}
              ELSE {_PPM} - cast({_PPM} as {_DEC}) * cast(hsg_bins as {_DEC})
                   div cast(hs_bins as {_DEC})
            END as bigint)"""
        ).alias("completeness_ppm"),
    ).select(
        "*",
        F.expr(
            f"""cast(CASE WHEN homogeneity_ppm > 0 AND completeness_ppm > 0
              THEN 2 * homogeneity_ppm * completeness_ppm
                   div (homogeneity_ppm + completeness_ppm)
              ELSE 0 END as bigint)"""
        ).alias("v_ppm"),
    )


def vmeasure_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → ONE row of log-binned V-measure statistics over the
    synthesized clusterings (``_sys_gold_docs``)."""
    return vmeasure_over(_sys_gold_docs(spark, sf_dir))


def _bins_sql(num: str, den: str) -> str:
    return f"CAST(sum(c * (length(bin({num} // {den})) - 1)) AS BIGINT)"


VMEASURE_QUALITY_SQL = f"""
WITH docs AS (
{_SYS_GOLD_SQL}
),
{_cont_sql("docs")},
n_rel AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cont),
sums AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_items,
         {_bins_sql("n_sys", "c")} AS hgs_bins,
         {_bins_sql("n", "n_gold")} AS hg_bins,
         {_bins_sql("n_gold", "c")} AS hsg_bins,
         {_bins_sql("n", "n_sys")} AS hs_bins
  FROM ({_cells_sql()}), n_rel
),
ppm AS (
  SELECT n_items, hgs_bins, hg_bins, hsg_bins, hs_bins,
         CAST(CASE WHEN hg_bins = 0 THEN {_PPM}
           ELSE {_PPM} - CAST({_PPM} AS HUGEINT) * hgs_bins // hg_bins
         END AS BIGINT) AS homogeneity_ppm,
         CAST(CASE WHEN hs_bins = 0 THEN {_PPM}
           ELSE {_PPM} - CAST({_PPM} AS HUGEINT) * hsg_bins // hs_bins
         END AS BIGINT) AS completeness_ppm
  FROM sums
)
SELECT *,
       CAST(CASE WHEN homogeneity_ppm > 0 AND completeness_ppm > 0
         THEN 2 * homogeneity_ppm * completeness_ppm
              // (homogeneity_ppm + completeness_ppm)
         ELSE 0 END AS BIGINT) AS v_ppm
FROM ppm
"""


def blanc_over(docs: DataFrame) -> DataFrame:
    """Generic core over ANY (sys, gold) item relation: one BLANC row
    (Recasens & Hovy 2011), read off ``_pair_counts``.

    BLANC averages two F-scores: one over COREFERENCE links (pairs the
    clustering puts together) and one over NON-coreference links (pairs
    it keeps apart) — rewarding both decisions symmetrically where
    pairwise F1 sees only the together side:

      rc = p_both                 (right coref links)
      P_c = p_both / p_sys        R_c = p_both / p_gold
      rn = t − p_sys − p_gold + p_both   (right non-links)
      P_n = rn / (rn + p_gold − p_both)  R_n = rn / (rn + p_sys − p_both)
      BLANC = (F_c + F_n) / 2

    t and rn pass int64 past ~4.3e9 items, so the ppm arithmetic is
    widened decimal(38,0)/HUGEINT. Every numerator is non-negative
    (p_sys + p_gold − p_both ≤ t), so plain integer ppm division is
    engine-exact without the ari sign-split. Zero denominators (no
    links on a side) force that component's P/R/F to 0 and the two
    F-scores are STILL averaged — an intentional, hash-pinned deviation
    from the extended BLANC scorer (Luo et al. 2014), which reports
    only the defined component when the other side is 0/0-degenerate
    (so perfect all-singleton agreement scores 0.5 here, 1.0 there;
    ``test_blanc_all_singletons_guard`` codifies 500000 ppm, and the
    DuckDB oracle mirrors the same rule). Non-degenerate inputs match
    the reference scorer exactly.
    """
    wide = _pair_counts(_contingency(docs)).select(
        "n_items",
        "p_sys",
        "p_gold",
        "p_both",
        F.expr(
            f"cast(cast(n_items as {_DEC}) * (n_items - 1) div 2"
            f" - cast(p_sys as {_DEC}) - cast(p_gold as {_DEC})"
            f" + cast(p_both as {_DEC}) as {_DEC})"
        ).alias("rn"),
    )
    ppm = wide.select(
        "*",
        F.expr(
            f"""cast(CASE WHEN p_sys = 0 THEN 0
              ELSE {_PPM} * cast(p_both as {_DEC}) div cast(p_sys as {_DEC})
            END as bigint)"""
        ).alias("link_precision_ppm"),
        F.expr(
            f"""cast(CASE WHEN p_gold = 0 THEN 0
              ELSE {_PPM} * cast(p_both as {_DEC}) div cast(p_gold as {_DEC})
            END as bigint)"""
        ).alias("link_recall_ppm"),
        F.expr(
            f"""cast(CASE WHEN rn + p_gold - p_both = 0 THEN 0
              ELSE {_PPM} * rn div (rn + cast(p_gold as {_DEC})
                                       - cast(p_both as {_DEC}))
            END as bigint)"""
        ).alias("nonlink_precision_ppm"),
        F.expr(
            f"""cast(CASE WHEN rn + p_sys - p_both = 0 THEN 0
              ELSE {_PPM} * rn div (rn + cast(p_sys as {_DEC})
                                       - cast(p_both as {_DEC}))
            END as bigint)"""
        ).alias("nonlink_recall_ppm"),
    ).select(
        "n_items",
        "p_sys",
        "p_gold",
        "p_both",
        F.col("rn").cast(_DEC).cast("string").alias("rn_pairs"),
        "link_precision_ppm",
        "link_recall_ppm",
        "nonlink_precision_ppm",
        "nonlink_recall_ppm",
        F.expr(
            """cast(CASE WHEN link_precision_ppm + link_recall_ppm = 0
              THEN 0 ELSE 2 * link_precision_ppm * link_recall_ppm
                   div (link_precision_ppm + link_recall_ppm)
            END as bigint)"""
        ).alias("link_f1_ppm"),
        F.expr(
            """cast(CASE WHEN nonlink_precision_ppm + nonlink_recall_ppm = 0
              THEN 0 ELSE 2 * nonlink_precision_ppm * nonlink_recall_ppm
                   div (nonlink_precision_ppm + nonlink_recall_ppm)
            END as bigint)"""
        ).alias("nonlink_f1_ppm"),
    )
    return ppm.select(
        "*",
        F.expr(
            "cast((link_f1_ppm + nonlink_f1_ppm) div 2 as bigint)"
        ).alias("blanc_ppm"),
    )


def blanc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → ONE row of BLANC statistics over the synthesized
    clusterings (``_sys_gold_docs``)."""
    return blanc_over(_sys_gold_docs(spark, sf_dir))


BLANC_QUALITY_SQL = f"""
WITH docs AS (
{_SYS_GOLD_SQL}
),
{_cont_sql("docs")},
wide AS (
  SELECT n_items, p_sys, p_gold, p_both,
         CAST(n_items AS HUGEINT) * (n_items - 1) // 2
           - p_sys - p_gold + p_both AS rn
  FROM ({_counts_sql()})
),
ppm AS (
  SELECT n_items, p_sys, p_gold, p_both,
         CAST(rn AS VARCHAR) AS rn_pairs,
         CAST(CASE WHEN p_sys = 0 THEN 0
           ELSE {_PPM} * CAST(p_both AS HUGEINT) // p_sys
         END AS BIGINT) AS link_precision_ppm,
         CAST(CASE WHEN p_gold = 0 THEN 0
           ELSE {_PPM} * CAST(p_both AS HUGEINT) // p_gold
         END AS BIGINT) AS link_recall_ppm,
         CAST(CASE WHEN rn + p_gold - p_both = 0 THEN 0
           ELSE {_PPM} * rn // (rn + p_gold - p_both)
         END AS BIGINT) AS nonlink_precision_ppm,
         CAST(CASE WHEN rn + p_sys - p_both = 0 THEN 0
           ELSE {_PPM} * rn // (rn + p_sys - p_both)
         END AS BIGINT) AS nonlink_recall_ppm
  FROM wide
),
f AS (
  SELECT *,
         CAST(CASE WHEN link_precision_ppm + link_recall_ppm = 0 THEN 0
           ELSE 2 * link_precision_ppm * link_recall_ppm
                // (link_precision_ppm + link_recall_ppm)
         END AS BIGINT) AS link_f1_ppm,
         CAST(CASE WHEN nonlink_precision_ppm + nonlink_recall_ppm = 0
           THEN 0
           ELSE 2 * nonlink_precision_ppm * nonlink_recall_ppm
                // (nonlink_precision_ppm + nonlink_recall_ppm)
         END AS BIGINT) AS nonlink_f1_ppm
  FROM ppm
)
SELECT *,
       CAST((link_f1_ppm + nonlink_f1_ppm) // 2 AS BIGINT) AS blanc_ppm
FROM f
"""
