"""Phonetic (Soundex) blocking keys + multipass blocking evaluation —
the classical record-linkage blocking toolkit, Spark-first.

Production linkage engines (Splink, the Fellegi–Sunter lineage this
repo's ``fellegi_sunter`` module implements) rarely block on ONE key:
they run several cheap blocking RULES (a name prefix, a phonetic code,
a coarse attribute bucket) and score the DISTINCT union of the
candidate pairs, because any single rule misses the typo class it is
blind to. Two pieces here:

* ``soundex_expr`` / ``soundex_sql`` — classic American Soundex
  (first letter + 3 digits, H/W-transparency and vowel-separator rules
  both honored) as a pure expression chain: uppercase-strip →
  ``translate`` letter→code map (H/W deleted so same-code consonants
  they separate collapse) → per-digit run collapse (RE2-safe fixed
  patterns ``d{{2,}}`` — no backreferences, so the SAME regex runs on
  Java regex and RE2) → drop the first letter's own code → strip
  vowel separators → pad. Identical per-row output on both engines →
  hash-exact; property-tested against an independent pure-Python
  reference on random strings plus the canonical vectors
  (Robert→R163, Ashcraft→A261, Tymczak→T522, Pfister→P236).

* ``multipass_blocking`` — the tuning table for a multi-rule blocking
  plan: per rule AND for the exact distinct-UNION of all rules, the
  candidate-pair count, the retained true-pair count, and
  completeness/quality ppm. Pairs are NEVER materialized: per-rule
  counts use the Σ c·(c−1)/2 pair-sum identity over key-group counts
  (``er_quality`` A6-style map-side-combinable aggregation), and the
  union is EXACT via inclusion–exclusion — pairwise and triple rule
  intersections are themselves pair-sums over compound keys
  (groupBy(key_i, key_j)), so the whole relation is 2^R−1 count
  aggregations for R rules (7 here), each one shuffle of one row per
  compound key per upstream partition. At 10^12 docs this is the only
  shape that can answer "what does adding a soundex pass buy me?"
  without paying the pairs it is trying to avoid.

True pairs (the recall denominator) are pairs sharing the planted
96-char normalized text (the same pseudo-gold ``fellegi_sunter``'s γ
uses — the corpus's dup groups). Ratios in integer ppm, every count
int64: bit-exact cross-engine with the BIGINT casts the strict-hash
parity sweep mandates (see the ``er_quality`` HUGEINT lesson).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_FROM = "AEIOUYBFPVCGJKQSXZDTLMNRHW"
# AEIOUY→0, BFPV→1, CGJKQSXZ→2, DT→3, L→4, MN→5, R→6; H/W unmapped → deleted
_TO = "000000" + "1111" + "22222222" + "33" + "4" + "55" + "6"

_PPM = 1_000_000
NORM_LEN = 96  # pseudo-gold: equality of this normalized prefix
LEN_BUCKET = 64


def soundex_expr(col: Column) -> Column:
    """American Soundex of the first A-Z word content of ``col``."""
    w = F.regexp_replace(F.upper(col), "[^A-Z]", "")
    code = F.translate(w, _FROM, _TO)
    for d in "123456":
        code = F.regexp_replace(code, f"{d}{{2,}}", d)
    # drop the first letter's own code slot — EXCEPT when the first
    # letter is H/W: those were deleted by the translate, so the code
    # string's first char already belongs to the SECOND letter and must
    # survive (soundex("HR") = H600, not H000)
    first = F.substring(w, 1, 1)
    tail = F.when(
        first.isin("H", "W"), code
    ).otherwise(F.substring(code, 2, 1_000_000))
    digits = F.translate(tail, "0", "")
    return F.when(w == "", F.lit("")).otherwise(
        F.concat(first, F.rpad(F.substring(digits, 1, 3), 3, "0"))
    )


def soundex_sql(expr: str) -> str:
    """The identical chain as DuckDB SQL (RE2 needs the 'g' flag)."""
    code = f"translate(regexp_replace(upper({expr}), '[^A-Z]', '', 'g'), '{_FROM}', '{_TO}')"
    for d in "123456":
        code = f"regexp_replace({code}, '{d}{{2,}}', '{d}', 'g')"
    w = f"regexp_replace(upper({expr}), '[^A-Z]', '', 'g')"
    tail = (
        f"CASE WHEN substr({w}, 1, 1) IN ('H', 'W') THEN {code} "
        f"ELSE substr({code}, 2) END"
    )
    return (
        f"CASE WHEN {w} = '' THEN '' ELSE "
        f"substr({w}, 1, 1) || rpad(substr(translate({tail}, '0', ''), 1, 3), 3, '0') END"
    )


def _keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per doc with every rule key + the pseudo-gold key."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    first_tok = F.element_at(F.split(F.trim(F.col("text")), r"\s+"), 1)
    return docs.select(
        F.substring(F.lower("text"), 1, 24).alias("k_prefix"),
        soundex_expr(first_tok).alias("k_soundex"),
        F.concat_ws(
            ":",
            F.col("lang"),
            F.expr(f"CAST(n_chars div {LEN_BUCKET} AS STRING)"),
        ).alias("k_langlen"),
        F.md5(F.substring(F.lower("text"), 1, NORM_LEN)).alias("k_gold"),
    )


_RULES = ("k_prefix", "k_soundex", "k_langlen")


def _grouping_layout() -> tuple[list[tuple[str, ...]], list[str],
                                list[tuple[str, ...]]]:
    """(combos, all_cols, sets) for the 15-set GROUPING SETS layout:
    7 rule combos × {with, without} the gold key + the gold
    denominator. Deterministic from ``_RULES``."""
    from itertools import combinations

    combos = [
        combo
        for r in range(1, len(_RULES) + 1)
        for combo in combinations(_RULES, r)
    ]
    all_cols = list(_RULES) + ["k_gold"]
    sets: list[tuple[str, ...]] = []
    for combo in combos:
        sets.append(tuple(combo))
        sets.append(tuple(list(combo) + ["k_gold"]))
    sets.append(("k_gold",))
    # Spark pins grouping_id()'s argument order to the columns'
    # first-appearance order across the sets — lead with the full
    # 4-column set (it's one of the 15 anyway) so that order IS all_cols
    sets.sort(key=len, reverse=True)
    return combos, all_cols, sets


def _gid_of(all_cols: list[str], keys: tuple[str, ...]) -> int:
    # Spark grouping_id(): leftmost arg = highest bit, bit set when
    # the column is AGGREGATED (absent from the grouping set)
    n = len(all_cols)
    return sum(
        1 << (n - 1 - i)
        for i, c in enumerate(all_cols)
        if c not in keys
    )


def multipass_gid_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed core of ``multipass_blocking``: the 15-row
    (gid, v) relation of compound-key pair-sums Σ c·(c−1)/2, one per
    grouping set.

    ALL 15 pair-sums in ONE pass over the corpus: GROUPING SETS
    expands each input row once per set and a single map-side-
    combinable aggregation counts every (set, group) — one scan + one
    shuffle prices the whole blocking plan, vs 15 sequential
    aggregation passes (measured 8.9 s → ~2 s at sf0.1; at 10^12 rows
    the 15× scan saving is the difference between feasible and not).
    The pair-sum second stage runs over the tiny (gid, group) count
    relation. Plan-audited in EXPLAIN.md (Expand + HashAggregate, no
    Python)."""
    keyed = _keyed(spark, sf_dir)
    _, all_cols, sets = _grouping_layout()
    view = f"mpb_keyed_{id(keyed) & 0xFFFF}"
    keyed.createOrReplaceTempView(view)
    sets_sql = ", ".join(
        "(" + ", ".join(ks) + ")" for ks in sets
    )
    counts = spark.sql(
        f"SELECT grouping_id({', '.join(all_cols)}) AS gid, count(*) AS c"
        f" FROM {view} GROUP BY GROUPING SETS ({sets_sql})"
    )
    spark.catalog.dropTempView(view)
    return counts.groupBy("gid").agg(
        F.coalesce(
            F.sum(F.expr("c * (c - 1) div 2")), F.lit(0)
        ).alias("v")
    )


def multipass_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → one row per blocking rule + one 'union' row:
    (scheme, cand_pairs, true_pairs, gold_pairs, completeness_ppm,
    quality_ppm). Union counts are EXACT distinct-pair counts via
    inclusion–exclusion over compound-key pair-sums; the distributed
    work is ``multipass_gid_sums`` (one GROUPING SETS scan).
    Collecting its 15-row result is the same O(1) driver read as
    chi²'s crosstab."""
    combos, all_cols, sets = _grouping_layout()

    def _gid(keys: tuple[str, ...]) -> int:
        return _gid_of(all_cols, keys)

    sums = multipass_gid_sums(spark, sf_dir).collect()
    by_gid = {r["gid"]: r["v"] for r in sums}
    vals = {ks: by_gid.get(_gid(ks), 0) for ks in sets}

    def inex(gold_side: bool) -> int:
        # |A ∪ B ∪ C| = Σ single − Σ pairwise + triple
        return sum(
            (1 if len(combo) % 2 == 1 else -1)
            * vals[
                tuple(list(combo) + ["k_gold"])
                if gold_side
                else tuple(combo)
            ]
            for combo in combos
        )

    gold_pairs = vals[("k_gold",)]
    rows = [
        (rule, vals[(rule,)], vals[(rule, "k_gold")]) for rule in _RULES
    ]
    rows.append(("union", inex(False), inex(True)))
    out = spark.createDataFrame(
        [
            (
                scheme,
                int(cand),
                int(true),
                int(gold_pairs),
                int(true * _PPM // gold_pairs) if gold_pairs else 0,
                int(true * _PPM // cand) if cand else 0,
            )
            for scheme, cand, true in rows
        ],
        "scheme string, cand_pairs long, true_pairs long, gold_pairs long,"
        " completeness_ppm long, quality_ppm long",
    )
    return out.orderBy("scheme")


def _sum_sql(keys: list[str], alias: str) -> str:
    ks = ", ".join(keys)
    return (
        f"(SELECT coalesce(sum(c * (c - 1) // 2), 0) AS {alias} FROM "
        f"(SELECT CAST(count(*) AS BIGINT) AS c FROM keyed GROUP BY {ks}))"
    )


def _multipass_sql() -> str:
    from itertools import combinations

    singles = {r: (f"s_{r}", f"sg_{r}") for r in _RULES}
    terms, gterms = [], []
    rels = []
    for r in range(1, len(_RULES) + 1):
        for combo in combinations(_RULES, r):
            tag = "_".join(c[2:] for c in combo)
            rels.append(f"c_{tag} AS {_sum_sql(list(combo), 'v')}")
            rels.append(
                f"cg_{tag} AS {_sum_sql(list(combo) + ['k_gold'], 'v')}"
            )
            sign = "+" if r % 2 == 1 else "-"
            terms.append(f"{sign} (SELECT v FROM c_{tag})")
            gterms.append(f"{sign} (SELECT v FROM cg_{tag})")
    rule_rows = []
    for rule in _RULES:
        tag = rule[2:]
        rule_rows.append(
            f"SELECT '{rule}' AS scheme, (SELECT v FROM c_{tag}) AS cand,"
            f" (SELECT v FROM cg_{tag}) AS if_true"
        )
    union_row = (
        f"SELECT 'union' AS scheme, ({' '.join(terms)}) AS cand,"
        f" ({' '.join(gterms)}) AS if_true"
    )
    body = " UNION ALL ".join(rule_rows + [union_row])
    first_tok = (
        "CASE WHEN length(trim(text)) = 0 THEN '' "
        "ELSE regexp_split_to_array(trim(text), '\\s+')[1] END"
    )
    sdx = soundex_sql(first_tok)
    return f"""
WITH docs AS (SELECT * FROM documents),
keyed AS (
  SELECT substr(lower(text), 1, 24) AS k_prefix,
         {sdx} AS k_soundex,
         lang || ':' || CAST(n_chars // {LEN_BUCKET} AS VARCHAR) AS k_langlen,
         md5(substr(lower(text), 1, {NORM_LEN})) AS k_gold
  FROM docs
),
gold AS {_sum_sql(["k_gold"], "gold_pairs")},
{", ".join(rels)},
schemes AS ({body})
SELECT scheme,
       CAST(cand AS BIGINT) AS cand_pairs,
       CAST(if_true AS BIGINT) AS true_pairs,
       CAST((SELECT gold_pairs FROM gold) AS BIGINT) AS gold_pairs,
       CAST(CASE WHEN (SELECT gold_pairs FROM gold) > 0
            THEN if_true * {_PPM} // (SELECT gold_pairs FROM gold)
            ELSE 0 END AS BIGINT) AS completeness_ppm,
       CAST(CASE WHEN cand > 0 THEN if_true * {_PPM} // cand
            ELSE 0 END AS BIGINT) AS quality_ppm
FROM schemes
ORDER BY scheme
"""


MULTIPASS_BLOCKING_SQL = _multipass_sql()
