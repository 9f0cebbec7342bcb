"""Deterministic waterfall (rule-cascade) linkage — the multi-pass
unique-key matcher production record linkage actually starts with.

Before any probabilistic model, real linkage systems (the Census
Bureau's MAFLA-style match, NCHS/CDC deterministic passes, every
master-data-management dedupe) run a CASCADE of deterministic rules:
pass 1 matches on the strictest key (e.g. exact normalized name), each
later pass on a looser key (name prefix, then host+serial), and every
pass sees ONLY the records no earlier pass linked. Within a pass the
classical safety rule is UNIQUE-KEY matching: a pair links iff the key
value occurs exactly once in the unlinked A pool AND exactly once in
the unlinked B pool — ambiguous keys (two candidates) are NOT guessed
at; they fall through to a later, more discriminating pass or to
clerical review. That fall-through is the semantics that neither a
single join nor threshold+CC can express, and it is what this operator
certifies: the planted corpus contains groups whose pass-2 key COLLIDES
across two groups, which must be rejected in pass 2 and rescued by
pass 3.

Relational construction, per pass i over the current pools:

1. ``groupBy(side, key_i) HAVING count = 1`` — the unique-key relation
   (``min(rec_id)`` rides along as THE id, exact because the group has
   one row);
2. equi-join the A-unique keys with the B-unique keys → this pass's
   links, tagged ``pass_no = i``;
3. anti-join both pools against the new links' ids.

K passes = K bounded rounds (one map-side-combinable count + one
equi-join on key + one anti-join each); each pass's links relation and
pool are materialized (lazy ``localCheckpoint``) so pass i+1's pool
lineage reads a few-MB relation instead of recomputing the cascade, and
nothing is left in the session's cache manager.
No window, no pairs beyond the unique-key join, nothing quadratic.

Input: synthesized two-file records from doc_id (even = file A, odd =
file B, group m = doc_id div 2), mirrored verbatim in the oracle; the
hash certifies the CASCADE (uniqueness test, pass priority,
fall-through, pool subtraction), not the generator. Planted classes by
``m % 4``: 0 → exact name match (pass 1); 1 → name tail corrupted but
prefix+host intact (pass 2), EXCEPT groups ``m % 8 ∈ {1,5}`` with an
even ``m div 8`` share their pass-2 prefix key pairwise — ambiguous in
pass 2, rescued by pass 3; 2 → name replaced, host+serial intact
(pass 3); 3 → host also corrupted (unlinkable — stays out of the
output entirely).

Reference analog: none — the reference links mentions to an ontology
by learned similarity; deterministic cascades are the grafted ER tier
(the rule stack every production linker runs before its FS/ML stage,
cf. ``fellegi_sunter``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_H1 = 2654435761
_H2 = 40503
_H3 = 2246822519
_M40 = 1 << 40
_M56 = 1 << 56

KEYS = ["key_name", "key_prefix", "key_host_serial"]


def _records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (rec_id, side, key_name, key_prefix,
    key_host_serial): the planted two-file corpus. key_prefix is the
    name's first 8 chars ALONE (no host) — that is what makes the
    even-t class-1 groups pairwise AMBIGUOUS in pass 2; accidental
    within-side prefix collisions among u/w-named records only remove
    them from a pass they could never link in (cross-side their first
    letters differ), so the planted semantics stay exact."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    m = F.expr("doc_id div 2")
    is_a = F.col("doc_id") % 2 == 0
    c = m % 4
    t = F.expr("doc_id div 16")  # = m div 8
    r = m % 8
    # names --------------------------------------------------------------
    hex10_1 = F.format_string("%010x", (m * _H1) % _M40)
    hex10_2 = F.format_string("%010x", (m * _H2 + 13) % _M40)
    name_c0 = F.concat(F.lit("u"), hex10_1, hex10_2)
    # class-1 prefix key: even t → groups 8t+1 and 8t+5 SHARE it
    pkey = F.when(t % 2 == 0, t).otherwise(t * 4 + r)
    prefix8 = F.concat(F.lit("p"), F.format_string("%07x", pkey))
    tail_a = F.format_string("%014x", (m * _H3) % _M56)
    tail_b = F.format_string("%014x", (m * _H3 + 999) % _M56)
    name_c1 = F.concat(prefix8, F.when(is_a, tail_a).otherwise(tail_b))
    name_a23 = F.concat(F.lit("u"), hex10_1, hex10_2)
    name_b23 = F.concat(F.lit("w"), hex10_2, hex10_1)
    name = (
        F.when(c == 0, name_c0)
        .when(c == 1, name_c1)
        .otherwise(F.when(is_a, name_a23).otherwise(name_b23))
    )
    # host + serial --------------------------------------------------------
    host_ok = F.concat(F.lit("h"), F.format_string("%010x", (m * _H2) % _M40))
    host = F.when(
        (c == 3) & ~is_a, F.concat(F.lit("x"), F.format_string("%x", m))
    ).otherwise(host_ok)
    return docs.select(
        F.col("doc_id").alias("rec_id"),
        F.when(is_a, F.lit("a")).otherwise(F.lit("b")).alias("side"),
        name.alias("key_name"),
        F.substring(name, 1, 8).alias("key_prefix"),
        F.concat(host, F.lit(":"), m.cast("string")).alias(
            "key_host_serial"
        ),
    )


def waterfall_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (id_a, id_b, pass_no): the deterministic cascade's
    1:1 links, earliest-pass priority, unique-key safety rule."""
    return waterfall_link_over(_records(spark, sf_dir), KEYS)


def waterfall_link_over(recs: DataFrame, keys: list[str]) -> DataFrame:
    """Generic core over ANY (rec_id, side, *keys) relation: K-pass
    unique-key cascade. NULL key → the record sits that pass out.

    Per pass the unique-key rule — key occurs exactly once in the A pool
    AND exactly once in the B pool — is ONE aggregation keyed by the pass
    key with per-side conditional counts/mins, filtered to ``ca = cb =
    1``. (The r5 formulation grouped by ``(side, key)`` and self-joined
    the two sides back on the key: one extra shuffle + join per pass,
    and the twice-referenced agg subtree re-computed the whole pool
    lineage per side — 68 parquet scans in the sf0.1 plan. Same links:
    a side with count ≠ 1 fails its ``HAVING`` in the old form and the
    ``ca/cb = 1`` filter here.) Pools are checkpointed per pass — the
    few-MB surviving-record relation each later pass re-reads — lazily,
    with no cache-manager matching, so one query never warms another."""
    links: DataFrame | None = None
    pool = recs.localCheckpoint(eager=False)
    is_a = F.col("side") == "a"
    for i, k in enumerate(keys, 1):
        new = (
            pool.filter(F.col(k).isNotNull())
            .groupBy(F.col(k))
            .agg(
                F.sum(F.when(is_a, 1).otherwise(0)).alias("ca"),
                F.sum(F.when(is_a, 0).otherwise(1)).alias("cb"),
                F.min(F.when(is_a, F.col("rec_id"))).alias("id_a"),
                F.min(F.when(~is_a, F.col("rec_id"))).alias("id_b"),
            )
            .filter((F.col("ca") == 1) & (F.col("cb") == 1))
            .select(
                "id_a", "id_b", F.lit(i).cast("int").alias("pass_no")
            )
            # few-MB link relation; caps pool lineage depth
            .localCheckpoint(eager=False)
        )
        links = new if links is None else links.unionByName(new)
        if i < len(keys):
            taken = new.select(F.col("id_a").alias("rec_id")).unionByName(
                new.select(F.col("id_b").alias("rec_id"))
            )
            pool = pool.join(taken, "rec_id", "left_anti").localCheckpoint(
                eager=False
            )
    return links.orderBy("id_a")


# generator mirrored verbatim; the cascade unrolls as one CTE per pass
WATERFALL_LINK_SQL = f"""
WITH recs AS (
  SELECT doc_id AS rec_id,
         CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
         name AS key_name,
         substr(name, 1, 8) AS key_prefix,
         host || ':' || CAST(m AS VARCHAR) AS key_host_serial
  FROM (
    SELECT doc_id, m,
      CASE
        WHEN m % 4 = 0 THEN
          'u' || printf('%010x', (m * {_H1}) % {_M40})
              || printf('%010x', (m * {_H2} + 13) % {_M40})
        WHEN m % 4 = 1 THEN
          'p' || printf('%07x', CASE WHEN (doc_id // 16) % 2 = 0
                                     THEN doc_id // 16
                                     ELSE (doc_id // 16) * 4 + m % 8 END)
              || printf('%014x', CASE WHEN doc_id % 2 = 0
                                      THEN (m * {_H3}) % {_M56}
                                      ELSE (m * {_H3} + 999) % {_M56} END)
        WHEN doc_id % 2 = 0 THEN
          'u' || printf('%010x', (m * {_H1}) % {_M40})
              || printf('%010x', (m * {_H2} + 13) % {_M40})
        ELSE
          'w' || printf('%010x', (m * {_H2} + 13) % {_M40})
              || printf('%010x', (m * {_H1}) % {_M40})
      END AS name,
      CASE WHEN m % 4 = 3 AND doc_id % 2 = 1
           THEN 'x' || printf('%x', m)
           ELSE 'h' || printf('%010x', (m * {_H2}) % {_M40}) END AS host
    FROM (SELECT doc_id, doc_id // 2 AS m FROM documents)
  )
),
u1 AS (
  SELECT side, key_name AS k, min(rec_id) AS rid
  FROM recs GROUP BY side, key_name HAVING count(*) = 1
),
l1 AS (
  SELECT a.rid AS id_a, b.rid AS id_b, 1 AS pass_no
  FROM u1 a JOIN u1 b ON a.k = b.k AND a.side = 'a' AND b.side = 'b'
),
p2 AS (
  SELECT * FROM recs WHERE rec_id NOT IN
    (SELECT id_a FROM l1 UNION ALL SELECT id_b FROM l1)
),
u2 AS (
  SELECT side, key_prefix AS k, min(rec_id) AS rid
  FROM p2 GROUP BY side, key_prefix HAVING count(*) = 1
),
l2 AS (
  SELECT a.rid AS id_a, b.rid AS id_b, 2 AS pass_no
  FROM u2 a JOIN u2 b ON a.k = b.k AND a.side = 'a' AND b.side = 'b'
),
p3 AS (
  SELECT * FROM p2 WHERE rec_id NOT IN
    (SELECT id_a FROM l2 UNION ALL SELECT id_b FROM l2)
),
u3 AS (
  SELECT side, key_host_serial AS k, min(rec_id) AS rid
  FROM p3 GROUP BY side, key_host_serial HAVING count(*) = 1
),
l3 AS (
  SELECT a.rid AS id_a, b.rid AS id_b, 3 AS pass_no
  FROM u3 a JOIN u3 b ON a.k = b.k AND a.side = 'a' AND b.side = 'b'
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(pass_no AS INT) AS pass_no
FROM (SELECT * FROM l1 UNION ALL SELECT * FROM l2
      UNION ALL SELECT * FROM l3)
ORDER BY id_a
"""
