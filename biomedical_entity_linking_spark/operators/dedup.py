"""Deduplication operator family over the ``documents`` table.

The large-scale training-data-pipeline companions to the ER pipeline: exact
dedup (hash groupBy), n-gram Jaccard near-dup, MinHash+LSH near-dup, and
SimHash. The first three are *pure Catalyst* (no UDFs) and every hash is
md5-based so a DuckDB oracle can replicate them bit-for-bit; SimHash uses
explode + bit algebra (also oracle-expressible).

Reference analogs: dedup-by-key filters (``special_partition.pyx:366-382``),
concat+drop_duplicates (``umls_utils.py:224,283``), and the same
LSH-banding scheme the ER blocking stage uses (``operators/blocking.py``) —
here re-expressed end-to-end in SQL-portable md5 arithmetic.

Scale notes: shingle df-capping (drop shingles appearing in more than
``max_df`` docs) bounds the self-join exactly the way the reference's
``min_df=10`` prunes its tf-idf vocabulary (``scispacy_embeddings.py:149``)
— inverted for the hot-key concern (X8). All joins are equi-joins on shingle
or band keys → plain shuffle joins that AQE can re-balance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy(md5(text)): copy count + canonical (min) doc_id per content
    hash. At 100 TB this is one hash-shuffle on a 16-byte key — map-side
    partial agg halves the shuffle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .orderBy("text_hash")
    )


EXACT_DEDUP_SQL = """
SELECT md5(text) AS text_hash,
       count(*) AS n_copies,
       min(doc_id) AS canonical_doc_id
FROM documents
GROUP BY md5(text)
ORDER BY text_hash
"""


# --------------------------------------------------------------------------
# shared shingle relation (token 5-grams, md5-hashed, df-capped)
# --------------------------------------------------------------------------

NGRAM_N = 5
MAX_DF = 50  # drop shingles shared by more than MAX_DF docs (hot-shingle cap)


def _shingle_relation(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle-key) distinct, with document-frequency capping.

    Built from Catalyst primitives only: tokens → sequence → transform →
    explode. The df-cap is a groupBy + join (logged drops happen via the
    relation's own counts — callers can diff).

    The shingle key is the first 60 bits of the shingle's md5 AS A
    BIGINT, converted at birth inside the lambda: every downstream
    shuffle (the distinct, the df groupBy, the df-cap join, and the
    inverted-index self-join) then moves 8-byte longs instead of
    32-char hex strings — ~4× less shuffle payload on the relation
    that dominates the near-dup family's runtime (measured: the edges
    phase is 99% of neardup_clusters at 1M docs,
    `tools/neardup_decomp_r5.log` at commit `0d9120d`). Cross-engine
    portable: DuckDB runs the identical ``('0x' || substr(md5(..),1,15))::BIGINT``. 60-bit
    keys over a crawl shard's ~10^8 shingles collide with probability
    ~1e-2 per shard (birthday), merging two shingles — noise far below
    the MinHash/df-cap approximation the family already carries.

    The split is staged as a column: the window lambda's body references
    the token array, and lambda bodies evaluate interpreted with no
    common-subexpression elimination — inline, the regex split re-ran
    once per shingle position, O(L²) regex work per row."""
    toks = F.col("toks")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(NGRAM_N - 1)),
        lambda i: F.conv(
            F.substring(F.md5(F.array_join(F.slice(toks, i, NGRAM_N), " ")), 1, 15),
            16,
            10,
        ).cast("long"),
    )
    sh = (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
        # guard BEFORE sequence(): Spark errors on start > stop boundaries
        .filter(F.size(toks) >= NGRAM_N)
        .select("doc_id", F.explode(shingles).alias("sh"))
        .dropDuplicates(["doc_id", "sh"])
        # materialized once (r6): the relation is referenced twice right
        # here (occurrence side + df-count side) and 2-3 more times by
        # every caller (sizes agg, inverted-index self-join, signature
        # agg) — without the barrier Catalyst re-derives the tokenize +
        # explode subtree from the SCAN per reference (measured 16
        # FileScans in the sf0.1 minhash plan). localCheckpoint rather
        # than persist() — no cache-manager plan matching, so one timed
        # query can never warm another's identical subtree — and LAZY
        # (eager=False) so the materialization fuses into the query's
        # own first action instead of adding a serial barrier job.
        .localCheckpoint(eager=False)
    )
    df_counts = sh.groupBy("sh").agg(F.count("*").alias("df"))
    return (
        sh.join(df_counts.filter(F.col("df") <= MAX_DF), "sh")
        .select("doc_id", "sh")
        # the df-capped relation itself is what callers fan out from;
        # checkpointing it keeps the cap join single-execution too
        .localCheckpoint(eager=False)
    )


_SHINGLES_CTE = f"""
tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
  WHERE length(trim(text)) > 0
    AND len(regexp_split_to_array(trim(text), '\\s+')) >= {NGRAM_N}
),
sh0 AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(array_to_string(toks[i:i+{NGRAM_N - 1}], ' ')), 1, 15))::BIGINT AS sh
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {NGRAM_N - 1})) AS i
        FROM tok)
),
sh AS (
  SELECT doc_id, sh FROM sh0
  QUALIFY count(*) OVER (PARTITION BY sh) <= {MAX_DF}
)
"""


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs
# --------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.4


def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard over df-capped 5-gram sets for every pair sharing ≥1
    shingle; keep pairs ≥ threshold. Self-join on the shingle key — the
    textbook inverted-index pair generation (J10 analog)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = _shingle_relation(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_shared", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


NGRAM_JACCARD_SQL = f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM sh a JOIN sh b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared,
       round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 6) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# MinHash + LSH near-dup candidates (md5-arithmetic, SQL-portable)
# --------------------------------------------------------------------------

NUM_PERM = 16
LSH_BANDS = 4
LSH_ROWS = 4
_P31 = (1 << 31) - 1


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 perms, affine maps mod 2^31-1 over md5-derived shingle
    ints) → 4 bands × 4 rows → candidate pairs sharing ≥1 band, with the
    signature-agreement Jaccard estimate.

    Same banding math as the ER blocking stage, but expressed entirely in
    relational algebra (shingles × perms → groupBy-min → band hash → self
    join) so the DuckDB oracle replicates it exactly. Perm parameters are
    fixed affine: a_i = 2i+1, b_i = 1000003·i.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = _shingle_relation(docs).withColumn(
        "h", F.col("sh") % _P31  # sh is already the 60-bit md5 bigint
    )
    # ONE groupBy over the shingle relation with NUM_PERM min-agg
    # expressions — no perms crossJoin (a 16x row/shuffle amplification at
    # scale); the signature lands as a wide row per doc.
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(((2 * i + 1) * F.col("h") + i * 1000003) % _P31).alias(
                f"mh{i}"
            )
            for i in range(NUM_PERM)
        ]
    ).localCheckpoint(eager=False)  # referenced 3x (bands + both sig probes)
    # band keys from column slices of the wide signature (4-element explode
    # over doc rows only — O(docs), not O(shingles))
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{i}").cast("string")
                        for i in range(b * LSH_ROWS, (b + 1) * LSH_ROWS)
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(LSH_BANDS)
    ]
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "bk.band", "bk.band_key")
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # signature agreement: two wide-row joins + a 16-term sum, no perm axis
    siga = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(NUM_PERM)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(NUM_PERM)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(NUM_PERM)
    )
    est = (
        cand.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(agree / NUM_PERM, 6).alias("est_jaccard"),
        )
    )
    return est.orderBy("doc_a", "doc_b")


MINHASH_LSH_SQL = f"""
WITH {_SHINGLES_CTE},
shh AS (
  SELECT doc_id, sh % {_P31} AS h
  FROM sh
),
sig AS (
  SELECT doc_id, p.perm,
         min(((p.perm * 2 + 1) * h + p.perm * 1000003) % {_P31}) AS mh
  FROM shh, range(0, {NUM_PERM}) p(perm)
  GROUP BY doc_id, p.perm
),
bands AS (
  -- floor(): DuckDB '/' is float division and CAST rounds; Spark's cast
  -- truncates — floor gives the intended contiguous 4-perm bands
  SELECT doc_id, CAST(floor(perm / {LSH_ROWS}) AS BIGINT) AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY perm, mh)) AS band_key
  FROM sig
  GROUP BY doc_id, CAST(floor(perm / {LSH_ROWS}) AS BIGINT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, band_key)
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / {NUM_PERM}, 6)
         AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b AND sb.perm = sa.perm
GROUP BY doc_a, doc_b
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# Near-dup cluster formation (LSH candidates → connected components)
# --------------------------------------------------------------------------

NEARDUP_CC_THRESH = 0.5  # signature-agreement gate on LSH candidate edges


def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER formation — the step every training pipeline runs
    after candidate generation: keep-one-per-group needs the groups, and
    near-duplication is transitive in effect (A~B, B~C ⇒ drop two of
    three), so candidate pairs must be closed into components before any
    doc is dropped. Pairs alone under-delete; this operator finishes the
    job.

    Plan: MinHash-LSH candidate pairs (the oracle-green relation above),
    gated at signature agreement ≥ 0.5 → the large-star/small-star
    distributed CC of ``operators/connected_components`` (local-contract
    prepass, O(log² n) rounds of groupBy-min + join, per-round
    localCheckpoint) → per-doc ``(doc_id, cluster, cluster_size)`` for
    non-singleton clusters, cluster label = min doc_id of the component.
    At 100 TB every stage is bounded: LSH banding keys the self-join,
    the agreement gate prunes band false-positives before they reach the
    edge set, and CC shuffles scale with edges (≈ docs for near-dup
    graphs), with AQE skew-join splitting on collapsed-star hot roots.

    This is also the first ORACLE-HASHED exercise of the iterative CC
    operator (the flagship's ``er_clusters`` is rows-only by design):
    the DuckDB oracle closes the same gated edges with a recursive-CTE
    transitive closure — tractable at test scale, where component sizes
    are small — so rows+schema+value-hash certify the component
    partition itself, not just counters. Reference semantics parity:
    cluster = connected component of the candidate graph, label = lowest
    member (``eval_cluster_linking.py:130-146``, ``:149-257``).
    """
    from .connected_components import connected_components

    edges = minhash_lsh_candidates(spark, sf_dir).filter(
        F.col("est_jaccard") >= NEARDUP_CC_THRESH
    )
    labels, _ = connected_components(edges, src="doc_a", dst="doc_b")
    lab = labels.select(
        F.col("url").alias("doc_id"), F.col("component").alias("cluster")
    )
    sizes = lab.groupBy("cluster").agg(F.count("*").alias("cluster_size"))
    return (
        lab.join(sizes, "cluster")
        .filter(F.col("cluster_size") >= 2)
        .select("doc_id", "cluster", "cluster_size")
        .orderBy("cluster", "doc_id")
    )


NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE
cand AS (
  SELECT doc_a, doc_b
  FROM ({MINHASH_LSH_SQL})
  WHERE est_jaccard >= {NEARDUP_CC_THRESH}
),
und AS (
  SELECT doc_a AS s, doc_b AS d FROM cand
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM cand
),
-- transitive closure: reach(a, b) ⇔ a reaches b through gated edges;
-- UNION (not UNION ALL) dedups accumulated rows, so iteration converges
reach(a, b) AS (
  SELECT s, d FROM und
  UNION
  SELECT r.a, u.d FROM reach r JOIN und u ON r.b = u.s
),
lab AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a
),
sizes AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
  FROM lab GROUP BY cluster
)
SELECT doc_id, cluster, cluster_size
FROM lab JOIN sizes USING (cluster)
WHERE cluster_size >= 2
ORDER BY cluster, doc_id
"""


# --------------------------------------------------------------------------
# SimHash (32-bit, over distinct tokens)
# --------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: bit j set iff the sum over distinct
    tokens of ±1 (sign = bit j of the token's md5-derived hash) is > 0.

    Bit-parallel form: ONE groupBy(doc_id) with 32 conditional-sum agg
    expressions (one per bit), then bit re-assembly in a single select —
    no tokens × bits crossJoin (a 32x shuffle amplification at scale).
    All integer algebra — identical in DuckDB."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
            ).alias("tok"),
        )
        .withColumn(
            "th", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
        )
    )
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"shiftright(th, {j}) % 2 = 1"), 1).otherwise(-1)
            ).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    assemble = sum(
        F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for j in range(SIMHASH_BITS)
    )
    return bit_sums.select(
        "doc_id", assemble.alias("simhash")
    ).orderBy("doc_id")


def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ 3.

    Candidate generation by the byte-band pigeonhole: split the 32-bit
    simhash into four 8-bit bands; any pair within Hamming distance 3 must
    agree exactly on ≥1 band (4 bands, ≤3 flipped bits). Band-equality is a
    plain equi-join key, then the exact Hamming distance re-scores the
    survivors — the same over-generate-then-refine shape as the LSH path.
    All integer algebra, identical in the DuckDB oracle.
    """
    # (doc_id, simhash) — materialized once: every relation below derives
    # from it (lazy checkpoint: no serial barrier, no cache-manager reuse)
    sh = simhash(spark, sf_dir).localCheckpoint(eager=False)
    # r6: band-join DISTINCT VALUES, not documents. Dedup corpora put
    # thousands of identical simhashes in every band block (sf1.0:
    # 50,000 docs collapse to 20,514 values with a 4,076-doc top class),
    # so the r5 doc-level band self-join enumerated each duplicate
    # class's quadratic pair set once PER BAND plus every hot-byte
    # cross-pair — 548 s at sf1.0. Value-level: identical-value doc
    # pairs are within-class pairs (hamming 0) read off one equi-join on
    # the simhash itself; cross-value candidates come from the band join
    # over distinct values (collision width shrinks by the duplication
    # factor), are hamming-verified while still one row per VALUE pair,
    # and only qualifying value pairs expand back to doc pairs — the
    # expansion is exactly the output, no wasted enumeration. Same pair
    # set: docs share a band iff their values do, and hamming depends
    # only on the values.
    vals = sh.select("simhash").distinct().localCheckpoint(eager=False)
    vbands = vals.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"CAST(shiftright(simhash, {8 * b}) % 256 AS INT)"
                        ).alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bv"),
    ).select("simhash", "bv.band", "bv.band_val")
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    vpairs = (
        vbands.alias("a")
        .join(vbands.alias("b"), ["band", "band_val"])
        .filter(F.col("a.simhash") < F.col("b.simhash"))
        .select(
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= 3)  # verify BEFORE distinct + expand
        .distinct()
    )
    within = (
        sh.alias("a")
        .join(sh.alias("b"), "simhash")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.lit(0).alias("hamming"),
        )
    )
    ma = sh.select(F.col("simhash").alias("sh_a"), F.col("doc_id").alias("da"))
    mb = sh.select(F.col("simhash").alias("sh_b"), F.col("doc_id").alias("db"))
    cross = (
        vpairs.join(ma, "sh_a")
        .join(mb, "sh_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    return within.unionByName(cross).orderBy("doc_a", "doc_b")


SIMHASH_NEARDUP_SQL = f"""
WITH sh AS (

WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
    FROM documents WHERE length(trim(text)) > 0
  )
),
th AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS th
  FROM toks
),
contrib AS (
  SELECT doc_id, b.bit,
         CASE WHEN (th >> CAST(b.bit AS INT)) % 2 = 1 THEN 1 ELSE -1 END AS c
  FROM th, range(0, {SIMHASH_BITS}) b(bit)
),
bitsum AS (
  SELECT doc_id, bit, sum(c) AS s FROM contrib GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << CAST(bit AS INT)
                     ELSE 0 END) AS BIGINT) AS simhash
FROM bitsum
GROUP BY doc_id
),
bands AS (
  SELECT doc_id, simhash, b.band,
         CAST((simhash >> (8 * b.band)) % 256 AS INT) AS band_val
  FROM sh, range(0, 4) b(band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sh_a, b.simhash AS sh_b
  FROM bands a JOIN bands b USING (band, band_val)
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= 3
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# embedding-cosine near-dup (IVF-cell-bucketed, no all-pairs)
# --------------------------------------------------------------------------

# production near-dup operating point: cosine ≥ 0.95. The synthetic
# embeddings table plants no near-identical vectors (max random pairwise
# cosine ≈ 0.51), and the testdata directory is read-only — so the query
# plants them IN-FLOW: a deterministic sign-preserving multiplicative
# perturbation of every 20th vector (weights {0.8..1.2} cycling by dim →
# planted cosine ≈ 0.99, well above threshold; identical sign pattern →
# the planted pair ALWAYS co-buckets in its IVF cell). The oracle
# replicates the same planting, so the green row certifies that the
# operator finds exactly the planted near-dups at the real threshold.
EMB_NEARDUP_THRESHOLD = 0.95
_PLANT_EVERY = 20
_PLANT_ID_OFFSET = 1_000_000


_UNROLLED_DIM = 64


def _neardup_dot(a: str, b: str):
    """Dot product of array<double> columns ``a`` and ``b`` as the left fold
    ``((0.0 + a1*b1) + a2*b2) + ...``.

    The per-candidate dot is ``embedding_neardup``'s hot loop (millions of
    64-dim pairs at sf1.0), and aggregate/zip_with HOFs evaluate
    INTERPRETED. For the fixed eval dim the unrolled expression performs
    the IDENTICAL sequence of IEEE-754 operations as the HOF's left fold,
    so the doubles are bit-identical, while compiling through whole-stage
    codegen; the size guard keeps the general HOF for any other dimension.
    """
    unrolled = F.lit(0.0)
    for i in range(1, _UNROLLED_DIM + 1):
        unrolled = unrolled + (
            F.element_at(F.col(a), i) * F.element_at(F.col(b), i)
        )
    hof = F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    fixed_dim = (F.size(F.col(a)) == _UNROLLED_DIM) & (
        F.size(F.col(b)) == _UNROLLED_DIM
    )
    return F.when(fixed_dim, unrolled).otherwise(hof)


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ 0.95 over the embeddings
    table augmented with planted near-identical copies (see above).

    Candidate generation reuses the IVF sign-bit quantizer from
    ``operators/similarity.py``: a pair is compared only if the query's
    Hamming-1 multi-probe reaches the neighbor's home cell — a banded
    equi-join, never all-pairs (near-identical vectors share sign patterns,
    so true near-dups co-bucket). Exact cosine re-scores survivors in
    Catalyst HOFs; the oracle replicates the identical probe logic.
    """
    from .similarity import _MAX_CELL_BITS, _PROBE_FLIPS, _cell8_expr, _ivf_bits

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = F.col("embedding").cast("array<double>")
    base = emb.select("vec_id", v.alias("v"))
    # plant: vec_id + offset, v[i] * (1 + 0.1*(i%5 - 2)) — same op order as
    # the DuckDB oracle so the float64 results are bit-identical
    planted = base.filter(F.col("vec_id") % _PLANT_EVERY == 0).select(
        (F.col("vec_id") + _PLANT_ID_OFFSET).alias("vec_id"),
        F.transform(
            "v",
            lambda x, i: x
            * (F.lit(1.0) + F.lit(0.1) * (i % 5 - 2).cast("double")),
        ).alias("v"),
    )
    aug = base.unionByName(planted)
    bits = _ivf_bits(aug.count())
    cell = F.shiftright(_cell8_expr(F.col("v")), _MAX_CELL_BITS - bits)

    # stage |v| per VECTOR (and before the probe explode, so it is never
    # recomputed per probe replica or per candidate pair — the norm is a
    # per-vector quantity, and aggregate HOFs evaluate interpreted with no
    # common-subexpression elimination); float op order matches the
    # previous inline form (sqrt per side, then multiply) → identical cos
    def norm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    # materialized once: probes and the candidate-join build side both
    # consume e; without the barrier the cell/norm HOF projection (and
    # the planted-union scan beneath it) runs once per reference
    e = aug.select(
        "vec_id", "v", cell.alias("cell"), norm(F.col("v")).alias("nv")
    ).localCheckpoint(eager=False)
    probes = e.select(
        "vec_id",
        F.col("v").alias("pv"),
        F.col("nv").alias("npv"),
        F.explode(
            F.array(*[F.col("cell").bitwiseXOR(F.lit(f)) for f in _PROBE_FLIPS])
        ).alias("cell"),
    )
    dot = _neardup_dot("pv", "v")

    pairs = (
        probes.alias("a")
        .join(e.alias("b"), "cell")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (dot / (F.col("npv") * F.col("nv"))).alias("cos"),
        )
        .filter(F.col("cos") >= EMB_NEARDUP_THRESHOLD)
        .dropDuplicates(["vec_a", "vec_b"])
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))
    )
    return pairs.orderBy("vec_a", "vec_b")


EMBEDDING_NEARDUP_SQL = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
),
aug AS (  -- in-flow planted near-dups (same op order as the Spark side)
  SELECT vec_id, embedding FROM base
  UNION ALL
  SELECT vec_id + __PLANT_OFFSET__ AS vec_id,
         list_transform(
           embedding,
           (x, i) -> x * (1.0 + 0.1 * CAST((i - 1) % 5 - 2 AS DOUBLE))
         ) AS embedding
  FROM base WHERE vec_id % __PLANT_EVERY__ = 0
),
params AS (
  SELECT least(greatest(CAST(floor(log2(sqrt(count(*))) + 0.5) AS INT), 3), 8)
           AS bits
  FROM aug
),
e0 AS (
  SELECT vec_id, embedding AS v,
         (__CELL8__) AS cell8
  FROM aug
),
e AS (
  SELECT vec_id, v, cell8 >> (8 - bits) AS cell FROM e0, params
),
probes AS (
  SELECT vec_id, v AS pv, xor(cell, f.flip) AS cell
  FROM e, (VALUES __FLIPS__) f(flip)
),
pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_dot_product(a.pv, b.v)
               / (sqrt(list_dot_product(a.pv, a.pv))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
  FROM probes a JOIN e b USING (cell)
  WHERE a.vec_id < b.vec_id
    AND list_dot_product(a.pv, b.v)
        / (sqrt(list_dot_product(a.pv, a.pv))
           * sqrt(list_dot_product(b.v, b.v))) >= __THRESH__
)
SELECT vec_a, vec_b, cosine FROM pairs
ORDER BY vec_a, vec_b
"""


def _finalize_emb_neardup_sql() -> str:
    from .similarity import _CELL8_SQL, _PROBE_FLIPS

    flips = ", ".join(f"({f})" for f in _PROBE_FLIPS)
    return (
        EMBEDDING_NEARDUP_SQL.replace("__CELL8__", _CELL8_SQL)
        .replace("__FLIPS__", flips)
        .replace("__THRESH__", str(EMB_NEARDUP_THRESHOLD))
        .replace("__PLANT_OFFSET__", str(_PLANT_ID_OFFSET))
        .replace("__PLANT_EVERY__", str(_PLANT_EVERY))
    )


SIMHASH_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
    FROM documents WHERE length(trim(text)) > 0
  )
),
th AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS th
  FROM toks
),
contrib AS (
  SELECT doc_id, b.bit,
         CASE WHEN (th >> CAST(b.bit AS INT)) % 2 = 1 THEN 1 ELSE -1 END AS c
  FROM th, range(0, {SIMHASH_BITS}) b(bit)
),
bitsum AS (
  SELECT doc_id, bit, sum(c) AS s FROM contrib GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << CAST(bit AS INT)
                     ELSE 0 END) AS BIGINT) AS simhash
FROM bitsum
GROUP BY doc_id
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# exact substring dedup: maximal duplicated token-n-gram spans
# --------------------------------------------------------------------------

DUP_SPAN_W = 8  # token width of the duplicated-gram unit


def _gram_occurrences(docs: DataFrame, w: int = DUP_SPAN_W) -> DataFrame:
    """(doc_id, pos, gram): every rolling token ``w``-gram occurrence with
    its 0-based start position, gram keyed by ``xxhash64`` — an 8-byte
    JVM-side key (the hash never reaches the output, only the grouping
    does, so the DuckDB oracles group on the raw gram text instead;
    collision odds at n grams are ~n²/2^65 — negligible till ~10^8, swap
    in a 128-bit hash beyond).

    Construction is the measured-fast Catalyst shape: hash each token
    once, ``arrays_zip`` the ``w`` shifted slices of the hash array (bulk
    Tungsten array copies), and combine each struct with one multi-arg
    ``xxhash64`` — 7x faster than building per-gram join strings inside a
    sequence-transform lambda (11.6 s vs 85 s over 14.7M grams at 8
    cores), per-row semantics (no window, no shuffle, duplicate doc_ids
    can't cross-contaminate), linear in corpus token count. The token-hash
    array is staged as a column: it is referenced by all ``w`` shifted
    slices in one projection, and without staging each reference re-runs
    the split + per-token hashing (no common-subexpression elimination
    outside codegen) — w× repeated work per row."""
    th = F.col("th")
    n_grams = F.size(th) - F.lit(w - 1)
    zipped = F.arrays_zip(
        *[F.slice(th, i + 1, n_grams).alias(f"h{i}") for i in range(w)]
    )
    grams = F.transform(
        zipped, lambda s: F.xxhash64(*[s[f"h{i}"] for i in range(w)])
    )
    return (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
        # guard BEFORE slice(): Spark errors on non-positive slice lengths
        .filter(F.size(F.col("toks")) >= w)
        .select(
            "doc_id",
            F.transform(F.col("toks"), lambda t: F.xxhash64(t)).alias("th"),
        )
        .select("doc_id", F.posexplode(grams).alias("pos", "gram"))
    )


def dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (the Lee et al. 2022 "Deduplicating Training
    Data" operation, token-granular): find every maximal span of tokens
    whose every ``DUP_SPAN_W``-gram also occurs in at least one OTHER
    document. Output: (doc_id, span_start, span_end, span_tokens,
    n_dup_grams) with 0-based inclusive token offsets — the spans a
    training-data pipeline would cut or down-weight before tokenization.

    Spark-first shape (pure Catalyst, no UDFs):
      1. rolling token 8-grams with start positions — ``arrays_zip`` of
         the ``w`` shifted slices of the staged token-hash array, combined
         by multi-arg ``xxhash64`` and ``posexplode``d (one row per gram
         occurrence; the relation is linear in corpus token count — see
         ``_gram_occurrences``);
      2. grams duplicated across documents — one hash-shuffle groupBy on
         the gram hash with map-side partial aggregation (hot boilerplate
         grams pre-combine per partition, so skew never concentrates);
      3. flag occurrences — an equi-join back on the gram hash (build side
         is one row per duplicated gram; no row explosion);
      4. islands-and-gaps — per-document window ``pos − row_number()``
         collapses consecutive flagged positions into maximal spans.

    Grams are already keyed by 8-byte ``xxhash64`` (the cheapest shuffle
    key Spark has); at 10^12 rows the remaining scale lever is hash
    width — swap in a 128-bit hash once the gram count approaches the
    64-bit birthday bound (~10^8 grams, see ``_gram_occurrences``). The
    suite's planted near-duplicate documents guarantee non-trivial spans
    at every sf."""
    from pyspark.sql import Window as W

    occ = _gram_occurrences(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    # cross-doc duplicated ⟺ min(doc_id) ≠ max(doc_id): a plain min/max
    # agg (fully map-side combinable — no count_distinct expansion, hot
    # boilerplate grams pre-combine per partition before the shuffle)
    dup = (
        occ.groupBy("gram")
        .agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("gram")
    )
    flagged = occ.join(dup, "gram").select("doc_id", "pos")
    isl = F.col("pos") - F.row_number().over(
        W.partitionBy("doc_id").orderBy("pos")
    )
    return (
        flagged.withColumn("_isl", isl)
        .groupBy("doc_id", "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(DUP_SPAN_W - 1)).cast("long").alias("span_end"),
            F.count("*").alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_dup_grams",
        )
        .orderBy("doc_id", "span_start")
    )


DUP_SPANS_SQL = f"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
  WHERE length(trim(text)) > 0
    AND len(regexp_split_to_array(trim(text), '\\s+')) >= {DUP_SPAN_W}
),
occ AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(toks[i:i+{DUP_SPAN_W - 1}], ' ') AS gram
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {DUP_SPAN_W - 1})) AS i
        FROM tok)
),
dup AS (
  SELECT gram FROM occ GROUP BY gram HAVING min(doc_id) <> max(doc_id)
),
flagged AS (
  SELECT occ.doc_id, occ.pos FROM occ JOIN dup USING (gram)
),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS k
  FROM flagged
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {DUP_SPAN_W - 1} AS BIGINT) AS span_end,
       CAST(max(pos) - min(pos) + {DUP_SPAN_W} AS BIGINT) AS span_tokens,
       count(*) AS n_dup_grams
FROM isl
GROUP BY doc_id, k
ORDER BY doc_id, span_start
"""


# --------------------------------------------------------------------------
# benchmark decontamination: cross-split n-gram hits
# --------------------------------------------------------------------------

DECON_BENCH_MOD = 10  # demo split: doc_id % 10 == 0 → "benchmark" doc


def contamination_hits(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM-style n-gram overlap
    check): per corpus document, how many of its rolling 8-grams also
    appear in the benchmark set. Returns (doc_id, n_hit_grams,
    n_distinct_hit_grams, first_hit_pos) for contaminated docs only — the
    rows a training pipeline would drop or audit before training.

    Scale shape: the benchmark side is TINY by definition (eval suites are
    megabytes against a 100 TB corpus), so its distinct gram set is
    broadcast and the flag-back is a broadcast semi-join — the corpus
    never shuffles. The corpus side stays one linear posexplode scan."""
    bench_grams = _gram_occurrences(benchmark).select("gram").distinct()
    hits = _gram_occurrences(corpus).join(F.broadcast(bench_grams), "gram")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hit_grams"),
            F.count_distinct("gram").alias("n_distinct_hit_grams"),
            F.min("pos").cast("long").alias("first_hit_pos"),
        )
        .orderBy("doc_id")
    )


def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage query: deterministic benchmark split over the documents
    table (doc_id % 10 == 0 plays the eval suite), contamination hits for
    the remaining 90% corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    return contamination_hits(corpus, bench)


DECONTAMINATION_SQL = f"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
  WHERE length(trim(text)) > 0
    AND len(regexp_split_to_array(trim(text), '\\s+')) >= {DUP_SPAN_W}
),
occ AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(toks[i:i+{DUP_SPAN_W - 1}], ' ') AS gram
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {DUP_SPAN_W - 1})) AS i
        FROM tok)
),
bench AS (
  SELECT DISTINCT gram FROM occ WHERE doc_id % {DECON_BENCH_MOD} = 0
),
hits AS (
  SELECT occ.doc_id, occ.gram, occ.pos
  FROM occ JOIN bench USING (gram)
  WHERE occ.doc_id % {DECON_BENCH_MOD} <> 0
)
SELECT doc_id,
       count(*) AS n_hit_grams,
       count(DISTINCT gram) AS n_distinct_hit_grams,
       CAST(min(pos) AS BIGINT) AS first_hit_pos
FROM hits
GROUP BY doc_id
ORDER BY doc_id
"""
