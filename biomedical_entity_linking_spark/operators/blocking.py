"""Stage 2: candidate generation (blocking).

Reference semantics: candidate generation retrieves a superset of plausible
matches per mention via approximate similarity search — HNSW over char-3gram
tf-idf (``bioel/bioel/models/scispacy/candidate_generation.py:162-183``) or
FAISS over dense vectors (``eval_cluster_linking.py:56-87``) — deliberately
over-retrieving then refining (``scispacy/evaluate.py:86``). The reference
also restricts mention-mention candidates to the same document
(``eval_cluster_linking.py:260-292``) — partition-by-attribute blocking.

Spark-first re-expression: an ANN index is a driver-side data structure that
cannot shard across 1000 executors; the distributed equivalent is **LSH
banding as join keys**. Each record emits `bands` keys; records sharing any
key co-block. A second, orthogonal key family — sorted-neighborhood over the
normalized domain — catches pairs whose titles diverge but whose domains are
adjacent (mirror hosts). Both families produce one unified
``(key_kind, key, url)`` relation; pair generation is a single groupBy-less
self-join on the key.

Skew: a viral title makes one band key explode to O(n^2) pairs. We count key
sizes first (one cheap agg over the exploded keys), then cap oversized
blocks with a deterministic per-key sample and *log the drops* into the
counters table — no silent truncation (north rule). AQE's skew-join split
handles residual imbalance.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..functions.shingles import MinHasher, band_keys

DEFAULT_NUM_PERM = 128
# 16 bands x 8 rows: P(collide) = 1-(1-j^8)^16 — steep S-curve at j≈0.55.
# Moderate-similarity variants that slip under it still co-block through the
# sorted-neighborhood domain key; loose banding (32x4) was measured to
# over-generate ~85 candidate pairs/page on shared-vocab corpora, making
# pairwise scoring the pipeline bottleneck.
DEFAULT_BANDS = 16
DEFAULT_ROWS = 8


def minhash_band_keys_udf(num_perm: int, bands: int, rows: int, ngram: int = 3):
    """Arrow-batched pandas UDF: title → array of int64 LSH band keys.

    Signature computation + banding fused in one UDF so the (large) K-int
    signature never materializes in the shuffle — only ``bands`` keys per
    row leave the stage.
    """
    assert bands * rows <= num_perm

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(titles: Iterator[pd.Series]) -> Iterator[pd.Series]:
        hasher = MinHasher(num_perm=num_perm, ngram=ngram)  # built once/worker
        for batch in titles:
            out = []
            for s in batch.fillna(""):
                hashes = hasher.signature_for(s)
                if not s.strip():
                    out.append([])  # zero-shingle guard (P8 analog)
                    continue
                # ndarray passed straight through — band_keys packs each
                # band with one tobytes() (identical key bytes, no
                # 128-int Python conversion per title)
                out.append(band_keys(hashes, bands, rows))
            yield pd.Series(out)

    return _udf


def lsh_blocking_keys(
    records: DataFrame,
    text_col: str = "norm_title",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    rows: int = DEFAULT_ROWS,
) -> DataFrame:
    """records → (url, key_kind='lsh', key) — one row per band key.

    Input repartitioned before the signature UDF: MinHash is CPU-bound and
    must spread across workers regardless of input file count."""
    udf = minhash_band_keys_udf(num_perm, bands, rows)
    n_parts = int(records.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # project to (rid, title) BEFORE the round-robin repartition — the
    # spreading shuffle ships ~50 B/row instead of the full record
    # (extracted_text included), the same non-scaling-byte cut as in
    # build_features
    return (
        records.select("rid", F.col(text_col))
        .repartition(n_parts)
        .select("rid", udf(F.col(text_col)).alias("keys"))
        .select("rid", F.explode("keys").alias("key"))
        .withColumn("key_kind", F.lit("lsh"))
    )


def sorted_neighborhood_keys(
    records: DataFrame,
    sort_cols: tuple[str, str] = ("norm_domain", "norm_title"),
    window: int = 4,
    caches: list | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking: rank records by (domain, title, url)
    and key each record to its rank-window bucket and the next one, so any
    two records within ``window`` ranks share ≥1 key.

    Reference analog: per-type partitioned indexes route queries to an
    attribute partition (``data_process.py:664-684``).

    Scale path (no single-task global window): ``repartitionByRange`` on
    the sort key → ``sortWithinPartitions`` → per-partition local ranks
    read off ``monotonically_increasing_id`` (partition id in the upper
    31 bits, row index within the partition below) → global rank = local
    rank + partition offset (offsets from one tiny per-partition count
    collect). The ranked relation is persisted so the sort executes once
    for both the offset job and the key emission."""
    spark = records.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cols = [*sort_cols, "rid"]  # rid = deterministic tiebreaker
    pid = F.spark_partition_id()
    ranked = (
        records.select("rid", *sort_cols)
        .repartitionByRange(n_parts, *[F.col(c) for c in cols])
        .sortWithinPartitions(*cols)
        .select(
            "rid",
            pid.alias("pid"),
            (
                F.monotonically_increasing_id()
                - F.shiftleft(pid.cast("long"), 33)
            ).alias("local_rank"),
        )
        .persist()
    )
    if caches is not None:
        caches.append(ranked)  # caller unpersists once key emission is written
    counts = {
        r["pid"]: r["count"]
        for r in ranked.groupBy("pid").count().collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not offsets:  # empty input
        return ranked.select(
            "rid",
            F.lit(None).cast("long").alias("key"),
            F.lit("snm").alias("key_kind"),
        ).limit(0)
    offset_expr = F.element_at(
        F.create_map(
            *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
        ),
        F.col("pid"),
    )
    rank = offset_expr + F.col("local_rank")
    bucket = (rank / window).cast("long")
    # two overlapping bucket keys → neighbors within `window` always co-block
    keyed = ranked.select(
        "rid",
        F.explode(F.array(bucket, bucket + 1)).alias("bucket"),
    )
    return keyed.select(
        "rid", F.col("bucket").alias("key"), F.lit("snm").alias("key_kind")
    )


def generate_candidate_pairs(
    keys: DataFrame,
    max_block_size: int = 64,
    caches: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(rid, key_kind, key) → canonical candidate pairs (rid_a < rid_b).

    Returns ``(pairs, block_stats)`` where block_stats carries per-kind
    counts of blocks, comparisons generated, and oversized-block drops —
    the lineage counters the north rule requires.

    Oversized blocks (hot keys) are capped: only the ``max_block_size``
    rows with smallest rid (already a hash) stay (deterministic), the rest of that
    key's rows are dropped *for that key only* — they still pair under
    their other keys. Drops are logged, never silent.
    """
    # persisted: consumed twice (skew-stats agg + singleton-block filter) —
    # without it the full keys-agg shuffle runs once per consumer
    sizes = (
        keys.groupBy("key_kind", "key")
        .agg(F.count("*").alias("block_size"))
        .persist()
    )
    if caches is not None:
        caches.append(sizes)  # caller unpersists after stats + pairs actions

    # singleton blocks generate no pairs — drop them before pair expansion.
    # NOT broadcast: `sizes` has one row per distinct key (O(n*bands) at
    # scale); this shuffle join co-partitions with the per-key grouping
    # below, so the exchange is reused.
    keyed = keys.join(sizes.filter(F.col("block_size") > 1), ["key_kind", "key"])
    # deterministic cap: rank rows within HOT keys only by stable hash
    # (rid), keep first N. r6: the r5 formulation ranked EVERY key row
    # (a full sort of the keys relation) and then self-joined the capped
    # relation on the key (two more sorts) — but the cap only binds on
    # oversized blocks, and a block capped at ``max_block_size`` rows fits
    # comfortably in ONE agg buffer. So: window-cap only the hot-key rows,
    # collect each block's rids into a sorted array (bounded by the cap —
    # never an unbounded collect), and expand the a<b pairs with one
    # nested-transform HOF. Same pairs, minus the global sort and the
    # self-join. The per-branch groupBy reuses the keyed join's
    # (key_kind, key) partitioning — no extra exchange.
    from pyspark.sql import Window as W

    w = W.partitionBy("key_kind", "key").orderBy("rid")
    hot = (
        keyed.filter(F.col("block_size") > max_block_size)
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= max_block_size)
        .drop("_r")
    )
    small = keyed.filter(F.col("block_size") <= max_block_size)

    def _blocks(part: DataFrame) -> DataFrame:
        return part.groupBy("key_kind", "key").agg(
            F.array_sort(F.collect_list("rid")).alias("rids")
        )

    rids = F.col("rids")
    pair_structs = F.flatten(
        F.transform(
            rids,
            lambda x, i: F.transform(
                F.slice(rids, i + F.lit(2), F.size(rids)),
                lambda y: F.struct(x.alias("rid_a"), y.alias("rid_b")),
            ),
        )
    )
    pairs = (
        _blocks(small)
        .unionByName(_blocks(hot))
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.rid_a"), F.col("p.rid_b"))
        # duplicate (rid, key) rows pair as rid_a = rid_b in the sorted
        # array — excluded exactly as the old join's a.rid < b.rid did
        .filter(F.col("rid_a") < F.col("rid_b"))
    )
    # a pair may co-block under many keys — dedup before scoring (P9/X14)
    distinct_pairs = pairs.dropDuplicates(["rid_a", "rid_b"])

    stats = sizes.groupBy("key_kind").agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.when(F.col("block_size") > 1, 1).otherwise(0)).alias(
            "n_blocks_ge2"
        ),
        F.sum(
            F.least(F.col("block_size"), F.lit(max_block_size))
            * (F.least(F.col("block_size"), F.lit(max_block_size)) - 1)
            / 2
        )
        .cast("long")
        .alias("comparisons_generated"),
        F.sum(
            F.greatest(F.col("block_size") - max_block_size, F.lit(0))
        ).alias("rows_capped"),
        F.max("block_size").alias("max_block_size_seen"),
        # denominator for the drop-rate gate (bench asserts it stays ~0):
        # total key rows emitted for this kind, capped or not
        F.sum("block_size").alias("total_key_rows"),
    )
    return distinct_pairs, stats


def blocking_keys(
    records: DataFrame,
    snm_window: int = 4,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    rows_per_band: int = DEFAULT_ROWS,
    caches: list | None = None,
) -> DataFrame:
    """Union of both key families over extracted records."""
    lsh = lsh_blocking_keys(
        records, num_perm=num_perm, bands=bands, rows=rows_per_band
    )
    snm = sorted_neighborhood_keys(records, window=snm_window, caches=caches)
    return lsh.unionByName(snm.select("rid", "key", "key_kind"))
