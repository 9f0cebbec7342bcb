"""End-to-end record-linkage pipeline with checkpointed stages, lineage
counters, and resume.

Reference semantics: the reference checkpoints expensive intermediates and
skips recompute when the artifact exists — graph pickles
(``BiEncoderLightningModule.py:350-356``), embedding caches
(``sapbert/utils.py:138-156``), feather caches (``umls_utils.py:89-94``).
Our stage runner does the same with tables: every stage writes a Parquet
table + a ``_MANIFEST.json`` (config fingerprint, row count, per-partition
counters); a rerun with the same fingerprint reads the table back instead of
recomputing. In production these are Iceberg tables (atomic snapshot commit
replaces the manifest file); the sandbox has no Iceberg jars, so the
manifest provides the same commit-marker semantics — a partially written
directory without a manifest is treated as absent.

Stages: extract → block → pairs → score → cc → clusters. Counters (pairs
generated / pairs scored / edges emitted, per partition) satisfy the north
rule's lineage requirement and feed the no-silent-truncation checks.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import asdict, dataclass, field
from hashlib import blake2b

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extract import apply_norm_rules, run_extract
from .operators.blocking import blocking_keys, generate_candidate_pairs
from .operators.connected_components import connected_components
from .operators.scoring import (
    DEFAULT_THRESHOLD,
    build_features,
    score_pairs,
    threshold_edges,
)


@dataclass
class PipelineConfig:
    work_dir: str
    lang_filter: str | None = "eng"
    num_perm: int = 128
    bands: int = 16
    rows_per_band: int = 8
    snm_window: int = 2
    max_block_size: int = 64
    threshold: float = DEFAULT_THRESHOLD
    # "threshold_cc" (default, SURVEY §7 divergence) or "greedy_exact" —
    # the reference's MST + ascending-weight greedy partitioner
    # (special_partition.pyx:288-442) run per component before CC
    sparsifier: str = "threshold_cc"
    weights: dict = field(
        default_factory=lambda: {"jw": 0.30, "tslev": 0.25, "cosine": 0.45}
    )
    # content fingerprints of the optional side tables (set by run_pipeline
    # when they are passed); part of every stage fingerprint so new rules /
    # blocklists invalidate the checkpoints they affect
    norm_rules_fp: int | None = None
    vertex_blocklist_fp: int | None = None
    entity_urls_fp: int | None = None

    def __post_init__(self) -> None:
        # fail at the API edge, before any stage starts a Spark job
        if self.sparsifier not in ("threshold_cc", "greedy_exact"):
            raise ValueError(f"unknown sparsifier: {self.sparsifier!r}")

    def fingerprint(self, stage: str) -> str:
        payload = json.dumps(
            {"stage": stage, **{k: v for k, v in asdict(self).items() if k != "work_dir"}},
            sort_keys=True,
        )
        return blake2b(payload.encode(), digest_size=8).hexdigest()


class StageRunner:
    """Write-once checkpointed stage execution (X4 analog)."""

    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        self.spark = spark
        self.cfg = cfg
        os.makedirs(cfg.work_dir, exist_ok=True)
        self.counters: dict[str, dict] = {}

    def _paths(self, stage: str) -> tuple[str, str]:
        table = os.path.join(self.cfg.work_dir, stage)
        manifest = os.path.join(self.cfg.work_dir, f"{stage}._MANIFEST.json")
        return table, manifest

    def has_checkpoint(self, stage: str) -> bool:
        table, manifest = self._paths(stage)
        if not os.path.exists(manifest):
            return False
        with open(manifest) as f:
            meta = json.load(f)
        return meta.get("fingerprint") == self.cfg.fingerprint(stage)

    def read(self, stage: str) -> DataFrame:
        table, _ = self._paths(stage)
        return self.spark.read.parquet(table)

    def commit(self, stage: str, df: DataFrame, extra: dict | None = None) -> DataFrame:
        """Write table + per-partition counters + manifest (the atomic
        commit marker — written last, so partial writes are invisible)."""
        table, manifest = self._paths(stage)
        # remove the stale manifest FIRST: a crash mid-rewrite must leave the
        # stage unambiguously absent, never an old fingerprint next to
        # partial new data (torn-write hole)
        if os.path.exists(manifest):
            os.remove(manifest)
        if os.path.exists(table):
            shutil.rmtree(table)
        # zstd: checkpoint volume is the pipeline's main NON-scaling cost
        # (write bandwidth is fixed per box while compute scales with
        # cores) — zstd trades ~2x fewer bytes through the disk/memory bus
        # for per-task compression CPU, which DOES scale with cores
        df.write.mode("overwrite").option("compression", "zstd").parquet(table)
        out = self.spark.read.parquet(table)
        # per-partition lineage from parquet footers (one output file per
        # write partition) — driver-side metadata reads, no extra Spark job
        import pyarrow.parquet as pq

        part_counts: dict[int, int] = {}
        for i, fname in enumerate(
            sorted(f for f in os.listdir(table) if f.endswith(".parquet"))
        ):
            part_counts[i] = pq.ParquetFile(os.path.join(table, fname)).metadata.num_rows
        counters = {
            "rows": int(sum(part_counts.values())),
            "partitions": len(part_counts),
            "per_partition_rows": part_counts,
            **(extra or {}),
        }
        self.counters[stage] = counters
        with open(manifest, "w") as f:
            json.dump(
                {"fingerprint": self.cfg.fingerprint(stage), "counters": counters},
                f,
                indent=2,
            )
        return out

    def _resume(self, stage: str) -> DataFrame | None:
        """The checkpoint-backed table (its manifest counters recorded), or
        None when the stage has no valid checkpoint."""
        if not self.has_checkpoint(stage):
            return None
        _, manifest = self._paths(stage)
        with open(manifest) as f:
            self.counters[stage] = json.load(f)["counters"]
        return self.read(stage)

    def run_stage(self, stage: str, fn, extra_fn=None) -> DataFrame:
        done = self._resume(stage)
        if done is not None:
            return done
        import time

        t0 = time.time()
        df = fn()
        extra = dict(extra_fn() if extra_fn else {})
        out = self.commit(stage, df, extra)
        # per-stage wall (compute + checkpoint write) — scaling evidence
        self.counters[stage]["wall_sec"] = round(time.time() - t0, 2)
        return out

    def run_stage_async(self, stage: str, fn, extra_fn=None):
        """Like run_stage, but the checkpoint WRITE happens on a background
        thread while the caller consumes the persisted in-memory result —
        the write leaves the critical path (it is bandwidth-bound and does
        not scale with cores; downstream compute does). Crash-safety is
        unchanged: the manifest is only written when the table is complete,
        so an interrupted run simply recomputes the stage on resume.

        Returns (df, finalize): ``df`` is the persisted stage output to
        consume NOW; ``finalize()`` joins the writer, records counters, and
        returns the checkpoint-backed DataFrame (callers should expose THAT
        one, then the cache is released)."""
        done = self._resume(stage)
        if done is not None:
            return done, lambda: done
        import threading
        import time

        t0 = time.time()
        df = fn().persist()
        result: dict = {}

        def _write() -> None:
            try:
                result["out"] = self.commit(
                    stage, df, dict(extra_fn() if extra_fn else {})
                )
                self.counters[stage]["wall_sec"] = round(time.time() - t0, 2)
            except BaseException as e:  # surfaced in finalize()
                result["err"] = e

        th = threading.Thread(
            target=_write, name=f"checkpoint-{stage}", daemon=True
        )
        th.start()

        def finalize() -> DataFrame:
            th.join()
            df.unpersist()
            if "err" in result:
                raise result["err"]
            return result["out"]

        return df, finalize


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig,
    norm_rules: DataFrame | None = None,
    vertex_blocklist: DataFrame | None = None,
    entity_urls: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Full pipeline. Returns the checkpoint-backed stage DataFrames and
    the lineage ``counters``.

    ``norm_rules``: optional (domain, token, replacement) dictionary — the
    abbreviation-map analog the reference applies inside its main flow
    (``bigbio_utils.py:322-341``). When given, an extra checkpointed
    ``normalize`` stage rewrites ``norm_title`` before blocking.

    ``vertex_blocklist``: optional (url) table of pages excluded from
    clustering — edges touching them are anti-joined away before CC (the
    reference's excluded-vertex set, ``special_partition.pyx:373-375``);
    blocklisted pages come out as singletons.

    ``entity_urls``: optional (url) table marking canonical/entity pages —
    the bipartite node typing of the reference's entity-mention joint graph
    (``eval_cluster_linking.py:149-257``). When given, each component's
    label is read off its minimum-rid ENTITY member (G5 exact semantics;
    min-rid member is the fallback for entity-less components), and the
    clusters manifest carries the reference's cluster invariants
    (clusters_wo_entity / clusters_multi_entity, asserted zero at
    ``:253-255``) as lineage counters."""
    # fingerprint on a COPY: mutating the caller's cfg would make a later
    # run that omits norm_rules/vertex_blocklist silently reuse checkpoints
    # fingerprinted with the stale side-table hash (the fields are also
    # reset to None when the argument is absent, so the same cfg object can
    # be reused across runs with and without side tables)
    from dataclasses import replace

    def _fp(df: DataFrame | None, *cols: str) -> int | None:
        if df is None:
            return None
        fp = df.agg(F.bit_xor(F.xxhash64(*cols)).alias("fp")).first()["fp"]
        return int(fp or 0)

    cfg = replace(
        cfg,
        norm_rules_fp=_fp(norm_rules, "domain", "token", "replacement"),
        vertex_blocklist_fp=_fp(vertex_blocklist, "url"),
        entity_urls_fp=_fp(entity_urls, "url"),
    )
    runner = StageRunner(spark, cfg)

    # extract: the checkpoint write runs on a background thread (zstd to
    # the work dir) while blocking/features consume the persisted rows —
    # the write is bandwidth-bound (non-scaling) and was the worst stage in
    # the 4→16 per-stage scaling profile (0.51); off the critical path it
    # overlaps the CPU-bound stages that DO scale
    records, _finalize_extract = runner.run_stage_async(
        "extract",
        lambda: run_extract(pages, cfg.lang_filter).select(
            "url",
            "rid",
            "warc_ts",
            "extracted_text",
            "title",
            "norm_domain",
            "norm_title",
        ),
    )

    if norm_rules is not None:
        norm_meta: dict = {}

        def _normalize() -> DataFrame:
            out = apply_norm_rules(
                records.withColumn("_pre", F.col("norm_title")), norm_rules
            )
            norm_meta["titles_rewritten"] = out.filter(
                F.col("norm_title") != F.col("_pre")
            ).count()
            return out.drop("_pre")

        records = runner.run_stage(
            "normalize",
            _normalize,
            extra_fn=lambda: {
                "titles_rewritten": norm_meta.get("titles_rewritten")
            },
        )

    stage_caches: list = []  # persisted frames scoped to one stage

    def _drain_caches() -> None:
        while stage_caches:
            stage_caches.pop().unpersist()

    # --- pairs ∥ features: independent stages submitted from two driver
    # threads so their Spark jobs interleave — the shuffle-bound pair
    # generation and the CPU-bound embedding UDF fill each other's idle
    # slots (measured ~20% off BOTH parallelism legs on the 666k-page
    # corpus: 256→205 s at local[4], 100→80 s at local[16]).
    # Blocking keys are built inline (persisted, consumed twice) instead of
    # a separate checkpoint: one fewer write/read barrier on the critical
    # path; a resume after a pairs-stage crash recomputes them.
    stats_holder: dict = {}

    def _pairs() -> DataFrame:
        keys = blocking_keys(
            records,
            snm_window=cfg.snm_window,
            num_perm=cfg.num_perm,
            bands=cfg.bands,
            rows_per_band=cfg.rows_per_band,
            caches=stage_caches,
        ).persist()
        stage_caches.append(keys)
        pairs, stats = generate_candidate_pairs(
            keys, cfg.max_block_size, caches=stage_caches
        )
        stats_holder["stats"] = [r.asDict() for r in stats.collect()]
        return pairs

    # r6: pairs, features AND score all use the async-commit pattern —
    # the persisted in-memory stage output flows straight into its
    # consumer while the checkpoint write (bandwidth-bound, non-scaling)
    # runs on a background thread. The r5 shape synchronized on the
    # pairs/features parquet writes before scoring and on the score write
    # before CC: three write barriers on the critical path whose bytes
    # the downstream stages never needed (they consume the persisted
    # rows). Crash-safety is unchanged — manifests are still written
    # last, a torn run recomputes on resume; the finalize() calls below
    # re-expose the checkpoint-backed tables before returning.
    pairs_mem, _finalize_pairs = runner.run_stage_async(
        "pairs", _pairs, lambda: {"block_stats": stats_holder.get("stats")}
    )
    feat_mem, _finalize_features = runner.run_stage_async(
        "features", lambda: build_features(records)
    )

    # pruned rows (cosine upper bound provably below the edge threshold)
    # are not written: they carry no information beyond their count, and at
    # ~10x the survivor volume they dominated the checkpoint write bytes.
    # n_pruned is recoverable as pairs_rows - score_rows from the counters.
    scored_mem, _finalize_score = runner.run_stage_async(
        "score",
        lambda: score_pairs(
            pairs_mem, feat_mem, cfg.weights, prune_threshold=cfg.threshold
        ).filter(~F.col("pruned")),
    )

    # edges = threshold filter over the in-memory score relation, consumed
    # by CC below and not returned: _finalize_score() releases that
    # relation, so any later action on it would recompute the pipeline
    edges = threshold_edges(scored_mem, cfg.threshold)

    if vertex_blocklist is not None:
        from .operators.connected_components import exclude_vertices

        bl_rids = vertex_blocklist.select(
            F.xxhash64("url").alias("rid")
        ).dropDuplicates(["rid"])
        edges = exclude_vertices(
            edges, bl_rids, src="rid_a", dst="rid_b", vertex_col="rid"
        )

    if cfg.sparsifier == "greedy_exact":
        # exact-mode sparsifier (O4/G2/G3): per-component MST + greedy
        # ascending-weight pass; with no entity set every component keeps
        # its spanning forest (connectivity — and therefore the clusters —
        # unchanged vs threshold_cc). The post-sparsify components come
        # from the ordinary CC below: measured head-to-head
        # (tools/sparsify_mode_bench.py, at commit 0d9120d), CC over the
        # sparsified graph costs ~9 s/3M edges (forest-like → 1 iteration)
        # while having the kernel emit the component labels itself cost
        # +40% (BENCH.md), so there is no kernel-label shortcut.
        from .operators.sparsify import greedy_entity_partition

        ent_rids = (
            entity_urls.select(F.xxhash64("url").alias("rid"))
            if entity_urls is not None
            else spark.createDataFrame([], "rid long")
        )
        edges = greedy_entity_partition(edges, ent_rids)

    cc_meta: dict = {}

    def _cc() -> DataFrame:
        # CC runs entirely in rid space (8-byte shuffle keys); labels map
        # back to urls only at the final readoff. Component label = url of
        # the member with the smallest rid (deterministic canonical
        # representative, G5 analog) — or, when entity_urls is given, the
        # smallest ENTITY rid (G5 exact bipartite semantics).
        labels, iterations = connected_components(
            edges, src="rid_a", dst="rid_b"
        )
        cc_meta["iterations"] = iterations
        rid_labels = labels.select(
            F.col("url").alias("rid"), F.col("component").alias("comp_rid")
        )
        base = (
            records.select("url", "rid")
            .join(rid_labels, "rid", "left")
            .withColumn("comp_rid", F.coalesce("comp_rid", "rid"))
        )
        if entity_urls is not None:
            from .operators.clusters import entity_anchored_readoff

            ent = entity_urls.select(
                F.xxhash64("url").alias("rid"), F.lit(True).alias("is_entity")
            ).dropDuplicates(["rid"])
            membership = base.join(ent, "rid", "left").withColumn(
                "is_entity", F.coalesce("is_entity", F.lit(False))
            )
            _, inv = entity_anchored_readoff(
                membership.select(
                    F.col("rid").alias("node"),
                    F.col("comp_rid").alias("component"),
                ),
                membership.select(
                    F.col("rid").alias("node"), "is_entity"
                ),
                strict=False,  # surfaced as manifest counters, not a crash
            )
            cc_meta["entity_invariants"] = inv
            comp_anchor = (
                membership.filter(F.col("is_entity"))
                .groupBy("comp_rid")
                .agg(F.min("rid").alias("ent_rid"))
            )
            base = base.join(comp_anchor, "comp_rid", "left").withColumn(
                "anchor_rid", F.coalesce("ent_rid", "comp_rid")
            )
        else:
            base = base.withColumn("anchor_rid", F.col("comp_rid"))
        comp_url = records.select(
            F.col("rid").alias("anchor_rid"), F.col("url").alias("component")
        )
        return base.join(comp_url, "anchor_rid").select("url", "component")

    clusters = runner.run_stage(
        "clusters",
        _cc,
        extra_fn=lambda: {
            "cc_iterations": cc_meta.get("iterations"),
            **(
                {"entity_invariants": cc_meta["entity_invariants"]}
                if "entity_invariants" in cc_meta
                else {}
            ),
        },
    )

    # join the background stage writers; expose the checkpoint-backed
    # tables (the in-memory copies are released here)
    pairs = _finalize_pairs()
    _drain_caches()
    features = _finalize_features()
    scored = _finalize_score()
    extract_table = _finalize_extract()
    if norm_rules is None:
        records = extract_table

    # external url-space view of the rid-keyed pairs checkpoint (the
    # evaluation API — label_candidate_pairs — speaks urls)
    ra = records.select(F.col("rid").alias("rid_a"), F.col("url").alias("url_a"))
    rb = records.select(F.col("rid").alias("rid_b"), F.col("url").alias("url_b"))
    pairs_urls = pairs.join(ra, "rid_a").join(rb, "rid_b").select("url_a", "url_b")

    return {
        "records": records,
        "pairs": pairs_urls,
        "pairs_rid": pairs,
        "features": features,
        "scored": scored,
        "clusters": clusters,
        "counters": runner.counters,  # type: ignore[dict-item]
    }
