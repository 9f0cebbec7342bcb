"""The benchmark's workloads. Each one generates its inputs from the seed
(``prepare``), runs a first untimed iteration that also records what the
checks compare against (``warm_up``), runs closed-loop iterations
(``before_iteration``/``iteration``/``after_iteration``, only
``iteration`` timed), and checks its outputs (``check``).

- ``er_batch``: cold ``run_pipeline`` over an empty work dir.
- ``er_resume``: ``run_pipeline`` after a completed run with the ``score``
  and ``clusters`` manifests deleted (a crash after features).
- ``candgen_topk``: ``tfidf_cosine_topk`` then ``pair_scores``.
- ``graph_iter``: ``kcore_decomposition`` then ``label_propagation``.
- ``queries``: the two above in one process.

Every workload also has a traced iteration that calls the layers' public
functions one at a time inside tracer spans (see ``tracing.py``).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biomedical_entity_linking_spark.data.generator import (
    corpus_to_spark,
    generate_corpus,
    generate_pages_distributed,
)
from biomedical_entity_linking_spark.extract import run_extract
from biomedical_entity_linking_spark.operators.blocking import (
    blocking_keys,
    generate_candidate_pairs,
)
from biomedical_entity_linking_spark.operators.clusters import (
    label_candidate_pairs,
    pairwise_prf,
)
from biomedical_entity_linking_spark.operators.connected_components import (
    connected_components,
)
from biomedical_entity_linking_spark.operators.scoring import (
    build_features,
    score_pairs,
    threshold_edges,
)
from biomedical_entity_linking_spark.pipeline import (
    PipelineConfig,
    StageRunner,
    run_pipeline,
)

# Input sizes (see README.md): a warm ER iteration costs about 9 s on
# 4 cores at any size up to ~10k pages, so the corpus is kept small
ER_ENTITIES = 1000  # about 3,800 pages
DOC_ENTITIES = 1500  # about 4,950 documents, of which DOCUMENTS are kept
DOCUMENTS = 4400  # a fixed size, so that seeds vary content, not scale

# for seeds without pins; the 1,000-entity corpus scores about 0.997
ER_F1_FLOOR = 0.95

_RECORD_COLS = [
    "url", "rid", "warc_ts", "extracted_text", "title", "norm_domain", "norm_title",
]
_RESUME_DROPPED = ("score", "clusters")

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


class CheckFailed(Exception):
    """An output did not match its reference."""


@dataclass
class Context:
    spark: SparkSession
    seed: int
    cores: int
    run_dir: str


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def clusters_hash(clusters: DataFrame) -> tuple[int, int]:
    """(rows, order-free hash) of a (url, component) relation."""
    row = clusters.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("url", "component")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def _materialize(df: DataFrame, keep: list) -> tuple[DataFrame, int]:
    df = df.persist()
    keep.append(df)
    return df, df.count()


class _ErWorkload:
    """Shared set-up and checks of the two pipeline workloads."""

    entities = ER_ENTITIES

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.work = os.path.join(ctx.run_dir, "work")
        self.n_iter = 0
        self.ref_hash: tuple[int, int] | None = None
        self.last_out: dict | None = None
        self.report: dict = {}

    def cfg(self, wd: str) -> PipelineConfig:
        return PipelineConfig(work_dir=wd)

    def prepare(self) -> int:
        pages, gold = corpus_to_spark(
            self.spark, generate_corpus(n_entities=self.entities, seed=self.ctx.seed)
        )
        inputs = os.path.join(self.ctx.run_dir, "inputs")
        pages.repartition(2 * self.ctx.cores).write.parquet(f"{inputs}/pages")
        gold.write.parquet(f"{inputs}/gold")
        self.pages = self.spark.read.parquet(f"{inputs}/pages")
        self.gold = self.spark.read.parquet(f"{inputs}/gold")
        self.n_pages = self.pages.count()
        return self.n_pages

    def _run(self, wd: str) -> dict:
        out = run_pipeline(self.spark, self.pages, self.cfg(wd))
        out["n_clusters"] = out["clusters"].count()
        return out

    def _check_clusters(self, out: dict) -> None:
        got = clusters_hash(out["clusters"])
        if got[0] != out["n_clusters"]:
            raise CheckFailed(f"clusters count {out['n_clusters']} vs {got[0]} rows")
        if self.ref_hash is None:
            self.ref_hash = got
        elif got != self.ref_hash:
            raise CheckFailed(f"clusters hash {got} != reference {self.ref_hash}")

    def confusion(self, out: dict) -> tuple[dict, float]:
        """The run's pinned counts, and its pairwise F1 against gold."""
        prf = pairwise_prf(label_candidate_pairs(out["pairs"], self.gold, out["clusters"]))
        counts = {
            "pages": self.n_pages,
            "clusters": out["n_clusters"],
            **{k: prf[k] for k in ("tp", "fp", "fn")},
        }
        return counts, prf["f1"]

    def check(self) -> dict:
        """Confusion counts of the last timed iteration, compared with the
        pins for this seed (``expected.json``) or, for an unpinned seed,
        with the F1 floor."""
        if self.last_out is None:
            raise CheckFailed("no timed iteration completed")
        got, f1 = self.confusion(self.last_out)
        with open(PINS) as f:
            want = json.load(f)["er"].get(str(self.entities), {}).get(str(self.ctx.seed))
        if want is not None and want != got:
            raise CheckFailed(f"er pins for seed {self.ctx.seed}: {got} != {want}")
        if want is None and f1 < ER_F1_FLOOR:
            raise CheckFailed(f"pairwise F1 {f1:.4f} < {ER_F1_FLOOR}")
        return {**got, "pairwise_f1": f1, "pinned": want is not None,
                "clusters_hash": self.ref_hash[1]}

    # --- traced replay -------------------------------------------------
    def _replay_score_cc(self, tr, it_id, runner, records, pairs, feats, keep, n):
        cfg = runner.cfg
        with tr.span("scoring", "score", it_id):
            scored, n["scored"] = _materialize(
                score_pairs(pairs, feats, cfg.weights, prune_threshold=cfg.threshold)
                .filter(~F.col("pruned")),
                keep,
            )
            edges, n["edges"] = _materialize(threshold_edges(scored, cfg.threshold), keep)
        with tr.span("pipeline", "write:score", it_id):
            runner.commit("score", scored)
        with tr.span("connected_components", "cc", it_id):
            labels, n["cc_iterations"] = connected_components(
                edges, src="rid_a", dst="rid_b"
            )
            # the pipeline's clusters read-off: label = url of the member
            # with the smallest rid
            rid_labels = labels.select(
                F.col("url").alias("rid"), F.col("component").alias("anchor_rid")
            )
            clusters = (
                records.select("url", "rid")
                .join(rid_labels, "rid", "left")
                .withColumn("anchor_rid", F.coalesce("anchor_rid", "rid"))
                .join(
                    records.select(
                        F.col("rid").alias("anchor_rid"),
                        F.col("url").alias("component"),
                    ),
                    "anchor_rid",
                )
                .select("url", "component")
            )
            clusters, n["clusters"] = _materialize(clusters, keep)
        with tr.span("pipeline", "write:clusters", it_id):
            runner.commit("clusters", clusters, {"cc_iterations": n["cc_iterations"]})

    def _check_replay(self, wd: str) -> None:
        got = clusters_hash(self.spark.read.parquet(os.path.join(wd, "clusters")))
        if got != self.ref_hash:
            raise CheckFailed(f"traced replay clusters hash {got} != {self.ref_hash}")

    def _layer_counts(self, n: dict, wd: str, stages: tuple) -> dict:
        write_bytes = sum(_dir_bytes(os.path.join(wd, s)) for s in stages)
        return {
            "scoring.rows_out": n["scored"],
            "scoring.edge_yield": n["edges"] / max(n["pairs"], 1),
            "scoring.prune_frac": 1 - n["scored"] / max(n["pairs"], 1),
            "connected_components.rows_out": n["clusters"],
            "connected_components.iterations": n["cc_iterations"],
            "pipeline.write_mb": write_bytes / 2**20,
            "pipeline.rows_out": n["pipeline_rows"] + n["scored"] + n["clusters"],
        }


class ErBatch(_ErWorkload):
    name = "er_batch"

    def warm_up(self) -> None:
        wd = os.path.join(self.work, "warm")
        self._check_clusters(self._run(wd))
        shutil.rmtree(wd)

    def before_iteration(self) -> None:
        self.n_iter += 1
        self.wd = os.path.join(self.work, f"it{self.n_iter}")

    def iteration(self) -> None:
        self.last_out = self._run(self.wd)

    def after_iteration(self) -> None:
        self._check_clusters(self.last_out)
        self.report["work_dir_mb"] = _dir_bytes(self.wd) / 2**20
        prev = os.path.join(self.work, f"it{self.n_iter - 1}")
        shutil.rmtree(prev, ignore_errors=True)

    def traced_iteration(self, tr, it_id: str) -> dict:
        wd = os.path.join(self.work, f"trace-{it_id}")
        runner = StageRunner(self.spark, self.cfg(wd))
        cfg, keep, n, caches = runner.cfg, [], {}, []
        try:
            with tr.span("extract", "extract", it_id):
                records, n["records"] = _materialize(
                    run_extract(self.pages, cfg.lang_filter).select(*_RECORD_COLS), keep
                )
            with tr.span("pipeline", "write:extract", it_id):
                runner.commit("extract", records)
            with tr.span("blocking", "pairs", it_id):
                keys, _ = _materialize(
                    blocking_keys(
                        records,
                        snm_window=cfg.snm_window,
                        num_perm=cfg.num_perm,
                        bands=cfg.bands,
                        rows_per_band=cfg.rows_per_band,
                        caches=caches,
                    ),
                    keep,
                )
                pairs, stats = generate_candidate_pairs(
                    keys, cfg.max_block_size, caches=caches
                )
                pairs, n["pairs"] = _materialize(pairs, keep)
                stats = [r.asDict() for r in stats.collect()]
            with tr.span("pipeline", "write:pairs", it_id):
                runner.commit("pairs", pairs, {"block_stats": stats})
            with tr.span("scoring", "features", it_id):
                feats, n["features"] = _materialize(build_features(records), keep)
            with tr.span("pipeline", "write:features", it_id):
                runner.commit("features", feats)
            n["pipeline_rows"] = n["records"] + n["pairs"] + n["features"]
            self._replay_score_cc(tr, it_id, runner, records, pairs, feats, keep, n)
        finally:
            for df in keep + caches:
                df.unpersist()
        self.trace_wd = wd
        counts = self._layer_counts(
            n, wd, ("extract", "pairs", "features", "score", "clusters")
        )
        return {
            **counts,
            "extract.rows_out": n["records"],
            "blocking.rows_out": n["pairs"],
            "blocking.pairs_per_page": n["pairs"] / self.n_pages,
            "blocking.cap_drop_frac": sum(s["rows_capped"] for s in stats)
            / max(sum(s["total_key_rows"] for s in stats), 1),
        }

    def after_traced_iteration(self) -> None:
        self._check_replay(self.trace_wd)
        shutil.rmtree(self.trace_wd)


class ErResume(_ErWorkload):
    name = "er_resume"

    def prepare(self) -> int:
        n = super().prepare()
        self.wd = os.path.join(self.work, "resume")
        full = self._run(self.wd)  # the completed run being resumed
        self._check_clusters(full)
        return n

    def _drop_manifests(self) -> None:
        for stage in _RESUME_DROPPED:
            os.remove(os.path.join(self.wd, f"{stage}._MANIFEST.json"))

    def warm_up(self) -> None:
        self.before_iteration()
        self.iteration()
        self.after_iteration()

    def before_iteration(self) -> None:
        self.n_iter += 1
        self._drop_manifests()

    def iteration(self) -> None:
        self.last_out = self._run(self.wd)

    def after_iteration(self) -> None:
        counters = self.last_out["counters"]
        for stage in ("extract", "pairs", "features"):
            if "wall_sec" in counters[stage]:
                raise CheckFailed(f"resume recomputed the {stage} stage")
        self._check_clusters(self.last_out)

    def traced_iteration(self, tr, it_id: str) -> dict:
        self._drop_manifests()
        runner = StageRunner(self.spark, self.cfg(self.wd))
        keep, n = [], {}
        try:
            with tr.span("pipeline", "read", it_id):
                records, n_rec = _materialize(runner.read("extract"), keep)
                pairs, n["pairs"] = _materialize(runner.read("pairs"), keep)
                feats, n_feat = _materialize(runner.read("features"), keep)
            n["pipeline_rows"] = n_rec + n["pairs"] + n_feat
            self._replay_score_cc(tr, it_id, runner, records, pairs, feats, keep, n)
        finally:
            for df in keep:
                df.unpersist()
        return self._layer_counts(n, self.wd, _RESUME_DROPPED)

    def after_traced_iteration(self) -> None:
        self._check_replay(self.wd)


class _QueryWorkload:
    """Registered ``__spark_entry__`` queries over a generated ``documents``
    table, collected to the driver; checked against the DuckDB oracle."""

    layers: dict[str, str]  # query name -> layer name
    entities = DOC_ENTITIES

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.report: dict = {}
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.sf_dir = os.path.join(ctx.run_dir, "inputs")

    def prepare(self) -> int:
        """Seeded distributed pages re-keyed to dense ``doc_id`` (the link
        relations square it) in hash order, cut to ``DOCUMENTS`` rows.

        Text is whitespace-normalized and trimmed, as in the repo's
        ``documents`` test tables: ``pair_scores`` tokenizes with Python's
        ``str.split()`` and its oracle with ``string_split(text, ' ')``,
        which disagree on newlines and on the leading space an empty title
        leaves."""
        pages, _ = generate_pages_distributed(
            self.spark, self.entities, seed=self.ctx.seed, partitions=2 * self.ctx.cores
        )
        order = Window.orderBy(F.xxhash64("url"), "url", "text")
        docs = pages.select(
            (F.row_number().over(order) - 1).cast("bigint").alias("doc_id"),
            F.trim(F.regexp_replace("text", r"\s+", " ")).alias("text"),
        ).filter(F.col("doc_id") < DOCUMENTS)
        path = f"{self.sf_dir}/documents.parquet"
        docs.repartition(2 * self.ctx.cores).write.parquet(path)
        n = self.spark.read.parquet(path).count()
        if n != DOCUMENTS:
            raise ValueError(f"seed {self.ctx.seed} generated only {n} documents")
        return n

    def warm_up(self) -> None:
        self.iteration()

    def check(self) -> dict:
        """Compares the last iteration's results with DuckDB running each
        query's oracle SQL on the same table."""
        import duckdb

        from tools.parity_check import norm_frame, value_hash

        report = {}
        with duckdb.connect() as con:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/documents.parquet/*.parquet')"
            )
            for q, got in self.results.items():
                a, b = norm_frame(got), norm_frame(con.execute(self.oracles[q]).df())
                if list(a.columns) != list(b.columns) or len(a) != len(b):
                    raise CheckFailed(f"{q}: shape {a.shape} vs oracle {b.shape}")
                report[f"{q}_rows"], report[f"{q}_hash"] = len(a), value_hash(a)
                if report[f"{q}_hash"] != value_hash(b):
                    raise CheckFailed(f"{q}: value hash differs from the oracle")
        return report

    def before_iteration(self) -> None:
        pass

    def iteration(self) -> None:
        # collected, not written to a noop sink: the results are at most
        # DOCUMENTS rows, and every timed output can then be checked
        self.results = {
            q: self.queries[q](self.spark, self.sf_dir).toPandas() for q in self.layers
        }

    def after_iteration(self) -> None:
        pass

    def traced_iteration(self, tr, it_id: str) -> dict:
        for q, layer in self.layers.items():
            with tr.span(layer, q, it_id):
                self.results[q] = self.queries[q](self.spark, self.sf_dir).toPandas()
        return {f"{layer}.rows_out": len(self.results[q]) for q, layer in self.layers.items()}

    def after_traced_iteration(self) -> None:
        pass


class CandgenTopk(_QueryWorkload):
    name = "candgen_topk"
    layers = {"tfidf_cosine_topk": "tfidf", "pair_scores": "string_scores"}


class GraphIter(_QueryWorkload):
    name = "graph_iter"
    layers = {"kcore_decomposition": "kcore", "label_propagation": "linkgraph"}


class Queries(_QueryWorkload):
    """``candgen_topk`` and ``graph_iter`` in one process, sharing one
    set-up (see README.md)."""

    name = "queries"
    layers = {**CandgenTopk.layers, **GraphIter.layers}


WORKLOADS = {w.name: w for w in (ErBatch, ErResume, CandgenTopk, GraphIter, Queries)}
