"""Torn-write resume: a stage directory without its manifest (crash between
table write and commit marker) must be recomputed, not trusted — the
Iceberg-snapshot-commit semantics the manifests emulate (SURVEY X4)."""

import os
import shutil

from biomedical_entity_linking_spark.data.generator import corpus_to_spark, generate_corpus
from biomedical_entity_linking_spark.pipeline import PipelineConfig, run_pipeline
from tools.parity_check import norm_frame, value_hash


def _clusters_hash(out) -> str:
    """Order-insensitive value hash of the clusters table."""
    return value_hash(norm_frame(out["clusters"].toPandas()))


def test_torn_write_recomputed(spark, tmp_path):
    corpus = generate_corpus(n_entities=40, seed=11)
    pages, _ = corpus_to_spark(spark, corpus)
    wd = str(tmp_path / "wd")
    cfg = PipelineConfig(work_dir=wd)
    out1 = run_pipeline(spark, pages, cfg)
    scored_before = out1["scored"].count()
    clusters_before = _clusters_hash(out1)

    # simulate a crash after the score table write but before its commit
    # marker: manifest gone, table replaced by garbage
    os.remove(os.path.join(wd, "score._MANIFEST.json"))
    shutil.rmtree(os.path.join(wd, "score"))
    os.makedirs(os.path.join(wd, "score"))
    # downstream stage (clusters) must also be invalidated for a true crash;
    # the runner keys on manifests, so drop it too
    os.remove(os.path.join(wd, "clusters._MANIFEST.json"))
    shutil.rmtree(os.path.join(wd, "clusters"))

    out2 = run_pipeline(spark, pages, cfg)
    assert out2["scored"].count() == scored_before
    assert _clusters_hash(out2) == clusters_before
    # upstream stages were NOT recomputed (their manifests still match)
    assert out2["counters"]["extract"]["rows"] == out1["counters"]["extract"]["rows"]
