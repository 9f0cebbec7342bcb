"""Persist policy: ``.persist()``/``.cache()`` registers a relation in the
session's CacheManager, where it stays until someone unpersists it and
where every later query with a matching plan silently reads it. The
package materializes with a lazy ``localCheckpoint`` instead, which
nothing else matches and which Spark's cleaner drops with the relation.
A ``.persist(`` or ``.cache(`` call may only sit in a function listed
below, each with its reason; and the queries that checkpoint a reused
intermediate must leave the CacheManager empty."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import __spark_entry__ as E
from tests.test_er_quality_plan import QUALITY, SF

REPO = Path(__file__).resolve().parent.parent
PKG = "biomedical_entity_linking_spark"

_CALLER_UNPERSISTS = "persisted into ``caches``; run_pipeline unpersists them"
PERSIST_ALLOWED = {
    "pipeline.StageRunner.run_stage_async": "async stage: consumed while "
    "the checkpoint writer runs; finalize() unpersists it",
    "pipeline.run_pipeline._pairs": "blocking keys read twice; kept in the "
    "stage's caches, which the pipeline unpersists",
    "operators.blocking.sorted_neighborhood_keys": _CALLER_UNPERSISTS,
    "operators.blocking.generate_candidate_pairs": _CALLER_UNPERSISTS,
    "operators.similarity.cached_exact_topk": "session memo: the ranked-"
    "candidate family shares one exact top-k relation",
    "operators.metrics._hit_relation": "session memo: five metric queries "
    "share one hit relation",
    "operators.tfidf.tfidf_cosine_topk": "the queries benchmark times it "
    "warm; at sf0.1 repeat calls ran 2.8-5.1 s persisted against 4.0-6.9 s "
    "with a lazy localCheckpoint",
    "operators.text_analysis.vocab_topk": "<= 10k-row candidate relation; "
    "test_training_mix pins its AQE empty-propagation plan",
}

# queries that read an intermediate relation more than once and
# checkpoint it; each must leave the session's CacheManager as it found it
CHECKPOINTED = (
    "fs_pair_posteriors",
    "fs_uncertain_pairs",
    "fs_mutual_match",
    "fs_tf_posteriors",
    *QUALITY,
    "waterfall_link",
)


def persist_sites() -> dict[str, list[int]]:
    """Qualified enclosing function (relative to PKG) → line numbers of
    its ``.persist(``/``.cache(`` calls."""
    sites: dict[str, list[int]] = {}
    for path in sorted((REPO / PKG).rglob("*.py")):
        mod = ".".join(path.relative_to(REPO / PKG).with_suffix("").parts)

        def walk(node: ast.AST, scope: list[str]) -> None:
            for child in ast.iter_child_nodes(node):
                if isinstance(
                    child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    walk(child, scope + [child.name])
                    continue
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in ("persist", "cache")
                ):
                    sites.setdefault(".".join([mod, *scope]), []).append(
                        child.lineno
                    )
                walk(child, scope)

        walk(ast.parse(path.read_text(), filename=str(path)), [])
    return sites


def test_persist_calls_only_in_allowlisted_functions():
    sites = persist_sites()
    extra = {f: lines for f, lines in sites.items() if f not in PERSIST_ALLOWED}
    assert not extra, f"persist outside the allowlist: {extra}"
    stale = set(PERSIST_ALLOWED) - set(sites)
    assert not stale, f"allowlisted but no longer persisting: {sorted(stale)}"


@pytest.mark.parametrize("name", CHECKPOINTED)
def test_query_leaves_cache_manager_empty(spark, name):
    spark.catalog.clearCache()
    E.queries()[name](spark, SF).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
