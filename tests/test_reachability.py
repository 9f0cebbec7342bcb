"""Reachability: every engine module is imported, directly or
transitively, by a registered query, the pipeline, ``bench.py`` or the
benchmark in ``perfbench/``; every ``tools/*.py`` script is reached from
those roots or from a test; every top-level ``def``/``class`` in a reached
engine module is named somewhere in the reached code outside its own body
— or it is on an explicit allowlist with a reason. New dead code then
fails here instead of waiting for a review.

The walk is static (stdlib ``ast``): it follows absolute and relative
``import``/``from ... import`` statements anywhere in a module, function
bodies included, resolving names against the repo root and the importing
file's own directory (how ``perfbench/*.py`` scripts import siblings)."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "biomedical_entity_linking_spark"

# package modules (dotted, relative to PKG) that no root reaches, and why
# each one stays anyway
ALLOWED_UNREACHED = {
    "functions.salting": "documented hot-key escape hatch that operator "
                         "docstrings cite",
    "plans.report": "EXPLAIN audit tooling (writes EXPLAIN.md)",
    "plans.staging_lint": "EXPLAIN audit tooling (expression-staging lint)",
}

# tools/ scripts (file stems) that neither those roots nor any test
# imports, and why each one stays anyway
TOOLS_ALLOWED_UNREACHED = {
    "bench_extra": "per-query repeat timer (min of N in one session)",
    "submit_flagship": "spark-submit app that submit_scaling stages by "
                       "file path, not by import",
}

# top-level defs in reached package modules (dotted, relative to PKG) that
# no reached non-test file names, and why each one stays anyway
_ORACLE = "scalar test oracle for the batch kernel the engine runs"
_SKETCH_READ = "sketch read path whose semantics test_sketch pins"
DEFS_ALLOWED_UNUSED = {
    "functions.strings.jaro_winkler": _ORACLE,
    "functions.strings.token_set_levenshtein_ratio": _ORACLE,
    "functions.embeddings.embed_text": _ORACLE,
    "functions.embeddings.cosine_batch": "pandas cosine that test_embeddings "
                                         "checks embed_text vectors with",
    "operators.sketch.merge_registers": _SKETCH_READ,
    "operators.sketch.hll_estimate": _SKETCH_READ,
    "operators.sketch.cms_merge": _SKETCH_READ,
    "operators.sketch.cms_estimate": _SKETCH_READ,
    "operators.sketch.bloom_merge": _SKETCH_READ,
    "operators.sketch.bloom_contains": _SKETCH_READ,
    "operators.sketch.hist_merge": _SKETCH_READ,
    "operators.sketch.hist_quantile": _SKETCH_READ,
    "operators.clusters.cluster_sizes": "reference read-off, "
                                        "eval_cluster_linking.py:136-144",
    "operators.clusters.entity_cluster_accuracy": "reference read-off, "
                                                  "eval_cluster_linking.py"
                                                  ":236-246",
}


def _roots() -> list[Path]:
    return [REPO / "__spark_entry__.py", REPO / "bench.py",
            *sorted((REPO / "perfbench").glob("*.py"))]


def _resolve(name: str, search: list[Path]) -> Path | None:
    parts = name.split(".")
    for base in search:
        stem = base.joinpath(*parts)
        for cand in (stem.with_suffix(".py"), stem / "__init__.py"):
            if cand.is_file():
                return cand
    return None


def _imports(path: Path) -> set[Path]:
    tree = ast.parse(path.read_text(), filename=str(path))
    search = [REPO, path.parent]
    found: set[Path] = set()

    def add(name: str, base: list[Path]) -> None:
        hit = _resolve(name, base)
        if hit is not None:
            found.add(hit)
        # importing a.b.c also executes a/__init__ and a/b/__init__
        parts = name.split(".")
        for i in range(1, len(parts)):
            pkg = _resolve(".".join(parts[:i]), base)
            if pkg is not None and pkg.name == "__init__.py":
                found.add(pkg)

    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                add(alias.name, search)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                pkg = list(path.relative_to(REPO).parent.parts)
                pkg = pkg[: len(pkg) - (node.level - 1)]
                mod = ".".join(pkg + ([node.module] if node.module else []))
                base = [REPO]
            else:
                mod, base = node.module, search
            add(mod, base)
            for alias in node.names:  # ``from pkg import submodule``
                add(f"{mod}.{alias.name}", base)
    return found


def reachable(roots: list[Path]) -> set[Path]:
    seen: set[Path] = set()
    todo = list(roots)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        todo.extend(_imports(path) - seen)
    return seen


def unreached_package_modules() -> set[str]:
    seen = reachable(_roots())
    out = set()
    for path in (REPO / PKG).rglob("*.py"):
        if path in seen or path.name == "__init__.py":
            continue  # a package counts as reached through its modules
        out.add(".".join(path.relative_to(REPO / PKG).with_suffix("").parts))
    return out


def test_unreached_modules_equal_allowlist():
    unreached = unreached_package_modules()
    assert unreached == set(ALLOWED_UNREACHED), (
        f"unreached but not allowlisted: {sorted(unreached - set(ALLOWED_UNREACHED))}; "
        f"allowlisted but now reached or gone: "
        f"{sorted(set(ALLOWED_UNREACHED) - unreached)}"
    )


def test_tools_scripts_reached_or_listed():
    seen = reachable(_roots() + sorted((REPO / "tests").glob("*.py")))
    unreached = {p.stem for p in (REPO / "tools").glob("*.py")
                 if p not in seen}
    assert unreached == set(TOOLS_ALLOWED_UNREACHED), (
        f"unreached but not allowlisted: "
        f"{sorted(unreached - set(TOOLS_ALLOWED_UNREACHED))}; "
        f"allowlisted but now reached or gone: "
        f"{sorted(set(TOOLS_ALLOWED_UNREACHED) - unreached)}"
    )


def _name_uses(paths: set[Path]) -> dict[str, list[tuple[Path, int]]]:
    """name → (file, line) of every ``ast.Name``, ``ast.Attribute.attr``
    and imported alias in ``paths``."""
    uses: dict[str, list[tuple[Path, int]]] = {}
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            else:
                continue
            uses.setdefault(name, []).append((path, node.lineno))
    return uses


def test_top_level_defs_used_or_listed():
    """Non-transitive on purpose: a def counts as used when any reached
    non-test file names it outside the def's own body, even if that user
    is itself unused."""
    seen = reachable(_roots())
    uses = _name_uses(seen)
    unused = set()
    for path in seen:
        if not path.is_relative_to(REPO / PKG):
            continue
        mod = ".".join(path.relative_to(REPO / PKG).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            if not any(
                p != path or not node.lineno <= line <= node.end_lineno
                for p, line in uses.get(node.name, [])
            ):
                unused.add(f"{mod}.{node.name}")
    assert unused == set(DEFS_ALLOWED_UNUSED), (
        f"unused but not allowlisted: "
        f"{sorted(unused - set(DEFS_ALLOWED_UNUSED))}; "
        f"allowlisted but now used or gone: "
        f"{sorted(set(DEFS_ALLOWED_UNUSED) - unused)}"
    )
