"""Reachability: every engine module is imported, directly or
transitively, by a registered query, the pipeline, ``bench.py`` or the
benchmark in ``perfbench/``; every ``tools/*.py`` script is reached from
those roots or from a test — or it is on an explicit allowlist with a
reason. New dead code then fails here instead of waiting for a review.

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
