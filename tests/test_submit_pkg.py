"""The spark-submit deployment path (north rule: "runs via spark-submit
--py-files"): the zip built by ``tools/submit_scaling.build_zip`` must be
a complete, self-sufficient import source for the engine — every module,
no checkout on sys.path. Hermetic (no Spark session): zip construction +
import resolution only; the end-to-end submit run is
``tools/submit_campaign_r5.log`` at commit ``0d9120d``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "biomedical_entity_linking_spark"


@pytest.fixture(scope="module")
def pkg_zip(tmp_path_factory):
    sys.path.insert(0, ROOT)
    from tools.submit_scaling import build_zip

    out = str(tmp_path_factory.mktemp("pyfiles") / f"{PKG}.zip")
    return build_zip(out)


def test_zip_contains_every_package_module(pkg_zip):
    on_disk = set()
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, PKG)):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for fn in filenames:
            if fn.endswith(".py"):
                on_disk.add(
                    os.path.relpath(os.path.join(dirpath, fn), ROOT)
                )
    with zipfile.ZipFile(pkg_zip) as zf:
        in_zip = set(zf.namelist())
    missing = on_disk - in_zip
    assert not missing, f"zip is missing package modules: {sorted(missing)}"
    assert f"{PKG}/__init__.py" in in_zip


def test_engine_imports_from_zip_alone(pkg_zip):
    """A fresh interpreter with cwd=/ and ONLY the zip on sys.path must
    import the engine's operator modules — the exact resolution route a
    spark-submit --py-files executor uses (pyspark itself stays on the
    normal path, as it does under spark-submit)."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        f"import {PKG}\n"
        f"from {PKG}.operators import dedup, similarity, weburl\n"
        f"from {PKG}.pipeline import PipelineConfig\n"
        f"assert '.zip' in {PKG}.__file__, {PKG}.__file__\n"
        "print('zip-import-ok')\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code, pkg_zip],
        capture_output=True,
        text=True,
        cwd="/",
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "zip-import-ok" in proc.stdout
