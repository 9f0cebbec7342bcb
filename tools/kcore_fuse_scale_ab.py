"""Same-window A/B at 10M docs for the kcore checkpoint fusion: EAGER
per-round edge checkpoint (r5 shape) vs LAZY (measured and rejected in r6
session 2), alternating fresh-JVM legs so both variants share the window's
noise — the r5 pinned campaign and the r6 fused campaign ran on different
days, so their efficiency numbers are not directly comparable.

Uses the cached id-dense corpus from ``kcore_scale_bench._id_docs_dir``.
Legs: 8-core x3 each + 2-core x2 each (env-overridable), alternating
E,F,E,F,... Result-row counts asserted equal across all legs.

Usage: python tools/kcore_fuse_scale_ab.py
       python tools/kcore_fuse_scale_ab.py --leg {eager|fused} CPUS SF_DIR
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _kcore_with(eager: bool, spark, sf_dir: str):
    from pyspark.sql import functions as F

    from biomedical_entity_linking_spark.operators.kcore import (
        K_CORE,
        N_ROUNDS,
        _degrees,
        _kcore_edges,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_parts = spark.sparkContext.defaultParallelism * 2
    und = (
        _kcore_edges(docs).repartition(n_parts, "a").localCheckpoint(eager=True)
    )
    alive = (
        docs.select(F.col("doc_id").alias("node"))
        .repartition(n_parts, "node")
        .localCheckpoint(eager=True)
    )
    peeled_parts = []
    for r in range(1, N_ROUNDS + 1):
        marked = (
            alive.join(_degrees(und), "node", "left")
            .select("node", F.coalesce(F.col("deg"), F.lit(0)).alias("d"))
            .repartition(n_parts, "node")
            .localCheckpoint(eager=True)
        )
        peeled = marked.filter(F.col("d") < K_CORE)
        peeled_parts.append(
            peeled.select("node", F.lit(r).cast("bigint").alias("peel_round"))
        )
        alive = marked.filter(F.col("d") >= K_CORE).select("node")
        und = (
            und.join(alive, und.a == alive.node, "left_semi")
            .join(alive, und.b == alive.node, "left_semi")
            .repartition(n_parts, "a")
            .localCheckpoint(eager=eager)
        )
    survivors = alive.join(_degrees(und), "node", "left").select(
        F.col("node").alias("doc_id"),
        F.lit(0).cast("bigint").alias("peel_round"),
        F.coalesce(F.col("deg"), F.lit(0)).alias("core_deg"),
    )
    removed = peeled_parts[0]
    for part in peeled_parts[1:]:
        removed = removed.unionByName(part)
    removed = removed.select(
        F.col("node").alias("doc_id"),
        "peel_round",
        F.lit(0).cast("bigint").alias("core_deg"),
    )
    return survivors.unionByName(removed).orderBy("doc_id")


def run_leg(variant: str, cpus: int, sf_dir: str) -> None:
    os.environ["SPARK_LINKAGE_CORES"] = str(cpus)
    os.environ.setdefault(
        "SPARK_LINKAGE_DRIVER_MEM",
        f"{int(os.environ.get('DEDUP_BENCH_GB_PER_CORE', '6')) * cpus}g",
    )
    import time

    from biomedical_entity_linking_spark.session import get_spark

    parts = int(os.environ.get("DEDUP_BENCH_PARTS", "64"))
    spark = get_spark(
        app_name=f"kcore_ab_{variant}{cpus}",
        cores=cpus,
        shuffle_partitions=max(parts, 2 * cpus),
    )
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()  # warm scan
    t0 = time.time()
    df = _kcore_with(variant == "eager", spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    sec = round(time.time() - t0, 2)
    rows = df.count()
    print(json.dumps({"variant": variant, "cpus": cpus, "sec": sec, "rows": rows}))


def main() -> None:
    if len(sys.argv) >= 4 and sys.argv[1] == "--leg":
        run_leg(sys.argv[2], int(sys.argv[3]), sys.argv[4])
        return
    from kcore_scale_bench import _id_docs_dir  # reuse cached corpus

    docs_n = int(os.environ.get("KCORE_DOCS", str(10_000_000)))
    sf_dir = _id_docs_dir(docs_n)
    plan = [(v, 8) for _ in range(int(os.environ.get("AB_TRIALS_8", "3"))) for v in ("eager", "fused")]
    plan += [(v, 2) for _ in range(int(os.environ.get("AB_TRIALS_2", "2"))) for v in ("eager", "fused")]
    results = []
    for variant, cpus in plan:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--leg", variant,
             str(cpus), sf_dir],
            capture_output=True, text=True, cwd=ROOT,
        )
        lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        if p.returncode != 0 or not lines:
            print(f"LEG {variant}@{cpus} FAILED rc={p.returncode}")
            print(p.stderr[-2000:])
            sys.exit(1)
        rec = json.loads(lines[-1])
        print(json.dumps(rec), flush=True)
        results.append(rec)
    rows = {r["rows"] for r in results}
    summary = {}
    for variant in ("eager", "fused"):
        for cpus in (8, 2):
            secs = [r["sec"] for r in results
                    if r["variant"] == variant and r["cpus"] == cpus]
            if secs:
                summary[f"{variant}_{cpus}"] = {"samples": secs, "min": min(secs)}
    for variant in ("eager", "fused"):
        if f"{variant}_2" in summary and f"{variant}_8" in summary:
            summary[f"{variant}_eff"] = round(
                summary[f"{variant}_2"]["min"]
                / summary[f"{variant}_8"]["min"] / 4, 3)
    print(json.dumps({"probe": "kcore_fuse_ab", "docs_n": docs_n,
                      "rows_agree": len(rows) == 1, **summary}), flush=True)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
