"""Benchmark of the spark-linkage engine on ``local[<all cores>]``.

Usage (from the repository root):

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 8 --trace 0

One process runs one workload: it starts the Spark session, generates the
workload's inputs from ``--seed``, runs one untimed warm-up iteration (the
three together are ``setup_s``), then runs closed-loop iterations for about
``--seconds`` seconds and checks the outputs outside the timed section.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced replay
(see ``tracing.py``). The line before it is a report with the environment,
input sizes, every iteration's time and the check results. Spans are
written to ``.perfbench_work/`` at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.time()
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench_work")
DRIVER_MEM = "3g"  # also the fixed heap size; leaves room on a 15 GiB host

# every layer the traced replays reach, and the metrics each reports
LAYERS = (
    "extract", "blocking", "scoring", "connected_components", "pipeline",
    "tfidf", "string_scores", "kcore", "linkgraph",
)
PYTHON_LAYERS = ("extract", "blocking", "scoring", "connected_components", "string_scores")
LAYER_METRICS = {
    "busy_s": "s", "idle_core_s": "s", "cpu_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "tasks": "count", "task_skew": "ratio", "rows_out": "count",
}
EXTRA_METRICS = {
    "blocking.pairs_per_page": "pairs/page",
    "blocking.cap_drop_frac": "ratio",
    "scoring.edge_yield": "ratio",
    "scoring.prune_frac": "ratio",
    "connected_components.iterations": "count",
    "pipeline.write_mb": "MB",
    "pipeline.read_s": "s",
    "session.start_s": "s",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {
        f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_METRICS.items()
    }
    units.update({f"{layer}.python_s": "s" for layer in PYTHON_LAYERS})
    units.update(EXTRA_METRICS)
    return units


END_TO_END_UNITS = {
    "wall_s": "s", "pages_per_s": "pages/s", "setup_s": "s", "peak_rss_mb": "MB",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _start_session(run_dir: str, trace: bool):
    """The package's session factory with the benchmark's sizing; every
    file Spark, the JVM and the Python workers write stays in ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the environment variable would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{events}",
                "spark.eventLog.compress": "false",
            }
        )
    from biomedical_entity_linking_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(app_name="perfbench", cores=_cores(), extra_conf=conf)
    spark.range(1).count()  # the first job pays the executor start-up
    return spark, time.time() - t0


def _stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker it started
    have exited."""
    from pyspark import SparkContext

    from procstat import descendants, wait_for_exit

    started = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    wait_for_exit(started)


def _environment(spark, cores: int) -> dict:
    return {
        "cpus": cores,
        "driver_memory": DRIVER_MEM,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def _closed_loop(step, seconds: float, prefix: str) -> tuple[list[float], int, list[str]]:
    """Closed loop: one caller; the next iteration starts when the previous
    one ends. Another iteration starts while the predicted finish overshoots
    ``seconds`` by less than half an iteration. Every iteration is reported:
    one that raises or fails its check is counted, not re-run."""
    walls: list[float] = []
    attempted, errors = 0, []
    t0 = time.time()
    while attempted == 0 or (
        time.time() - t0 + 0.5 * statistics.median(walls or [time.time() - t0])
        < seconds
    ):
        attempted += 1
        it_id = f"{prefix}{attempted}"
        try:
            walls.append(step(it_id))
        except Exception as e:  # a failed iteration is a result, not a crash
            errors.append(f"{it_id}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
    return walls, attempted, errors


def _per_layer(folded: dict, counts: dict, spans, start_s: float, walls, t_walls) -> dict:
    values = {
        f"{layer}.{m}": v
        for layer, ms in folded.items()
        for m, v in ms.items()
        if layer in LAYERS and (m != "python_s" or layer in PYTHON_LAYERS)
    }
    values.update(counts)
    read_s: dict[str, float] = {}
    for s in spans:
        if s.layer == "pipeline" and s.op == "read":
            read_s[s.parent] = read_s.get(s.parent, 0.0) + s.seconds
    values["pipeline.read_s"] = statistics.median(read_s.values()) if read_s else 0.0
    values["session.start_s"] = start_s
    values["trace.wall_s"] = statistics.median(t_walls)
    values["trace.untraced_wall_s"] = statistics.median(walls)
    values["trace.overhead_s"] = values["trace.wall_s"] - values["trace.untraced_wall_s"]
    return values


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO_ROOT)
    from procstat import RssSampler
    from tracing import Tracer, attribution_errors, fold, read_events
    from workloads import WORKLOADS, CheckFailed, Context

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cores = _cores()
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
    os.makedirs(run_dir)
    spark = tracer = None
    failed_checks: list[str] = []
    try:
        with RssSampler() as rss:
            spark, start_s = _start_session(run_dir, bool(args.trace))
            tracer = Tracer(spark, enabled=bool(args.trace))
            wl = WORKLOADS[args.workload](
                Context(spark, args.seed, cores, run_dir)
            )
            t = time.time()
            n_input = wl.prepare()
            input_s = time.time() - t

            def step(it_id: str) -> float:
                wl.before_iteration()
                with tracer.iteration(it_id):
                    wl.iteration()
                wall = tracer.spans[-1].seconds
                wl.after_iteration()
                return wall

            t = time.time()
            wl.warm_up()
            warm_s = time.time() - t
            setup_s = time.time() - T_START
            walls, attempted, errors = _closed_loop(step, args.seconds, "it")
            peak_rss_mb = rss.peak_bytes / 2**20
        try:
            checks = wl.check()
        except CheckFailed as e:
            checks, failed_checks = {}, [str(e)]
        env = _environment(spark, cores)
        if args.trace:
            counts: dict = {}

            def traced_step(it_id: str) -> float:
                with tracer.iteration(it_id):
                    counts.update(wl.traced_iteration(tracer, it_id))
                wall = tracer.spans[-1].seconds
                wl.after_traced_iteration()
                return wall

            t_walls, t_attempted, t_errors = _closed_loop(
                traced_step, args.seconds, "trace"
            )
            attempted += t_attempted
            errors += t_errors
        _stop_session(spark)
        spark = None
        if args.trace:
            events = read_events(os.path.join(run_dir, "events"))
            per_layer = _per_layer(
                fold(events, tracer.spans, cores), counts, tracer.spans, start_s,
                walls, t_walls,
            )
            bad = attribution_errors(events, tracer.spans)
            if bad:
                failed_checks.append(f"{len(bad)} tasks misattributed, e.g. {bad[:3]}")
    finally:
        if spark is not None:
            _stop_session(spark)
        if tracer is not None:
            tracer.dump(
                os.path.join(WORK_ROOT, f"spans-{name}.json"),
                {"workload": args.workload, "seed": args.seed},
            )
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = len(errors)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "environment": env,
        "input_rows": n_input,
        "iterations_s": walls,
        "samples": len(walls),
        "setup": {"session_s": start_s, "inputs_s": input_s, "warm_up_s": warm_s},
        "failed_frac": failed / attempted,
        "errors": errors,
        "failed_checks": failed_checks,
        "checks": checks,
        **wl.report,
    }
    print(json.dumps({"report": report}))
    if args.trace:
        units, values = per_layer_units(), per_layer
    else:
        wall_s = statistics.median(walls)
        units = END_TO_END_UNITS
        values = {
            "wall_s": wall_s,
            "pages_per_s": n_input / wall_s,
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss_mb,
        }
    print(
        json.dumps(
            {
                "correct": not failed_checks and not errors,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": values.get(k, 0), "unit": u} for k, u in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
