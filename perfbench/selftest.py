"""Self-test of the event-log fold on a tiny corpus.

    python3 perfbench/selftest.py

Runs two traced replays each of ``er_batch`` and ``er_resume`` on a
60-entity corpus with the event log on, then checks that:

- every task launched inside a traced iteration carries exactly one layer
  tag and runs inside one span of that layer;
- the fold charges each of those tasks once: per iteration, the layers'
  task counts sum to the tasks launched in it;
- per iteration, the layers' ``busy_s`` sum to the iteration wall minus
  the benchmark's own overhead (the gaps between layer spans), and that
  overhead is under 5% of the wall.

Exits 1 when a check fails.
"""

from __future__ import annotations

import os
import shutil
import sys

import run

TINY_ENTITIES = 60
MAX_OVERHEAD = 0.05


def main() -> int:
    sys.path.insert(0, run.REPO_ROOT)
    from tracing import Tracer, attribution_errors, fold_iterations, read_events, tasks_by_tag
    from workloads import Context, ErBatch, ErResume

    run_dir = os.path.join(run.WORK_ROOT, f"selftest-{os.getpid()}")
    os.makedirs(run_dir)
    failures: list[str] = []
    try:
        spark, _ = run._start_session(run_dir, trace=True)
        tracer = Tracer(spark, enabled=True)
        try:
            for base in (ErBatch, ErResume):
                wl = type("Tiny", (base,), {"entities": TINY_ENTITIES})(
                    Context(spark, 7, run._cores(), os.path.join(run_dir, base.name))
                )
                wl.prepare()
                wl.warm_up()
                for i in range(2):
                    it_id = f"{base.name}-{i}"
                    with tracer.iteration(it_id):
                        wl.traced_iteration(tracer, it_id)
                    wl.after_traced_iteration()
        finally:
            run._stop_session(spark)

        events = read_events(os.path.join(run_dir, "events"))
        failures += attribution_errors(events, tracer.spans)
        per_it = fold_iterations(events, tracer.spans, run._cores())
        for it in (s for s in tracer.spans if s.parent is None):
            layers = {k[1]: m for k, m in per_it.items() if k[0] == it.op}
            launched = sum(
                1
                for _, e in tasks_by_tag(events)
                if it.start <= e["Task Info"]["Launch Time"] / 1e3 <= it.end
            )
            charged = sum(m["tasks"] for m in layers.values())
            busy = sum(m["busy_s"] for m in layers.values())
            overhead = it.seconds - busy
            print(
                f"{it.op}: wall {it.seconds:.3f}s = layers {busy:.3f}s + "
                f"overhead {overhead:.3f}s; tasks {charged}/{launched} charged; "
                f"layers {sorted(layers)}"
            )
            if charged != launched or launched == 0:
                failures.append(f"{it.op}: {charged} of {launched} tasks charged")
            if not 0 <= overhead <= MAX_OVERHEAD * it.seconds:
                failures.append(f"{it.op}: overhead {overhead:.3f}s of {it.seconds:.3f}s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for f in failures:
        print("FAIL", f)
    print("selftest", "FAILED" if failures else "OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
