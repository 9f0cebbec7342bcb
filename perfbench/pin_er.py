"""Regenerate the ER pins in ``expected.json``: for each seed, the page
and cluster counts and the pairwise tp/fp/fn of a cold ``run_pipeline``
over the ``er_batch`` corpus. Run it when the corpus size or the
pipeline's intended output changes:

    python3 perfbench/pin_er.py FIRST_SEED LAST_SEED
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    first, last = (int(a) for a in sys.argv[1:3])
    sys.path.insert(0, run.REPO_ROOT)
    from workloads import PINS, Context, ErBatch

    run_dir = os.path.join(run.WORK_ROOT, f"pins-{os.getpid()}")
    os.makedirs(run_dir)
    spark, _ = run._start_session(run_dir, trace=False)
    try:
        with open(PINS) as f:
            pins = json.load(f)
        seeds = pins["er"].setdefault(str(ErBatch.entities), {})
        for seed in range(first, last + 1):
            seed_dir = os.path.join(run_dir, str(seed))
            wl = ErBatch(Context(spark, seed, run._cores(), seed_dir))
            wl.prepare()
            seeds[str(seed)], f1 = wl.confusion(wl._run(os.path.join(seed_dir, "wd")))
            print(seed, seeds[str(seed)], round(f1, 4), flush=True)
            shutil.rmtree(seed_dir)
        pins["er"][str(ErBatch.entities)] = dict(
            sorted(seeds.items(), key=lambda kv: int(kv[0]))
        )
        with open(PINS, "w") as f:
            json.dump(pins, f, indent=1)
            f.write("\n")
    finally:
        run._stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
