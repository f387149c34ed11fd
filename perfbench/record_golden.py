#!/usr/bin/env python3
"""Record the golden output values of the workloads for a range of seeds.

    python3 perfbench/record_golden.py 0 24 [WORKLOAD ...]

runs each workload's call (all workloads by default) once for each seed in
``range(start, stop)`` in
one ``local[4]`` session (pinned as in ``run.py``) and merges the values
into ``perfbench/golden.json``. A seed whose call fails its own checks is
not recorded. Record against the engine whose outputs are known good.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
import workloads


def main(argv) -> int:
    start, stop = int(argv[1]), int(argv[2])
    run_dir = os.path.join(run.WORK, "runs", f"golden-{os.getpid()}")
    run._pin_environment(run_dir, event_log=False)
    sys.path.insert(0, run.ROOT)
    from kargo_spark.session import get_spark

    spark = get_spark(app_name="perfbench-golden", master=f"local[{run.CORES}]")
    spark.sparkContext.setLogLevel("ERROR")
    golden = workloads.load_golden()
    try:
        for name in argv[3:] or list(workloads.WORKLOADS):
            wl = workloads.WORKLOADS[name]
            for seed in range(start, stop):
                inputs = wl.prepare(os.path.join(run.WORK, "data"), seed)
                oracle = wl.oracle(spark, inputs)
                res = wl.call(spark, inputs, os.path.join(run_dir, "call"), oracle=oracle)
                spark.catalog.clearCache()
                if res.errors:
                    print(f"{wl.name} seed {seed}: not recorded: {res.errors}", file=sys.stderr)
                    continue
                golden.setdefault(wl.name, {}).setdefault(wl.size_key, {})[str(seed)] = (
                    wl.golden_record(res))
                print(f"{wl.name} seed {seed}: {wl.golden_record(res)}", flush=True)
                with open(workloads.GOLDEN_PATH, "w") as f:
                    json.dump(golden, f, indent=1, sort_keys=True)
    finally:
        run._stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
