#!/usr/bin/env python
"""Noop-sink isolation per declared query (bench.py is frozen for
measurement; this is the one extra measurement kept beside it).

Usage: python bench_extra.py [--isolate [q ...]]

Each named query (default: bench.py's HEADLINE) runs KARGO_BENCH_REPS
times into a noop sink, which computes every column but excludes the
sink's own cost. Per-rep seconds and the 1-min loadavg are recorded so a
polluted rep is visible in the artifact. Prints one JSON line.

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in bench.py; KARGO_BENCH_REPS
(default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

from bench import CPUS, HEADLINE, SF_DIR

REPS = int(os.environ.get("KARGO_BENCH_REPS", "3"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_isolate(names: list[str]) -> dict:
    import __spark_entry__ as entrymod
    from kargo_spark.session import get_spark

    spark = get_spark(app_name="kargo_bench_extra", master=f"local[{CPUS}]")
    qs = entrymod.queries()
    names = names or HEADLINE
    for name in names:  # warm plan shapes / Arrow workers on tiny data
        _noop(qs[name](spark, "/root/testdata/sf0.001"))
    out = {}
    for name in names:
        secs, loads = [], []
        for _ in range(REPS):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"isolate:{name}")
            t0 = time.time()
            _noop(qs[name](spark, SF_DIR))
            secs.append(round(time.time() - t0, 3))
            loads.append(round(os.getloadavg()[0], 1))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"secs": secs, "min": min(secs), "loads": loads}
    return {"metric": "noop_isolation_sec", "cpus": CPUS, "sf_dir": SF_DIR,
            "reps": REPS, "queries": out}


if __name__ == "__main__":
    args = sys.argv[1:]
    names = args[args.index("--isolate") + 1:] if "--isolate" in args else []
    print(json.dumps(run_isolate(names)))
