#!/usr/bin/env python3
"""End-to-end benchmark of the kargo_spark docs -> triples engine.

    python3 perfbench/run.py --workload kg_durable --seed 1 --seconds 5 --trace 0

Run from the root of a checkout: the engine is imported from there, and
everything the run writes (generated inputs, Spark local dirs, event logs,
workdirs, traces) goes under ``.perfbench_work/`` in that root.

Workloads (each in a fresh ``local[4]`` process; why each was chosen):

* ``kg_durable`` — ``pipeline.run_pipeline`` with a fresh workdir
  (parquet + manifest per stage), ``ranker="positionrank"``, clustering and
  linking on, over a repository corpus pre-split into 16 parquet files; a
  second call on the same workdir then resumes. It is the only workload
  that runs the KG layers (corpus, skew, nlp, candidates, weighting,
  graph_rank, relations, embedding, clustering, linking, checkpointing),
  with 13 checkpoint writes and, on pre-split input, no need for any
  added repartition.
* ``neardup`` — ``dedup.minhash_lsh_pairs`` (tau 0.8) and
  ``dedup.simhash_pairs`` (radius 3) over short documents in ONE parquet
  file with one row group. It runs the dedup signature/band/join/verify
  path and bypasses nlp, relations and checkpointing, so a change to those
  layers predicts no change here.

A run: generate the inputs (cached per workload, seed and size; outside
every timer) -> set up (JVM, session, and a warm-up of the same call on a
tiny input from the same generator; for a short call, once more on the
full input, so that timing starts past the JIT's steepest warm-up:
``setup_s``) -> repeat the call ``--seconds / rep_s`` times (``rep_s`` is
the workload's time per repetition on 4 cores, so the repetitions take
about ``--seconds``), checking every output -> report medians over them.
``--trace 1`` adds one traced call after the untimed ones and reports
per-layer numbers instead (see ``tracing.py``).

End-to-end metrics (``--trace 0``):

* ``setup_s``   JVM start + session + warm-up calls.
* ``wall_s``    first read of the input -> complete, checked result.
* ``docs_per_s`` input documents / ``wall_s``.
* ``cpu_s``     CPU seconds of a call's Spark tasks (their executorCpuTime)
  plus its Python workers. The JVM's own threads are left out: its JIT
  compiler keeps compiling for many calls after the warm-up (3-7 s of a
  10-14 s JVM total per neardup call on 4 cores), so their CPU measures
  the JIT's progress more than the program.
* ``py_rss_peak_mb`` peak summed RSS of the Python workers during a call.
* ``spark_mem_peak_mb`` peak execution + storage memory of a call as
  Spark accounts it (``sparkstatus.py``; the traced run reads the same
  figures from its event log, ``eventlog.py``).

Failed calls and failed output checks are counted in ``failed`` of the
result line (``fail_share`` = failed / attempted); a metric must never read
0, so it is not repeated among the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
# get_spark's default driver heap (24g) can exceed the machine's memory; a
# pinned heap keeps JVM growth, and so memory and GC figures, repeatable.
PINNED_ENV = {
    "KARGO_DRIVER_MEM": "4g",
    "SPARK_GRAFT_CPUS": str(CORES),
}

sys.path.insert(0, HERE)


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _pin_environment(run_dir: str, event_log: bool) -> dict:
    """Environment the program runs under; set before the JVM starts.

    The event log costs about a tenth of ``wall_s`` (measured on 4 cores,
    local[4]: neardup 6.76 -> 6.14 s, kg_durable 25.1 -> 22.5 s median with
    it off), more than the run-to-run spread, so only the traced run
    writes one."""
    for key in [k for k in os.environ if k.startswith("KARGO_")]:
        del os.environ[key]
    tmp = os.path.join(run_dir, "tmp")
    events = os.path.join(run_dir, "events")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    env = dict(PINNED_ENV)
    env["KARGO_LOCAL_DIR"] = env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env["TMPDIR"] = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log:
        confs.update({
            # uncompressed: reading it then needs no codec module (zstd)
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    args += ["--driver-java-options",
             f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir} -XX:-UsePerfData"]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    os.environ.update(env)
    return env


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and every Python worker, and wait."""
    from pyspark import SparkContext

    import procstat

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while procstat.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstat.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for _ in range(50):
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kargo_spark", "pipeline.py")):
        _die(f"no kargo_spark package under {ROOT}; run from a checkout root")
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _die(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload]

    # inputs first, outside every timer
    inputs = wl.prepare(os.path.join(WORK, "data"), args.seed)

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = _pin_environment(run_dir, event_log=bool(args.trace))
    sys.path.insert(0, ROOT)

    import procstat
    import sparkstatus
    from eventlog import group_totals, read_events

    t0 = time.perf_counter()
    from kargo_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{CORES}]")
    start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    try:
        sc.setJobGroup("setup", "warm-up")
        t1 = time.perf_counter()
        for tiny in wl.warm_tiny:
            warm = wl.call(spark, inputs, os.path.join(run_dir, "warm"), tiny=tiny)
            spark.catalog.clearCache()
            if warm.errors:
                raise RuntimeError(f"warm-up output check failed: {warm.errors}")
        warm_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0

        sc.setJobGroup("oracle", "output oracle")
        oracle = wl.oracle(spark, inputs)
        spark.catalog.clearCache()

        # a fixed number of repetitions per --seconds, not a deadline: every
        # run then times the same calls at the same point of the JVM's
        # warm-up, whatever the speed of the host
        n_reps = max(1, round(args.seconds / wl.rep_s))
        reps = []
        attempted = failed = 0
        me = os.getpid()
        with procstat.PeakSampler(me) as sampler:
            for i in range(n_reps):
                sc.setJobGroup(f"rep{i}", f"call {i}")
                sampler.take()
                cpu0 = procstat.python_cpu_seconds(me)
                t = time.perf_counter()
                try:
                    res = wl.call(spark, inputs, os.path.join(run_dir, f"rep{i}"),
                                  oracle=oracle)
                    errors = res.errors
                except Exception:
                    traceback.print_exc()
                    res, errors = None, [f"rep {i} raised"]
                wall = time.perf_counter() - t
                rep = {
                    "wall_s": wall,
                    "cpu_s": procstat.python_cpu_seconds(me) - cpu0
                             + sparkstatus.task_cpu_seconds(sc, f"rep{i}"),
                    "py_rss_peak_mb": sampler.take() / 2**20,
                    "results": res.results if res else 0,
                    "errors": errors,
                    "cached_rdds": len(sc._jsc.getPersistentRDDs()),
                    "spark_mem_peak_mb": sum(sparkstatus.memory_peak_bytes(
                        sc, f"rep{i}", CORES)) / 2**20,
                }
                reps.append(rep)
                attempted += wl.calls_per_rep
                failed += min(len(errors), wl.calls_per_rep)
                for e in errors:
                    print(f"perfbench: {args.workload} seed {args.seed}: {e}",
                          file=sys.stderr)
                # the next call starts from an empty cache whatever this
                # one left behind (the count above records what it left)
                spark.catalog.clearCache()
                shutil.rmtree(os.path.join(run_dir, f"rep{i}"), ignore_errors=True)

        traced = None
        if args.trace:
            import tracing as tracemod

            traced = tracemod.traced_call(spark, wl, inputs, run_dir, oracle)
            if traced["errors"]:
                failed += 1
            attempted += 1
        jvm_hwm_mb = procstat.jvm_hwm_mb(me)
    finally:
        _stop_spark(spark)

    ok = [r for r in reps if not r["errors"]] or reps
    wall_s = statistics.median([r["wall_s"] for r in ok])
    if args.trace:
        (log,) = os.listdir(os.path.join(run_dir, "events"))
        groups = group_totals(read_events(os.path.join(run_dir, "events", log)), slots=CORES)
        metrics = tracemod.per_layer_metrics(
            traced, groups, wall_untraced=wall_s, start_s=start_s, warm_s=warm_s,
            jvm_rss_peak_mb=jvm_hwm_mb, cores=CORES,
            cached_rdds=statistics.median([r["cached_rdds"] for r in reps]),
        )
        tracemod.write_trace(
            os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"),
            traced, groups, metrics, env, reps,
        )
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        out = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall_s, "unit": "s"},
            "docs_per_s": {"value": inputs.n_docs / wall_s, "unit": "1/s"},
            "cpu_s": {"value": statistics.median([r["cpu_s"] for r in ok]), "unit": "s"},
            "py_rss_peak_mb": {"value": statistics.median([r["py_rss_peak_mb"] for r in ok]),
                               "unit": "MB"},
            "spark_mem_peak_mb": {"value": statistics.median([r["spark_mem_peak_mb"] for r in ok]),
                                  "unit": "MB"},
        }
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "reps": len(reps),
        "wall_s_each": [round(r["wall_s"], 3) for r in reps],
        "results_each": [r["results"] for r in reps],
        "golden_compared": workloads.has_golden(wl.name, wl.size_key, args.seed),
        "env": {k: v for k, v in env.items() if k != "PYSPARK_SUBMIT_ARGS"},
    }), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
