"""The traced call: spans at each layer boundary, and the per-layer table.

A span records its name, parent, start, end and rows; spans stay in memory
and are written out when the run ends. Every span sets its own Spark job
group (``span:<name>``), so the event log gives each span its jobs, tasks,
shuffle bytes and memory. A span's self time is its duration minus the
durations of its child spans.

* ``neardup`` calls each dedup function and materializes its output at the
  span boundary (the collect the untraced call also does).
* ``kg_durable`` already materializes every stage; the traced call wraps
  ``CheckpointRunner.run_stage`` from outside the library so that each
  stage runs in its own span and job group, and reads each stage's rows and
  partitions from its ``_kargo_manifest.json``. After the timed call it
  runs three more spans over the checkpoints for the layers that have no
  stage of their own: ``skew.size_bucketed``,
  ``nlp.sentences_with_tokens`` and ``weighting.tfidf_scores``.

Metric names are ``<module>.<function>.<metric>``; ``.s`` is self time and
``.rows`` the row count at the boundary. A layer a workload does not run
reads 0.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from eventlog import MB, merge

# run_pipeline stage -> the library function whose span it is
STAGE_SPANS = {
    "docs_clean": "corpus.docs_clean",
    "tokens": "nlp.tokenize",
    "candidates": "candidates.mine_filter",
    "df_counts": "weighting.document_frequency",
    "term_scores": "graph_rank.position_rank",
    "terms_topk": "weighting.top_k_terms",
    "mentions": "relations.mentions",
    "pairs": "relations.pairs",
    "pair_vectors": "embedding.pair_vectors",
    "clusters": "clustering.dbscan",
    "triples": "relations.triples_from_pairs",
    "entities": "linking.canonical_entities",
    "links": "linking.link_mentions",
}

# (name, unit); every traced run reports all of them
PER_LAYER = [
    ("session.start_s", "s"), ("session.warm_s", "s"),
    ("session.cached_rdds_after_call", "count"),
    ("corpus.docs_clean.s", "s"), ("corpus.docs_clean.rows", "count"),
    ("skew.size_bucketed.partitions", "count"),
    ("skew.size_bucketed.max_median_rows", "ratio"),
    ("nlp.tokenize.s", "s"), ("nlp.tokenize.rows", "count"),
    ("nlp.sentences_with_tokens.s", "s"),
    ("candidates.mine_filter.s", "s"), ("candidates.mine_filter.rows", "count"),
    ("weighting.document_frequency.s", "s"), ("weighting.tfidf_scores.s", "s"),
    ("weighting.top_k_terms.s", "s"),
    ("graph_rank.position_rank.s", "s"),
    ("relations.mentions.s", "s"), ("relations.pairs.s", "s"),
    ("relations.triples_from_pairs.s", "s"),
    ("relations.triples_from_pairs.rows", "count"),
    ("embedding.pair_vectors.s", "s"), ("clustering.dbscan.s", "s"),
    ("clustering.noise_share", "ratio"),
    ("linking.canonical_entities.s", "s"), ("linking.link_mentions.s", "s"),
    ("checkpointing.write_s", "s"), ("checkpointing.count_s", "s"),
    ("checkpointing.bytes", "bytes"), ("checkpointing.resume_s", "s"),
    ("dedup.minhash_lsh_pairs.s", "s"), ("dedup.minhash_lsh_pairs.rows", "count"),
    ("dedup.minhash_lsh_pairs.recall", "ratio"),
    ("dedup.simhash_pairs.s", "s"), ("dedup.simhash_pairs.rows", "count"),
    ("dedup.capped_drops", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.task_s", "s"), ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.core_util", "ratio"),
    ("spark.task_tail", "ratio"), ("spark.exec_mem_peak_mb", "MB"),
    ("spark.storage_mem_peak_mb", "MB"), ("spark.jvm_rss_peak_mb", "MB"),
    ("trace.overhead_s", "s"),
]


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1]["name"] if self._stack else None
        s = {"name": name, "parent": parent, "rows": None, "start": time.perf_counter()}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"span:{name}", name)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"span:{self._stack[-1]['name']}",
                                    self._stack[-1]["name"])
            else:
                self.sc.setJobGroup("untraced", "outside every span")

    def self_times(self) -> dict[str, float]:
        out = {}
        for s in self.spans:
            child = sum(c["end"] - c["start"] for c in self.spans
                        if c["parent"] == s["name"])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - child)
        return out

    def subtree(self, root: str) -> list[str]:
        names, todo = [], [root]
        while todo:
            n = todo.pop()
            names.append(n)
            todo += [s["name"] for s in self.spans if s["parent"] == n]
        return names


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _traced_kg_durable(spark, wl, inputs, run_dir, tr: Tracer) -> dict:
    from pyspark.sql import functions as F

    from kargo_spark import nlp, weighting
    from kargo_spark.checkpointing import CheckpointRunner
    from kargo_spark.skew import size_bucketed

    workdir = os.path.join(run_dir, "traced")
    original = CheckpointRunner.run_stage

    def run_stage(self, name, fn, persist=True):
        with tr.span(STAGE_SPANS.get(name, f"checkpointing.{name}")):
            return original(self, name, fn, persist=persist)

    extra: dict = {}
    with tr.span("kg_durable.call") as top:
        CheckpointRunner.run_stage = run_stage
        try:
            with tr.span("checkpointing.fresh_run"):
                stats, _, out = wl.run_once(spark, inputs.path, workdir)
        finally:
            CheckpointRunner.run_stage = original
        with tr.span("checkpointing.resume") as sp:
            stats2, _, _ = wl.run_once(spark, inputs.path, workdir)
            sp["rows"] = stats2["n"]
    errors = []
    if (stats2["n"], stats2["checksum"]) != (stats["n"], stats["checksum"]):
        errors.append("traced resume differs")
    errors += wl.stats_errors(inputs.seed, stats)

    manifests = {}
    for name in STAGE_SPANS:
        with open(os.path.join(workdir, name, "_kargo_manifest.json")) as f:
            manifests[name] = json.load(f)
    for s in tr.spans:
        for stage, span in STAGE_SPANS.items():
            if s["name"] == span:
                s["rows"] = manifests[stage]["rows"]
                s["partitions"] = len(manifests[stage]["partitions"])

    # layers without a stage of their own, over the checkpoints
    with tr.span("skew.size_bucketed") as sp:
        sb = size_bucketed(out["docs_clean"], "content")
        counts = sorted(r["n"] for r in sb.groupBy(F.spark_partition_id().alias("p"))
                        .agg(F.count(F.lit(1)).alias("n")).collect())
        sp["rows"] = sum(counts)
        extra["partitions"] = len(counts)
        median = counts[len(counts) // 2] if counts else 0
        extra["max_median_rows"] = counts[-1] / median if median else 0.0
    with tr.span("nlp.sentences_with_tokens") as sp:
        sp["rows"] = nlp.sentences_with_tokens(out["tokens"]).count()
    with tr.span("weighting.tfidf_scores") as sp:
        sp["rows"] = weighting.tfidf_scores(
            out["candidates"], out["df_counts"], manifests["docs_clean"]["rows"]).count()
    clusters = spark.read.parquet(os.path.join(workdir, "clusters"))
    row = clusters.agg(F.count(F.lit(1)).alias("n"),
                       F.sum((F.col("cluster") < 0).cast("long")).alias("noise")).collect()[0]
    extra["noise_share"] = (row["noise"] or 0) / row["n"] if row["n"] else 0.0
    extra["checkpoint_bytes"] = _dir_bytes(workdir)
    return {"workload": wl.name, "top": "kg_durable.call",
            "wall_s": top["end"] - top["start"], "errors": errors, "extra": extra}


def _traced_neardup(spark, wl, inputs, oracle, tr: Tracer) -> dict:
    capped: dict = {}
    with tr.span("neardup.call") as top:
        mh_df, sh_df = wl.pairs(spark, inputs.path, capped_stats=capped)
        with tr.span("dedup.minhash_lsh_pairs") as sp:
            mh = [(r["a"], r["b"], r["jaccard"]) for r in mh_df.collect()]
            sp["rows"] = len(mh)
        with tr.span("dedup.simhash_pairs") as sp:
            sh = [(r["a"], r["b"], r["hamming"]) for r in sh_df.collect()]
            sp["rows"] = len(sh)
        res = wl.check(inputs, mh, sh, False, oracle)
    exact = oracle["jaccard_pairs"]
    got = {(a, b) for a, b, _ in mh}
    return {"workload": wl.name, "top": "neardup.call",
            "wall_s": top["end"] - top["start"], "errors": res.errors,
            "extra": {"capped_drops": capped.get("dropped_rows", 0),
                      "recall": len(got & exact) / len(exact) if exact else 1.0}}


def traced_call(spark, wl, inputs, run_dir, oracle) -> dict:
    tr = Tracer(spark.sparkContext)
    if wl.name == "kg_durable":
        out = _traced_kg_durable(spark, wl, inputs, run_dir, tr)
    else:
        out = _traced_neardup(spark, wl, inputs, oracle, tr)
    out["tracer"] = tr
    return out


def per_layer_metrics(traced, groups, wall_untraced, start_s, warm_s,
                      jvm_rss_peak_mb, cores, cached_rdds) -> dict:
    tr: Tracer = traced["tracer"]
    self_s = tr.self_times()
    rows = {s["name"]: s["rows"] for s in tr.spans if s["rows"] is not None}
    extra = traced["extra"]
    call = merge([groups[f"span:{n}"] for n in tr.subtree(traced["top"])
                  if f"span:{n}" in groups])
    wall = traced["wall_s"]
    v = {name: 0.0 for name, _ in PER_LAYER}
    v.update({
        "session.start_s": start_s, "session.warm_s": warm_s,
        "session.cached_rdds_after_call": cached_rdds,
        "spark.jobs": call.jobs, "spark.stages": call.stages, "spark.tasks": call.tasks,
        "spark.failed_tasks": call.failed_tasks,
        "spark.task_s": call.task_s, "spark.gc_s": call.gc_s,
        "spark.shuffle_write_mb": call.shuffle_write_bytes / MB,
        "spark.spill_mb": call.spill_bytes / MB,
        "spark.core_util": call.task_s / (wall * cores) if wall else 0.0,
        "spark.task_tail": call.task_tail,
        "spark.exec_mem_peak_mb": call.exec_mem_peak_bytes / MB,
        "spark.storage_mem_peak_mb": call.storage_mem_peak_bytes / MB,
        "spark.jvm_rss_peak_mb": jvm_rss_peak_mb,
        "trace.overhead_s": wall - wall_untraced,
    })
    for name, s in self_s.items():
        if f"{name}.s" in v:
            v[f"{name}.s"] = s
        if f"{name}.rows" in v and name in rows:
            v[f"{name}.rows"] = rows[name]
    if traced["workload"] == "kg_durable":
        sites = [jt for n in tr.subtree("checkpointing.fresh_run")
                 for jt in groups.get(f"span:{n}", merge([])).job_times]
        v.update({
            "skew.size_bucketed.partitions": extra["partitions"],
            "skew.size_bucketed.max_median_rows": extra["max_median_rows"],
            "clustering.noise_share": extra["noise_share"],
            "checkpointing.bytes": extra["checkpoint_bytes"],
            "checkpointing.resume_s": self_s.get("checkpointing.resume", 0.0),
            # a stage's write job also computes the stage; the count jobs
            # re-read what was just written to fill the manifest
            "checkpointing.write_s": sum(t for site, t in sites if "checkpointing.py" not in site),
            "checkpointing.count_s": sum(t for site, t in sites if "checkpointing.py" in site),
        })
    else:
        v.update({
            "dedup.capped_drops": extra["capped_drops"],
            "dedup.minhash_lsh_pairs.recall": extra["recall"],
        })
    units = dict(PER_LAYER)
    return {k: (v[k], units[k]) for k, _ in PER_LAYER}


def _by_site(job_times) -> dict:
    out: dict = {}
    for site, t in job_times:
        n, total = out.get(site, (0, 0.0))
        out[site] = (n + 1, total + t)
    return {k: {"jobs": n, "s": t} for k, (n, t) in out.items()}


def write_trace(path, traced, groups, metrics, env, reps) -> None:
    tr: Tracer = traced["tracer"]
    self_s = tr.self_times()
    t0 = min(s["start"] for s in tr.spans)
    spans = []
    for s in tr.spans:
        g = groups.get(f"span:{s['name']}")
        spans.append({
            "name": s["name"], "parent": s["parent"],
            "start_s": s["start"] - t0, "end_s": s["end"] - t0,
            "self_s": self_s[s["name"]], "rows": s["rows"],
            "partitions": s.get("partitions"),
            "spark": None if g is None else {
                "jobs": g.jobs, "stages": g.stages, "tasks": g.tasks,
                "failed_tasks": g.failed_tasks,
                "task_s": g.task_s, "gc_s": g.gc_s,
                "shuffle_write_bytes": g.shuffle_write_bytes,
                "spill_bytes": g.spill_bytes,
                "exec_mem_peak_bytes": g.exec_mem_peak_bytes,
                "storage_mem_peak_bytes": g.storage_mem_peak_bytes,
                "task_tail": g.task_tail,
                "jobs_by_call_site": _by_site(g.job_times),
            },
        })
    doc = {
        "workload": traced["workload"], "env": env, "errors": traced["errors"],
        "untraced_reps": [{k: r[k] for k in ("wall_s", "cpu_s", "py_rss_peak_mb",
                                            "spark_mem_peak_mb", "cached_rdds")}
                          for r in reps],
        "spans": spans,
        "metrics": {k: {"value": val, "unit": u} for k, (val, u) in metrics.items()},
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
