"""The benchmark's workloads: inputs, the timed call, and its output check.

Each workload exposes ``prepare`` (generate or reuse its seeded inputs),
``oracle`` (reference data the check needs, computed outside the timers),
``call`` (one timed repetition, returning results and check errors),
``warm_tiny`` (the warm-up calls, True for one on the tiny input and
False for one on the full input),
``rep_s`` (seconds one repetition takes on 4 cores; ``--seconds / rep_s``
repetitions are timed) and
``calls_per_rep`` (library calls per repetition, the unit of
``attempted``/``failed``).

Golden values in ``golden.json`` were recorded from the engine for a range
of seeds; a seed outside that range is still checked against every
invariant and oracle below, and the run says on stderr that no golden value
was compared.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import shutil
from collections import Counter, defaultdict
from dataclasses import dataclass, field

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN_PATH = os.path.join(HERE, "golden.json")
N_STAGES = 13  # run_pipeline stages with clustering and linking on


def load_golden() -> dict:
    with open(GOLDEN_PATH) as f:
        return json.load(f)


@dataclass
class Inputs:
    seed: int
    n_docs: int
    path: str
    tiny_path: str
    extra: dict = field(default_factory=dict)


@dataclass
class Result:
    results: int
    errors: list[str]
    detail: dict = field(default_factory=dict)


def _cached(data_root: str, key: str, make) -> str:
    """Directory holding ``key``'s inputs, built once by ``make(tmp_dir)``."""
    out = os.path.join(data_root, key)
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.replace(tmp, out)
    return out


def compare(want: dict, got: dict) -> list[str]:
    return [f"golden mismatch on {k}: got {got.get(k)!r}, want {v!r}"
            for k, v in want.items() if got.get(k) != v]


def golden_errors(workload: str, size_key: str, seed: int, got: dict) -> list[str]:
    want = load_golden().get(workload, {}).get(size_key, {}).get(str(seed))
    return [] if want is None else compare(want, got)


def has_golden(workload: str, size_key: str, seed: int) -> bool:
    return str(seed) in load_golden().get(workload, {}).get(size_key, {})


# --------------------------------------------------------------- kg_durable

def triple_stats(triples) -> dict:
    """Count, distinct keys, min support and the order-insensitive content
    checksum ``bit_xor(xxhash64(subj, pred, obj, support))`` of a triples
    table, in one aggregate."""
    from pyspark.sql import functions as F

    row = triples.select(
        "subj", "pred", "obj", "support",
        F.xxhash64("subj", "pred", "obj", F.col("support").cast("string")).alias("h"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("subj", "pred", "obj").alias("distinct"),
        F.min("support").alias("min_support"),
        F.expr("bit_xor(h)").alias("checksum"),
    ).collect()[0]
    return {k: (int(row[k]) if row[k] is not None else None)
            for k in ("n", "distinct", "min_support", "checksum")}


def triples_errors(stats: dict) -> list[str]:
    errs = []
    if not stats["n"]:
        errs.append("no triples")
    if stats["distinct"] != stats["n"]:
        errs.append(f"{stats['n'] - stats['distinct']} duplicate (subj, pred, obj) keys")
    if stats["n"] and (stats["min_support"] or 0) < 1:
        errs.append(f"support {stats['min_support']} < 1")
    return errs


class KgDurable:
    name = "kg_durable"
    n_docs = 400
    tiny_docs = 32
    n_files = 16
    warm_tiny = (True,)
    rep_s = 25.0
    calls_per_rep = 2  # the fresh run and the resume
    size_key = f"n{n_docs}"

    def prepare(self, data_root: str, seed: int) -> Inputs:
        def make(n):
            return lambda d: gen.write_parquet(gen.repo_rows(seed, n), d, self.n_files)

        path = _cached(data_root, f"{self.name}-s{seed}-n{self.n_docs}", make(self.n_docs))
        tiny = _cached(data_root, f"{self.name}-s{seed}-n{self.tiny_docs}", make(self.tiny_docs))
        return Inputs(seed, self.n_docs, path, tiny)

    def oracle(self, spark, inputs: Inputs) -> dict:
        return {}

    @staticmethod
    def run_once(spark, path: str, workdir: str) -> tuple[dict, list, dict]:
        from kargo_spark.pipeline import run_pipeline

        out = run_pipeline(spark, spark.read.parquet(path), workdir, ranker="positionrank")
        stats = triple_stats(out["triples"])
        stages = [r.asDict() for r in out["metrics"].collect()]
        return stats, stages, out

    def call(self, spark, inputs: Inputs, workdir: str, tiny: bool = False,
             oracle: dict | None = None) -> Result:
        path = inputs.tiny_path if tiny else inputs.path
        shutil.rmtree(workdir, ignore_errors=True)
        first, stages1, _ = self.run_once(spark, path, workdir)
        second, stages2, _ = self.run_once(spark, path, workdir)
        errs = triples_errors(first) if tiny else self.stats_errors(inputs.seed, first)
        if len(stages1) != N_STAGES or any(s["resumed"] for s in stages1):
            errs.append(f"fresh run: {len(stages1)} stages, expected {N_STAGES} written")
        if len(stages2) != N_STAGES or not all(s["resumed"] for s in stages2):
            errs.append("resumed run: not every stage was marked resumed")
        if (second["n"], second["checksum"]) != (first["n"], first["checksum"]):
            errs.append(f"resumed triples differ: {second} vs {first}")
        return Result(first["n"], errs, {"stats": first})

    def stats_errors(self, seed: int, stats: dict) -> list[str]:
        """Invariants of the triples plus the golden count and checksum."""
        return triples_errors(stats) + golden_errors(
            self.name, self.size_key, seed, {"n": stats["n"], "checksum": stats["checksum"]})

    def golden_record(self, res: Result) -> dict:
        return {"n": res.detail["stats"]["n"], "checksum": res.detail["stats"]["checksum"]}


# ------------------------------------------------------------------ neardup

_TOKEN_SPLIT = re.compile(r"[^a-z0-9]+")


def shingle_set(text: str, n: int = 3) -> frozenset:
    """Distinct word n-gram shingles, tokenized as ``dedup._tokens`` does
    (lower-case, split on non-alphanumerics); fewer than n tokens give one
    whole-text shingle."""
    toks = [t for t in _TOKEN_SPLIT.split(text.lower()) if t]
    if len(toks) < n:
        return frozenset([tuple(toks)])
    return frozenset(tuple(toks[i:i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def exact_jaccard_pairs(sets: dict[int, frozenset], tau: float) -> set[tuple[int, int]]:
    """Every pair with Jaccard >= tau, exactly: prefix filter over shingles
    ordered by corpus frequency, length filter, then verify."""
    freq = Counter(s for ss in sets.values() for s in ss)
    index: dict = defaultdict(list)
    found = set()
    for i in sorted(sets, key=lambda k: (len(sets[k]), k)):
        ss = sets[i]
        toks = sorted(ss, key=lambda s: (freq[s], s))
        prefix = len(toks) - math.ceil(tau * len(toks)) + 1
        cands = set()
        for t in toks[:prefix]:
            for j in index[t]:
                if len(sets[j]) >= tau * len(ss):
                    cands.add(j)
            index[t].append(i)
        for j in cands:
            if jaccard(ss, sets[j]) >= tau:
                found.add((min(i, j), max(i, j)))
    return found


def exact_hamming_pairs(sims: dict[int, int], radius: int) -> set[tuple[int, int]]:
    """Every pair of 64-bit values within ``radius`` bits: by pigeonhole a
    pair at distance <= radius agrees on one of radius+1 disjoint blocks."""
    nblk = radius + 1
    width = -(-64 // nblk)
    found = set()
    for b in range(nblk):
        buckets = defaultdict(list)
        for i, s in sims.items():
            buckets[((s & (2**64 - 1)) >> (b * width)) & ((1 << width) - 1)].append(i)
        for ids in buckets.values():
            for x in range(len(ids)):
                for y in range(x + 1, len(ids)):
                    i, j = ids[x], ids[y]
                    if bin((sims[i] ^ sims[j]) & (2**64 - 1)).count("1") <= radius:
                        found.add((min(i, j), max(i, j)))
    return found


def pair_checksum(pairs) -> str:
    h = hashlib.sha256()
    for a, b in sorted(pairs):
        h.update(f"{a},{b}\n".encode())
    return h.hexdigest()[:16]


def neardup_errors(mh: list, sh: list, sets: dict, tau: float, radius: int,
                   oracle: dict | None) -> list[str]:
    """Check a near-dup result: every minhash pair's Jaccard recomputed from
    the texts, every simhash pair's distance recomputed from the SimHash
    values, the simhash set equal to the exact all-pairs set (the banding
    promises full recall), and minhash recall of the exact Jaccard set."""
    errs = []
    for a, b, j in mh:
        if not a < b:
            errs.append(f"minhash pair ({a}, {b}) not ordered")
            break
        true = jaccard(sets[a], sets[b])
        if true < tau or abs(true - j) > 1e-9:
            errs.append(f"minhash pair ({a}, {b}): reported {j}, exact {true}")
            break
    if len({(a, b) for a, b, _ in mh}) != len(mh):
        errs.append("duplicate minhash pairs")
    if oracle is None:
        return errs
    sims = oracle["simhash"]
    for a, b, d in sh:
        if bin((sims[a] ^ sims[b]) & (2**64 - 1)).count("1") != d or d > radius:
            errs.append(f"simhash pair ({a}, {b}): reported distance {d}")
            break
    got_sh = {(a, b) for a, b, _ in sh}
    if got_sh != oracle["hamming_pairs"] or len(got_sh) != len(sh):
        errs.append(f"simhash pairs: {len(got_sh ^ oracle['hamming_pairs'])} differ "
                    f"from the exact all-pairs set")
    exact = oracle["jaccard_pairs"]
    got_mh = {(a, b) for a, b, _ in mh}
    if not got_mh <= exact:
        errs.append("minhash pairs outside the exact Jaccard set")
    if exact and len(got_mh & exact) < oracle["min_recall"] * len(exact):
        errs.append(f"minhash recall {len(got_mh & exact)}/{len(exact)} "
                    f"below {oracle['min_recall']}")
    return errs


class NearDup:
    name = "neardup"
    n_docs = 5000
    tiny_docs = 300
    warm_tiny = (True, False)
    rep_s = 5.0
    tau = 0.8
    radius = 3
    # LSH misses a true pair at tau with probability (1 - tau^r)^b (r=4,
    # b=8 here: 1.5% at J=0.8); a recall under 0.9 is a defect, not chance.
    min_recall = 0.9
    calls_per_rep = 2  # minhash and simhash
    size_key = f"n{n_docs}"

    def prepare(self, data_root: str, seed: int) -> Inputs:
        rows = gen.neardup_rows(seed, self.n_docs)
        tiny_rows = gen.neardup_rows(seed, self.tiny_docs)
        key = f"{self.name}-s{seed}-n{self.n_docs}"
        path = _cached(data_root, key, lambda d: gen.write_parquet(rows, d, 1))
        tiny = _cached(data_root, f"{self.name}-s{seed}-n{self.tiny_docs}",
                       lambda d: gen.write_parquet(tiny_rows, d, 1))
        sets = {r["doc_id"]: shingle_set(r["text"]) for r in rows}
        exact_path = os.path.join(data_root, f"{key}.jaccard_pairs.json")
        if not os.path.exists(exact_path):
            pairs = sorted(exact_jaccard_pairs(sets, self.tau))
            with open(exact_path + ".tmp", "w") as f:
                json.dump(pairs, f)
            os.replace(exact_path + ".tmp", exact_path)
        with open(exact_path) as f:
            exact = {tuple(p) for p in json.load(f)}
        return Inputs(seed, self.n_docs, path, tiny, {
            "sets": sets,
            "tiny_sets": {r["doc_id"]: shingle_set(r["text"]) for r in tiny_rows},
            "jaccard_pairs": exact,
        })

    def oracle(self, spark, inputs: Inputs) -> dict:
        from pyspark.sql import functions as F

        from kargo_spark.dedup import simhash64

        rows = spark.read.parquet(inputs.path).select(
            "doc_id", simhash64(F.col("text")).alias("sim")).collect()
        sims = {r["doc_id"]: r["sim"] for r in rows}
        return {"simhash": sims,
                "hamming_pairs": exact_hamming_pairs(sims, self.radius),
                "jaccard_pairs": inputs.extra["jaccard_pairs"],
                "min_recall": self.min_recall}

    def pairs(self, spark, path: str, capped_stats: dict | None = None):
        from kargo_spark.dedup import minhash_lsh_pairs, simhash_pairs

        docs = spark.read.parquet(path)
        mh = minhash_lsh_pairs(docs, jaccard_threshold=self.tau, capped_stats=capped_stats)
        sh = simhash_pairs(docs, max_hamming=self.radius)
        return mh, sh

    def call(self, spark, inputs: Inputs, workdir: str, tiny: bool = False,
             oracle: dict | None = None) -> Result:
        mh_df, sh_df = self.pairs(spark, inputs.tiny_path if tiny else inputs.path)
        mh = [(r["a"], r["b"], r["jaccard"]) for r in mh_df.collect()]
        sh = [(r["a"], r["b"], r["hamming"]) for r in sh_df.collect()]
        return self.check(inputs, mh, sh, tiny, oracle)

    def check(self, inputs: Inputs, mh: list, sh: list, tiny: bool,
              oracle: dict | None) -> Result:
        sets = inputs.extra["tiny_sets" if tiny else "sets"]
        errs = neardup_errors(mh, sh, sets, self.tau, self.radius, oracle)
        got = {"minhash": pair_checksum((a, b) for a, b, _ in mh),
               "simhash": pair_checksum((a, b) for a, b, _ in sh)}
        if not tiny:
            errs += golden_errors(self.name, self.size_key, inputs.seed, got)
        return Result(len(mh) + len(sh), errs, {"checksums": got})

    def golden_record(self, res: Result) -> dict:
        return dict(res.detail["checksums"])


WORKLOADS = {w.name: w for w in (KgDurable(), NearDup())}
