"""Tests of the benchmark itself: generators, event-log reader, output checks.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("make", [
    lambda seed: gen.repo_rows(seed, 120),
    lambda seed: gen.neardup_rows(seed, 700),
])
def test_generators_are_deterministic_per_seed(make):
    assert make(3) == make(3)
    assert make(3) != make(4)


def test_parquet_layout_is_byte_identical_per_seed(tmp_path):
    rows = gen.repo_rows(5, 64)
    gen.write_parquet(rows, str(tmp_path / "a"), 16)
    gen.write_parquet(gen.repo_rows(5, 64), str(tmp_path / "b"), 16)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert len(os.listdir(tmp_path / "a")) == 16

    import pyarrow.parquet as pq

    gen.write_parquet(rows, str(tmp_path / "one"), 1)
    (only,) = os.listdir(tmp_path / "one")
    assert pq.ParquetFile(str(tmp_path / "one" / only)).metadata.num_row_groups == 1


def test_repo_corpus_keeps_the_rows_docs_clean_must_drop():
    rows = gen.repo_rows(0, 200)
    assert sum(r["content"] == "" for r in rows) > 0
    keys = [(r["repo"], r["path"], r["commit"]) for r in rows]
    assert len(set(keys)) < len(keys)
    lengths = sorted(len(r["content"]) for r in rows)
    assert lengths[-1] > 30 * lengths[len(lengths) // 2]


def test_eventlog_totals_from_a_recorded_log():
    events = eventlog.read_events(os.path.join(HERE, "data", "small_eventlog.json"))
    g = eventlog.group_totals(events, slots=2)
    g1, g2 = g["g1"], g["g2"]
    # g1: persist + count over 4 partitions (stage 2 is skipped)
    assert (g1.jobs, g1.stages, g1.tasks) == (3, 3, 9)
    assert g1.task_s == pytest.approx(1.145)
    assert g1.gc_s == pytest.approx(0.050)
    assert g1.shuffle_write_bytes == 4 * 59
    assert g1.storage_mem_peak_bytes == 10376 + 3 * 10400
    assert g1.exec_mem_peak_bytes == 0
    # g2: a grouped aggregate; the final single-task stage holds the peak
    assert (g2.jobs, g2.stages, g2.tasks) == (2, 2, 5)
    assert g2.task_s == pytest.approx(0.981)
    assert g2.shuffle_write_bytes == 1116 + 1105 + 1102 + 1105
    assert g2.exec_mem_peak_bytes == 8650736
    assert g2.storage_mem_peak_bytes == 0
    assert [site for site, _ in g2.job_times] == ["collect at small_job.py:13"] * 2
    assert g2.task_tail == pytest.approx(388 / 89)
    both = eventlog.merge([g1, g2])
    assert (both.jobs, both.tasks, both.exec_mem_peak_bytes) == (5, 14, 8650736)


def test_eventlog_slots_bound_the_execution_peak():
    events = list(eventlog.read_events(os.path.join(HERE, "data", "small_eventlog.json")))
    # with one slot the 4-task stage contributes one task's peak, so the
    # single-task stage still dominates; the figure must not depend on order
    assert eventlog.group_totals(events, slots=1)["g2"].exec_mem_peak_bytes == 8650736


# ---------------------------------------------------------- output checks

def _texts_sets(texts):
    return {i: workloads.shingle_set(t) for i, t in enumerate(texts)}


def test_neardup_check_accepts_exact_pairs_and_rejects_a_changed_pair():
    base = " ".join(f"w{i}" for i in range(40))
    near = base.replace("w20", "dup")
    other = " ".join(f"x{i}" for i in range(40))
    sets = _texts_sets([base, near, other, base])
    exact = workloads.exact_jaccard_pairs(sets, 0.8)
    assert exact == {(0, 1), (0, 3), (1, 3)}
    mh = [(a, b, workloads.jaccard(sets[a], sets[b])) for a, b in sorted(exact)]
    sims = {0: 0b1011, 1: 0b1111, 2: -1, 3: 0b1011}
    oracle = {"simhash": sims, "hamming_pairs": workloads.exact_hamming_pairs(sims, 3),
              "jaccard_pairs": exact, "min_recall": 0.9}
    sh = [(a, b, bin(sims[a] ^ sims[b]).count("1")) for a, b in sorted(oracle["hamming_pairs"])]
    assert workloads.neardup_errors(mh, sh, sets, 0.8, 3, oracle) == []

    changed_mh = [(0, 2, mh[0][2])] + mh[1:]
    assert workloads.neardup_errors(changed_mh, sh, sets, 0.8, 3, oracle)
    changed_sh = [(0, 2, sh[0][2])] + sh[1:]
    assert workloads.neardup_errors(mh, changed_sh, sets, 0.8, 3, oracle)
    assert workloads.neardup_errors(mh[1:], sh, sets, 0.8, 3, oracle)  # recall 2/3
    assert workloads.pair_checksum([(0, 1)]) != workloads.pair_checksum([(0, 2)])


def test_exact_hamming_pairs_matches_brute_force():
    import random

    rng = random.Random(7)
    base = [rng.getrandbits(64) for _ in range(30)]
    sims = {}
    for i, b in enumerate(base):
        sims[2 * i] = b
        sims[2 * i + 1] = b ^ (1 << rng.randrange(64)) ^ (1 << rng.randrange(64))
    brute = {(i, j) for i in sims for j in sims
             if i < j and bin(sims[i] ^ sims[j]).count("1") <= 3}
    assert workloads.exact_hamming_pairs(sims, 3) == brute


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_triple_check_rejects_one_changed_triple(spark):
    rows = [("a", "rel_0", "b", 2), ("b", "rel_1", "c", 1), ("c", "rel_0", "d", 3)]
    schema = "subj string, pred string, obj string, support long"
    good = workloads.triple_stats(spark.createDataFrame(rows, schema))
    assert workloads.triples_errors(good) == []
    want = {"n": good["n"], "checksum": good["checksum"]}
    for changed in (
        [("a", "rel_0", "b", 2), ("b", "rel_1", "c", 1), ("c", "rel_0", "e", 3)],
        [("a", "rel_0", "b", 2), ("b", "rel_1", "c", 2), ("c", "rel_0", "d", 3)],
    ):
        bad = workloads.triple_stats(spark.createDataFrame(changed, schema))
        assert workloads.compare(want, {"n": bad["n"], "checksum": bad["checksum"]})
    dup = workloads.triple_stats(spark.createDataFrame(rows + rows[:1], schema))
    assert workloads.triples_errors(dup)
