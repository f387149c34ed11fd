"""Property-based tests (hypothesis) against naive Python oracles."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from kargo_spark.nlp import _annotate_doc

span_lists = st.lists(
    st.tuples(st.integers(0, 60), st.integers(1, 15)).map(lambda t: (t[0], t[0] + t[1])),
    min_size=1,
    max_size=12,
)


def _merge_naive(spans):
    out = []
    for b, e in sorted(spans):
        if out and b <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((b, e))
    return out


@settings(max_examples=25, deadline=None)
@given(span_lists)
def test_merge_spans_matches_naive(spark_global, spans):
    from kargo_spark.io_formats import merge_spans

    df = spark_global.createDataFrame(
        [("d", b, e) for b, e in spans], "doc_id string, begin int, end int"
    )
    got = sorted((r["begin"], r["end"]) for r in merge_spans(df).collect())
    assert got == _merge_naive(spans)


texts = st.text(
    alphabet=st.sampled_from(list("abc XY.!?\n09“”‘’")), min_size=0, max_size=200
)


@settings(max_examples=50, deadline=None)
@given(texts)
def test_tokenizer_offsets_always_roundtrip(text):
    rows = [
        ("d", sent[0], *tok)
        for sent in _annotate_doc(text)
        for tok in zip(*sent[1:])
    ]
    for r in rows:
        assert text[r[6]:r[7]] == r[3]  # offsets slice back to the word
    # token ids 1-based consecutive within each sentence
    by_sent = {}
    for r in rows:
        by_sent.setdefault(r[1], []).append(r[2])
    for ids in by_sent.values():
        assert ids == list(range(1, len(ids) + 1))


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(alphabet="ab c", min_size=0, max_size=20), min_size=1, max_size=8))
def test_simhash_identical_docs_hamming_zero(spark_global, texts_list):
    from pyspark.sql import functions as F

    from kargo_spark.dedup import simhash64

    rows = [(i, t) for i, t in enumerate(texts_list)] + [(100, texts_list[0])]
    df = spark_global.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["s"] for r in df.select("doc_id", simhash64(F.col("text")).alias("s")).collect()}
    assert out[0] == out[100]


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(alphabet=st.sampled_from(list("ab c.d's")), max_size=40),
                min_size=1, max_size=6))
def test_repetition_signals_bounds(spark_global, docs):
    """Ratios always in [0, 1]; dup_word_ratio matches the naive oracle."""
    import re

    from pyspark.sql import functions as F

    from kargo_spark.textstats import repetition_signals

    df = spark_global.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    r = repetition_signals(F.col("text"))
    rows = df.select("doc_id", r.alias("r")).select("doc_id", "r.*").collect()
    for row in rows:
        toks = [t for t in re.split(r"[^a-z0-9']+", docs[row["doc_id"]].lower()) if t]
        assert row["n_words"] == len(toks)
        for c in ("dup_word_ratio", "dup_3gram_ratio", "top_word_ratio"):
            assert 0.0 <= row[c] <= 1.0
        if toks:
            naive_dup = (len(toks) - len(set(toks))) / len(toks)
            assert abs(row["dup_word_ratio"] - naive_dup) < 1e-9
            from collections import Counter
            assert abs(row["top_word_ratio"] - Counter(toks).most_common(1)[0][1] / len(toks)) < 1e-9


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(st.integers(1, 20), st.integers(1, 20)).filter(lambda p: p[0] != p[1]),
                max_size=15))
def test_neardup_keep_is_a_valid_partition(spark_global, raw_pairs):
    """Every doc gets exactly one rep; reps keep themselves; a doc's rep
    is the min id of its connected component (naive union-find oracle)."""
    from kargo_spark import dedup

    ids = list(range(1, 21))
    docs = spark_global.createDataFrame([(i,) for i in ids], "doc_id long")
    pairs = spark_global.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in raw_pairs] or [(1, 1)],
        "a long, b long",
    ).filter("a <> b")
    out = {r["doc_id"]: (r["rep"], r["keep"]) for r in
           dedup.neardup_keep(docs, pairs).collect()}
    # naive union-find
    parent = {i: i for i in ids}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in raw_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for i in ids:
        rep, keep = out[i]
        assert rep == find(i)
        assert keep == (rep == i)


@settings(max_examples=12, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=25
    ),
    k=st.integers(1, 4),
)
def test_k_hop_reach_matches_naive_bfs(spark_global, edges, k):
    """Frontier-join BFS == naive per-node BFS on random small digraphs
    (cycles, self-loops, disconnected nodes included)."""
    from kargo_spark.graph_store import k_hop_reach

    e = [(a, b) for a, b in edges if True]
    df = spark_global.createDataFrame(e, "src long, dst long")
    got = {r["start"]: r["n_reach"] for r in k_hop_reach(df, k=k).collect()}
    adj: dict[int, set[int]] = {}
    for a, b in e:
        adj.setdefault(a, set()).add(b)
    for s in adj:
        seen: set[int] = set()
        frontier = {s}
        for _ in range(k):
            frontier = {n for f in frontier for n in adj.get(f, ())} - seen
            seen |= frontier
        want = len(seen - {s})
        assert got.get(s, 0) == want, (s, k, sorted(e))


@settings(max_examples=12, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 2), st.sampled_from("abcd")),
        min_size=4, max_size=40,
    )
)
def test_pair_npmi_matches_naive(spark_global, rows):
    """npmi in [-1, 1] and equal to a direct python computation over
    distinct-context counts."""
    import math

    from kargo_spark.relations import pair_npmi

    df = spark_global.createDataFrame(rows, "doc_id long, sentence_id long, term string")
    out = {(r["a"], r["b"]): (r["n_ab"], r["npmi"]) for r in
           pair_npmi(df, min_pair_count=1).collect()}
    ctxs: dict[tuple[int, int], set[str]] = {}
    for d, s, t in rows:
        ctxs.setdefault((d, s), set()).add(t)
    n = len(ctxs)
    from collections import Counter
    uni: Counter = Counter()
    pair: Counter = Counter()
    for terms in ctxs.values():
        for t in terms:
            uni[t] += 1
        ts = sorted(terms)
        for i in range(len(ts)):
            for j in range(i + 1, len(ts)):
                pair[(ts[i], ts[j])] += 1
    for (a, b), n_ab in pair.items():
        got_n, got_npmi = out[(a, b)]
        assert got_n == n_ab
        if n_ab == n:
            want = 1.0
        else:
            p_ab = n_ab / float(n)
            pmi = math.log(p_ab / ((uni[a] / n) * (uni[b] / n)))
            want = pmi / -math.log(p_ab)
        assert abs(got_npmi - want) < 1e-9
        assert -1.0 - 1e-9 <= got_npmi <= 1.0 + 1e-9
    assert set(out) == set(pair)
