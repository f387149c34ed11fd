"""Term-weighting + ranking tests with tiny exact oracles."""

from __future__ import annotations

import math
import sys

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import functions as F

from kargo_spark import candidates as C
from kargo_spark import nlp, weighting
from kargo_spark.graph_rank import (
    _pagerank_numpy,
    cooccurrence_edges,
    distributed_pagerank,
    position_rank,
    single_rank,
)

DOCS = [
    ("d1", "The cargo carrier moved pharma shipment. The cargo carrier expanded pharma capacity."),
    ("d2", "The airport hub handles cargo. The cool chain hub offers pharma storage."),
    ("d3", "The freight network moved animal transport to the charter terminal."),
]


def _cands(spark):
    df = spark.createDataFrame(DOCS, "doc_id string, content string")
    ann = nlp.annotate(df)
    return nlp.token_rows(ann), C.mine_candidates(ann)


def test_document_frequency_exact(spark):
    _, cands = _cands(spark)
    df_tab, n_docs = weighting.document_frequency(cands)
    assert n_docs == 3
    got = {r["ngram"]: r["df"] for r in df_tab.collect()}
    assert got["cargo carrier"] == 1
    assert got["pharma shipment"] == 1


def test_document_frequency_without_n_docs_skips_collect(spark):
    """with_n_docs=False returns (df_tab, None) with an IDENTICAL DF table
    — the r06 path for consumers that discard the N scalar (e.g. the
    doc_frequency query), which otherwise paid a full eager
    scan+explode+countDistinct job for nothing."""
    _, cands = _cands(spark)
    df_eager, n_docs = weighting.document_frequency(cands)
    df_lazy, none = weighting.document_frequency(cands, with_n_docs=False)
    assert none is None and n_docs == 3
    eager = {(r["ngram"], r["df"]) for r in df_eager.collect()}
    lazy = {(r["ngram"], r["df"]) for r in df_lazy.collect()}
    assert eager == lazy


def test_tfidf_score_formula(spark):
    _, cands = _cands(spark)
    df_tab, n_docs = weighting.document_frequency(cands)
    scores = weighting.tfidf_scores(cands, df_tab, n_docs)
    row = scores.filter((F.col("doc_id") == "d1") & (F.col("ngram") == "cargo carrier")).collect()[0]
    assert abs(row["score"] - 2 * math.log2(3 / 1)) < 1e-9


def test_top_k_terms_rank_and_csv_shape(spark):
    _, cands = _cands(spark)
    df_tab, n_docs = weighting.document_frequency(cands)
    scores = weighting.tfidf_scores(cands, df_tab, n_docs)
    topk = weighting.top_k_terms(scores, k=2)
    per_doc = topk.groupBy("doc_id").count().collect()
    assert all(r["count"] <= 2 for r in per_doc)
    csv = weighting.terms_csv_shape(topk).collect()
    for r in csv:
        assert 1 <= len(r["terms"].split("|")) <= 2


def test_yake_produces_scores_per_doc(spark):
    toks, cands = _cands(spark)
    out = weighting.yake_scores(toks, cands)
    assert out.select("doc_id").distinct().count() == 3
    assert out.filter(F.col("score").isNull()).count() == 0


def test_yake_multiword_uses_word_stats(spark):
    """r01 defect regression: multi-word candidate scores must be computed
    from per-WORD doc statistics (every constituent word is in the doc, so
    no 1.0-default lookups) — exact check vs a pure-python oracle."""
    toks, cands = _cands(spark)
    out = weighting.yake_scores(toks, cands)
    row = out.filter(
        (F.col("doc_id") == "d1") & (F.col("ngram") == "cargo carrier")
    ).collect()[0]

    from kargo_spark.weighting import _yake_word_scores

    tok_rows = sorted(
        toks.filter(F.col("doc_id") == "d1").collect(),
        key=lambda r: (r["sentence_id"], r["token_id"]),
    )
    wscore = _yake_word_scores(
        [r["word"] for r in tok_rows],
        [r["word"].lower() for r in tok_rows],
        [r["sentence_id"] for r in tok_rows],
        [r["token_id"] for r in tok_rows],
    )
    tf_c = cands.filter(
        (F.col("doc_id") == "d1") & (F.col("lemma_term") == "cargo carrier")
    ).count()
    # both words occur in d1, so neither lookup may fall back to 1.0
    assert all(w in wscore for w in ("cargo", "carrier"))
    ws = [wscore["cargo"], wscore["carrier"]]
    expected = -(ws[0] * ws[1] / (tf_c * (1 + sum(ws))))
    assert abs(row["score"] - expected) < 1e-9


def test_pagerank_numpy_uniform_on_symmetric_clique():
    adj = np.ones((4, 4)) - np.eye(4)
    r = _pagerank_numpy(adj)
    assert np.allclose(r, 0.25, atol=1e-6)


def test_single_and_position_rank_run(spark):
    toks, cands = _cands(spark)
    sr = single_rank(toks, cands)
    pr = position_rank(toks, cands)
    assert sr.select("doc_id").distinct().count() == 3
    assert pr.count() == sr.count()
    # scores non-negative, at least one positive
    assert sr.filter(F.col("score") > 0).count() > 0


def test_distributed_pagerank_matches_numpy(spark):
    toks, cands = _cands(spark)
    edges = cooccurrence_edges(cands)
    ranks = distributed_pagerank(edges, iters=30)
    got = {r["ngram"]: r["score"] for r in ranks.collect()}
    # rebuild the same graph in numpy and power-iterate
    e = edges.collect()
    nodes = sorted({r["src"] for r in e} | {r["dst"] for r in e})
    ix = {n: i for i, n in enumerate(nodes)}
    adj = np.zeros((len(nodes), len(nodes)))
    for r in e:
        adj[ix[r["src"]], ix[r["dst"]]] += r["weight"]
        adj[ix[r["dst"]], ix[r["src"]]] += r["weight"]
    expect = _pagerank_numpy(adj, iters=30)
    for n, i in ix.items():
        assert abs(got[n] - expect[i]) < 1e-3, (n, got[n], expect[i])
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_yake_full_features_casing_helps():
    """Full YAKE (Campos et al.): an acronym (TCase > 0) must score better
    (lower raw S) than an equally frequent/positioned plain word."""
    from kargo_spark.weighting import _yake_word_scores

    orig = ["The", "DHL", "network", "grew", "fast", "then",
            "the", "DHL", "network", "grew", "more", "still"]
    low = [w.lower() for w in orig]
    sents = [1] * 6 + [2] * 6
    tids = list(range(1, 7)) + list(range(1, 7))
    ws = _yake_word_scores(orig, low, sents, tids)
    # dhl and network: same tf (2), adjacent positions, same sentences —
    # only casing differs
    assert ws["dhl"] < ws["network"]


def test_yake_vectorized_matches_reference_loop():
    """The shipping vectorized YAKE word features must equal the loop
    reference implementation bit-for-bit on randomized docs (casing,
    medians, window edges, single-token docs)."""
    import random

    from kargo_spark.weighting import _yake_word_scores, _yake_word_scores_ref

    rng = random.Random(11)
    vocab = ["cargo", "Pharma", "HUB", "a1", "X", "chain", "COOL2", "Freight"]
    for trial in range(30):
        n = rng.choice([1, 2, 3, 7, 40, 150])
        words = [rng.choice(vocab) for _ in range(n)]
        lows = [w.lower() for w in words]
        sents = [i // 10 + 1 for i in range(n)]
        tids = [i % 10 + 1 for i in range(n)]
        ref = _yake_word_scores_ref(words, lows, sents, tids)
        vec = _yake_word_scores(words, lows, sents, tids)
        assert set(ref) == set(vec)
        for w in ref:
            assert vec[w] == ref[w], (trial, w, vec[w], ref[w])


def test_yake_batch_equals_per_doc(spark):
    """_yake_batch (many docs per Arrow group, vectorized across docs)
    must reproduce the per-doc _yake_doc scores to float-rounding level
    on a corpus with multi-word candidates, casing and repeated words."""
    import numpy as np
    import pandas as pd

    from kargo_spark import weighting as W

    rng = np.random.default_rng(7)
    vocab = ["Alpha", "beta", "GAMMA", "delta", "Epsilon", "zeta", "eta", "theta"]
    pdfs = []
    for d in range(25):
        n = int(rng.integers(5, 60))
        words = [vocab[int(rng.integers(len(vocab)))] for _ in range(n)]
        toks = pd.DataFrame({
            "doc_id": f"d{d}", "sentence_id": [i // 7 + 1 for i in range(n)],
            "token_id": [i % 7 + 1 for i in range(n)],
            "word_orig": words, "word_lower": [w.lower() for w in words],
            "ngram": None, "term": None,
        })
        cands = [w.lower() for w in words if len(w) >= 4]
        cands += [f"{a.lower()} {b.lower()}" for a, b in zip(words, words[1:])][:5]
        cdf = pd.DataFrame({
            "doc_id": f"d{d}", "sentence_id": 0, "token_id": 0,
            "word_orig": "", "word_lower": "", "ngram": cands, "term": cands,
        })
        pdfs.append(pd.concat([toks, cdf], ignore_index=True))
    ref = pd.concat([W._yake_doc(p) for p in pdfs], ignore_index=True)
    got = W._yake_batch(pd.concat(pdfs, ignore_index=True))
    a = ref.sort_values(["doc_id", "ngram"]).reset_index(drop=True)
    b = got.sort_values(["doc_id", "ngram"]).reset_index(drop=True)
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert list(a["ngram"]) == list(b["ngram"])
    assert np.allclose(a["score"], b["score"], rtol=1e-9, atol=1e-12)


# --- ranker parity: the applyInArrow kernel against the former per-doc
# pandas ranker, kept here as the oracle --------------------------------

def _doc_rank_ref(pdf, window, position_bias, iters=50, tol=1e-6):
    import pandas as pd

    from kargo_spark.graph_rank import _window_graph

    doc_id = pdf["doc_id"].iloc[0]
    toks = pdf.sort_values(["sentence_id", "token_id"])
    mask = toks["pos"].isin({"NOUN", "PROPN", "ADJ", "NUM"}).values
    words = toks["word"].str.lower().values
    seq_words = words[mask]
    seq_glob_idx = np.flatnonzero(mask)
    vocab = {w: i for i, w in enumerate(pd.unique(seq_words))}
    adj, pers = _window_graph(seq_words, seq_glob_idx, vocab, window)
    ranks = _pagerank_numpy(adj, pers if position_bias else None, iters=iters, tol=tol)
    wscore = {w: ranks[i] for w, i in vocab.items()}
    out = []
    for ngram, term in (
        pdf[["ngram", "term"]].dropna().drop_duplicates("ngram").itertuples(index=False)
    ):
        s = sum(wscore.get(w, 0.0) for w in term.split(" "))
        out.append((doc_id, ngram, term, float(s)))
    return pd.DataFrame(out, columns=["doc_id", "ngram", "term", "score"])


# the oracle runs in Python workers, which cannot import this test module
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _rank_ref(tokens, cands, position_bias, window=10, iters=50, tol=1e-6):
    from kargo_spark.graph_rank import _rank_input, _rank_schema
    from kargo_spark.skew import widen

    return widen(_rank_input(tokens, cands), "doc_id").groupBy("doc_id").applyInPandas(
        lambda pdf: _doc_rank_ref(pdf, window, position_bias, iters=iters, tol=tol),
        _rank_schema(tokens),
    )


def _scores(df):
    return {(r["doc_id"], r["ngram"]): (r["term"], r["score"]) for r in df.collect()}


def test_rankers_match_pandas_oracle_exactly(spark):
    """single_rank and position_rank give the pandas ranker's rows and
    bit-identical scores (==, not approx) on synthetic docs, a doc with
    candidates but no candidate-POS token, and Arrow batches of 7 rows so
    that every doc straddles batches."""
    from kargo_spark import corpus
    from kargo_spark.synth import synth_documents

    docs = corpus.docs_clean(synth_documents(spark, n_rows=30)).select("doc_id", "content")
    ann = nlp.annotate(docs)
    toks, cands = nlp.token_rows(ann), C.mine_candidates(ann)
    verbs = spark.createDataFrame(
        [("verbs", 1, 1, "moved", "moved", "VERB", 0, 5, "O", "root", 0)], nlp.TOKENS_SCHEMA
    )
    toks = toks.unionByName(verbs)
    cands = cands.unionByName(spark.createDataFrame(
        [("verbs", 1, "moved", "moved", 1, 1, 1, 0, 5)], C.CANDIDATES_SCHEMA
    ))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got_sr, want_sr = _scores(single_rank(toks, cands)), _scores(_rank_ref(toks, cands, False))
        got_pr, want_pr = _scores(position_rank(toks, cands)), _scores(_rank_ref(toks, cands, True))
    finally:
        spark.conf.set(key, old)
    assert got_sr == want_sr
    assert got_pr == want_pr
    assert got_sr[("verbs", "moved")] == ("moved", 0.0)
    # three-word terms make the summation order observable
    assert any(len(t.split(" ")) >= 3 and s > 0 for t, s in got_pr.values())
    assert got_pr != got_sr


def test_single_rank_long_doc_id_matches_pandas_oracle(spark):
    """The `q_singlerank` query's shape: long doc ids, one sentence, 0-based
    token ids, every token a NOUN, pinned iterations."""
    docs = spark.createDataFrame(
        [(7, "cargo hub moves cargo to the hub daily and the cargo hub grows"),
         (11, "pharma chain keeps pharma cold along the chain")],
        "doc_id long, text string",
    )
    tok = docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("i", "word")).select(
        "doc_id", F.lit(1).alias("sentence_id"), F.col("i").alias("token_id"), "word",
        F.lit("NOUN").alias("pos"),
    )
    cands = tok.filter(F.length("word") >= 3).select(
        "doc_id", F.col("word").alias("lemma_term"), F.col("word").alias("term")
    )
    got = single_rank(tok, cands, window=10, iters=3, tol=0.0)
    assert got.schema["doc_id"].dataType.simpleString() == "bigint"
    want = _rank_ref(tok, cands, False, iters=3, tol=0.0)
    assert _scores(got) == _scores(want)
    assert {d for d, _ in _scores(got)} == {7, 11}
