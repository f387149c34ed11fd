"""EmbedRank, TopicRank/MultipartiteRank, LDA topics, io_formats tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kargo_spark import candidates as C
from kargo_spark import corpus, nlp
from kargo_spark import io_formats as IO
from kargo_spark.embedrank import embedrank_scores
from kargo_spark.graph_rank import multipartite_rank, topic_rank
from kargo_spark.synth import synth_documents


@pytest.fixture(scope="module")
def staged(spark):
    docs = corpus.docs_clean(synth_documents(spark, n_rows=20))
    toks = nlp.tokenize(docs)
    cands = C.filter_candidates(C.mine_candidates(nlp.sentences_with_tokens(toks)))
    return docs, toks, cands


def test_embedrank_rank_order_and_dedup(spark, staged):
    docs, _, cands = staged
    out = embedrank_scores(docs, cands, n=5)
    per_doc = out.groupBy("doc_id").count().collect()
    assert all(r["count"] <= 5 for r in per_doc)
    # MMR scores are strictly decreasing rank encodings
    rows = out.filter(F.col("doc_id") == per_doc[0]["doc_id"]).orderBy(F.desc("score")).collect()
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert len({r["ngram"] for r in rows}) == len(rows)


def test_embedrank_alias_collapse(spark):
    """alias_threshold (terms.py:217,228-232): near-identical candidate
    surfaces must collapse onto one selected representative (its aliases
    column), not occupy several MMR slots. The hashing embedder lowercases,
    so 'Air Cargo' and 'air cargo' embed identically (cosine 1.0) — a
    guaranteed >=0.7 pair under distinct ngram keys."""
    docs = spark.createDataFrame(
        [("d1", "air cargo shipping moves pharma freight through hub airports")],
        "doc_id string, content string",
    )
    dup = {"Air Cargo", "air cargo"}
    cands = spark.createDataFrame(
        [
            ("d1", "air cargo#cap", "Air Cargo"),
            ("d1", "air cargo#low", "air cargo"),  # same embedding -> alias
            ("d1", "pharma freight", "pharma freight"),
            ("d1", "hub airport", "hub airports"),
        ],
        "doc_id string, lemma_term string, term string",
    )
    out = embedrank_scores(docs, cands, n=4).collect()
    terms = {r["term"] for r in out}
    # exactly one of the duplicate pair is selected, the other is its alias
    assert len(terms & dup) == 1
    winner = next(r for r in out if r["term"] in dup)
    loser = (dup - {winner["term"]}).pop()
    assert loser in winner["aliases"].split("|")
    others = [r for r in out if r["term"] not in dup]
    assert all(r["aliases"] == "" for r in others)


def test_topic_rank_one_score_per_topic_rep(spark, staged):
    _, _, cands = staged
    out = topic_rank(cands)
    assert out.filter(F.col("score") <= 0).count() == 0
    # no duplicate ngram per doc
    assert out.groupBy("doc_id", "ngram").count().filter("count > 1").count() == 0


def test_multipartite_scores_all_candidates(spark, staged):
    _, _, cands = staged
    n_cands = cands.select("doc_id", "lemma_term").distinct().count()
    out = multipartite_rank(cands)
    assert out.count() == n_cands


def test_lda_topics_shapes(spark, staged):
    from kargo_spark.topics import filter_by_topic, topic_model, topic_csv_shape

    docs, _, _ = staged
    doc_topics, topic_words = topic_model(docs, k=3, min_df=1.0, max_iter=5)
    assert doc_topics.count() == docs.count()
    assert doc_topics.filter((F.col("topic_id") < 0) | (F.col("topic_id") >= 3)).count() == 0
    assert topic_words.count() == 3
    # the vocabulary lookup is Arrow-built, not a parallelized Python RDD
    assert "ExistingRDD" not in topic_words._jdf.queryExecution().executedPlan().toString()
    kept = filter_by_topic(docs, doc_topics, topic_id=0, threshold=0.2)
    assert kept.count() <= docs.count()
    csv = topic_csv_shape(doc_topics)
    assert csv.columns == ["document_id", "topic_id", "topic_prob"]


def test_terms_csv_roundtrip(spark, staged, tmp_path):
    from kargo_spark import weighting

    _, _, cands = staged
    df_tab, n = weighting.document_frequency(cands)
    topk = weighting.top_k_terms(weighting.tfidf_scores(cands, df_tab, n), k=3)
    csv = weighting.terms_csv_shape(topk)
    path = str(tmp_path / "terms_csv")
    csv.write.mode("overwrite").option("header", True).csv(path)
    back = IO.read_terms_csv(spark, path)
    orig = {(r["doc_id"], r["rank"]): r["term"] for r in
            topk.select("doc_id", "rank", "term").collect()}
    got = {(r["doc_id"], r["rank"]): r["term"] for r in back.collect()}
    assert got == orig


def test_doccano_roundtrip_drops_irrelevant(spark, tmp_path):
    import json

    path = str(tmp_path / "doccano")
    rows = [
        {"text": "good doc", "meta": {"doc_id": "a"}, "labels": [[0, 4, "TERM"]]},
        {"text": "bad doc", "meta": {"doc_id": "b"}, "labels": [[0, 3, "IRRELEVANT"]]},
        {"text": "no labels", "meta": {"doc_id": "c"}},
    ]
    import os

    os.makedirs(path, exist_ok=True)
    with open(f"{path}/part.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    out = IO.read_doccano_jsonl(spark, path)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {"a", "c"}
    lab = {r["doc_id"]: r["labels"] for r in out.collect()}
    assert lab["a"][0]["begin"] == 0 and lab["a"][0]["label"] == "TERM"


def test_df_tsv_roundtrip(spark, staged, tmp_path):
    from kargo_spark import weighting

    _, _, cands = staged
    df_tab, n = weighting.document_frequency(cands)
    path = str(tmp_path / "df_tsv")
    IO.write_df_tsv(df_tab, n, path)
    back, n2 = IO.read_df_tsv(spark, path)
    assert n2 == n
    assert {(r["ngram"], r["df"]) for r in back.collect()} == {
        (r["ngram"], r["df"]) for r in df_tab.collect()
    }


def test_merge_spans_cases(spark):
    spans = spark.createDataFrame(
        [("d", 0, 5), ("d", 3, 9), ("d", 9, 12), ("d", 20, 25), ("e", 1, 2)],
        "doc_id string, begin int, end int",
    )
    out = {(r["doc_id"], r["begin"], r["end"]) for r in IO.merge_spans(spans).collect()}
    assert out == {("d", 0, 12), ("d", 20, 25), ("e", 1, 2)}


def test_bioes_tags(spark):
    toks = spark.createDataFrame(
        [("x", 1, 1, "air", 0, 3), ("x", 1, 2, "cargo", 4, 9),
         ("x", 1, 3, "grows", 10, 15), ("x", 1, 4, "fast", 16, 20)],
        "doc_id string, sentence_id int, token_id int, word string, offset_begin long, offset_end long",
    )
    spans = spark.createDataFrame(
        [("x", 0, 9), ("x", 16, 20)], "doc_id string, begin int, end int"
    )
    got = {r["word"]: r["term_tag"] for r in IO.bioes_tag_tokens(toks, spans).collect()}
    assert got == {"air": "B-TERM", "cargo": "E-TERM", "grows": "O", "fast": "S-TERM"}


def test_auto_annotation_locates_and_merges(spark):
    import json

    docs = spark.createDataFrame(
        [("d1", "Air cargo grows. air cargo again! Pharma too."), ("d2", "nothing here")],
        "doc_id string, content string",
    )
    terms = spark.createDataFrame(
        [("d1", "air cargo"), ("d1", "cargo"), ("d1", "pharma")], "doc_id string, term string"
    )
    rows = {json.loads(r["value"])["meta"]["doc_id"]: json.loads(r["value"])
            for r in IO.auto_annotation_rows(docs, terms).collect()}
    # 'cargo' occurrences overlap 'air cargo' -> merged spans, not doubled
    spans = [(int(b), int(e)) for b, e, _ in rows["d1"]["labels"]]
    assert spans == [(0, 9), (17, 26), (34, 40)]
    assert rows["d2"]["labels"] == []


def test_kargen_conll_lines(spark):
    toks = spark.createDataFrame(
        [("x", 1, 1, "air"), ("x", 1, 2, "cargo"), ("x", 2, 1, "next")],
        "doc_id string, sentence_id int, token_id int, word string",
    )
    out = IO.kargen_conll_lines(toks).orderBy("doc_id", "sentence_id", "line_no").collect()
    lines = [r["line"] for r in out]
    assert lines == ["1\tair\tO\tO\tN\t0", "2\tcargo\tO\tO\tN\t0", "", "1\tnext\tO\tO\tN\t0", ""]


def test_convert_anno_jsonl_byte_parity_with_reference(spark):
    """convert_anno_json_to_labels round-trip (r02 verdict next-step #10):
    converting the reference's raw doccano export must reproduce its
    committed online_labels.json byte-for-byte (insertion order,
    last-duplicate-wins, indent=2)."""
    import json
    import os

    from kargo_spark.io_formats import convert_anno_jsonl_to_labels, labels_nested_json

    src = "/root/reference/data/annotations/relations/online_20200626.json"
    gold = "/root/reference/data/annotations/relations/online_labels.json"
    if not os.path.exists(src):
        import pytest

        pytest.skip("reference artifacts not available")
    labels = convert_anno_jsonl_to_labels(spark, src, no_label=32)
    ours = labels_nested_json(labels)
    assert json.dumps(ours, indent=2) == open(gold).read()


def test_review_agreement_matches_reference_rollup(spark):
    """review_agreement == the reference check_review counting over its
    own review.jsonl (computed independently in pure python here)."""
    import json
    import os

    from kargo_spark.io_formats import review_agreement

    path = "/root/reference/data/annotations/relations/review.jsonl"
    if not os.path.exists(path):
        import pytest

        pytest.skip("reference artifacts not available")
    mapping = {19: "NO", 20: "YES", 21: "NO", 22: "YES", 28: "NO", 29: "YES", 30: "UNSURE"}
    want = {}
    for line in open(path):
        r = json.loads(line)
        prev = (
            mapping[r["meta"]["anno_label"][0]["label"]]
            if r["meta"]["anno_label"]
            else "YES"
        )
        rev = mapping[r["annotations"][0]["label"]]
        want[(prev, rev)] = want.get((prev, rev), 0) + 1
    got = {
        (r["prev_label"], r["review_label"]): r["n"]
        for r in review_agreement(spark, path).collect()
    }
    assert got == want
    agree = sum(n for (p, v), n in got.items() if p == v)
    disagree = sum(n for (p, v), n in got.items() if p != v)
    assert agree + disagree == sum(want.values())


def test_window_graph_vectorized_matches_reference():
    """r06: the vectorized window co-occurrence builder must be exactly
    equal (adjacency AND personalization, bitwise) to the loop reference
    on randomized docs — same convention as _yake_word_scores_ref."""
    import numpy as np
    import pandas as pd

    from kargo_spark.graph_rank import _window_graph, _window_graph_ref

    rng = np.random.default_rng(7)
    for trial in range(25):
        n_tok = int(rng.integers(0, 120))
        vocab_words = [f"w{i}" for i in range(int(rng.integers(1, 18)))]
        seq_words = np.array(
            [vocab_words[int(rng.integers(0, len(vocab_words)))] for _ in range(n_tok)]
        )
        # strictly increasing global indices with random gaps (non-candidate
        # tokens between candidates), like flatnonzero over a POS mask
        gaps = rng.integers(1, 4, size=n_tok)
        seq_glob_idx = np.cumsum(gaps) - 1
        vocab = {w: i for i, w in enumerate(pd.unique(seq_words))}
        window = int(rng.integers(2, 12))
        adj_v, pers_v = _window_graph(seq_words, seq_glob_idx, vocab, window)
        adj_r, pers_r = _window_graph_ref(seq_words, seq_glob_idx, vocab, window)
        assert np.array_equal(adj_v, adj_r), f"adj mismatch trial {trial}"
        assert np.array_equal(pers_v, pers_r), f"pers mismatch trial {trial}"


def test_topic_clusters_singleton_fast_path_matches_loop():
    """r06: distinct single-word terms take the singleton fast path; its
    result must equal the generic loop's (all singletons), and inputs
    with duplicate or multi-word terms must still go through the loop."""
    import pandas as pd

    from kargo_spark.graph_rank import _topic_clusters

    singles = pd.DataFrame({"term": ["alpha", "beta", "gamma", "delta"]})
    assert _topic_clusters(singles) == [[0], [1], [2], [3]]
    # duplicate single words: Jaccard 1 >= threshold -> the loop merges
    dups = pd.DataFrame({"term": ["alpha", "alpha", "beta"]})
    assert _topic_clusters(dups) == [[0, 1], [2]]
    # multi-word overlap >= 0.25 merges via the loop
    multi = pd.DataFrame({"term": ["big cargo", "big cargo hub", "other thing"]})
    got = _topic_clusters(multi)
    assert got[0] == [0, 1] and [2] in got


def test_widen_width_and_rows(spark, tmp_path):
    """skew.widen: with a key it repartitions to the session's default
    parallelism (AQE-coalescing-exempt); without one it round-robins a
    1-file scan and leaves a 16-file scan as it is. Rows never change,
    and deciding reads the physical plan without starting a job."""
    from kargo_spark.skew import widen

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    n = spark.sparkContext.defaultParallelism
    df = spark.range(200).selectExpr("cast(id % 37 as string) doc_id", "id value")
    before = sorted((r["doc_id"], r["value"]) for r in df.collect())
    spread = widen(df, "doc_id")
    assert "hashpartitioning(doc_id" in plan(spread)
    assert spread.rdd.getNumPartitions() == n
    assert sorted((r["doc_id"], r["value"]) for r in spread.collect()) == before

    df.coalesce(1).write.parquet(str(tmp_path / "one"))
    df.repartition(16).write.parquet(str(tmp_path / "many"))
    one = spark.read.parquet(str(tmp_path / "one"))
    many = spark.read.parquet(str(tmp_path / "many"))
    sc = spark.sparkContext
    sc.setJobGroup("test_widen", "widen decides from the plan")
    try:
        wide_one, wide_many = widen(one), widen(many)
        assert sc.statusTracker().getJobIdsForGroup("test_widen") == []
        assert "RoundRobinPartitioning" in plan(wide_one)
        assert "RoundRobinPartitioning" not in plan(wide_many)
        rows = sorted((r["doc_id"], r["value"]) for r in wide_many.collect())
        # the group does record jobs, so the empty list above is real
        assert sc.statusTracker().getJobIdsForGroup("test_widen") != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows == before
    assert sorted((r["doc_id"], r["value"]) for r in wide_one.collect()) == before
