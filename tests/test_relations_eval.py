"""Mention/pair/triple and evaluation-semantics tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from kargo_spark import candidates as C
from kargo_spark import evaluation as E
from kargo_spark import nlp, relations, weighting


def _stage(spark):
    docs = [
        ("d1", "The cargo carrier moved pharma shipment to the airport hub. "
               "The pharma shipment reached the cool chain terminal."),
    ]
    df = spark.createDataFrame(docs, "doc_id string, content string")
    sents = nlp.annotate(df)
    toks = nlp.token_rows(sents)
    cands = C.mine_candidates(sents)
    df_tab, n = weighting.document_frequency(cands)
    topk = weighting.top_k_terms(weighting.tfidf_scores(cands, df_tab, n), k=10)
    return toks, sents, cands, topk


def test_mentions_first_occurrence_only(spark):
    _, _, cands, topk = _stage(spark)
    m = relations.mentions(cands, topk)
    # pharma shipment appears once per sentence: no (doc, sent, term) dupes
    dupes = m.groupBy("doc_id", "sentence_id", "lemma_term").count().filter("count > 1")
    assert dupes.count() == 0


def test_pairs_adjacent_with_in_between(spark):
    _, sents, cands, topk = _stage(spark)
    m = relations.mentions(cands, topk)
    p = relations.pairs(m, sents)
    rows = {(r["head"], r["tail"]): r for r in p.collect()}
    assert ("cargo carrier", "pharma shipment") in rows
    r = rows[("cargo carrier", "pharma shipment")]
    assert r["in_between_words"] == "moved"
    assert r["cooc_no"] == 1
    # no overlapping-span pair
    assert all(r["tail_tok_begin"] > r["head_tok_end"] for r in rows.values())


def test_triples_dedup_and_support(spark):
    _, sents, cands, topk = _stage(spark)
    p = relations.pairs(relations.mentions(cands, topk), sents)
    t = relations.triples_from_pairs(p)
    assert t.groupBy("subj", "pred", "obj").count().filter("count > 1").count() == 0
    assert t.filter(F.col("support") < 1).count() == 0


def test_relation_artifact_shapes(spark):
    import json

    from pyspark.sql import functions as F

    from kargo_spark.relations import labels_map_rows, relation_json_rows

    pairs = spark.createDataFrame(
        [("d1", 1, "air cargo", "pharma", "moved", 0),
         ("d1", 1, "pharma", "hub", "to the", 0),
         ("d2", 3, "a", "b", "x", -1)],
        "doc_id string, sentence_id int, head string, tail string, in_between_words string, cluster long",
    ).withColumn("context", F.concat_ws(" ", "head", "in_between_words", "tail"))
    rj = {r["cluster"]: r for r in relation_json_rows(pairs).collect()}
    assert rj["0"]["n_members"] == 2
    assert "-1" in rj  # noise cluster present (reference keeps it)
    m = json.loads(rj["0"]["members_json"])[0]
    assert set(m) == {"text", "head_words", "tail_words", "in_between_words"}
    gold = spark.createDataFrame(
        [("d1", 1, "air cargo", "pharma", 1)],
        "doc_id string, sent_id int, head string, tail string, label int",
    )
    lm = {(r["doc_id"], r["sent_id"], r["pair_key"]): r["label"]
          for r in labels_map_rows(pairs, gold).collect()}
    assert lm[("d1", 1, "air cargo|pharma")] == 1
    assert lm[("d1", 1, "pharma|hub")] == 0


def _eval_frames(spark):
    preds = spark.createDataFrame(
        [
            ("d1", "m1", 1, "alpha"), ("d1", "m1", 2, "beta"), ("d1", "m1", 3, "junk"),
            ("d1", "m2", 1, "junk"), ("d1", "m2", 2, "alpha"), ("d1", "m2", 3, "gamma"),
        ],
        "doc_id string, method string, rank int, term string",
    )
    gold = spark.createDataFrame(
        [("d1", "Alpha"), ("d1", "beta"), ("d1", "gamma")], "doc_id string, term string"
    )
    return preds, gold


def test_precision_at_k_cumulative(spark):
    preds, gold = _eval_frames(spark)
    p = E.precision_at_k(preds, gold)
    got = {(r["method"], r["k"]): r["precision"] for r in p.collect()}
    assert got[("m1", 1)] == 1.0
    assert got[("m1", 2)] == 1.0
    assert abs(got[("m1", 3)] - 2 / 3) < 1e-9
    assert got[("m2", 1)] == 0.0
    assert got[("m2", 2)] == 0.5


def test_relative_recall_pooled_denominator(spark):
    preds, gold = _eval_frames(spark)
    r = E.relative_recall_at_k(preds, gold)
    got = {(r_["method"], r_["k"]): r_["recall"] for r_ in r.collect()}
    # k=2: m1 found {alpha,beta}, m2 found {alpha}; pool={alpha,beta}
    assert got[("m1", 2)] == 1.0
    assert got[("m2", 2)] == 0.5
    # k=3 pool = {alpha,beta,gamma}
    assert abs(got[("m1", 3)] - 2 / 3) < 1e-9
    assert abs(got[("m2", 3)] - 2 / 3) < 1e-9


def test_fscore_and_aggregate_population_std(spark):
    preds, gold = _eval_frames(spark)
    p = E.precision_at_k(preds, gold)
    r = E.relative_recall_at_k(preds, gold)
    f = E.fscore_at_k(p, r)
    assert f.filter(F.col("fscore") < 0).count() == 0
    agg = E.aggregate_scores(f, "fscore")
    # population std of a single doc = 0
    assert all(row["std"] == 0.0 for row in agg.collect())


def test_perfect_predictions_give_unit_scores(spark):
    # reference tests/test_evaluation.py:21,26 semantics
    preds = spark.createDataFrame(
        [("d1", "m", 1, "a"), ("d1", "m", 2, "b")], "doc_id string, method string, rank int, term string"
    )
    gold = spark.createDataFrame([("d1", "a"), ("d1", "b")], "doc_id string, term string")
    p = E.precision_at_k(preds, gold).collect()
    assert all(r["precision"] == 1.0 for r in p)
    r = E.relative_recall_at_k(preds, gold).collect()
    assert all(x["recall"] == 1.0 for x in r)


def test_triple_pr_gate(spark):
    pred = spark.createDataFrame([("a", "r", "b"), ("c", "r", "d")], "subj string, pred string, obj string")
    gold = spark.createDataFrame([("a", "r", "b"), ("c", "r", "d")], "subj string, pred string, obj string")
    row = E.triple_precision_recall(pred, gold).collect()[0]
    assert row["precision"] == 1.0 and row["recall"] == 1.0 and row["f1"] == 1.0


def test_classify_clusters_majority_vote(spark):
    """Recovered reference RelationExtractor.classify semantics: labeled
    members vote their cluster's label (YES wins ties), unlabeled members
    inherit it; clusters with no labeled member default to 0."""
    from kargo_spark.relations import classify_clusters

    meta = spark.createDataFrame(
        [
            # cluster 0: 2 YES vs 1 NO -> 1
            ("d1", 0, "air cargo", "pharma", 0),
            ("d1", 1, "hub", "carrier", 0),
            ("d2", 0, "freight", "charter", 0),
            ("d2", 1, "x", "y", 0),          # unlabeled, inherits 1
            # cluster 1: 1 YES vs 1 NO -> tie -> YES (int(yes >= no))
            ("d3", 0, "a", "b", 1),
            ("d3", 1, "c", "d", 1),
            # cluster -1: no labeled member -> 0
            ("d4", 0, "p", "q", -1),
        ],
        "doc_id string, sent_id int, head string, tail string, cluster int",
    )
    labels = spark.createDataFrame(
        [
            ("d1", 0, "air cargo|pharma", 1),
            ("d1", 1, "hub|carrier", 1),
            ("d2", 0, "freight|charter", 0),
            ("d3", 0, "a|b", 1),
            ("d3", 1, "c|d", 0),
        ],
        "doc_id string, sent_id int, pair_key string, label int",
    )
    out = {
        (r["doc_id"], r["sent_id"]): (r["cluster_label"], r["voted"])
        for r in classify_clusters(meta, labels).collect()
    }
    assert out[("d1", 0)] == (1, True)
    assert out[("d2", 1)] == (1, False)   # unlabeled member inherits
    assert out[("d3", 0)][0] == 1         # tie -> YES
    assert out[("d4", 0)] == (0, False)   # unvoted cluster -> 0


def test_classify_clusters_reweight_upweights_rare_no(spark):
    """reweight=True multiplies NO votes by the global YES/NO ratio (the
    reference's imbalance correction: the rare class counts more). A
    weakly-YES cluster (3 YES vs 2 NO) flips to NO when the global pool is
    YES-heavy (11 YES / 2 NO -> each NO counts 5.5x)."""
    from kargo_spark.relations import classify_clusters

    meta = spark.createDataFrame(
        [("d%d" % i, 0, "h%d" % i, "t%d" % i, 0) for i in range(5)]
        + [("e%d" % i, 0, "a%d" % i, "b%d" % i, 1) for i in range(8)],
        "doc_id string, sent_id int, head string, tail string, cluster int",
    )
    labels = spark.createDataFrame(
        # cluster 0: 3 YES, 2 NO; cluster 1: 8 YES
        [("d0", 0, "h0|t0", 1), ("d1", 0, "h1|t1", 1), ("d2", 0, "h2|t2", 1),
         ("d3", 0, "h3|t3", 0), ("d4", 0, "h4|t4", 0)]
        + [("e%d" % i, 0, "a%d|b%d" % (i, i), 1) for i in range(8)],
        "doc_id string, sent_id int, pair_key string, label int",
    )
    plain = {r["cluster"]: r["cluster_label"]
             for r in classify_clusters(meta, labels).collect()}
    rw = {r["cluster"]: r["cluster_label"]
          for r in classify_clusters(meta, labels, reweight=True).collect()}
    assert plain[0] == 1          # 3 YES >= 2 NO
    assert rw[0] == 0             # 3 YES < 2 * (11/2) weighted NO
    assert plain[1] == 1 and rw[1] == 1


def test_pattern_clusters_groups_similar_patterns(spark):
    """Edit-ratio DBSCAN over in-between patterns (recovered reference
    ClusteringRE): two families of near-identical patterns form two
    clusters; a lone unrelated pattern is noise (-1)."""
    from kargo_spark.relations import pattern_clusters

    rows = (
        [(i, "signed a deal with") for i in range(4)]
        + [(10 + i, "signed a deals with") for i in range(2)]
        + [(20 + i, "carried cargo to") for i in range(5)]
        + [(99, "zzzz qqqq completely unrelated pattern xxxx")]
    )
    df = spark.createDataFrame(rows, "pair_id long, in_between_words string")
    out = {r["pair_id"]: r["cluster"] for r in
           pattern_clusters(df, eps=0.325, min_samples=3).collect()}
    deal = {out[i] for i in range(4)} | {out[10], out[11]}
    cargo = {out[20 + i] for i in range(5)}
    assert len(deal) == 1 and len(cargo) == 1   # each family one cluster
    assert deal != cargo
    assert out[99] == -1                        # isolated -> noise


def test_full_relation_pipeline_on_reference_dev(spark):
    """Recovered-reference relation pipeline end to end on REAL artifacts:
    dev corpus -> reference_pairs (with in_between) -> pattern_clusters ->
    classify_clusters vs dev_labels.json. Every pair gets a cluster and a
    label; the dev labels actually join (the reference's own keying)."""
    import os

    import pytest

    from kargo_spark.io_formats import read_relation_labels_flat, read_terms_csv
    from kargo_spark.relations import classify_clusters, pattern_clusters, reference_pairs
    from kargo_spark.xml_io import read_corenlp_tokens

    REF = "/root/reference"
    if not os.path.exists(REF):
        pytest.skip("reference artifacts not available")
    toks = read_corenlp_tokens(spark, f"{REF}/data/processed/news/relevant/dev/*.xml")
    terms = read_terms_csv(spark, f"{REF}/data/processed/news/relevant/dev_terms.csv")
    prs = reference_pairs(toks, terms).withColumn(
        "pair_id", F.abs(F.xxhash64("doc_id", "sent_id", "cooc_no"))
    ).persist()
    n_pairs = prs.count()
    assert n_pairs == 1305
    clusters = pattern_clusters(
        prs.select("pair_id", F.col("in_between").alias("in_between_words")),
        eps=0.325, min_samples=3,
    )
    meta = prs.join(clusters, "pair_id")
    labels = read_relation_labels_flat(
        spark, f"{REF}/data/annotations/relations/dev_labels.json"
    )
    out = classify_clusters(meta, labels)
    assert out.count() == n_pairs
    voted = out.filter(F.col("voted")).count()
    assert voted > 1000            # the dev labels key onto our pairs
    assert out.filter(F.col("cluster_label") == 1).count() > 0
    assert out.filter(F.col("cluster") >= 0).count() > 0   # real clusters form


def test_pattern_edges_finds_tokenless_near_pair(spark):
    """'ships' vs 'shops': edit ratio 1/5 = 0.2 <= eps but zero shared
    tokens — the char-2-gram block keys for short patterns must surface
    the pair (code-review finding: token-only blocking silently missed it)."""
    from kargo_spark.relations import pattern_edges

    p = spark.createDataFrame(
        [(1, "ships"), (2, "shops"), (3, "completely different words here")],
        "pair_id long, in_between_words string",
    )
    got = {(r["src"], r["dst"]): r["dist"] for r in pattern_edges(p, eps=0.325).collect()}
    assert (1, 2) in got and abs(got[(1, 2)] - 0.2) < 1e-9


def test_reference_pairs_bio_entity_spans(spark):
    """Plain-BIO NER (the engine's own tagger: no E/S tags) must still
    yield entity spans — a B-I run closed by O or sentence end."""
    from kargo_spark.relations import reference_pairs

    words = ["Lufthansa", "Cargo", "moved", "goods", "to", "Berlin"]
    ners = ["B-ORG", "I-ORG", "O", "O", "O", "B-GPE"]
    rows, pos = [], 0
    for i, w in enumerate(words):
        rows.append(("d", 0, i + 1, w, pos, pos + len(w), ners[i]))
        pos += len(w) + 1
    toks = spark.createDataFrame(
        rows,
        "doc_id string, sentence_id long, token_id long, word string, "
        "offset_begin long, offset_end long, ner string",
    ).withColumn("text", F.lit(" ".join(words)))
    terms = spark.createDataFrame([], "doc_id string, rank long, term string")
    out = reference_pairs(toks, terms, include_ne=True)
    heads_tails = {(r["head"], r["tail"]) for r in out.collect()}
    assert ("lufthansa cargo", "berlin") in heads_tails
