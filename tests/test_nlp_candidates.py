"""Tokenizer, sentence grouping, and candidate-mining tests."""

from __future__ import annotations

import sys

from pyspark import cloudpickle
from pyspark.sql import functions as F

from kargo_spark import candidates as C
from kargo_spark import nlp


def _tokens(spark, text):
    df = spark.createDataFrame([("d1", text)], "doc_id string, content string")
    return nlp.tokenize(df)


def _candidates(spark, text):
    df = spark.createDataFrame([("d1", text)], "doc_id string, content string")
    return C.mine_candidates(nlp.annotate(df))


def test_tokenize_offsets_roundtrip(spark):
    text = "Air cargo grows. Pharma moved fast!"
    toks = _tokens(spark, text).collect()
    for t in toks:
        assert text[t["offset_begin"]:t["offset_end"]] == t["word"]
    assert max(t["sentence_id"] for t in toks) == 2
    # token ids are 1-based within sentence
    s1 = [t for t in toks if t["sentence_id"] == 1]
    assert [t["token_id"] for t in s1] == list(range(1, len(s1) + 1))


def test_tokenize_empty_doc_yields_nothing(spark):
    df = spark.createDataFrame([("d1", ""), ("d2", "word.")], "doc_id string, content string")
    out = nlp.tokenize(df)
    assert out.filter(F.col("doc_id") == "d1").count() == 0
    assert out.filter(F.col("doc_id") == "d2").count() == 2  # word + '.'


def test_candidate_grammar_matches_np_chunks(spark):
    # "the fast cargo carrier moved dangerous goods" ->
    # chunks: 'fast cargo carrier' (ADJ? fast->NOUN by our tagger) etc.
    cands = _candidates(spark, "The cargo carrier moved dangerous goods to the cool chain hub.")
    terms = {r["term"] for r in cands.collect()}
    assert "cargo carrier" in terms
    assert "dangerous goods" in terms
    assert "cool chain hub" in terms
    # verbs/preps never inside a candidate
    assert all("moved" not in t and " to " not in t for t in terms)


def test_filter_candidates_predicates(spark):
    cands = _candidates(spark, "The cargo carrier moved dangerous goods to the cool chain hub.")
    out = C.filter_candidates(cands, min_chars=3, max_words=2)
    assert all(r["n_words"] <= 2 for r in out.collect())
    out2 = C.filter_candidates(cands, min_frequency=2)
    assert out2.count() == 0  # nothing repeats in one sentence


def test_offset_cutoff_uses_first_occurrence(spark):
    text = "cargo early. " + "filler words here. " * 5 + "the cargo is moved."
    cands = _candidates(spark, text)
    kept = C.filter_candidates(cands, offset_cutoff=15)
    # 'cargo' first occurs at offset 0 <= 15 so BOTH its occurrences survive
    cargo_rows = [r for r in kept.collect() if r["term"] == "cargo"]
    assert len(cargo_rows) == 2


def test_ner_heuristics(spark):
    text = ("Lufthansa Cargo expanded its Frankfurt hub in January 2020. "
            "Mr. Smith said the airline carried 400 tonnes to Singapore.")
    toks = _tokens(spark, text).collect()
    ner = {t["word"]: t["ner"] for t in toks}
    # PROPN run ending in an ORG suffix word
    assert ner["Lufthansa"] == "B-ORG" and ner["Cargo"] == "I-ORG"
    # PROPN followed by a FAC suffix word
    assert ner["Frankfurt"] == "B-FAC"
    # month + number = one DATE span; standalone year = DATE
    assert ner["January"] == "B-DATE" and ner["2020"] == "I-DATE"
    # title + PROPN = PERSON
    assert ner["Smith"] == "B-PERSON"
    # plain number = CARDINAL; GPE gazetteer
    assert ner["400"] == "B-CARDINAL"
    assert ner["Singapore"] == "B-GPE"
    # non-entities stay O
    assert ner["expanded"] == "O" and ner["the"] == "O"


def test_deprel_shallow_parse(spark):
    toks = _tokens(spark, "The carrier moved goods.").collect()
    by_word = {t["word"]: t for t in toks}
    root = by_word["moved"]
    assert root["deprel"] == "root" and root["deprel_head_id"] == 0
    assert by_word["carrier"]["deprel"] == "nsubj"
    assert by_word["carrier"]["deprel_head_id"] == root["token_id"]
    assert by_word["goods"]["deprel"] == "obj"
    assert by_word["The"]["deprel"] == "det"
    assert by_word["The"]["deprel_head_id"] == by_word["carrier"]["token_id"]


def test_corpus_summary_counts(spark):
    from kargo_spark.corpus import corpus_summary

    text = "Lufthansa Cargo moved goods. No entities here at all."
    toks = _tokens(spark, text)
    doc_stats, ner_counts, vocab_stats = corpus_summary(toks)
    d = doc_stats.collect()[0]
    assert d["n_sents"] == 2
    assert d["n_sents_w_ne"] == 1      # only the first sentence has an entity
    assert d["n_ner"] == 2             # Lufthansa + Cargo
    nc = {(r["ner_type"]): r["n"] for r in ner_counts.collect()}
    assert nc == {"ORG": 2}
    v = {r["lemma"]: r for r in vocab_stats.collect()}
    assert v["good"]["nouns"] == 1     # 'goods' lemmatized, counted as noun


def test_kargen_lines_carry_real_ner(spark):
    from kargo_spark import io_formats as IO

    toks = _tokens(spark, "Lufthansa Cargo moved goods to Singapore.")
    lines = {r["line"] for r in IO.kargen_conll_lines(toks).collect() if r["line"]}
    assert any("\tB-ORG\t" in ln for ln in lines)
    assert any("\tB-GPE\t" in ln for ln in lines)


# --- kernel parity: annotate (one mapInArrow that also mines) against the
# former three-step path, kept here as the oracle: a pandas annotator
# emitting flat token rows, the doc-keyed sentence regroup, and a pandas
# miner over the regrouped token arrays ---------------------------------

_TOKEN_COLS = ["doc_id", "sentence_id", "token_id", "word", "lemma", "pos",
               "offset_begin", "offset_end", "ner", "deprel", "deprel_head_id"]
_CAND_COLS = ["doc_id", "sentence_id", "term", "lemma_term", "n_words",
              "tok_begin", "tok_end", "offset_begin", "offset_end"]


def _annotate_doc_rows(doc_id, content):
    rows, buf = [], []
    sent_id, tok_id, prev_end, prev_last_char, last_word = 1, 0, 0, "", ""

    def flush(sid):
        if not buf:
            return
        words = [b[1] for b in buf]
        tags = [b[3] for b in buf]
        ner = nlp._ner_sentence(words, tags)
        dep = nlp._deprel_sentence(tags)
        for (tid, word, lemma, pos, ob, oe), ne, (rel, head) in zip(buf, ner, dep):
            rows.append((doc_id, sid, tid, word, lemma, pos, ob, oe, ne, rel, head))
        buf.clear()

    for m in nlp._TOKEN.finditer(content):
        gap = content[prev_end:m.start()]
        if tok_id > 0 and gap and ("\n" in gap or prev_last_char in ".!?"):
            abbrev = ("\n" not in gap and prev_last_char == "."
                      and last_word.lower() in nlp._ABBREV)
            if not abbrev:
                flush(sent_id)
                sent_id += 1
                tok_id = 0
        tok_id += 1
        word = m.group(0)
        if word[:1].isalnum():
            last_word = word
        pos = nlp._tag_word(word, tok_id == 1)
        buf.append((tok_id, word, nlp._lemma(word, pos), pos, m.start(), m.end()))
        prev_end = m.end()
        prev_last_char = word[-1]
    flush(sent_id)
    return rows


def _annotate_batches_ref(batches):
    import pandas as pd

    for pdf in batches:
        out = []
        for doc_id, content in zip(pdf["doc_id"].values, pdf["content"].values):
            if content:
                out.extend(_annotate_doc_rows(doc_id, content))
        yield pd.DataFrame(out, columns=_TOKEN_COLS)


def _mine_sentence_ref(doc_id, sent_id, toks, out):
    tag_str = "".join(C._TAG_CHAR.get(t["pos"], "x") for t in toks)
    for m in C._CHUNK.finditer(tag_str):
        b, e = m.start(), m.end()
        words = [toks[i]["word"] for i in range(b, e)]
        lemmas = [toks[i]["lemma"] for i in range(b, e)]
        out.append((
            doc_id, sent_id, " ".join(w.lower() for w in words), " ".join(lemmas),
            e - b, int(toks[b]["token_id"]), int(toks[e - 1]["token_id"]),
            int(toks[b]["offset_begin"]), int(toks[e - 1]["offset_end"]),
        ))


def _mine_batches_ref(batches):
    import pandas as pd

    for pdf in batches:
        out = []
        for doc_id, sent_id, toks in zip(
            pdf["doc_id"].values, pdf["sentence_id"].values, pdf["toks"].values
        ):
            _mine_sentence_ref(doc_id, int(sent_id), toks, out)
        yield pd.DataFrame(out, columns=_CAND_COLS)


EDGE_DOCS = [
    ("empty", ""),
    ("blank", "  \n\t "),
    ("null", None),
    ("cjk", "東京 大阪。北京"),
    ("no_noun", "Run quickly. It was very slowly."),
    ("abbrev", "Mr. Smith moved 400 tonnes.\nDr. Jones of Acme Cargo Inc. said no."),
]


# the oracles run in Python workers, which cannot import this test module
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _parity_docs(spark):
    from kargo_spark import corpus
    from kargo_spark.synth import synth_documents

    synth = corpus.docs_clean(synth_documents(spark, n_rows=40)).select("doc_id", "content")
    edge = spark.createDataFrame(EDGE_DOCS, "doc_id string, content string")
    return synth.unionByName(edge)


def test_annotate_matches_three_step_path(spark):
    """tokenize and mine_candidates over the one annotate pass give exactly
    the rows of the old annotate -> regroup -> mine path, with input
    batches small enough that documents straddle them."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        docs = _parity_docs(spark)
        want_toks = docs.mapInPandas(_annotate_batches_ref, nlp.TOKENS_SCHEMA)
        want_cands = nlp.sentences_with_tokens(want_toks).mapInPandas(
            _mine_batches_ref, C.CANDIDATES_SCHEMA
        )
        ann = nlp.annotate(docs)
        got_toks = nlp.token_rows(ann)
        got_cands = C.mine_candidates(ann)
        assert got_toks.schema == nlp.tokenize(docs).schema
        assert got_toks.schema.simpleString() == want_toks.schema.simpleString()
        assert got_cands.schema.simpleString() == want_cands.schema.simpleString()
        want_t, got_t = want_toks.collect(), got_toks.collect()
        want_c, got_c = want_cands.collect(), got_cands.collect()
    finally:
        spark.conf.set(key, old)
    assert sorted(got_t) == sorted(want_t)
    assert sorted(got_c) == sorted(want_c)
    by_doc = {r["doc_id"] for r in got_t}
    assert {"empty", "blank", "null"}.isdisjoint(by_doc)
    assert {"cjk", "no_noun", "abbrev"} <= by_doc
    assert any(r["doc_id"] == "cjk" for r in got_c)
    # the first sentence ("Run quickly.") has no noun, so no candidate
    assert not [r for r in got_c if r["doc_id"] == "no_noun" and r["sentence_id"] == 1]
    assert len(got_c) > 100
