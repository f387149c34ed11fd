"""End-to-end pipeline, checkpoint/resume, skew helpers, textstats,
multimodal plumbing."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from kargo_spark import textstats
from kargo_spark.multimodal import (
    decode_image_stub,
    extract_features,
    frame_sample_stub,
    synth_media,
)
from kargo_spark.pipeline import run_pipeline
from kargo_spark.skew import salted_agg, size_bucketed
from kargo_spark.synth import synth_documents


@pytest.fixture(scope="module")
def pipe(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("pipe"))
    docs = synth_documents(spark, n_rows=60)
    out = run_pipeline(spark, docs, wd, ranker="tfidf", min_samples=3, eps=0.35)
    return wd, docs, out


def test_pipeline_stages_nonempty(pipe):
    _, _, out = pipe
    for k in ["docs_clean", "tokens", "candidates", "terms_topk", "mentions",
              "pairs", "triples", "entities", "links"]:
        assert out[k].count() > 0, k


def test_pipeline_resume_identical(spark, pipe):
    wd, docs, out = pipe
    t1 = sorted(out["triples"].select("subj", "pred", "obj", "support").collect())
    out2 = run_pipeline(spark, docs, wd, ranker="tfidf", min_samples=3, eps=0.35)
    assert all(r["resumed"] for r in out2["metrics"].collect())
    # Arrow-built: collecting the metrics scans no parallelized Python RDD
    assert "ExistingRDD" not in out2["metrics"]._jdf.queryExecution().executedPlan().toString()
    t2 = sorted(out2["triples"].select("subj", "pred", "obj", "support").collect())
    assert t1 == t2


def test_pipeline_partial_resume_recomputes_missing(spark, pipe):
    wd, docs, _ = pipe
    shutil.rmtree(f"{wd}/triples")
    out = run_pipeline(spark, docs, wd, ranker="tfidf", min_samples=3, eps=0.35)
    m = {r["stage"]: r["resumed"] for r in out["metrics"].collect()}
    assert m["pairs"] is True        # untouched stage resumed
    assert m["triples"] is False     # deleted stage recomputed
    assert out["triples"].count() > 0


def test_triples_self_parity(spark, pipe):
    """Run the full pipeline twice in separate workdirs: P/R == 1.0
    (the sandbox analog of the P/R>=0.95 gate: deterministic replica)."""
    import tempfile

    from kargo_spark.evaluation import triple_precision_recall

    wd2 = tempfile.mkdtemp(prefix="pipe2_")
    wd, docs, _ = pipe
    # fresh read: earlier tests may have rewritten the checkpoint files
    ref = spark.read.parquet(f"{wd}/triples")
    out2 = run_pipeline(spark, docs, wd2, ranker="tfidf", min_samples=3, eps=0.35)
    row = triple_precision_recall(out2["triples"], ref).collect()[0]
    assert row["precision"] >= 0.95 and row["recall"] >= 0.95
    assert row["f1"] == 1.0


def test_size_bucketed_preserves_rows(spark):
    docs = synth_documents(spark, n_rows=50)
    out = size_bucketed(docs, "content", n_partitions=4)
    assert out.count() == docs.count()
    assert out.rdd.getNumPartitions() == 4


def test_python_stages_run_one_task_per_core(spark, tmp_path):
    """size_bucketed defaults to defaultParallelism (not the shuffle
    partition count), sentences_with_tokens regroups through one doc-keyed
    exchange at that width, tokenize and annotate over size_bucketed run
    exactly one Python task per core, and the candidates stage over a
    stored docs table plans no exchange but size_bucketed's."""
    import re

    from kargo_spark import candidates as C
    from kargo_spark import corpus, nlp

    n = spark.sparkContext.defaultParallelism
    assert n != int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = corpus.docs_clean(synth_documents(spark, n_rows=60))
    assert size_bucketed(docs, "content").rdd.getNumPartitions() == n

    tokens = spark.createDataFrame(
        [("d1", 0, 0, "The", "the", "DT", 0, 3, "O", "det", 1),
         ("d1", 0, 1, "hub", "hub", "NN", 4, 7, "O", "root", 0)],
        nlp.TOKENS_SCHEMA,
    )
    plan = nlp.sentences_with_tokens(tokens)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert re.findall(r"hashpartitioning\((.*?)\)", plan) == [
        re.search(r"doc_id#\d+", plan).group(0) + f", {n}"
    ]

    sc = spark.sparkContext
    sc.setJobGroup("test_one_task_per_core", "tokenize over size_bucketed")
    try:
        nlp.tokenize(size_bucketed(docs, "content")).write.format("noop").mode("overwrite").save()
        st = sc.statusTracker()
        stages = [s for j in st.getJobIdsForGroup("test_one_task_per_core")
                  for s in st.getJobInfo(j).stageIds]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the last stage reads the size_bucketed exchange and runs tokenize
    assert st.getStageInfo(max(stages)).numTasks == n

    sc.setJobGroup("test_one_task_per_core_annotate", "annotate over size_bucketed")
    try:
        nlp.annotate(size_bucketed(docs, "content")).write.format("noop").mode("overwrite").save()
        stages = [s for j in st.getJobIdsForGroup("test_one_task_per_core_annotate")
                  for s in st.getJobInfo(j).stageIds]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert st.getStageInfo(max(stages)).numTasks == n

    docs.write.parquet(str(tmp_path / "docs_clean"))
    stored = spark.read.parquet(str(tmp_path / "docs_clean"))
    cands = C.filter_candidates(
        C.mine_candidates(nlp.annotate(size_bucketed(stored, "content"))),
        stopwords=C.DEFAULT_STOPWORDS,
    )
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    parts = re.findall(r"hashpartitioning\((.*?)\)", plan)
    assert len(parts) == 1 and re.fullmatch(rf"__size_bucket#\d+L, __salt#\d+L, {n}", parts[0])


def test_pipeline_triples_invariant_to_input_layout(spark, tmp_path):
    """The same corpus as 1 parquet file and as 16 files gives the same
    triples: input layout changes widths, never content."""
    def stats(triples):
        return tuple(triples.agg(
            F.count(F.lit(1)),
            F.expr("bit_xor(xxhash64(subj, pred, obj, cast(support as string)))"),
        ).first())

    docs = synth_documents(spark, n_rows=60)
    docs.coalesce(1).write.parquet(str(tmp_path / "one"))
    docs.repartition(16).write.parquet(str(tmp_path / "many"))
    got = []
    for name, n_files in (("one", 1), ("many", 16)):
        src = spark.read.parquet(str(tmp_path / name))
        assert len(src.inputFiles()) == n_files
        got.append(stats(run_pipeline(spark, src, None, linking=False)["triples"]))
    spark.catalog.clearCache()
    assert got[0][0] > 0
    assert got[0] == got[1]


def test_salted_agg_matches_plain(spark):
    df = spark.createDataFrame(
        [("k1", 1.0)] * 50 + [("k2", 2.0)] * 5, "k string, v double"
    )
    got = {r["k"]: (r["v"], r["n"]) for r in
           salted_agg(df, ["k"], [("v", "sum"), ("n", "count")]).collect()}
    assert got["k1"] == (50.0, 50)
    assert got["k2"] == (10.0, 5)


def test_textstats_language_and_quality(spark):
    df = spark.createDataFrame(
        [
            (1, "the cargo is in the hub and the crew is ready for the flight"),
            (2, "el puerto de la ciudad es una de las zonas por explorar"),
            (3, "xx yy zz 11 22"),
        ],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id",
        textstats.language_id(F.col("text")).alias("lang"),
        textstats.quality_score(F.col("text")).alias("q"),
    ).collect()
    got = {r["doc_id"]: r for r in out}
    assert got[1]["lang"] == "en"
    assert got[2]["lang"] == "es"
    assert got[3]["lang"] == "und"
    assert got[1]["q"]["quality"] > got[3]["q"]["quality"]


def test_html_unescape_udf(spark):
    df = spark.createDataFrame([("a &amp; b &lt;c&gt;",), (None,)], "t string")
    un = textstats.make_html_unescape()
    out = [r["u"] for r in df.select(un(F.col("t")).alias("u")).collect()]
    assert out == ["a & b <c>", None]


def test_fingerprint_order_insensitive_tail(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "totally other words here now")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["fp"] for r in
           df.select("doc_id", textstats.fingerprint(F.col("text")).alias("fp")).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_multimodal_features_deterministic(spark):
    media = synth_media(spark, n=16)
    f1 = {r["media_id"]: (r["sha"], tuple(r["feat"])) for r in extract_features(media).collect()}
    f2 = {r["media_id"]: (r["sha"], tuple(r["feat"])) for r in
          extract_features(size_bucketed(media, "data")).collect()}
    assert f1 == f2  # partitioning never changes content


def test_multimodal_strict_decode_raises():
    with pytest.raises(NotImplementedError):
        decode_image_stub(b"bytes", strict=True)


def test_frame_sample_explodes_video_rows(spark):
    media = synth_media(spark, n=32)
    frames = frame_sample_stub(media, every_ms=10000)
    n_videos = media.filter(F.col("kind") == "video").count()
    assert frames.select("media_id").distinct().count() == n_videos
    assert frames.count() >= n_videos


def test_repetition_signals_values(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),               # one word repeated 4x
            (2, "all words here are fully distinct"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    r = textstats.repetition_signals(F.col("text"))
    out = {row["doc_id"]: row for row in df.select("doc_id", r.alias("r")).select(
        "doc_id", "r.n_words", "r.dup_word_ratio", "r.dup_3gram_ratio", "r.top_word_ratio"
    ).collect()}
    assert out[1]["n_words"] == 4
    assert abs(out[1]["dup_word_ratio"] - 0.75) < 1e-9
    assert out[1]["top_word_ratio"] == 1.0
    # 'spam spam spam' 3-grams: 2 identical -> 1 dup of 2
    assert abs(out[1]["dup_3gram_ratio"] - 0.5) < 1e-9
    assert out[2]["dup_word_ratio"] == 0.0
    assert abs(out[2]["top_word_ratio"] - 1 / 6) < 1e-9
    assert out[3]["n_words"] == 0 and out[3]["top_word_ratio"] == 0.0


def test_redact_pii_counts_and_placeholders(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b@x.io and c@y.org, ssn 123-45-6789, ip 10.1.2.3, call +44 20 7946 0958 now")],
        "doc_id long, text string",
    )
    r = textstats.redact_pii(F.col("text"))
    row = df.select(r.alias("r")).select("r.*").collect()[0]
    assert row["n_email"] == 2 and row["n_ssn"] == 1
    assert row["n_ipv4"] == 1 and row["n_phone"] == 1
    red = row["redacted"]
    assert "<EMAIL>" in red and "<SSN>" in red and "<IP>" in red and "<PHONE>" in red
    assert "a.b@x.io" not in red and "123-45-6789" not in red


def test_pack_sequences_greedy_and_oversized(spark):
    """Greedy first-fit-in-order within a group: running fill never
    exceeds the budget except for single oversized docs, which get a bin
    of their own; bin ids are contiguous per group."""
    from kargo_spark.packing import pack_sequences, packing_stats

    rows = [(i, "w " * n) for i, n in enumerate([5, 6, 4, 300, 2, 9, 9, 1])]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(docs, budget=10, n_groups=1).orderBy("doc_id").collect()
    bins = {}
    for r in out:
        bins.setdefault(r["bin_id"], []).append(r["n_tokens"])
    for b, sizes in bins.items():
        assert sum(sizes) <= 10 or len(sizes) == 1, (b, sizes)
    assert sorted(bins) == list(range(len(bins)))  # contiguous
    # the 300-token doc is alone
    assert [s for s in bins.values() if 300 in s] == [[300]]
    stats = packing_stats(
        pack_sequences(docs, budget=10, n_groups=1), 10
    ).collect()[0]
    assert stats["n_overflow"] == 1 and stats["n_bins"] == len(bins)


def test_quality_filter_rules(spark):
    """Each rule trips on a targeted pathological doc."""
    from pyspark.sql import functions as F

    from kargo_spark.textstats import quality_filter

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and runs far away today"),
            (2, "word " * 3),                        # too few words
            (3, "spam " * 50),                       # top-word + dup-3gram + no stopwords
            (4, "1 2 3 4 5 6 7 8 9 10 11 12 " * 3), # alpha + mean-word-len low
        ],
        "doc_id long, text string",
    )
    qf = quality_filter(F.col("text"))
    got = {r["doc_id"]: r for r in docs.select("doc_id", qf.alias("q")).select(
        "doc_id", "q.*").collect()}
    assert got[1]["keep"] is True
    assert got[2]["words_ok"] is False and got[2]["keep"] is False
    assert got[3]["repetition_ok"] is False and got[3]["keep"] is False
    assert got[4]["alpha_ok"] is False and got[4]["keep"] is False


def test_domain_mix_weights(spark):
    """Kept fraction per domain tracks the weight; unknown domains drop;
    weight 1.0 keeps everything; deterministic across calls."""
    from kargo_spark.corpus import domain_mix

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(3000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = domain_mix(docs, {"a": 1.0, "b": 0.3}, key_col="lang")
    counts = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert counts["a"] == 1000          # weight 1.0 keeps all
    assert "c" not in counts            # unweighted domain dropped
    assert 220 <= counts["b"] <= 380    # ~30% of 1000
    again = domain_mix(docs, {"a": 1.0, "b": 0.3}, key_col="lang")
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
