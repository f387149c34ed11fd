"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction slice on sf0.001;
``queries()`` exposes one DataFrame-producing callable per implemented
operator from SURVEY.md §2 (+ the training-data-pipeline ops);
``oracle_sql()`` gives the DuckDB-equivalent SQL for every
SQL-expressible query (same column names, floats rounded identically on
both sides so the driver's order-insensitive value hash matches).

Queries without an oracle entry (per-doc graph rankers, LDA, the
probabilistic LSH paths, the full mapInPandas KG pipeline) get the
driver's rows-only check; each of their docstrings states why no SQL
oracle can exist and which pytest covers them instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kargo_spark.skew import widen

SF0001 = "/root/testdata/sf0.001"

# Tokenization shared by Spark queries and DuckDB oracles: lowercase,
# split on non-alphanumeric, drop empties.
_SPLIT_RE = r"[^a-z0-9]+"


def _toks(col):
    return F.filter(F.split(F.lower(col), _SPLIT_RE), lambda t: t != "")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# entry: flagship query
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the KG slice on sf0.001 documents — tokenize, mine noun-ish
    terms, tf-idf rank, top-5 per doc, pair adjacent mentions, emit
    deduplicated triples with support."""
    return q_triples_agg(spark, SF0001)


# ---------------------------------------------------------------------------
# Corpus layer (SURVEY §2.1-2.2)
# ---------------------------------------------------------------------------

def q_docs_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_empty + md5 doc id + projection (corpus.py:259-260, 315-322)."""
    d = _docs(spark, sf_dir)
    return (
        d.filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.substring(F.md5(F.col("doc_id").cast("string")), -6, 6).alias("doc_hex"),
            F.sha2("text", 256).alias("content_sha"),
            "lang",
            "source",
            F.size(_toks(F.col("text"))).cast("long").alias("n_words"),
        )
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash, first(min-id)-wins (corpus.py:254-256)."""
    d = _docs(spark, sf_dir)
    return (
        d.withColumn("h", F.sha2("text", 256))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("keep_id", "dup_count")
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic split (seeded-sample stand-in, corpus.py:378-391/428-443):
    md5-bucket of doc_id -> dev/test tag + per-split counts."""
    d = _docs(spark, sf_dir)
    bucket = F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#split"))), 1, 4), 16, 10).cast("long") % 100
    return (
        d.select(F.when(bucket < 20, F.lit("dev")).otherwise(F.lit("test")).alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------

def q_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DF table through the LIBRARY path (weighting.document_frequency —
    pke compute_document_frequency, main.py:91-94); words seen in >= 2
    docs."""
    from kargo_spark.weighting import document_frequency

    d = _docs(spark, sf_dir)
    cands = d.select(
        "doc_id", F.explode(_toks(F.col("text"))).alias("lemma_term")
    )
    # with_n_docs=False: this query discards the N scalar, and its cands
    # are not persisted, so the eager collect was a pure extra
    # scan+explode+countDistinct job per rep (r06)
    df_tab, _ = document_frequency(cands, with_n_docs=False)
    return df_tab.filter(F.col("df") >= 2).select(
        F.col("ngram").alias("word"), "df"
    )


def _tf(
    spark: SparkSession, sf_dir: str, cands: DataFrame | None = None
) -> DataFrame:
    """Per-(doc, word>=3) occurrence counts — read off the persisted
    candidate cache instead of a fresh parquet scan+explode (r06: the
    candidates table IS the len>=3 word-occurrence multiset, so the
    groupBy is identical; one less documents scan per consumer)."""
    if cands is None:
        cands = _unigram_candidates(spark, sf_dir)
    return (
        cands.groupBy("doc_id", F.col("term").alias("word"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _unigram_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-shaped table (doc_id, term, lemma_term, offset_begin,
    n_words) from raw words of length >= 3 — the input contract of
    kargo_spark.weighting, built from the documents table so the ranker
    queries exercise the LIBRARY code paths (r02 verdict What's-wrong #4:
    the old queries re-derived the formulas inline, so green oracle cells
    certified the math but not weighting.py).

    PERSISTED: every ranker query consumes this table three times (tf
    branch, df branch, and document_frequency's eager n_docs scalar) —
    without the persist each consumer re-scans and re-explodes the
    documents parquet (guide §1.2: remove repeated passes before tuning
    anything else). The eager collect inside document_frequency doubles
    as the materialization barrier (same pattern as
    pipeline.triples_chain), and CacheManager's canonical-plan matching
    shares this cache across suite queries that embed tf-idf twice
    (eval_suite's precision + recall parts)."""
    wp = _word_positions(spark, sf_dir).filter(F.length("word") >= 3)
    return wp.select(
        "doc_id",
        F.col("word").alias("term"),
        F.col("word").alias("lemma_term"),
        F.col("pos").cast("long").alias("offset_begin"),
        F.lit(1).alias("n_words"),
    ).persist()


def _bigram_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-word bigram candidates (both words length >= 3) — the
    multi-word candidates that make KPMiner's boost factor non-trivial
    (boost = min(n_all / (n_multi * alpha), sigma) needs n_multi > 0)."""
    wp = _word_positions(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        wp.select(
            "doc_id", "word", "pos",
            F.lead("word").over(w).alias("nxt"),
            F.lead("pos").over(w).alias("nxt_pos"),
        )
        .filter(
            (F.col("nxt").isNotNull())
            & (F.col("nxt_pos") == F.col("pos") + 1)
            & (F.length("word") >= 3)
            & (F.length("nxt") >= 3)
        )
        .select(
            "doc_id",
            F.concat_ws(" ", "word", "nxt").alias("term"),
            F.concat_ws(" ", "word", "nxt").alias("lemma_term"),
            F.col("pos").cast("long").alias("offset_begin"),
            F.lit(2).alias("n_words"),
        )
    )


def q_tfidf_topk(
    spark: SparkSession, sf_dir: str, cands: DataFrame | None = None
) -> DataFrame:
    """tf-idf + top-5 through the LIBRARY path (weighting.document_frequency
    -> tfidf_scores -> top_k_terms; pke TfIdf main.py:107-110 + get_n_best
    terms.py:171). The only query-side shim is a round(score, 6) between
    scoring and ranking so cross-engine 1-ulp log2 noise cannot flip ranks
    at mathematical ties (e.g. 2*log2(N/50) == log2(N²/2500)).
    ``cands`` lets q_eval_suite share ONE candidate DSL build across the
    suite's consumers (r06: each _unigram_candidates call is ~0.14 s of
    py4j round-trips; identical canonical plan either way)."""
    from kargo_spark.weighting import document_frequency, tfidf_scores, top_k_terms

    if cands is None:
        cands = _unigram_candidates(spark, sf_dir)
    df_tab, n_docs = document_frequency(cands)
    scored = tfidf_scores(cands, df_tab, n_docs).withColumn(
        "score", F.round("score", 6)
    )
    # single rounding only: the ranking score is already round-6, and a
    # second round to 4 manufactures exact .5 boundaries where Spark
    # (HALF_UP on decimal) and DuckDB (value-based) disagree
    return top_k_terms(scored, k=5).select(
        "doc_id", F.col("ngram").alias("word"), "score", "rank"
    )


def q_kpminer_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPMiner through the LIBRARY path (weighting.kpminer_scores over
    unigram+bigram candidates; pke KPMiner, main.py:111-114): lasf cutoff
    tf >= 2, first occurrence within the first 200 token positions, boost
    B = min(n_all / (max(n_multi,1) * 2.3), 3.0) from doc-local candidate
    counts, score = tf * B * log2(N/df); top-5 per doc. Bigram candidates
    make n_multi (and therefore the boost) non-degenerate."""
    from kargo_spark.weighting import document_frequency, kpminer_scores, top_k_terms

    # bigram side persisted too (r06): the union is consumed three times
    # (df table, eager n_docs collect, tf path) — the unigram half hits
    # the shared candidate cache but the bigram explode+lead-window chain
    # re-ran per consumer
    cands = _unigram_candidates(spark, sf_dir).unionByName(
        _bigram_candidates(spark, sf_dir).persist()
    )
    df_tab, n_docs = document_frequency(cands)
    scored = kpminer_scores(
        cands, df_tab, n_docs, lasf=2, cutoff=200
    ).withColumn("score", F.round("score", 6))
    # single rounding only: the ranking score is already round-6, and a
    # second round to 4 manufactures exact .5 boundaries where Spark
    # (HALF_UP on decimal) and DuckDB (value-based) disagree
    return top_k_terms(scored, k=5).select(
        "doc_id", F.col("ngram").alias("word"), "score", "rank"
    )


def q_yake_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-feature YAKE through the LIBRARY path (weighting.yake_scores —
    the applyInPandas doc-local feature set: TCase from original-case
    tokens, median position, TFNorm, window-2 relatedness DL/DR, sentence
    spread; pke YAKE, main.py:115-121). Tokens keep original case for
    TCase; sentences = fixed 10-word blocks (the synth documents table has
    no sentence marks); candidates = single words of length >= 3. The
    DuckDB oracle re-derives every feature in SQL (windowless self-join
    for DL/DR), so the oracle now certifies weighting.py itself (r02
    verdict next-step #2)."""
    from kargo_spark.weighting import top_k_terms, yake_scores

    d = _docs(spark, sf_dir)
    raw = F.filter(F.split(F.col("text"), r"[^a-zA-Z0-9]+"), lambda t: t != "")
    # persisted: both yake_scores inputs (the token stream and the
    # candidate set derived from it) consume this explode — one scan
    # instead of two (guide §1.2).
    tok = d.select("doc_id", F.posexplode(raw).alias("i", "word")).select(
        "doc_id",
        (F.floor(F.col("i") / 10) + 1).cast("int").alias("sentence_id"),
        ((F.col("i") % 10) + 1).cast("int").alias("token_id"),
        "word",
    ).persist()
    cands = tok.filter(F.length("word") >= 3).select(
        "doc_id",
        F.lower("word").alias("term"),
        F.lower("word").alias("lemma_term"),
    )
    scored = yake_scores(tok, cands).withColumn("score", F.round("score", 6))
    return top_k_terms(scored, k=5).select(
        "doc_id", F.col("ngram").alias("word"), "score", "rank"
    )


def q_terms_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terms-per-doc / words-per-term stats over the tf-idf top-5 terms
    (the reference's extracted-term summary tables, via
    weighting.terms_stats semantics — SQL-expressible rollup)."""
    from kargo_spark.weighting import terms_stats

    topk = q_tfidf_topk(spark, sf_dir).withColumnRenamed("word", "term")
    return terms_stats(topk)


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus summary stats per doc (get_summary corpus.py:603-669).
    Tokenizes once (see q_lang_quality)."""
    d = _docs(spark, sf_dir)
    base = d.select("doc_id", _toks(F.col("text")).alias("__t"))
    toks = F.col("__t")
    return base.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.round(
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
            / F.greatest(F.size(toks), F.lit(1)),
            4,
        ).alias("mean_word_len"),
    )


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour aggregation over the events table (batch analog of the
    streaming window agg; SURVEY §2.8 notes reference is batch-only)."""
    e = _read(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + gap>30min cumulative session ids per user."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) > 1800
    sess = F.sum(F.when(gap, 1).otherwise(0)).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        e.withColumn("session_id", sess)
        .groupBy("user_id")
        .agg(
            (F.max("session_id") + 1).alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Joins / set ops (SURVEY §2.3, §2.6)
# ---------------------------------------------------------------------------

def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (get_more_sample corpus.py:393-401 semantics): customers
    with no orders, counted per nation."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (get_documents_by_ids corpus.py:403-408): suppliers that
    ship any lineitem, per nation."""
    s = _read(spark, sf_dir, "supplier")
    li = _read(spark, sf_dir, "lineitem")
    return (
        s.join(li, s["s_suppkey"] == li["l_suppkey"], "left_semi")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (SURVEY §2.6): symmetric difference of the customer
    sets {has orders} vs {balance > 0}, counted per side — exceptAll shape
    (prediction doc-id set equality check, evaluation.py:30-37)."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    with_orders = c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select("c_custkey")
    positive = c.filter(F.col("c_acctbal") > 0).select("c_custkey")
    only_orders = with_orders.exceptAll(positive).select(
        F.lit("orders_only").alias("side"), "c_custkey"
    )
    only_positive = positive.exceptAll(with_orders).select(
        F.lit("positive_only").alias("side"), "c_custkey"
    )
    both = with_orders.intersect(positive).select(F.lit("both").alias("side"), "c_custkey")
    return (
        only_orders.unionByName(only_positive).unionByName(both)
        .groupBy("side")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by totalprice per customer (top-n window, terms.py:171
    shape) over TPC-H orders."""
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


# ---------------------------------------------------------------------------
# Relation pipeline ops (SURVEY §2.3 pair join, §2.4 triple dedup)
# ---------------------------------------------------------------------------

def _word_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", F.posexplode(_toks(F.col("text"))).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")


def q_cooc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-mention pairing with cooc_no ordinal (reconstructed relation
    semantics, SURVEY §2.3 'Term pairs'): mentions = words of length >= 6,
    pairs = consecutive mentions by position."""
    wp = _word_positions(spark, sf_dir).filter(F.length("word") >= 6)
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        wp.select(
            "doc_id",
            F.col("word").alias("head"),
            F.col("pos").alias("head_pos"),
            F.lead("word").over(w).alias("tail"),
        )
        .filter(F.col("tail").isNotNull())
        .withColumn("cooc_no", F.row_number().over(Window.partitionBy("doc_id").orderBy("head_pos")))
        .select("doc_id", "head", "tail", "cooc_no")
    )


def q_triples_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicated triple store with support (north_star triple dedup):
    (head, 'cooccurs_with', tail) aggregated over all pair occurrences."""
    p = q_cooc_pairs(spark, sf_dir)
    return (
        p.groupBy(F.col("head").alias("subj"), F.col("tail").alias("obj"))
        .agg(F.count(F.lit(1)).alias("support"), F.countDistinct("doc_id").alias("n_docs"))
        .withColumn("pred", F.lit("cooccurs_with"))
        .select("subj", "pred", "obj", "support", "n_docs")
    )


def q_graph_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-table materialization (north rule: triples -> graph tables):
    node table with hashed ids, in/out degree, and support rollups over
    the deduplicated triple store (kargo_spark.graph_store.graph_tables)."""
    from kargo_spark.graph_store import graph_tables

    nodes, _ = graph_tables(q_triples_agg(spark, sf_dir))
    return nodes


def _sparse_bigram_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram triple store with genuine degree VARIANCE for the 2-hop
    queries: words len>=4 (24-word vocab), lead-pairs, then keep only
    edges with support >= the 80th percentile — the synthetic corpus's
    full adjacency graph is saturated (every word neighbors every word,
    degree 24 flat), so an unsparsified store either survives any cutoff
    untouched or empties entirely (r04 ADVICE medium: the old query
    compared EMPTY result sets). After sparsification degrees span 1-9
    at sf0.001-0.01, so max_mid_degree=6 drops real hubs while rows
    survive. The global percentile window is demo plumbing over a
    vocab^2-bounded table, not a scale path."""
    wp = _word_positions(spark, sf_dir).filter(F.length("word") >= 4)
    w = Window.partitionBy("doc_id").orderBy("pos")
    trip0 = (
        wp.select("doc_id", F.col("word").alias("subj"),
                  F.lead("word").over(w).alias("obj"))
        .filter(F.col("obj").isNotNull())
        .groupBy("subj", "obj")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    thr = F.expr("percentile(support, 0.8)").over(Window.partitionBy())
    return (
        trip0.withColumn("__thr", thr)
        .filter(F.col("support") >= F.col("__thr"))
        .select("subj", F.lit("precedes").alias("pred"), "obj", "support")
    )


def q_graph_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop reachability over the sparsified bigram triple store (the
    downstream graph query the Iceberg graph tables serve) — WITH the
    hub-middle degree guard engaged (max_mid_degree=6) AND a non-empty
    surviving result, so the contract exercises the skew path that keeps
    a top-degree middle from squaring the self-join at corpus scale on
    data where the answer is actually checked (r04 ADVICE medium); the
    oracle replicates the sparsification and the degree cutoff."""
    from kargo_spark.graph_store import two_hop

    return two_hop(_sparse_bigram_triples(spark, sf_dir), max_mid_degree=6)


def q_graph_2hop_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same 2-hop semantics as ``graph_2hop`` but through the bucketed
    graph store (storage.write_bucketed: both join sides bucketed+sorted
    on the middle key) — the self-join runs with zero Exchange, and the
    query RAISES if the composed plan ever contains more than the one
    expected Exchange (the final aggregation). Certifies that the
    pay-the-shuffle-once table layout produces identical NON-EMPTY
    results to the plain path (shared oracle SQL)."""
    from kargo_spark.graph_store import two_hop_bucketed

    return two_hop_bucketed(
        _sparse_bigram_triples(spark, sf_dir), max_mid_degree=6,
        prefix="kargo_2hop_drv",
    )


def _phrase_mentions(spark: SparkSession, sf_dir: str, mod: int) -> DataFrame:
    """Trigram phrase mentions ("w1 w2 w3" over words len>=4, consecutive
    after the length filter) from the doc slice doc_id % 20 == mod —
    the shared input of the link_entities query (entities from slice 0,
    mentions from slice 1, so some mention norms are absent from the
    entity table and exercise the embedding / no-hit paths).
    widen: the explode feeding the per-doc window otherwise runs as ONE
    task on the single-row-group parquet (r06)."""
    d = widen(_docs(spark, sf_dir))
    wp = d.select(
        "doc_id", F.posexplode(_toks(F.col("text"))).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word").filter(
        (F.length("word") >= 4) & (F.col("doc_id") % 20 == mod)
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        wp.select(
            "doc_id",
            F.concat_ws(
                " ", "word", F.lead("word").over(w), F.lead("word", 2).over(w)
            ).alias("term"),
            F.lead("word", 2).over(w).alias("__w3"),
        )
        .filter(F.col("__w3").isNotNull())
        .select("doc_id", "term")
    )


def q_link_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity linking end-to-end (linking.canonical_entities +
    link_mentions), fully oracle-checked — the last pipeline stage that
    had neither oracle nor golden (r04 verdict next-step #3).

    Entities = canonical table over slice-0 phrase mentions; mentions =
    slice-1 phrases. Exact-normalized matches take the cheap equi-join
    path (link_sim = 1, kind 'exact'); the rest go through the
    md5-plane LSH-blocked cosine top-1 at threshold 0.55 — no
    achievable sim k/sqrt(m*n) sits near 0.55, so the cutoff is
    float-robust — (kind 'embedding') or stay unlinked (kind 'none'). The md5 hashing-trick embedder and
    rademacher_md5 planes make every step DuckDB-reproducible; phrases
    carry exactly 5 hashing features (3 tokens + 2 bigrams), so plane
    dots have odd integer numerators — never zero — and cosines come
    from the finite set k/sqrt(m*n) (k,m,n <= 5 ints), none within 1e-5
    of a 2-decimal rounding boundary (tests/test_clustering_linking.py
    asserts this), so round(sim, 2) is engine-portable."""
    from kargo_spark.linking import canonical_entities, link_mentions

    ents = canonical_entities(_phrase_mentions(spark, sf_dir, 0))
    mentions = _phrase_mentions(spark, sf_dir, 1)
    linked = link_mentions(
        mentions, ents, threshold=0.55, dim=64, n_planes=4, seed=7,
        lsh_dist="rademacher_md5",
    )
    return linked.select(
        "doc_id",
        "term",
        F.coalesce("entity_id", F.lit("")).alias("entity_id"),
        F.coalesce("link_kind", F.lit("none")).alias("link_kind"),
        F.round(F.coalesce("link_sim", F.lit(-1.0)), 2).alias("link_sim"),
    )


def q_merge_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental triple-store merge (graph_store.merge_triples): fold
    the odd-doc slice's triples into the even-doc slice's store —
    support accumulates for shared triples, unseen triples insert."""
    from kargo_spark.graph_store import merge_triples

    wp = _word_positions(spark, sf_dir).filter(F.length("word") >= 6)

    def _triples(df):
        w = Window.partitionBy("doc_id").orderBy("pos")
        p = df.select(
            "doc_id", F.col("word").alias("subj"),
            F.lead("word").over(w).alias("obj"),
        ).filter(F.col("obj").isNotNull())
        return p.groupBy("subj", "obj").agg(
            F.count(F.lit(1)).alias("support")
        ).select("subj", F.lit("cooccurs_with").alias("pred"), "obj", "support")

    existing = _triples(wp.filter(F.col("doc_id") % 2 == 0))
    new = _triples(wp.filter(F.col("doc_id") % 2 == 1))
    return merge_triples(existing, new)


def q_graph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS reachability counts over the triple-store graph
    (graph_store.k_hop_reach — iterative frontier joins with per-level
    dedup); oracle = DuckDB recursive CTE with UNION set semantics,
    depth-capped at 3."""
    from kargo_spark.graph_store import k_hop_reach

    edges = q_triples_agg(spark, sf_dir).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    return k_hop_reach(edges, k=3)


def q_pair_npmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NPMI association strength of term pairs sharing an 8-token
    sentence bucket (relations.pair_npmi) — the triple-confidence
    weighting between co-occurrence counting and the final store."""
    from kargo_spark.relations import pair_npmi

    d = widen(_docs(spark, sf_dir))
    occ = d.select(
        "doc_id", F.posexplode(_toks(F.col("text"))).alias("i", "word")
    ).filter(F.length("word") >= 5)
    occ = occ.select(
        "doc_id", F.floor(F.col("i") / 8).alias("sentence_id"),
        F.col("word").alias("term"),
    )
    out = pair_npmi(occ, min_pair_count=2)
    return out.select("a", "b", "n_ab", F.round("npmi", 6).alias("npmi"))


def _gold_terms(
    spark: SparkSession, sf_dir: str, alias: str,
    cands: DataFrame | None = None,
) -> DataFrame:
    """Distinct (doc_id, word of length >= 8) gold set — derived from the
    persisted candidate cache (its len>=3 multiset is a superset, and
    explode(array_distinct(toks)) filtered to len>=8 equals
    explode(toks).filter(len>=8).distinct()) instead of a fresh parquet
    scan+explode per eval part (r06: two scans removed from eval_suite)."""
    if cands is None:
        cands = _unigram_candidates(spark, sf_dir)
    return (
        cands.filter(F.length("term") >= 8)
        .select("doc_id", F.col("term").alias(alias))
        .distinct()
    )


def q_precision_at_k(
    spark: SparkSession, sf_dir: str, preds: DataFrame | None = None,
    cands: DataFrame | None = None,
) -> DataFrame:
    """P@k (evaluation.py:44-52): preds = tf-idf top-5 words per doc, gold =
    words of length >= 8 occurring in the doc; cumulative correct / k,
    averaged per k over docs (mean ± population σ, evaluation.py:84).

    ``preds`` lets q_eval_suite build the tf-idf ranker chain ONCE for
    both parts (r06: the duplicated build ran document_frequency's eager
    n_docs collect twice per suite invocation — pure Python/planning
    dedup, the executed union plan and rows are unchanged)."""
    if preds is None:
        preds = q_tfidf_topk(spark, sf_dir)
    gold = _gold_terms(spark, sf_dir, "word", cands=cands)
    marked = preds.join(
        gold.withColumn("is_correct", F.lit(1)), ["doc_id", "word"], "left"
    ).fillna({"is_correct": 0})
    w = Window.partitionBy("doc_id").orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    perdoc = marked.select(
        "doc_id", F.col("rank").alias("k"),
        (F.sum("is_correct").over(w) / F.col("rank")).alias("p"),
    )
    return perdoc.groupBy("k").agg(
        F.round(F.avg("p"), 6).alias("mean_precision"),
        F.round(F.coalesce(F.stddev_pop("p"), F.lit(0.0)), 6).alias("std_precision"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _two_method_preds(
    spark: SparkSession, sf_dir: str, tfidf_preds: DataFrame | None = None,
    cands: DataFrame | None = None,
) -> DataFrame:
    """Two ranked prediction lists per doc: tf-idf top-5 and raw-tf top-5.
    ``tfidf_preds``/``cands`` share one ranker/candidate build across
    eval parts (r06)."""
    if tfidf_preds is None:
        tfidf_preds = q_tfidf_topk(spark, sf_dir)
    tfidf = tfidf_preds.select(
        "doc_id", F.lit("tfidf").alias("method"), F.col("rank"), F.col("word").alias("term")
    )
    tf = _tf(spark, sf_dir, cands=cands)
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.col("word"))
    freq = (
        tf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("doc_id", F.lit("freq").alias("method"), "rank", F.col("word").alias("term"))
    )
    return tfidf.unionByName(freq)


def q_relative_recall(
    spark: SparkSession, sf_dir: str, preds: DataFrame | None = None,
    cands: DataFrame | None = None,
) -> DataFrame:
    """Pooled relative recall@k (evaluation.py:54-73): per (doc, k), each
    method's cumulative correct count over the distinct union of BOTH
    methods' correct terms at k. Gold = words of length >= 8 in the doc.
    Count-based formulation (predictions are distinct per method), so the
    cross-method pool is a distinct-count — no arrays, pure SQL shape.
    ``preds`` shares the two-method table built once by q_eval_suite."""
    if preds is None:
        preds = _two_method_preds(spark, sf_dir)
    gold = _gold_terms(spark, sf_dir, "term", cands=cands)
    marked = preds.join(
        gold.withColumn("is_correct", F.lit(1)), ["doc_id", "term"], "left"
    ).fillna({"is_correct": 0})
    w = Window.partitionBy("doc_id", "method").orderBy("rank") \
        .rowsBetween(Window.unboundedPreceding, 0)
    cum = marked.select(
        "doc_id", "method", F.col("rank").alias("k"), "term", "is_correct",
        F.sum("is_correct").over(w).alias("cum_correct"),
    )
    ks = spark.range(1, 6).select(F.col("id").cast("int").alias("k"))
    correct = marked.filter(F.col("is_correct") == 1).select("doc_id", "term", "rank")
    pool = (
        correct.join(ks, correct["rank"] <= ks["k"])
        .groupBy("doc_id", "k")
        .agg(F.countDistinct("term").alias("pool"))
    )
    out = (
        cum.join(pool, ["doc_id", "k"], "left")
        .select(
            "doc_id", "method", "k",
            F.round(
                F.when(F.col("pool") > 0, F.col("cum_correct") / F.col("pool"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("recall"),
        )
    )
    return out.groupBy("method", "k").agg(
        F.round(F.avg("recall"), 6).alias("mean_recall"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def q_merge_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-span overlap merge (terms.py:62-72) — spans synthesized from
    word positions: each mention word (len >= 6) at position p spawns the
    char-ish interval [2p, 2p+5]; merge overlapping per doc."""
    from kargo_spark.io_formats import merge_spans

    wp = _word_positions(spark, sf_dir).filter(F.length("word") >= 6)
    spans = wp.select(
        "doc_id", (F.col("pos") * 2).alias("begin"), (F.col("pos") * 2 + 5).alias("end")
    )
    return merge_spans(spans).select("doc_id", "begin", "end")


# ---------------------------------------------------------------------------
# Text analysis (training-pipeline ops)
# ---------------------------------------------------------------------------

def q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizes ONCE: the language/quality signal builders are
    interpreted higher-order functions with no cross-expression CSE, so
    passing the inline text column re-split every document once per
    reference (42 split() nodes in the r06 'before' plan, 1.8 s noop at
    sf0.1); the shared pre-projected array leaves one split (0.64 s),
    identical values."""
    from kargo_spark.textstats import _tokens, language_id, quality_score

    d = _docs(spark, sf_dir)
    base = d.select("doc_id", "text", _tokens(F.col("text")).alias("__t"))
    t = F.col("__t")
    q = quality_score(F.col("text"), toks=t)
    return base.select(
        "doc_id",
        language_id(F.col("text"), toks=t).alias("lang_pred"),
        F.round(q["mean_word_len"], 4).alias("mean_word_len"),
        F.round(q["stopword_ratio"], 4).alias("stopword_ratio"),
        F.round(q["alpha_ratio"], 4).alias("alpha_ratio"),
        F.round(q["quality"], 4).alias("quality"),
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kargo_spark.textstats import with_token_counts

    d = _docs(spark, sf_dir)
    return with_token_counts(d, "text").select("doc_id", "n_words", "n_tokens_bpe_est")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct 3-gram set.
    Tokenizes once (see q_lang_quality)."""
    d = _docs(spark, sf_dir)
    base = d.select("doc_id", _toks(F.col("text")).alias("__t"))
    t = F.col("__t")
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - 2, F.lit(1)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(t, i, 3), " "))
    return base.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(grams)), ",")).alias("fp"),
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join
    (kargo_spark.dedup.ngram_jaccard_pairs semantics, threshold 0.2).
    widen: the per-doc 3-gram derivation (split + sliding
    array_join) is the same signature-heavy shape as minhash/simhash —
    on the driver's single-row-group parquet it would otherwise run as
    ONE task (r06, closing the 'not yet optimized' item)."""
    d = widen(_docs(spark, sf_dir))
    toks = _toks(F.col("text"))
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1)))
    grams = F.array_distinct(F.transform(idx, lambda i: F.array_join(F.slice(toks, i, 3), " ")))
    sh = d.select(F.col("doc_id").alias("id"), F.explode(grams).alias("s"))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "s")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "ia").withColumnRenamed("sz", "sza"), "ia")
        .join(sizes.withColumnRenamed("id", "ib").withColumnRenamed("sz", "szb"), "ib")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= 0.2)
        .select(F.col("ia").alias("a"), F.col("ib").alias("b"), "jaccard")
    )


# ---------------------------------------------------------------------------
# Similarity search (embeddings table)
# ---------------------------------------------------------------------------

def q_neardup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup consolidation: exact n-gram Jaccard pairs (tau=0.2) →
    connected components (DataFrame min-label propagation) → min-id
    survivor per component. Oracle: recursive-CTE transitive closure."""
    from kargo_spark.dedup import neardup_keep

    d = _docs(spark, sf_dir)
    pairs = q_ngram_jaccard_pairs(spark, sf_dir).select("a", "b")
    return neardup_keep(d, pairs)


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per query (queries = vec_id < 5), cosine
    JVM-side via zip_with/aggregate — the ANN baseline."""
    from kargo_spark.similarity import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb.filter(F.col("vec_id") >= 5), queries, k=5)
    return out.select(
        "query_id", "nbr_id", F.round("cos", 4).alias("cos"), "rank"
    )


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector column aggregates: per label, count + mean L2 norm (rounded)."""
    emb = _read(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding").cast("array<double>"), F.lit(0.0), lambda a, v: a + v * v
        )
    )
    return (
        emb.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("norm"), 4).alias("mean_norm"))
    )


# ---------------------------------------------------------------------------
# Non-SQL-expressible ops (rows-only driver check)
# ---------------------------------------------------------------------------

def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs at tau=0.2. Banding is derived from the
    threshold (b=32, r=1 -> miss prob (1-J)^32 <= 0.08% at J=0.2) and the
    verify step is exact Jaccard, so the output equals ngram_jaccard_pairs
    at the same tau — which is the DuckDB oracle."""
    from kargo_spark.dedup import minhash_lsh_pairs

    d = widen(_docs(spark, sf_dir))
    # broadcast_verify: this driver corpus is <= 50k docs at every sf the
    # gate runs (sf0.001-1.0), so the map-side verify is safe and ~2.5x
    # faster; the library default stays lazy/sort-merge for real scale.
    return minhash_lsh_pairs(
        d, "text", "doc_id", jaccard_threshold=0.2, broadcast_verify=True
    ).select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming radius 8 through the library's
    block-combination banded join (full recall at the radius by
    pigeonhole — C(12,4) tables of >= 16-bit keys). Token hashes are
    md5-derived (dedup.md5_token_hash60) so DuckDB reproduces the exact
    simhash values and the oracle — an exact ALL-PAIRS Hamming join —
    certifies the banding's full-recall guarantee end to end (r02 left
    this rows-only because xxhash64 has no DuckDB twin). Zero-token docs
    are excluded on both sides (their simhash would be 0 = a spurious
    mutual match)."""
    from kargo_spark.dedup import md5_token_hash60, simhash_pairs

    d = widen(_docs(spark, sf_dir)).filter(F.size(_toks(F.col("text"))) > 0)
    return simhash_pairs(
        d, "text", "doc_id", max_hamming=8, token_hash=md5_token_hash60
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked cosine near-dup (the scale path). Probabilistic
    blocking -> no equality oracle; its exact counterpart
    ``embedding_neardup_exact`` IS oracle-checked, and the recall of this
    path against it is pytest-audited."""
    from kargo_spark.dedup import embedding_neardup_pairs

    # widen: single-row-group embeddings scan (see embedding_neardup_exact)
    emb = widen(_read(spark, sf_dir, "embeddings"))
    return embedding_neardup_pairs(emb, threshold=0.35, n_planes=4).select(
        "a", "b", F.round("cos", 4).alias("cos")
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN top-5 through the library path with md5-derived ±1
    hyperplanes (r04: moved from rows-only to fully oracle-checked — the
    DuckDB oracle rebuilds the 4x6 bucket tables, the candidate sets and
    the cosine re-rank; bucket quality itself is audited by
    recall_audit)."""
    from kargo_spark.similarity import lsh_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(
        emb.filter(F.col("vec_id") >= 5), queries, k=5, plane_dist="rademacher_md5"
    )
    return out.select("query_id", "nbr_id", F.round("cos", 4).alias("cos"), "rank")


def q_terms_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terms CSV sink shape (terms.py:26-34): per-doc rank-ordered
    '|'-joined top-5 tf-idf terms."""
    from kargo_spark.weighting import terms_csv_shape

    topk = q_tfidf_topk(spark, sf_dir).select(
        "doc_id", "rank", F.col("word").alias("term")
    )
    return terms_csv_shape(topk)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 through the library path with md5-ordered centroid
    sampling (r04: moved from rows-only to fully oracle-checked — the
    DuckDB oracle rebuilds the sample, the Lloyd step, the inverted
    lists, the 4-probe sets and the cosine re-rank)."""
    from kargo_spark.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(
        emb.filter(F.col("vec_id") >= 5), queries, k=5, n_centroids=8,
        sample_order="md5",
    )
    return out.select("query_id", "nbr_id", F.round("cos", 4).alias("cos"), "rank")


def q_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a first-class driver check (r03 verdict next-step
    #4): recall@5 of the LSH and IVF approximate paths against the exact
    cosine top-5, per query. Both approximate paths run in
    DuckDB-reproducible configurations — LSH with md5-derived ±1
    hyperplanes, IVF with md5-ordered centroid sampling — so the oracle
    independently rebuilds the buckets/centroids/probe sets AND the exact
    top-5, then recomputes the same recall numbers."""
    from kargo_spark.similarity import brute_force_topk, ivf_topk, lsh_topk

    # left alone (r06): a widen of this read AND a persist of `exact`
    # (consumed 3x) were both measured — each a wash-to-loss at this
    # query's size (its cost is per-path fixed jobs, not the scan; the
    # persist's materialization barrier cost more than the 3x n*5-cosine
    # recompute it saved)
    emb = _read(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 5)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(corpus, queries_df, k=5).select("query_id", "nbr_id")
    qids = queries_df.select("query_id")
    nex = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))

    def _recall(approx: DataFrame, variant: str) -> DataFrame:
        hit = approx.select("query_id", "nbr_id").join(
            exact.withColumn("__e", F.lit(1)), ["query_id", "nbr_id"], "left"
        )
        per = hit.groupBy("query_id").agg(
            F.sum(F.coalesce(F.col("__e"), F.lit(0))).alias("n_hit")
        )
        per = qids.join(per, "query_id", "left").fillna({"n_hit": 0})
        return per.join(nex, "query_id").select(
            F.lit(variant).alias("variant"),
            "query_id",
            F.col("n_hit").cast("long").alias("n_hit"),
            (F.col("n_hit") / F.col("n_exact")).alias("recall"),
        )

    lsh = lsh_topk(corpus, queries_df, k=5, plane_dist="rademacher_md5")
    ivf = ivf_topk(corpus, queries_df, k=5, n_centroids=8, sample_order="md5")
    return _recall(lsh, "lsh").unionByName(_recall(ivf, "ivf"))


def q_kg_pipeline_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full kargo_spark KG pipeline (mapInPandas NLP + candidate mining +
    tf-idf + pairs + triples) over the documents table re-shaped to the
    north-rule input schema."""
    from kargo_spark.pipeline import run_pipeline

    d = _docs(spark, sf_dir)
    src = d.select(
        F.concat(F.lit("org/repo-"), (F.col("doc_id") % 50).cast("string")).alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string"), F.lit(".md")).alias("path"),
        F.sha1(F.col("doc_id").cast("string")).alias("commit"),
        "lang",
        F.col("text").alias("content"),
    )
    out = run_pipeline(
        spark, src, None, ranker="tfidf", n_terms=10,
        cluster_relations=False, linking=False, resume=False,
    )
    return out["triples"].select("subj", "pred", "obj", "support")


def q_kg_pipeline_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-level hard gate for the flagship composite (r03 verdict
    next-step #2, driver-query half — the pytest half is
    tests/test_kg_pipeline_golden.py): run the FULL pipeline and reduce
    its triples to (count, orderless 48-bit-row-hash sum). The oracle for
    this query is a COMMITTED GOLDEN CONSTANT, not an independent
    derivation (the mapInPandas pipeline is not SQL-expressible — stated
    plainly so nobody mistakes this for a semantic oracle): any semantic
    drift in any stage flips the hash and fails the driver gate loudly
    instead of passing a rows-only count."""
    t = q_kg_pipeline_triples(spark, sf_dir)
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(chr(31), "subj", "pred", "obj", F.col("support").cast("string"))),
            1, 12,
        ),
        16, 10,
    ).cast("long")
    return t.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n_triples"), F.sum("h").alias("rowhash_sum")
    )


def q_transfer_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised relation typing (reference TransferRE — opennre
    model.infer over (text, head span, tail span) with a probability
    threshold) through the library's mapInPandas stage with the
    deterministic md5 stub model. Pairs here: the two alphabetically-first
    distinct words of length >= 6 per doc, spans located in the lowercased
    text — fully DuckDB-expressible, so the oracle certifies the whole
    batch-inference stage (span slicing, keying, thresholding)."""
    from kargo_spark.transfer_re import transfer_re

    wp = _word_positions(spark, sf_dir).filter(F.length("word") >= 6)
    dw = wp.select("doc_id", "word").distinct()
    w = Window.partitionBy("doc_id").orderBy("word")
    two = dw.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    pv = (
        two.groupBy("doc_id")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("word"))).alias("head"),
            F.min(F.when(F.col("rn") == 2, F.col("word"))).alias("tail"),
        )
        .filter(F.col("tail").isNotNull())
    )
    d = _docs(spark, sf_dir).select("doc_id", F.lower("text").alias("text"))
    pairs = (
        pv.join(d, "doc_id")
        .select(
            "doc_id",
            F.lit(0).cast("int").alias("sent_id"),
            F.lit(0).cast("int").alias("cooc_no"),
            "text",
            (F.expr("instr(text, head)") - 1).cast("long").alias("head_begin"),
            (F.expr("instr(text, head)") - 1 + F.length("head")).cast("long").alias("head_end"),
            (F.expr("instr(text, tail)") - 1).cast("long").alias("tail_begin"),
            (F.expr("instr(text, tail)") - 1 + F.length("tail")).cast("long").alias("tail_end"),
        )
    )
    return transfer_re(pairs, prob_threshold=0.5).select(
        "doc_id", "sent_id", "cooc_no", "relation",
        F.round("prob", 4).alias("prob"), "head_words", "tail_words",
    )


def q_embedrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EmbedRank MMR through the LIBRARY path (embedrank.embedrank_scores —
    reference terms.py:184-235: hashing-embedder doc/candidate vectors,
    beta=0.55 MMR). Oracle pinning (the simhash/singlerank device):
    candidates = distinct words of length >= 4, which embed to exactly
    ±e_{md5 % 64} under the md5-derived hashing embedder, so candidate
    similarity and doc relevance are DuckDB-reproducible and the 3-round
    MMR selection loop SQL-unrolls. Alias collapse runs at its DEFAULT
    threshold (0.7) and is oracle-certified too: single-token candidate
    sims are exactly {-1, 0, 1}, so the greedy rep chain degenerates to
    grouping by (bucket, sign) — rep = first of the class in
    (relevance, term) order, the rest become its '|'-joined aliases."""
    from kargo_spark.embedrank import embedrank_scores

    d = _docs(spark, sf_dir).select("doc_id", F.col("text").alias("content"))
    w = d.select(
        "doc_id", F.explode(F.array_distinct(_toks(F.col("content")))).alias("word")
    ).filter(F.length("word") >= 4)
    cands = w.select(
        "doc_id", F.col("word").alias("lemma_term"), F.col("word").alias("term")
    )
    return embedrank_scores(d, cands, n=3)


def q_topic_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TopicRank through the LIBRARY path (graph_rank.topic_rank — pke
    TopicRank, main.py:129-135): per-doc topic graph weighted by inverse
    occurrence-offset distance, topic PageRank, first-occurring candidate
    per topic scored. Oracle pinning: single-word candidates make every
    topic a singleton (word-overlap Jaccard between distinct words is 0 <
    0.25), so the topic graph IS the candidate graph, and iters=3/tol=0
    SQL-unrolls the power iteration (singlerank precedent)."""
    from kargo_spark.graph_rank import topic_rank

    d = _docs(spark, sf_dir)
    occ = d.select(
        "doc_id", F.posexplode(_toks(F.col("text"))).alias("i", "word")
    ).filter(F.length("word") >= 6)
    cands = occ.select(
        "doc_id",
        F.col("word").alias("lemma_term"),
        F.col("word").alias("term"),
        F.col("i").cast("long").alias("offset_begin"),
    )
    return topic_rank(cands, iters=3, tol=0.0).select(
        "doc_id", "ngram", "term", F.round("score", 6).alias("score")
    )


def q_corpus_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level term-co-occurrence PageRank (north_star: per-partition
    contributions merged each iteration) through the LIBRARY path —
    cooccurrence_edges (sentence-sharing candidate pairs with occurrence
    multiplicity) + the salted distributed_pagerank kernel. Oracle
    pinning: sentence buckets of 8 tokens + words >= 5 chars are pure
    Column ops, and iters=3 SQL-unrolls (word_pagerank precedent — this
    query additionally certifies the cooccurrence_edges builder)."""
    from kargo_spark.graph_rank import cooccurrence_edges, distributed_pagerank

    d = widen(_docs(spark, sf_dir))
    tok = d.select(
        "doc_id", F.posexplode(_toks(F.col("text"))).alias("i", "word")
    ).filter(F.length("word") >= 5)
    cands = tok.select(
        "doc_id",
        F.floor(F.col("i") / 8).alias("sentence_id"),
        F.col("word").alias("lemma_term"),
    )
    return distributed_pagerank(cooccurrence_edges(cands), iters=3).select(
        "ngram", F.round("score", 6).alias("score")
    )


def q_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_summary parity rollup through the LIBRARY path
    (corpus.corpus_summary — reference corpus.py:603-669: per-doc sentence
    / POS / NER / lemma counts). Oracle pinning: the token table is
    SQL-shaped — md5-derived POS tag, planted B-<type> NER on long words,
    strip-trailing-s lemma, 10-token sentences — so the rollup itself
    (sentence NE flags, POS class sums, distinct-lemma counts) is
    DuckDB-certified; the heuristic mapInPandas annotator keeps its pytest
    + kg_pipeline coverage."""
    from kargo_spark.corpus import corpus_summary

    d = _docs(spark, sf_dir)
    w = d.select("doc_id", F.posexplode(_toks(F.col("text"))).alias("i", "word"))
    h = F.conv(F.substring(F.md5(F.col("word")), 1, 4), 16, 10).cast("long")
    pos_arr = F.array(*[F.lit(p) for p in ("NOUN", "VERB", "ADJ", "PROPN", "ADV", "DET")])
    ner_arr = F.array(*[F.lit(t) for t in ("ORG", "LOC", "PER")])
    tokens = w.select(
        "doc_id",
        (F.floor(F.col("i") / 10) + 1).alias("sentence_id"),
        F.col("i").alias("token_id"),
        "word",
        F.element_at(pos_arr, (h % 6 + 1).cast("int")).alias("pos"),
        F.when(
            F.length("word") >= 10,
            F.concat(F.lit("B-"), F.element_at(ner_arr, (h % 3 + 1).cast("int"))),
        ).otherwise(F.lit("O")).alias("ner"),
        F.regexp_replace("word", "s$", "").alias("lemma"),
    )
    doc_stats, _, _ = corpus_summary(tokens)
    return doc_stats


def q_lda_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LDA topic assignment (topic_modeling.py:66-92 semantics, seeded).

    Never spread this one: pyspark.ml's online LDA samples per partition,
    so the seeded topic assignment — pinned by the committed sf0.001
    golden — is partition-layout-sensitive.
    """
    from kargo_spark.topics import topic_model

    d = _docs(spark, sf_dir).select("doc_id", F.col("text").alias("content"))
    doc_topics, _ = topic_model(d, k=5, min_df=2.0, max_iter=10)
    return doc_topics.select("doc_id", "topic_id")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media → mapInPandas feature extraction. The synthetic payload
    (repeat(sha256, 8)) and kind selector (media_id % 3) are deterministic
    and SQL-expressible, so n_bytes/sha are DuckDB-oracle-checked — the
    decode stub's float features stay pytest-only."""
    from kargo_spark.multimodal import extract_features, synth_media
    from kargo_spark.skew import size_bucketed

    media = synth_media(spark, n=64)
    feats = extract_features(size_bucketed(media, "data"))
    return feats.select("media_id", "kind", "n_bytes", "sha")


def q_embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs (the parity baseline for the LSH-blocked
    ``embedding_neardup``): all-pairs cosine >= 0.35 over the embeddings
    table. O(n²) on purpose — correctness oracle, not the scale path.
    widen: the nested-loop join streams the single-row-group embeddings
    scan, so the whole O(n²) interpreted-HOF cosine ran on ONE task
    (r06: noop 54.9 -> ~4 s at sf0.1)."""
    from kargo_spark.dedup import embedding_pairs_exact

    emb = widen(_read(spark, sf_dir, "embeddings"))
    return embedding_pairs_exact(emb, threshold=0.35).select(
        "a", "b", F.round("cos", 4).alias("cos")
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: documents sharing any word 4-gram with
    the held-out 'benchmark' slice (doc_id % 17 == 0) are flagged with
    overlap counts. Inverted-index + broadcast join — the n-gram-overlap
    rule big-LM training pipelines run before training. hashed=True (the
    documented 100-TB configuration): join keys are 64-bit token-gram
    hashes built without materializing shingle strings; n_hits/n_bench
    counts equal the oracle's string-gram counts modulo ~2^-64 collisions."""
    from kargo_spark.dedup import contamination_flags

    d = widen(_docs(spark, sf_dir))
    bench = d.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    corpus = d.filter(F.col("doc_id") % 17 != 0)
    return contamination_flags(corpus, bench, n=4, hashed=True)


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher/C4-style keep decision (textstats.quality_filter):
    word-count bounds, mean-word-length band, stopword and alpha ratios,
    repetition caps — with per-rule booleans so drops are explainable.
    Every signal is an exact integer-count rational, so the oracle's
    threshold comparisons are engine-portable."""
    from kargo_spark.textstats import _tokens, quality_filter

    d = widen(_docs(spark, sf_dir))
    # tokenize once (see q_lang_quality): the composite filter's quality
    # + repetition signals otherwise re-split the text ~10x
    d = d.select("doc_id", "text", _tokens(F.col("text")).alias("__t"))
    qf = quality_filter(F.col("text"), toks=F.col("__t"))
    return d.select(
        "doc_id",
        qf["words_ok"].alias("words_ok"),
        qf["word_len_ok"].alias("word_len_ok"),
        qf["stopword_ok"].alias("stopword_ok"),
        qf["alpha_ok"].alias("alpha_ok"),
        qf["repetition_ok"].alias("repetition_ok"),
        qf["keep"].alias("keep"),
    )


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mix downsampling (corpus.domain_mix): keep
    en fully, halve de, quarter fr, 10% es, drop zh — md5-derived per-row
    coin so the exact kept set is SQL-reproducible."""
    from kargo_spark.corpus import domain_mix

    d = _docs(spark, sf_dir)
    out = domain_mix(d, {"en": 1.0, "de": 0.5, "fr": 0.25, "es": 0.1}, key_col="lang")
    return out.select("doc_id", "lang")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 128-token training examples over 8
    md5 doc-id groups (packing.pack_sequences) — the oracle replays the
    greedy first-fit-in-order loop with a recursive CTE, checking the
    exact bin assignment of every document."""
    from kargo_spark.packing import pack_sequences

    d = _docs(spark, sf_dir)
    return pack_sequences(d, budget=128, n_groups=8)


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition signals (duplicate-word /
    duplicate-3-gram fractions, top-word share) — pure Column codegen."""
    from kargo_spark.textstats import _tokens, repetition_signals

    d = _docs(spark, sf_dir)
    # tokenize once (see q_lang_quality) — the repetition signals
    # reference the token array five times
    base = d.select("doc_id", "text", _tokens(F.col("text")).alias("__t"))
    r = repetition_signals(F.col("text"), toks=F.col("__t"))
    return base.select(
        "doc_id",
        r["n_words"].alias("n_words"),
        F.round(r["dup_word_ratio"], 6).alias("dup_word_ratio"),
        F.round(r["dup_3gram_ratio"], 6).alias("dup_3gram_ratio"),
        F.round(r["top_word_ratio"], 6).alias("top_word_ratio"),
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with a deterministic planted PII suffix
    (so every row exercises the email/ssn/ip/phone rules): typed counts +
    md5 of the redacted text. Pure Column regexp codegen."""
    from kargo_spark.textstats import redact_pii

    d = _docs(spark, sf_dir)
    planted = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ssn 123-45-6789 or +1 555 010 0199 host 10.0.0."),
        (F.col("doc_id") % 255).cast("string"),
    )
    r = redact_pii(planted)
    return d.select(
        "doc_id",
        r["n_email"].cast("long").alias("n_email"),
        r["n_ssn"].cast("long").alias("n_ssn"),
        r["n_ipv4"].cast("long").alias("n_ipv4"),
        r["n_phone"].cast("long").alias("n_phone"),
        F.md5(r["redacted"]).alias("redacted_md5"),
    )


def q_singlerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SingleRank through the LIBRARY path (graph_rank.single_rank — pke
    SingleRank, main.py:123-128): per-doc window-10 co-occurrence graph,
    weighted PageRank, candidate score = its word's rank. Pinning
    (iters=3, tol=0) makes the per-doc power iteration SQL-unrollable, so
    the DuckDB oracle certifies the shipped applyInArrow ranker (r02
    verdict next-step #8 — moves a per-doc graph ranker from rows-only to
    oracle-checked). Every token gets candidate POS so the graph covers
    the full word stream; candidates = words of length >= 3."""
    from kargo_spark.graph_rank import single_rank

    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.posexplode(_toks(F.col("text"))).alias("i", "word")
    ).select(
        "doc_id",
        F.lit(1).alias("sentence_id"),
        F.col("i").alias("token_id"),
        "word",
        F.lit("NOUN").alias("pos"),
    )
    cands = tok.filter(F.length("word") >= 3).select(
        "doc_id", F.col("word").alias("lemma_term"), F.col("word").alias("term")
    )
    out = single_rank(tok, cands, window=10, iters=3, tol=0.0)
    return out.select(
        "doc_id", F.col("ngram").alias("word"), F.round("score", 6).alias("score")
    )


def q_word_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed corpus PageRank over the adjacent-word co-occurrence
    graph (same salted per-partition-merged kernel as ``corpus_pagerank``,
    but with a pure-Column edge builder so the whole query — graph build +
    3 power iterations — is DuckDB-oracle-checkable)."""
    from kargo_spark.graph_rank import distributed_pagerank

    d = widen(_docs(spark, sf_dir))
    w = d.select("doc_id", F.posexplode(_toks(F.col("text"))).alias("pos", "word"))
    nxt = w.withColumn(
        "nxt", F.lead("word").over(Window.partitionBy("doc_id").orderBy("pos"))
    )
    edges = (
        nxt.filter(F.col("nxt").isNotNull() & (F.col("word") != F.col("nxt")))
        .select(F.least("word", "nxt").alias("src"), F.greatest("word", "nxt").alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    return distributed_pagerank(edges, iters=3).select(
        "ngram", F.round("score", 6).alias("score")
    )


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Tagged union suites.
#
# The driver's correctness gate checks AT MOST ~50 queries, in dict order
# (CORRECTNESS_r04 contains exactly the first 50 of 58 contract keys —
# r04 verdict next-step #1). Rather than let 8 queries fall off the end
# invisibly, closely-related queries are consolidated into tagged UNION
# suites with a unified schema: each former query survives verbatim as a
# `part` of its suite (same library calls, same oracle SQL wrapped as a
# tagged subquery), and the whole contract fits in 50 driver-visible
# keys. Column casts exist only to unify part schemas; values are
# untouched.
# ---------------------------------------------------------------------------

def q_set_relalg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """anti_join + semi_join + set_ops as one tagged suite:
    (part, k, n) where k is the former group key rendered as a string."""
    a = q_anti_join(spark, sf_dir).select(
        F.lit("anti_join").alias("part"),
        F.col("c_nationkey").cast("string").alias("k"),
        F.col("n_customers").alias("n"),
    )
    s = q_semi_join(spark, sf_dir).select(
        F.lit("semi_join").alias("part"),
        F.col("s_nationkey").cast("string").alias("k"),
        F.col("n_suppliers").alias("n"),
    )
    o = q_set_ops(spark, sf_dir).select(
        F.lit("set_ops").alias("part"), F.col("side").alias("k"), F.col("n")
    )
    return a.unionByName(s).unionByName(o)


def q_docterm_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_stats + terms_stats: (part, doc_id, n, v1, v2)."""
    d = q_doc_stats(spark, sf_dir).select(
        F.lit("doc_stats").alias("part"), "doc_id",
        F.col("n_words").alias("n"),
        F.col("n_distinct").cast("double").alias("v1"),
        F.col("mean_word_len").alias("v2"),
    )
    t = q_terms_stats(spark, sf_dir).select(
        F.lit("terms_stats").alias("part"), "doc_id",
        F.col("n_terms").alias("n"),
        F.col("mean_words_per_term").alias("v1"),
        F.col("mean_term_chars").alias("v2"),
    )
    return d.unionByName(t)


def q_events_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_window + sessionize: (part, k1, k2, n, v)."""
    e = q_events_window(spark, sf_dir).select(
        F.lit("events_window").alias("part"),
        F.col("hour_epoch").alias("k1"), F.col("event_type").alias("k2"),
        F.col("n"), F.col("total_value").alias("v"),
    )
    s = q_sessionize(spark, sf_dir).select(
        F.lit("sessionize").alias("part"),
        F.col("user_id").alias("k1"), F.lit("").alias("k2"),
        F.col("n_sessions").alias("n"),
        F.col("n_events").cast("double").alias("v"),
    )
    return e.unionByName(s)


def q_eval_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """precision_at_k + relative_recall: (part, method, k, mean_val,
    std_val, n_docs) — relative_recall has no std, pinned 0.0.

    The tf-idf prediction chain is built ONCE and shared lazily by both
    parts (r06, second iteration). An earlier variant that additionally
    PERSISTED the shared preds+gold measured a wash (the persists force
    materializing columns count-pruning would skip) and was rejected; the
    kept form adds no persist — the executed union plan and its rows are
    identical to the unshared composition — but halves the Python build
    of the ranker DSL and runs document_frequency's eager n_docs collect
    once per suite invocation instead of twice (the build phase was
    ~2.0 s of the suite's ~3.5 s bench wall: measured /tmp decomposition,
    jobs launched during construction). gold and raw-tf now also derive
    from the persisted candidate cache instead of fresh parquet
    scans+explodes (see _gold_terms / _tf)."""
    cands = _unigram_candidates(spark, sf_dir)
    tfidf_preds = q_tfidf_topk(spark, sf_dir, cands=cands)
    p = q_precision_at_k(
        spark, sf_dir, preds=tfidf_preds, cands=cands
    ).select(
        F.lit("precision_at_k").alias("part"), F.lit("").alias("method"),
        "k", F.col("mean_precision").alias("mean_val"),
        F.col("std_precision").alias("std_val"), "n_docs",
    )
    r = q_relative_recall(
        spark, sf_dir, cands=cands,
        preds=_two_method_preds(spark, sf_dir, tfidf_preds, cands=cands),
    ).select(
        F.lit("relative_recall").alias("part"), "method",
        "k", F.col("mean_recall").alias("mean_val"),
        F.lit(0.0).alias("std_val"), "n_docs",
    )
    return p.unionByName(r)


def q_textstats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token_counts + fingerprint + lang_quality in long form:
    (part, doc_id, k, v_str, v_num) — one row per former cell, so every
    value of every part is hash-compared without schema contortions."""
    tc = q_token_counts(spark, sf_dir).selectExpr(
        "'token_counts' AS part", "doc_id",
        "stack(2, 'n_words', cast(n_words AS double), "
        "'n_tokens_bpe_est', cast(n_tokens_bpe_est AS double)) AS (k, v_num)",
    ).select("part", "doc_id", "k", F.lit("").alias("v_str"), "v_num")
    fp = q_fingerprint(spark, sf_dir).select(
        F.lit("fingerprint").alias("part"), "doc_id", F.lit("fp").alias("k"),
        F.col("fp").alias("v_str"), F.lit(0.0).alias("v_num"),
    )
    # ONE lang_quality evaluation (r05 verdict what's-wrong #4: the old
    # two-branch union scanned and re-derived lang_quality twice): the
    # narrow 6-column result is persisted and both the numeric-stack
    # branch and the lang_pred string branch read the cache. A stack(5)
    # folding lang_pred INTO the generator was tried and rejected — the
    # Generate node evaluates the heavy language_id/quality expression
    # trees interpreted (no whole-stage codegen), measured 2.7 s vs this
    # shape's ~1.3 s at sf0.1; keeping the heavy exprs in a codegen'd
    # Project and stacking only cached scalars gets one evaluation AND
    # codegen.
    lq0 = q_lang_quality(spark, sf_dir).persist()
    lq = lq0.selectExpr(
        "'lang_quality' AS part", "doc_id",
        "stack(4, 'mean_word_len', mean_word_len, 'stopword_ratio', stopword_ratio, "
        "'alpha_ratio', alpha_ratio, 'quality', quality) AS (k, v_num)",
    ).select(
        "part", "doc_id", "k", F.lit("").alias("v_str"), "v_num"
    ).unionByName(
        lq0.select(
            F.lit("lang_quality").alias("part"), "doc_id",
            F.lit("lang_pred").alias("k"),
            F.col("lang_pred").alias("v_str"), F.lit(0.0).alias("v_num"),
        )
    )
    return tc.unionByName(fp).unionByName(lq)


def q_graph_2hop_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline-substrate path (r04 verdict next-step #2, driver-visible):
    storage.write_graph_bucketed persists the triple store with
    two_hop_ready hop tables (hub guard applied at WRITE time), then
    graph_store.two_hop_from_store serves the query off the persisted
    tables — RAISING if the hop join plans any Exchange beyond the final
    aggregation. Same oracle rows as the plain/bucketed parts."""
    from kargo_spark.graph_store import two_hop_from_store
    from kargo_spark.storage import write_graph_bucketed

    write_graph_bucketed(
        spark, _sparse_bigram_triples(spark, sf_dir),
        prefix="kargo_store_drv", two_hop_ready=True, max_mid_degree=6,
    )
    return two_hop_from_store(spark, "kargo_store_drv")


def q_graph_2hop_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph_2hop (plain) + graph_2hop_bucketed + the persisted-store
    serving path as one suite: all three parts must hash-match the SAME
    oracle rows, which certifies plain/bucketed/stored value parity
    inside the driver gate itself. The bucketed and stored parts still
    RAISE if their plans shuffle the join."""
    p = q_graph_2hop(spark, sf_dir).withColumn("part", F.lit("plain"))
    b = q_graph_2hop_bucketed(spark, sf_dir).withColumn("part", F.lit("bucketed"))
    s = q_graph_2hop_stored(spark, sf_dir).withColumn("part", F.lit("stored"))
    return (
        p.unionByName(b).unionByName(s)
        .select("part", "src", "dst", "n_paths", "path_support")
    )


def q_ann_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_lsh + ann_ivf: (part, query_id, nbr_id, cos, rank)."""
    l = q_ann_lsh(spark, sf_dir).withColumn("part", F.lit("lsh"))
    i = q_ann_ivf(spark, sf_dir).withColumn("part", F.lit("ivf"))
    return l.unionByName(i).select("part", "query_id", "nbr_id", "cos", "rank")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # EXACTLY 50 keys: the driver correctness gate checks at most ~50
    # queries in dict order (r04 evidence), so the contract is
    # consolidated to fit — 46 fully oracle-backed queries first, then
    # the 4 structurally rows-only/golden ones. Former standalone
    # queries live on as parts of the *_suite entries (see the suite
    # docstrings); their library code paths and oracle SQL are unchanged.
    return {
        "docs_clean": q_docs_clean,
        "dedup_exact": q_dedup_exact,
        "hash_split": q_hash_split,
        "doc_frequency": q_doc_frequency,
        "tfidf_topk": q_tfidf_topk,
        "kpminer_topk": q_kpminer_topk,
        "yake_topk": q_yake_topk,
        "docterm_stats_suite": q_docterm_stats_suite,
        "events_suite": q_events_suite,
        "set_relalg_suite": q_set_relalg_suite,
        "topk_window": q_topk_window,
        "cooc_pairs": q_cooc_pairs,
        "triples_agg": q_triples_agg,
        "graph_nodes": q_graph_nodes,
        "graph_2hop_suite": q_graph_2hop_suite,
        "graph_khop": q_graph_khop,
        "pair_npmi": q_pair_npmi,
        "merge_triples": q_merge_triples,
        "link_entities": q_link_entities,
        "eval_suite": q_eval_suite,
        "textstats_suite": q_textstats_suite,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "neardup_keep": q_neardup_keep,
        "ann_bruteforce": q_ann_bruteforce,
        "ann_suite": q_ann_suite,
        "recall_audit": q_recall_audit,
        "embedding_stats": q_embedding_stats,
        "embedding_neardup_exact": q_embedding_neardup_exact,
        "word_pagerank": q_word_pagerank,
        "decontaminate": q_decontaminate,
        "quality_filter": q_quality_filter,
        "domain_mix": q_domain_mix,
        "pack_sequences": q_pack_sequences,
        "repetition_stats": q_repetition_stats,
        "pii_redact": q_pii_redact,
        "terms_csv": q_terms_csv,
        "merge_spans": q_merge_spans,
        "minhash_neardup": q_minhash_neardup,
        "multimodal_features": q_multimodal_features,
        "transfer_relations": q_transfer_relations,
        "singlerank": q_singlerank,
        "simhash_neardup": q_simhash_neardup,
        "embedrank": q_embedrank,
        "topic_rank": q_topic_rank,
        "corpus_pagerank": q_corpus_pagerank,
        "corpus_summary": q_corpus_summary,
        # rows-only (no SQL oracle): embedding_neardup is probabilistic
        # blocking with an oracle-checked exact twin; kg_pipeline_triples
        # is pinned to a committed golden snapshot
        # (tests/test_kg_pipeline_golden.py); lda_topics is seeded
        # pyspark.ml LDA (EM path, not SQL-expressible).
        "embedding_neardup": q_embedding_neardup,
        "kg_pipeline_triples": q_kg_pipeline_triples,
        "lda_topics": q_lda_topics,
        # golden-constant gate (oracle = committed snapshot, NOT an
        # independent derivation - see the query docstring):
        "kg_pipeline_golden": q_kg_pipeline_golden,
    }


_TOKS_SQL = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"


def _LE64(md5_expr: str) -> str:
    """DuckDB expression: little-endian uint64 of the first 8 bytes of an
    md5 hex string — ``int.from_bytes(md5(x).digest()[:8], 'little')``,
    the exact integer embedding._hash_token derives (the byte pairs of the
    hex string are reversed, then parsed as one 16-hex-digit UBIGINT)."""
    rev = " || ".join(f"substring(({md5_expr}), {i}, 2)" for i in (15, 13, 11, 9, 7, 5, 3, 1))
    return f"CAST('0x' || {rev} AS UBIGINT)"


def oracle_sql() -> dict[str, str]:
    toks = _TOKS_SQL
    word_pos = f"""
        SELECT doc_id, unnest({toks}) AS word,
               unnest(range(1, len({toks}) + 1)) AS pos
        FROM documents
    """
    # tfidf mirrors the LIBRARY semantics (weighting.document_frequency +
    # tfidf_scores over unigram candidates): df and N both come from the
    # candidate table, so N = #docs owning at least one length>=3 word.
    tfidf = f"""
        WITH tf AS (
            SELECT doc_id, word, count(*) AS tf
            FROM (SELECT doc_id, unnest({toks}) AS word FROM documents)
            WHERE length(word) >= 3 GROUP BY doc_id, word
        ), dfreq AS (
            SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY word
        ), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
        scored AS (
            SELECT tf.doc_id, tf.word,
                   round(tf.tf * log2(n.n_docs / dfreq.df::DOUBLE), 6) AS score
            FROM tf JOIN dfreq USING (word) CROSS JOIN n
        ), ranked AS (
            SELECT doc_id, word, score,
                   row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rank
            FROM scored
        )
        SELECT doc_id, word, score, rank FROM ranked WHERE rank <= 5
    """
    cooc = f"""
        WITH wp AS ({word_pos}),
        mentions AS (SELECT doc_id, word, pos FROM wp WHERE length(word) >= 6),
        led AS (
            SELECT doc_id, word AS head, pos AS head_pos,
                   lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS tail
            FROM mentions
        )
        SELECT doc_id, head, tail,
               row_number() OVER (PARTITION BY doc_id ORDER BY head_pos) AS cooc_no
        FROM led WHERE tail IS NOT NULL
    """
    grams3 = (
        f"list_transform(range(1, greatest(len({toks}) - 2, 1) + 1), "
        f"i -> array_to_string(({toks})[i:i+2], ' '))"
    )
    # textstats._tokens keeps apostrophes ([^a-z0-9']+) — the lang_quality
    # oracle must tokenize identically or mean_word_len/stopword_ratio
    # diverge on apostrophe-bearing text (ADVICE r01, low #2).
    toks_ap = "list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '')"
    lang_case_scores = []
    from kargo_spark.textstats import _LANG_MARKERS  # marker lists shared

    for lang, markers in _LANG_MARKERS.items():
        inlist = ", ".join(f"'{m}'" for m in markers)
        lang_case_scores.append(
            f"len(list_filter({toks_ap}, x -> x IN ({inlist})))"
            f" / greatest(len({toks_ap}), 1)::DOUBLE AS s_{lang}"
        )
    lang_scores_sql = ",\n               ".join(lang_case_scores)
    stop_in = ", ".join(
        f"'{s}'" for s in (
            "the a an and or but of to in on at for with from by as is are was were "
            "be been it its this that these those they their we you he she not no"
        ).split()
    )
    # --- shared ANN fragments (ann_lsh / ann_ivf / recall_audit): corpus
    # + query views, md5-plane LSH buckets (4 tables x 6 planes, seed
    # 42+101*t, sign = low bit of md5(f"{seed}:{plane}:{dim}")[0]) and
    # md5-sampled IVF centroids (256-row md5-ordered sample, 8 init rows
    # by smallest md5(f"42:{i}")[:8], one Lloyd step, normalize,
    # cosine-assign, 4-probe)
    ann_core = """corpus AS (
                SELECT vec_id AS nbr_id, embedding::DOUBLE[] AS cv
                FROM embeddings WHERE vec_id >= 5
            ),
            queries AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 5
            ),
            dims AS (SELECT unnest(range(1, 65)) AS j)"""
    ann_lsh_ctes = """planes AS (
                SELECT t.t, p.p, d.j,
                       CASE WHEN (CAST('0x' || substring(md5(
                                (42 + 101 * t.t)::VARCHAR || ':' || p.p::VARCHAR
                                || ':' || (d.j - 1)::VARCHAR), 1, 1) AS INT) & 1) = 1
                            THEN 1.0 ELSE -1.0 END AS w
                FROM (SELECT unnest(range(0, 4)) AS t) t,
                     (SELECT unnest(range(0, 6)) AS p) p,
                     dims d
            ),
            cbits AS (
                SELECT c.nbr_id, pl.t, pl.p,
                       CASE WHEN sum(c.cv[pl.j] * pl.w) >= 0 THEN '1' ELSE '0' END AS bit
                FROM corpus c, planes pl GROUP BY 1, 2, 3
            ),
            cbuckets AS (
                SELECT nbr_id, t, string_agg(bit, '' ORDER BY p) AS bucket
                FROM cbits GROUP BY 1, 2
            ),
            qbits AS (
                SELECT q.query_id, pl.t, pl.p,
                       CASE WHEN sum(q.qv[pl.j] * pl.w) >= 0 THEN '1' ELSE '0' END AS bit
                FROM queries q, planes pl GROUP BY 1, 2, 3
            ),
            qbuckets AS (
                SELECT query_id, t, string_agg(bit, '' ORDER BY p) AS bucket
                FROM qbits GROUP BY 1, 2
            ),
            lsh_cand AS (
                SELECT DISTINCT q.query_id, c.nbr_id
                FROM cbuckets c JOIN qbuckets q ON c.t = q.t AND c.bucket = q.bucket
            )"""
    ann_ivf_ctes = """samp AS (
                SELECT nbr_id, cv, i FROM (
                    SELECT nbr_id, cv,
                           row_number() OVER (ORDER BY md5('42:' || nbr_id::VARCHAR)) - 1 AS i
                    FROM corpus
                ) WHERE i < 256
            ),
            init AS (
                SELECT hr - 1 AS cid, cv FROM (
                    SELECT s.cv,
                           row_number() OVER (
                               ORDER BY CAST('0x' || substring(md5('42:' || s.i::VARCHAR), 1, 8) AS BIGINT), s.i
                           ) AS hr
                    FROM samp s
                ) WHERE hr <= 8
            ),
            sdot AS (
                SELECT s.i, ic.cid, sum(s.cv[d.j] * ic.cv[d.j]) AS dot
                FROM samp s, init ic, dims d GROUP BY 1, 2
            ),
            sassign AS (
                SELECT i, cid FROM (
                    SELECT i, cid,
                           row_number() OVER (PARTITION BY i ORDER BY dot DESC, cid) AS rn
                    FROM sdot
                ) WHERE rn = 1
            ),
            cmean AS (
                SELECT a.cid, d.j, avg(s.cv[d.j]) AS v
                FROM sassign a JOIN samp s USING (i), dims d GROUP BY 1, 2
            ),
            craw AS (
                SELECT ic.cid, d.j, coalesce(cm.v, ic.cv[d.j]) AS v
                FROM init ic CROSS JOIN dims d
                LEFT JOIN cmean cm ON cm.cid = ic.cid AND cm.j = d.j
            ),
            cnorm AS (SELECT cid, sqrt(sum(v * v)) AS nv FROM craw GROUP BY 1),
            cents AS (
                SELECT c.cid, c.j, c.v / greatest(n.nv, 1e-9) AS v
                FROM craw c JOIN cnorm n USING (cid)
            ),
            centn AS (SELECT cid, sqrt(sum(v * v)) AS n2 FROM cents GROUP BY 1),
            adot AS (
                SELECT c.nbr_id, ct.cid, sum(c.cv[ct.j] * ct.v) AS dot
                FROM corpus c, cents ct GROUP BY 1, 2
            ),
            aassign AS (
                SELECT nbr_id, cid FROM (
                    SELECT a.nbr_id, a.cid,
                           row_number() OVER (
                               PARTITION BY a.nbr_id ORDER BY a.dot / cn.n2 DESC, a.cid
                           ) AS rn
                    FROM adot a JOIN centn cn USING (cid)
                ) WHERE rn = 1
            ),
            qdot AS (
                SELECT q.query_id, ct.cid, sum(q.qv[ct.j] * ct.v) AS dot
                FROM queries q, cents ct GROUP BY 1, 2
            ),
            qprobe AS (
                SELECT query_id, cid FROM (
                    SELECT qd.query_id, qd.cid,
                           row_number() OVER (
                               PARTITION BY qd.query_id ORDER BY qd.dot / cn.n2 DESC, qd.cid
                           ) AS rn
                    FROM qdot qd JOIN centn cn USING (cid)
                ) WHERE rn <= 4
            )"""
    out = {
        "docs_clean": f"""
            SELECT doc_id,
                   right(md5(doc_id::VARCHAR), 6) AS doc_hex,
                   sha256(text) AS content_sha,
                   lang, source,
                   len({toks})::BIGINT AS n_words
            FROM documents WHERE length(trim(text)) > 0
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS keep_id, count(*) AS dup_count
            FROM (SELECT doc_id, sha256(text) AS h FROM documents) GROUP BY h
        """,
        "hash_split": """
            SELECT CASE WHEN CAST('0x' || substring(md5(doc_id::VARCHAR || '#split'), 1, 4) AS BIGINT) % 100 < 20
                        THEN 'dev' ELSE 'test' END AS split,
                   count(*) AS n
            FROM documents GROUP BY 1
        """,
        "doc_frequency": f"""
            SELECT word, count(DISTINCT doc_id) AS df
            FROM (SELECT doc_id, unnest(list_distinct({toks})) AS word FROM documents)
            GROUP BY word HAVING count(DISTINCT doc_id) >= 2
        """,
        "tfidf_topk": tfidf,
        "kpminer_topk": f"""
            WITH wp AS ({word_pos}),
            cands AS (
                SELECT doc_id, word AS term, 1 AS n_words, pos
                FROM wp WHERE length(word) >= 3
                UNION ALL
                SELECT a.doc_id, a.word || ' ' || b.word AS term, 2 AS n_words, a.pos
                FROM wp a JOIN wp b
                  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                WHERE length(a.word) >= 3 AND length(b.word) >= 3
            ),
            tf AS (
                SELECT doc_id, term, count(*) AS tf, min(pos) AS first_pos
                FROM cands GROUP BY doc_id, term
            ),
            nw AS (
                SELECT doc_id, count(*) AS n_all,
                       sum(CASE WHEN n_words > 1 THEN 1 ELSE 0 END) AS n_multi
                FROM cands GROUP BY doc_id
            ),
            dfreq AS (
                SELECT term, count(DISTINCT doc_id) AS df FROM cands GROUP BY term
            ),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM cands),
            scored AS (
                SELECT tf.doc_id, tf.term AS word,
                       round(tf.tf
                             * least(nw.n_all / (greatest(nw.n_multi, 1) * 2.3), 3.0)
                             * log2(n.n_docs / dfreq.df::DOUBLE), 6) AS score
                FROM tf
                JOIN dfreq USING (term) JOIN nw USING (doc_id) CROSS JOIN n
                WHERE tf.tf >= 2 AND tf.first_pos <= 200
            ),
            ranked AS (
                SELECT doc_id, word, score,
                       row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rank
                FROM scored
            )
            SELECT doc_id, word, score, rank FROM ranked WHERE rank <= 5
        """,
        "yake_topk": """
            WITH rawtoks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
                                   x -> x <> '') AS arr
                FROM documents
            ),
            tok AS (
                SELECT doc_id, unnest(arr) AS wo,
                       unnest(range(0, len(arr))) AS i
                FROM rawtoks
            ),
            tok2 AS (
                SELECT doc_id, wo, lower(wo) AS wl, i,
                       (i // 10) + 1 AS sid, (i % 10) + 1 AS tid
                FROM tok
            ),
            wstats AS (
                SELECT doc_id, wl, count(*) AS tf,
                       quantile_cont(i, 0.5) AS med,
                       count(DISTINCT sid) AS nsw,
                       sum(CASE WHEN upper(wo) = wo AND lower(wo) <> wo
                                     AND length(wo) > 1
                                THEN 1 ELSE 0 END) AS tfa,
                       sum(CASE WHEN NOT (upper(wo) = wo AND lower(wo) <> wo
                                          AND length(wo) > 1)
                                     AND substring(wo, 1, 1) BETWEEN 'A' AND 'Z'
                                     AND tid > 1
                                THEN 1 ELSE 0 END) AS tfu
                FROM tok2 GROUP BY doc_id, wl
            ),
            ctx AS (
                SELECT a.doc_id, a.wl,
                       count(DISTINCT CASE WHEN b.i < a.i THEN b.wl END) AS ldis,
                       count(CASE WHEN b.i < a.i THEN 1 END) AS ltot,
                       count(DISTINCT CASE WHEN b.i > a.i THEN b.wl END) AS rdis,
                       count(CASE WHEN b.i > a.i THEN 1 END) AS rtot
                FROM tok2 a JOIN tok2 b
                  ON a.doc_id = b.doc_id
                 AND b.i BETWEEN a.i - 2 AND a.i + 2 AND b.i <> a.i
                GROUP BY a.doc_id, a.wl
            ),
            dstats AS (
                SELECT doc_id, avg(tf) AS mean_f,
                       coalesce(stddev_pop(tf), 0.0) AS std_f0,
                       max(tf) AS max_f
                FROM wstats GROUP BY doc_id
            ),
            nsents AS (
                SELECT doc_id, greatest(max(sid), 1) AS n_sents
                FROM tok2 GROUP BY doc_id
            ),
            ws AS (
                SELECT w.doc_id, w.wl AS word, w.tf,
                       ln(ln(3.0 + w.med)) AS t_pos,
                       greatest(w.tfu, w.tfa) / (1.0 + ln(w.tf)) AS t_case,
                       w.tf / (d.mean_f + CASE WHEN d.std_f0 = 0 THEN 1.0
                                               ELSE d.std_f0 END) AS t_fnorm,
                       1.0 + (CASE WHEN coalesce(c.ltot, 0) > 0
                                   THEN c.ldis / c.ltot::DOUBLE ELSE 0.0 END
                              + CASE WHEN coalesce(c.rtot, 0) > 0
                                     THEN c.rdis / c.rtot::DOUBLE ELSE 0.0 END)
                             * w.tf / d.max_f AS t_rel,
                       w.nsw / n.n_sents::DOUBLE AS t_sent
                FROM wstats w
                JOIN dstats d USING (doc_id) JOIN nsents n USING (doc_id)
                LEFT JOIN ctx c ON c.doc_id = w.doc_id AND c.wl = w.wl
            ),
            wsc AS (
                SELECT doc_id, word, tf,
                       t_pos * t_rel
                       / (t_case + t_fnorm / t_rel + t_sent / t_rel) AS s
                FROM ws
            ),
            scored AS (
                SELECT doc_id, word,
                       round(-(s / (tf * (1 + s))), 6) AS score
                FROM wsc WHERE length(word) >= 3
            ),
            ranked AS (
                SELECT doc_id, word, score,
                       row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rank
                FROM scored
            )
            SELECT doc_id, word, score, rank FROM ranked WHERE rank <= 5
        """,
        "terms_stats": f"""
            WITH topk AS ({tfidf})
            SELECT doc_id, count(*) AS n_terms,
                   round(avg(len(string_split(word, ' '))), 4) AS mean_words_per_term,
                   round(avg(length(word)), 4) AS mean_term_chars
            FROM topk GROUP BY doc_id
        """,
        "doc_stats": f"""
            SELECT doc_id,
                   len({toks})::BIGINT AS n_words,
                   len(list_distinct({toks}))::BIGINT AS n_distinct,
                   round(list_sum(list_transform({toks}, t -> length(t)))
                         / greatest(len({toks}), 1)::DOUBLE, 4) AS mean_word_len
            FROM documents
        """,
        "events_window": """
            SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch, event_type,
                   count(*) AS n, round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "sessionize": """
            WITH gaps AS (
                SELECT user_id, event_id,
                       CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
                FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id,
                       sum(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
                FROM gaps
            )
            SELECT user_id, (max(session_id) + 1)::BIGINT AS n_sessions, count(*) AS n_events
            FROM sess GROUP BY user_id
        """,
        "anti_join": """
            SELECT c_nationkey, count(*) AS n_customers
            FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            GROUP BY c_nationkey
        """,
        "semi_join": """
            SELECT s_nationkey, count(*) AS n_suppliers
            FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem)
            GROUP BY s_nationkey
        """,
        "set_ops": """
            WITH with_orders AS (
                SELECT c_custkey FROM customer
                WHERE c_custkey IN (SELECT o_custkey FROM orders)
            ), positive AS (
                SELECT c_custkey FROM customer WHERE c_acctbal > 0
            ),
            sides AS (
                SELECT 'orders_only' AS side, c_custkey FROM
                    (SELECT * FROM with_orders EXCEPT ALL SELECT * FROM positive)
                UNION ALL
                SELECT 'positive_only' AS side, c_custkey FROM
                    (SELECT * FROM positive EXCEPT ALL SELECT * FROM with_orders)
                UNION ALL
                SELECT 'both' AS side, c_custkey FROM
                    (SELECT * FROM with_orders INTERSECT SELECT * FROM positive)
            )
            SELECT side, count(*) AS n FROM sides GROUP BY side
        """,
        "topk_window": """
            SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey) AS rank
                FROM orders
            ) WHERE rank <= 3
        """,
        "cooc_pairs": cooc,
        "triples_agg": f"""
            WITH pairs AS ({cooc})
            SELECT head AS subj, 'cooccurs_with' AS pred, tail AS obj,
                   count(*) AS support, count(DISTINCT doc_id) AS n_docs
            FROM pairs GROUP BY head, tail
        """,
        "graph_2hop": f"""
            WITH wp AS ({word_pos}),
            m AS (SELECT doc_id, word, pos FROM wp WHERE length(word) >= 4),
            led AS (
                SELECT doc_id, word AS subj,
                       lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS obj
                FROM m
            ),
            trip0 AS (
                SELECT subj, obj, count(*) AS support
                FROM led WHERE obj IS NOT NULL GROUP BY subj, obj
            ),
            trip AS (
                SELECT subj, obj, support FROM trip0
                WHERE support >= (SELECT quantile_cont(support, 0.8) FROM trip0)
            ),
            hot AS (
                SELECT subj AS mid FROM trip GROUP BY subj HAVING count(*) > 6
            ),
            t1 AS (
                SELECT subj AS src, obj AS mid, support AS s1 FROM trip
                WHERE obj NOT IN (SELECT mid FROM hot)
            ),
            t2 AS (
                SELECT subj AS mid, obj AS dst, support AS s2 FROM trip
                WHERE subj NOT IN (SELECT mid FROM hot)
            )
            SELECT src, dst, count(DISTINCT mid) AS n_paths,
                   sum(least(s1, s2))::BIGINT AS path_support
            FROM t1 JOIN t2 USING (mid) WHERE src <> dst
            GROUP BY src, dst
        """,
        "merge_triples": f"""
            WITH wp AS ({word_pos}),
            m AS (
                SELECT doc_id, word, pos FROM wp WHERE length(word) >= 6
            ),
            led AS (
                SELECT doc_id, word AS subj,
                       lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS obj
                FROM m
            ),
            sliced AS (
                SELECT (doc_id % 2) AS slice, subj, obj, count(*) AS support
                FROM led WHERE obj IS NOT NULL GROUP BY 1, 2, 3
            )
            SELECT subj, 'cooccurs_with' AS pred, obj,
                   sum(support)::BIGINT AS support
            FROM sliced GROUP BY subj, obj
        """,
        # --- link_entities: full rebuild of linking.canonical_entities +
        # link_mentions — normalize (strip-s), entity ids (md5 tail-12),
        # exact equi-join path, then for misses the md5 hashing-trick
        # embedder (seed 7: bucket = LE64(md5('7:'||feat)) % 64, sign =
        # bit 62), rademacher_md5 planes (3 tables x 4 planes, seed
        # 7+31t), bucket-blocked cosine, threshold 0.55, top-1 by
        # round(sim,4) DESC then entity_id.
        "link_entities": f"""
            WITH wp AS ({word_pos}),
            m AS (
                SELECT doc_id, word, pos FROM wp
                WHERE length(word) >= 4 AND doc_id % 20 IN (0, 1)
            ),
            ph0 AS (
                SELECT doc_id, (doc_id % 20) AS slice,
                       word || ' ' || lead(word) OVER w || ' ' ||
                           lead(word, 2) OVER w AS term,
                       lead(word, 2) OVER w AS w3
                FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ),
            ph AS (SELECT doc_id, slice, term FROM ph0 WHERE w3 IS NOT NULL),
            norms AS (
                SELECT term,
                       array_to_string(list_transform(
                           string_split(regexp_replace(lower(trim(term)), '\\s+', ' ', 'g'), ' '),
                           w -> CASE WHEN length(w) > 3 AND right(w, 1) = 's'
                                          AND right(w, 2) <> 'ss'
                                     THEN left(w, length(w) - 1) ELSE w END
                       ), ' ') AS norm
                FROM (SELECT DISTINCT term FROM ph)
            ),
            ents AS (
                SELECT norm, substring(md5(norm), 21, 12) AS entity_id
                FROM (
                    SELECT DISTINCT n.norm FROM ph p JOIN norms n USING (term)
                    WHERE p.slice = 0
                )
            ),
            mrows AS (
                SELECT p.doc_id, p.term, n.norm
                FROM ph p JOIN norms n USING (term) WHERE p.slice = 1
            ),
            missnorm AS (
                SELECT DISTINCT norm FROM mrows
                WHERE norm NOT IN (SELECT norm FROM ents)
            ),
            fsrc AS (
                SELECT norm, 'm' AS side FROM missnorm
                UNION ALL SELECT norm, 'e' FROM ents
            ),
            feat AS (
                SELECT side, norm,
                       unnest(list_concat(ws,
                           list_transform(range(1, len(ws)), i -> ws[i] || '_' || ws[i + 1])
                       )) AS f
                FROM (SELECT side, norm, string_split(norm, ' ') AS ws FROM fsrc)
            ),
            comp AS (
                SELECT side, norm, (h % 64)::INT AS b,
                       sum(CASE WHEN (h >> 62) & 1 = 1 THEN 1 ELSE -1 END) AS s
                FROM (SELECT side, norm, {_LE64("md5('7:' || f)")} AS h FROM feat)
                GROUP BY 1, 2, 3
            ),
            vnorm AS (
                SELECT side, norm, sqrt(sum(s * s)) AS vn FROM comp GROUP BY 1, 2
            ),
            lplanes AS (
                SELECT t.t, p.p, d.j,
                       CASE WHEN (CAST('0x' || substring(md5(
                                (7 + 31 * t.t)::VARCHAR || ':' || p.p::VARCHAR
                                || ':' || d.j::VARCHAR), 1, 1) AS INT) & 1) = 1
                            THEN 1 ELSE -1 END AS w
                FROM (SELECT unnest(range(0, 3)) AS t) t,
                     (SELECT unnest(range(0, 4)) AS p) p,
                     (SELECT unnest(range(0, 64)) AS j) d
            ),
            bits AS (
                SELECT c.side, c.norm, pl.t, pl.p,
                       CASE WHEN sum(c.s * pl.w) >= 0 THEN '1' ELSE '0' END AS bit
                FROM comp c JOIN lplanes pl ON pl.j = c.b
                GROUP BY 1, 2, 3, 4
            ),
            bkt AS (
                SELECT side, norm, t, string_agg(bit, '' ORDER BY p) AS bucket
                FROM bits GROUP BY 1, 2, 3
            ),
            cand AS (
                SELECT DISTINCT mb.norm AS mnorm, eb.norm AS enorm
                FROM bkt mb JOIN bkt eb ON mb.t = eb.t AND mb.bucket = eb.bucket
                WHERE mb.side = 'm' AND eb.side = 'e'
            ),
            sims AS (
                SELECT c.mnorm, c.enorm,
                       coalesce(sum(cm.s * ce.s), 0) / (vm.vn * ve.vn) AS sim
                FROM cand c
                JOIN vnorm vm ON vm.side = 'm' AND vm.norm = c.mnorm
                JOIN vnorm ve ON ve.side = 'e' AND ve.norm = c.enorm
                JOIN comp cm ON cm.side = 'm' AND cm.norm = c.mnorm
                LEFT JOIN comp ce ON ce.side = 'e' AND ce.norm = c.enorm
                                 AND ce.b = cm.b
                GROUP BY c.mnorm, c.enorm, vm.vn, ve.vn
            ),
            best AS (
                SELECT mnorm, entity_id, sim FROM (
                    SELECT s.mnorm, e.entity_id, s.sim,
                           row_number() OVER (PARTITION BY s.mnorm
                               ORDER BY round(s.sim, 4) DESC, e.entity_id) AS rn
                    FROM sims s JOIN ents e ON e.norm = s.enorm
                    WHERE s.sim >= 0.55
                ) WHERE rn = 1
            )
            SELECT r.doc_id, r.term, e.entity_id, 'exact' AS link_kind,
                   1.0::DOUBLE AS link_sim
            FROM mrows r JOIN ents e USING (norm)
            UNION ALL
            SELECT r.doc_id, r.term,
                   coalesce(b.entity_id, '') AS entity_id,
                   CASE WHEN b.entity_id IS NOT NULL THEN 'embedding'
                        ELSE 'none' END AS link_kind,
                   coalesce(round(b.sim, 2), -1.0::DOUBLE) AS link_sim
            FROM mrows r LEFT JOIN best b ON b.mnorm = r.norm
            WHERE r.norm NOT IN (SELECT norm FROM ents)
        """,
        "graph_khop": f"""
            WITH RECURSIVE pairs AS ({cooc}),
            e AS (SELECT DISTINCT head AS src, tail AS dst FROM pairs),
            r AS (
                SELECT src AS start, dst AS node, 1 AS d FROM e
                UNION
                SELECT r.start, e2.dst AS node, r.d + 1 AS d
                FROM r JOIN e e2 ON e2.src = r.node WHERE r.d < 3
            )
            SELECT start, count(DISTINCT node) AS n_reach
            FROM r WHERE start <> node GROUP BY start
        """,
        "pair_npmi": f"""
            WITH occ AS (
                SELECT DISTINCT doc_id, (pos - 1) // 8 AS sid, word AS t
                FROM ({word_pos}) WHERE length(word) >= 5
            ),
            uni AS (SELECT t, count(*) AS n_t FROM occ GROUP BY t),
            pair AS (
                SELECT a.t AS a, b.t AS b, count(*) AS n_ab
                FROM occ a JOIN occ b
                  ON a.doc_id = b.doc_id AND a.sid = b.sid AND a.t < b.t
                GROUP BY 1, 2 HAVING count(*) >= 2
            ),
            nn AS (SELECT count(*)::DOUBLE AS n FROM (SELECT DISTINCT doc_id, sid FROM occ))
            SELECT p.a, p.b, p.n_ab,
                   round(CASE WHEN p.n_ab = (SELECT n FROM nn) THEN 1.0
                         ELSE ln((p.n_ab / (SELECT n FROM nn))
                                 / ((ua.n_t / (SELECT n FROM nn))
                                    * (ub.n_t / (SELECT n FROM nn))))
                              / -ln(p.n_ab / (SELECT n FROM nn)) END, 6) AS npmi
            FROM pair p JOIN uni ua ON ua.t = p.a JOIN uni ub ON ub.t = p.b
        """,
        "graph_nodes": f"""
            WITH pairs AS ({cooc}),
            trip AS (
                SELECT head AS subj, 'cooccurs_with' AS pred, tail AS obj,
                       count(*) AS support
                FROM pairs GROUP BY head, tail
            ),
            outd AS (
                SELECT lower(subj) AS surface, count(*)::BIGINT AS out_degree,
                       sum(support)::BIGINT AS out_support
                FROM trip GROUP BY 1
            ),
            ind AS (
                SELECT lower(obj) AS surface, count(*)::BIGINT AS in_degree,
                       sum(support)::BIGINT AS in_support
                FROM trip GROUP BY 1
            )
            SELECT right(md5(surface), 12) AS node_id, surface,
                   coalesce(out_degree, 0) AS out_degree,
                   coalesce(in_degree, 0) AS in_degree,
                   coalesce(out_degree, 0) + coalesce(in_degree, 0) AS degree,
                   coalesce(out_support, 0) + coalesce(in_support, 0) AS total_support
            FROM outd FULL OUTER JOIN ind USING (surface)
        """,
        "precision_at_k": f"""
            WITH preds AS ({tfidf}),
            gold AS (
                SELECT DISTINCT doc_id, word
                FROM (SELECT doc_id, unnest(list_distinct({toks})) AS word FROM documents)
                WHERE length(word) >= 8
            ),
            marked AS (
                SELECT p.doc_id, p.rank AS k,
                       CASE WHEN g.word IS NOT NULL THEN 1 ELSE 0 END AS is_correct
                FROM preds p LEFT JOIN gold g ON p.doc_id = g.doc_id AND p.word = g.word
            ),
            perdoc AS (
                SELECT doc_id, k,
                       sum(is_correct) OVER (PARTITION BY doc_id ORDER BY k
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE / k AS p
                FROM marked
            )
            SELECT k, round(avg(p), 6) AS mean_precision,
                   round(coalesce(stddev_pop(p), 0.0), 6) AS std_precision,
                   count(*) AS n_docs
            FROM perdoc GROUP BY k
        """,
        "lang_quality": f"""
            WITH scores AS (
                SELECT doc_id, text,
                       {lang_scores_sql},
                       list_sum(list_transform({toks_ap}, t -> length(t)))
                           / greatest(len({toks_ap}), 1)::DOUBLE AS mwl,
                       len(list_filter({toks_ap}, x -> x IN ({stop_in})))
                           / greatest(len({toks_ap}), 1)::DOUBLE AS swr,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                           / greatest(length(text), 1)::DOUBLE AS ar
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN s_en = 0 AND s_es = 0 AND s_fr = 0 AND s_de = 0 THEN 'und'
                        WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                        WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                        WHEN s_fr >= s_de THEN 'fr'
                        ELSE 'de' END AS lang_pred,
                   round(mwl, 4) AS mean_word_len,
                   round(swr, 4) AS stopword_ratio,
                   round(ar, 4) AS alpha_ratio,
                   round(((CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1 ELSE 0 END)
                        + (CASE WHEN swr >= 0.05 THEN 1 ELSE 0 END)
                        + (CASE WHEN ar >= 0.6 THEN 1 ELSE 0 END)
                        + (CASE WHEN length(trim(text)) > 0 THEN 1 ELSE 0 END)) / 4.0, 4) AS quality
            FROM scores
        """,
        "token_counts": f"""
            SELECT doc_id,
                   len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> ''))::BIGINT AS n_words,
                   ceil(length(text) / 4.0)::BIGINT AS n_tokens_bpe_est
            FROM documents
        """,
        "fingerprint": f"""
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct({grams3})), ',')) AS fp
            FROM documents
        """,
        # minhash_neardup: banding derived from tau gives ~full recall and
        # exact-Jaccard verify gives full precision, so the LSH output must
        # equal the exact inverted-index join at the same threshold.
        "minhash_neardup": f"""
            WITH sh AS (
                SELECT doc_id AS id, unnest(list_distinct({grams3})) AS s FROM documents
            ), sizes AS (
                SELECT id, count(*) AS sz FROM sh GROUP BY id
            ), inter AS (
                SELECT a.id AS ia, b.id AS ib, count(*) AS inter
                FROM sh a JOIN sh b USING (s) WHERE a.id < b.id GROUP BY a.id, b.id
            )
            SELECT ia AS a, ib AS b,
                   round(inter / (sza.sz + szb.sz - inter)::DOUBLE, 6) AS jaccard
            FROM inter
            JOIN sizes sza ON sza.id = ia
            JOIN sizes szb ON szb.id = ib
            WHERE inter / (sza.sz + szb.sz - inter)::DOUBLE >= 0.2
        """,
        "ngram_jaccard_pairs": f"""
            WITH sh AS (
                SELECT doc_id AS id, unnest(list_distinct({grams3})) AS s FROM documents
            ), sizes AS (
                SELECT id, count(*) AS sz FROM sh GROUP BY id
            ), inter AS (
                SELECT a.id AS ia, b.id AS ib, count(*) AS inter
                FROM sh a JOIN sh b USING (s) WHERE a.id < b.id GROUP BY a.id, b.id
            )
            SELECT ia AS a, ib AS b,
                   round(inter / (sza.sz + szb.sz - inter)::DOUBLE, 6) AS jaccard
            FROM inter
            JOIN sizes sza ON sza.id = ia
            JOIN sizes szb ON szb.id = ib
            WHERE inter / (sza.sz + szb.sz - inter)::DOUBLE >= 0.2
        """,
        "relative_recall": f"""
            WITH tfidf AS ({tfidf}),
            tf AS (
                SELECT doc_id, word, count(*) AS tf
                FROM (SELECT doc_id, unnest({toks}) AS word FROM documents)
                WHERE length(word) >= 3 GROUP BY doc_id, word
            ),
            freq AS (
                SELECT doc_id, 'freq' AS method, rank, word AS term FROM (
                    SELECT doc_id, word,
                           row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, word) AS rank
                    FROM tf
                ) WHERE rank <= 5
            ),
            preds AS (
                SELECT doc_id, 'tfidf' AS method, rank, word AS term FROM tfidf
                UNION ALL SELECT * FROM freq
            ),
            gold AS (
                SELECT DISTINCT doc_id, word AS term
                FROM (SELECT doc_id, unnest(list_distinct({toks})) AS word FROM documents)
                WHERE length(word) >= 8
            ),
            marked AS (
                SELECT p.doc_id, p.method, p.rank, p.term,
                       CASE WHEN g.term IS NOT NULL THEN 1 ELSE 0 END AS is_correct
                FROM preds p LEFT JOIN gold g ON p.doc_id = g.doc_id AND p.term = g.term
            ),
            cum AS (
                SELECT doc_id, method, rank AS k,
                       sum(is_correct) OVER (PARTITION BY doc_id, method ORDER BY rank
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_correct
                FROM marked
            ),
            ks AS (SELECT unnest(range(1, 6))::INT AS k),
            pool AS (
                SELECT m.doc_id, ks.k, count(DISTINCT m.term) AS pool
                FROM marked m JOIN ks ON m.rank <= ks.k
                WHERE m.is_correct = 1
                GROUP BY m.doc_id, ks.k
            ),
            rec AS (
                SELECT cum.doc_id, cum.method, cum.k,
                       round(CASE WHEN pool.pool > 0 THEN cum.cum_correct::DOUBLE / pool.pool
                                  ELSE 0.0 END, 6) AS recall
                FROM cum LEFT JOIN pool ON cum.doc_id = pool.doc_id AND cum.k = pool.k
            )
            SELECT method, k, round(avg(recall), 6) AS mean_recall, count(*) AS n_docs
            FROM rec GROUP BY method, k
        """,
        "merge_spans": f"""
            WITH wp AS ({word_pos}),
            spans AS (
                SELECT doc_id, pos * 2 AS begin, pos * 2 + 5 AS "end"
                FROM wp WHERE length(word) >= 6
            ),
            flagged AS (
                SELECT doc_id, begin, "end",
                       CASE WHEN begin > coalesce(max("end") OVER (PARTITION BY doc_id
                            ORDER BY begin, "end" ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                            THEN 1 ELSE 0 END AS new_group
                FROM spans
            ),
            grouped AS (
                SELECT doc_id, begin, "end",
                       sum(new_group) OVER (PARTITION BY doc_id ORDER BY begin, "end"
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
                FROM flagged
            )
            SELECT doc_id, min(begin) AS begin, max("end") AS "end"
            FROM grouped GROUP BY doc_id, grp
        """,
        "neardup_keep": f"""
            WITH RECURSIVE sh AS (
                SELECT doc_id AS id, unnest(list_distinct({grams3})) AS s FROM documents
            ), sizes AS (
                SELECT id, count(*) AS sz FROM sh GROUP BY id
            ), inter AS (
                SELECT a.id AS ia, b.id AS ib, count(*) AS inter
                FROM sh a JOIN sh b USING (s) WHERE a.id < b.id GROUP BY a.id, b.id
            ), pairs AS (
                SELECT ia AS a, ib AS b
                FROM inter
                JOIN sizes sza ON sza.id = ia
                JOIN sizes szb ON szb.id = ib
                WHERE inter / (sza.sz + szb.sz - inter)::DOUBLE >= 0.2
            ), sym AS (
                SELECT a AS src, b AS dst FROM pairs
                UNION
                SELECT b AS src, a AS dst FROM pairs
            ), reach(a, b) AS (
                SELECT src, dst FROM sym
                UNION
                SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
            ), comp AS (
                SELECT a AS doc_id, least(a, min(b)) AS rep FROM reach GROUP BY a
            )
            SELECT d.doc_id,
                   coalesce(c.rep, d.doc_id) AS rep,
                   (coalesce(c.rep, d.doc_id) = d.doc_id) AS keep
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        """,
        "ann_bruteforce": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS nbr_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
            scored AS (
                SELECT query_id, nbr_id, list_cosine_similarity(qv, cv) AS cos
                FROM c CROSS JOIN q
            ), ranked AS (
                SELECT query_id, nbr_id, cos,
                       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS rank
                FROM scored
            )
            SELECT query_id, nbr_id, round(cos, 4) AS cos, rank FROM ranked WHERE rank <= 5
        """,
        "embedding_stats": """
            SELECT label, count(*) AS n,
                   round(avg(sqrt(list_sum(list_transform(embedding::DOUBLE[], v -> v * v)))), 4) AS mean_norm
            FROM embeddings GROUP BY label
        """,
        "embedding_neardup_exact": """
            WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT a.id AS a, b.id AS b,
                   round(list_cosine_similarity(a.v, b.v), 4) AS cos
            FROM e a JOIN e b ON a.id < b.id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.35
        """,
        "multimodal_features": """
            WITH m AS (
                SELECT t.range AS media_id,
                       repeat(sha256('media' || t.range), 8) AS payload
                FROM range(64) t
            )
            SELECT media_id,
                   (['image','audio','video'])[(media_id % 3 + 1)] AS kind,
                   length(payload)::BIGINT AS n_bytes,
                   sha256(payload) AS sha
            FROM m
        """,
        "decontaminate": f"""
            WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
            sh AS (
                SELECT doc_id, unnest(
                    CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
                         ELSE list_distinct(list_transform(
                             range(1, len(toks) - 4 + 2),
                             i -> array_to_string(toks[i:i+3], ' ')))
                    END) AS s
                FROM t
            ),
            bench AS (SELECT DISTINCT doc_id AS bench_id, s FROM sh WHERE doc_id % 17 = 0),
            corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 17 <> 0)
            SELECT c.doc_id,
                   count(DISTINCT c.s) AS n_hits,
                   count(DISTINCT b.bench_id) AS n_bench
            FROM corp c JOIN bench b USING (s)
            GROUP BY c.doc_id
        """,
        "repetition_stats": f"""
            WITH base AS (
                SELECT doc_id, {toks_ap} AS toks,
                       len({toks_ap}) AS n,
                       list_transform(range(1, greatest(len({toks_ap}) - 2, 1) + 1),
                                      i -> array_to_string(({toks_ap})[i:i+2], ' ')) AS grams
                FROM documents
            ),
            tc AS (
                SELECT doc_id, count(*) AS c
                FROM (SELECT doc_id, unnest(toks) AS w FROM base)
                GROUP BY doc_id, w
            ),
            top AS (SELECT doc_id, max(c) AS topc FROM tc GROUP BY doc_id)
            SELECT b.doc_id, b.n::BIGINT AS n_words,
                   round((b.n - len(list_distinct(b.toks))) / greatest(b.n, 1)::DOUBLE, 6) AS dup_word_ratio,
                   round((len(b.grams) - len(list_distinct(b.grams))) / greatest(len(b.grams), 1)::DOUBLE, 6) AS dup_3gram_ratio,
                   round(coalesce(t.topc, 0) / greatest(b.n, 1)::DOUBLE, 6) AS top_word_ratio
            FROM base b LEFT JOIN top t USING (doc_id)
        """,
        "quality_filter": f"""
            WITH sig AS (
                SELECT doc_id, text,
                       len({toks_ap}) AS n,
                       list_sum(list_transform({toks_ap}, t -> length(t)))
                           / greatest(len({toks_ap}), 1)::DOUBLE AS mwl,
                       len(list_filter({toks_ap}, x -> x IN ({stop_in})))
                           / greatest(len({toks_ap}), 1)::DOUBLE AS swr,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                           / greatest(length(text), 1)::DOUBLE AS ar,
                       list_transform(range(1, greatest(len({toks_ap}) - 2, 1) + 1),
                                      i -> array_to_string(({toks_ap})[i:i+2], ' ')) AS grams,
                       {toks_ap} AS toks
                FROM documents
            ),
            tc AS (
                SELECT doc_id, count(*) AS c
                FROM (SELECT doc_id, unnest(toks) AS w FROM sig)
                GROUP BY doc_id, w
            ),
            top AS (SELECT doc_id, max(c) AS topc FROM tc GROUP BY doc_id),
            r AS (
                SELECT s.doc_id, s.n, s.mwl, s.swr, s.ar,
                       (len(s.grams) - len(list_distinct(s.grams)))
                           / greatest(len(s.grams), 1)::DOUBLE AS dup3,
                       coalesce(t.topc, 0) / greatest(s.n, 1)::DOUBLE AS topr
                FROM sig s LEFT JOIN top t USING (doc_id)
            )
            SELECT doc_id,
                   (n >= 10 AND n <= 100000) AS words_ok,
                   (mwl >= 3 AND mwl <= 10) AS word_len_ok,
                   (swr >= 0.05) AS stopword_ok,
                   (ar >= 0.6) AS alpha_ok,
                   (dup3 <= 0.5 AND topr <= 0.3) AS repetition_ok,
                   (words_ok AND word_len_ok AND stopword_ok AND alpha_ok
                    AND repetition_ok) AS keep
            FROM r
        """,
        "pack_sequences": f"""
            WITH RECURSIVE base AS (
                SELECT doc_id,
                       (CAST('0x' || substring(md5(doc_id::VARCHAR || ':pack'), 1, 4) AS INT) % 8) AS grp,
                       len({toks})::BIGINT AS n_tokens
                FROM documents
            ),
            ordered AS (
                SELECT grp, doc_id, n_tokens,
                       row_number() OVER (PARTITION BY grp ORDER BY doc_id) AS rn
                FROM base
            ),
            packed AS (
                SELECT grp, doc_id, n_tokens, rn, 0 AS bin_id, n_tokens AS acc
                FROM ordered WHERE rn = 1
                UNION ALL
                SELECT o.grp, o.doc_id, o.n_tokens, o.rn,
                       CASE WHEN p.acc + o.n_tokens > 128
                            THEN p.bin_id + 1 ELSE p.bin_id END,
                       CASE WHEN p.acc + o.n_tokens > 128
                            THEN o.n_tokens ELSE p.acc + o.n_tokens END
                FROM packed p JOIN ordered o ON o.grp = p.grp AND o.rn = p.rn + 1
            )
            SELECT doc_id, grp::INT AS "group", bin_id::INT AS bin_id, n_tokens
            FROM packed
        """,
        "domain_mix": """
            SELECT doc_id, lang FROM documents
            WHERE lang IN ('en', 'de', 'fr', 'es')
              AND (CAST('0x' || substring(md5(doc_id::VARCHAR || ':mix'), 1, 8) AS BIGINT)
                   % 1000000)
                  < (CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5
                               WHEN 'fr' THEN 0.25 WHEN 'es' THEN 0.1 END) * 1000000
        """,
        "terms_csv": f"""
            WITH tfidf AS ({tfidf})
            SELECT doc_id AS document_id,
                   string_agg(word, '|' ORDER BY rank) AS terms
            FROM tfidf GROUP BY doc_id
        """,
        "pii_redact": r"""
            WITH planted AS (
                SELECT doc_id,
                       text || ' contact u' || doc_id ||
                       '@example.com ssn 123-45-6789 or +1 555 010 0199 host 10.0.0.' ||
                       (doc_id % 255) AS t0
                FROM documents
            ),
            s1 AS (
                SELECT doc_id,
                       len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                       regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
                FROM planted
            ),
            s2 AS (
                SELECT doc_id, n_email,
                       len(regexp_extract_all(t1, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
                       regexp_replace(t1, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS t2
                FROM s1
            ),
            s3 AS (
                SELECT doc_id, n_email, n_ssn,
                       len(regexp_extract_all(t2, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ipv4,
                       regexp_replace(t2, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t3
                FROM s2
            ),
            s4 AS (
                SELECT doc_id, n_email, n_ssn, n_ipv4,
                       len(regexp_extract_all(t3, '\+?\d[\d\-\s()]{7,}\d')) AS n_phone,
                       regexp_replace(t3, '\+?\d[\d\-\s()]{7,}\d', '<PHONE>', 'g') AS t4
                FROM s3
            )
            SELECT doc_id, n_email, n_ssn, n_ipv4, n_phone, md5(t4) AS redacted_md5
            FROM s4
        """,
        "word_pagerank": f"""
            WITH wp AS (
                SELECT doc_id, unnest({toks}) AS word,
                       unnest(range(1, len({toks}) + 1)) AS pos
                FROM documents
            ),
            adj AS (
                SELECT doc_id, word,
                       lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
                FROM wp
            ),
            edges AS (
                SELECT least(word, nxt) AS src, greatest(word, nxt) AS dst,
                       count(*)::DOUBLE AS weight
                FROM adj WHERE nxt IS NOT NULL AND word <> nxt
                GROUP BY 1, 2
            ),
            sym AS (
                SELECT src, dst, weight FROM edges
                UNION ALL
                SELECT dst AS src, src AS dst, weight FROM edges
            ),
            outw AS (SELECT src, sum(weight) AS out_w FROM sym GROUP BY src),
            fr AS (
                SELECT s.src, s.dst, s.weight / o.out_w AS frac
                FROM sym s JOIN outw o ON s.src = o.src
            ),
            v AS (SELECT DISTINCT src AS ngram FROM sym),
            n AS (SELECT count(*)::DOUBLE AS n FROM v),
            r0 AS (SELECT ngram, 1.0 / (SELECT n FROM n) AS score FROM v),
            r1 AS (
                SELECT v.ngram, (1 - 0.85) / (SELECT n FROM n)
                       + 0.85 * coalesce(c.contrib, 0.0) AS score
                FROM v LEFT JOIN (
                    SELECT fr.dst, sum(r0.score * fr.frac) AS contrib
                    FROM fr JOIN r0 ON fr.src = r0.ngram GROUP BY fr.dst
                ) c ON v.ngram = c.dst
            ),
            r2 AS (
                SELECT v.ngram, (1 - 0.85) / (SELECT n FROM n)
                       + 0.85 * coalesce(c.contrib, 0.0) AS score
                FROM v LEFT JOIN (
                    SELECT fr.dst, sum(r1.score * fr.frac) AS contrib
                    FROM fr JOIN r1 ON fr.src = r1.ngram GROUP BY fr.dst
                ) c ON v.ngram = c.dst
            ),
            r3 AS (
                SELECT v.ngram, (1 - 0.85) / (SELECT n FROM n)
                       + 0.85 * coalesce(c.contrib, 0.0) AS score
                FROM v LEFT JOIN (
                    SELECT fr.dst, sum(r2.score * fr.frac) AS contrib
                    FROM fr JOIN r2 ON fr.src = r2.ngram GROUP BY fr.dst
                ) c ON v.ngram = c.dst
            )
            SELECT ngram, round(score, 6) AS score FROM r3
        """,
        "singlerank": f"""
            WITH wp AS ({word_pos}),
            tok AS (SELECT doc_id, word, pos - 1 AS i FROM wp),
            co AS (
                SELECT a.doc_id, a.word AS src, b.word AS dst,
                       count(*)::DOUBLE AS w
                FROM tok a JOIN tok b
                  ON a.doc_id = b.doc_id
                 AND b.i - a.i BETWEEN 1 AND 9 AND a.word <> b.word
                GROUP BY 1, 2, 3
            ),
            sym AS (
                SELECT doc_id, src, dst, sum(w) AS weight FROM (
                    SELECT doc_id, src, dst, w FROM co
                    UNION ALL
                    SELECT doc_id, dst AS src, src AS dst, w FROM co
                ) GROUP BY 1, 2, 3
            ),
            outw AS (
                SELECT doc_id, src, sum(weight) AS out_w FROM sym GROUP BY 1, 2
            ),
            fr AS (
                SELECT s.doc_id, s.src, s.dst, s.weight / o.out_w AS frac
                FROM sym s JOIN outw o ON s.doc_id = o.doc_id AND s.src = o.src
            ),
            v AS (SELECT DISTINCT doc_id, word AS ngram FROM tok),
            nn AS (SELECT doc_id, count(*)::DOUBLE AS n FROM v GROUP BY 1),
            r0 AS (
                SELECT v.doc_id, v.ngram, 1.0 / nn.n AS score
                FROM v JOIN nn USING (doc_id)
            ),
            r1 AS (
                SELECT v.doc_id, v.ngram,
                       0.15 / nn.n + 0.85 * coalesce(c.contrib, 0.0) AS score
                FROM v JOIN nn USING (doc_id) LEFT JOIN (
                    SELECT fr.doc_id, fr.dst, sum(r0.score * fr.frac) AS contrib
                    FROM fr JOIN r0
                      ON fr.doc_id = r0.doc_id AND fr.src = r0.ngram
                    GROUP BY fr.doc_id, fr.dst
                ) c ON v.doc_id = c.doc_id AND v.ngram = c.dst
            ),
            r2 AS (
                SELECT v.doc_id, v.ngram,
                       0.15 / nn.n + 0.85 * coalesce(c.contrib, 0.0) AS score
                FROM v JOIN nn USING (doc_id) LEFT JOIN (
                    SELECT fr.doc_id, fr.dst, sum(r1.score * fr.frac) AS contrib
                    FROM fr JOIN r1
                      ON fr.doc_id = r1.doc_id AND fr.src = r1.ngram
                    GROUP BY fr.doc_id, fr.dst
                ) c ON v.doc_id = c.doc_id AND v.ngram = c.dst
            ),
            r3 AS (
                SELECT v.doc_id, v.ngram,
                       0.15 / nn.n + 0.85 * coalesce(c.contrib, 0.0) AS score
                FROM v JOIN nn USING (doc_id) LEFT JOIN (
                    SELECT fr.doc_id, fr.dst, sum(r2.score * fr.frac) AS contrib
                    FROM fr JOIN r2
                      ON fr.doc_id = r2.doc_id AND fr.src = r2.ngram
                    GROUP BY fr.doc_id, fr.dst
                ) c ON v.doc_id = c.doc_id AND v.ngram = c.dst
            )
            SELECT doc_id, ngram AS word, round(score, 6) AS score
            FROM r3 WHERE length(ngram) >= 3
        """,
        "simhash_neardup": f"""
            WITH th AS (
                SELECT doc_id,
                       CAST('0x' || substring(md5(word), 1, 15) AS BIGINT) AS h
                FROM (SELECT doc_id, unnest({toks}) AS word FROM documents)
            ),
            votes AS (
                SELECT doc_id, b.bit,
                       sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
                FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS bit) b
                GROUP BY doc_id, b.bit
            ),
            sim AS (
                SELECT doc_id,
                       sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS sim
                FROM votes GROUP BY doc_id
            )
            SELECT a.doc_id AS a, b.doc_id AS b,
                   bit_count(xor(a.sim, b.sim))::INT AS hamming
            FROM sim a JOIN sim b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sim, b.sim)) <= 8
        """,
        "transfer_relations": f"""
            WITH wp AS ({word_pos}),
            dw AS (
                SELECT DISTINCT doc_id, word FROM wp WHERE length(word) >= 6
            ),
            two AS (
                SELECT doc_id, word,
                       row_number() OVER (PARTITION BY doc_id ORDER BY word) AS rn
                FROM dw
            ),
            pv AS (
                SELECT doc_id,
                       min(CASE WHEN rn = 1 THEN word END) AS head,
                       min(CASE WHEN rn = 2 THEN word END) AS tail
                FROM two WHERE rn <= 2 GROUP BY doc_id
                HAVING count(*) = 2
            ),
            spans AS (
                SELECT p.doc_id, lower(d.text) AS text,
                       strpos(lower(d.text), p.head) - 1 AS hb,
                       strpos(lower(d.text), p.head) - 1 + length(p.head) AS he,
                       strpos(lower(d.text), p.tail) - 1 AS tb,
                       strpos(lower(d.text), p.tail) - 1 + length(p.tail) AS te
                FROM pv p JOIN documents d USING (doc_id)
            ),
            scored AS (
                SELECT doc_id, text, hb, he, tb, te,
                       md5(text || '|' || hb || ':' || he || '|' || tb || ':' || te) AS dg
                FROM spans
            ),
            typed AS (
                SELECT doc_id, 0 AS sent_id, 0 AS cooc_no,
                       list_extract(
                           ['part_of', 'located_in', 'operated_by',
                            'transports', 'uses'],
                           (CAST('0x' || substring(dg, 1, 8) AS BIGINT) % 5)::INT + 1
                       ) AS relation,
                       round((CAST('0x' || substring(dg, 9, 8) AS BIGINT) % 10000)
                             / 10000.0, 4) AS prob,
                       substring(text, hb + 1, he - hb) AS head_words,
                       substring(text, tb + 1, te - tb) AS tail_words
                FROM scored
            )
            SELECT doc_id, sent_id, cooc_no, relation, prob, head_words, tail_words
            FROM typed WHERE prob >= 0.5
        """,
        # --- embedrank: md5-derived hashing embedder + 3-round MMR unroll.
        # Single-token candidates embed to exactly ±e_{h%64}; the doc vector
        # is the signed bucket-count vector over tokens+bigrams, L2-norm'd.
        # h = little-endian uint64 of md5('42:'||feat)[:8] (embedding.py
        # _hash_token); sign = bit 62; bucket = h % 64. MMR (beta=0.55):
        # round r picks argmax(0.55*doc_sim - 0.45*max_sim_to_selected),
        # ties by (doc_sim DESC, term) order — numpy argmax over the
        # rep-ordered rest list. score = n_selected - rank.
        "embedrank": f"""
            WITH docarr AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                                   x -> x <> '') AS arr
                FROM documents
            ),
            docfeat AS (
                SELECT doc_id, unnest(list_concat(
                    arr,
                    list_transform(range(1, greatest(len(arr) - 1, 0) + 1),
                                   i -> arr[i] || '_' || arr[i + 1])
                )) AS t
                FROM docarr
            ),
            dhash AS (
                SELECT doc_id, {_LE64("md5('42:' || t)")} AS h FROM docfeat
            ),
            dvec AS (
                SELECT doc_id, (h % 64)::INT AS bkt,
                       sum(CASE WHEN (h >> 62) & 1 = 1 THEN 1 ELSE -1 END)::DOUBLE AS v
                FROM dhash GROUP BY 1, 2
            ),
            dnorm AS (SELECT doc_id, sqrt(sum(v * v)) AS nv FROM dvec GROUP BY 1),
            cand0 AS (
                SELECT DISTINCT doc_id, word
                FROM (SELECT doc_id, unnest({toks}) AS word FROM documents)
                WHERE length(word) >= 4
            ),
            candh AS (
                SELECT doc_id, word, {_LE64("md5('42:' || word)")} AS h FROM cand0
            ),
            cand AS (
                SELECT c.doc_id, c.word, (c.h % 64)::INT AS bkt,
                       CASE WHEN (c.h >> 62) & 1 = 1 THEN 1 ELSE -1 END AS sgn,
                       CASE WHEN n.nv > 0
                            THEN (CASE WHEN (c.h >> 62) & 1 = 1 THEN 1 ELSE -1 END)
                                 * coalesce(v.v, 0.0) / n.nv
                            ELSE 0.0 END AS ds
                FROM candh c
                JOIN dnorm n USING (doc_id)
                LEFT JOIN dvec v ON v.doc_id = c.doc_id AND v.bkt = (c.h % 64)::INT
            ),
            c AS (
                SELECT cand.*,
                       row_number() OVER (PARTITION BY doc_id ORDER BY ds DESC, word) AS rn
                FROM cand
            ),
            -- alias collapse at threshold 0.7: single-token sims are
            -- exactly +/-1 or 0, so alias classes are (bkt, sgn) groups;
            -- rep = first of the class in global (ds DESC, word) order
            cls AS (
                SELECT c.*,
                       row_number() OVER (PARTITION BY doc_id, bkt, sgn ORDER BY rn) AS crk
                FROM c
            ),
            reps AS (
                SELECT cl.doc_id, cl.word, cl.bkt, cl.sgn, cl.ds, cl.rn,
                       coalesce(al.alias_str, '') AS aliases
                FROM cls cl LEFT JOIN (
                    SELECT doc_id, bkt, sgn,
                           string_agg(word, '|' ORDER BY word) AS alias_str
                    FROM cls WHERE crk > 1 GROUP BY 1, 2, 3
                ) al ON al.doc_id = cl.doc_id AND al.bkt = cl.bkt AND al.sgn = cl.sgn
                WHERE cl.crk = 1
            ),
            s1 AS (SELECT * FROM reps WHERE rn = 1),
            m2 AS (
                SELECT c.*,
                       0.55 * c.ds - 0.45 * (CASE WHEN c.bkt = s1.bkt
                                                  THEN (c.sgn * s1.sgn)::DOUBLE
                                                  ELSE 0.0 END) AS mmr
                FROM reps c JOIN s1 ON c.doc_id = s1.doc_id AND c.rn <> s1.rn
            ),
            s2 AS (
                SELECT * FROM (
                    SELECT m2.*, row_number() OVER (PARTITION BY doc_id
                                                    ORDER BY mmr DESC, rn) AS pick
                    FROM m2
                ) WHERE pick = 1
            ),
            m3 AS (
                SELECT c.*,
                       0.55 * c.ds - 0.45 * greatest(
                           CASE WHEN c.bkt = s1.bkt THEN (c.sgn * s1.sgn)::DOUBLE ELSE 0.0 END,
                           CASE WHEN c.bkt = s2.bkt THEN (c.sgn * s2.sgn)::DOUBLE ELSE 0.0 END
                       ) AS mmr
                FROM reps c
                JOIN s1 ON c.doc_id = s1.doc_id
                JOIN s2 ON c.doc_id = s2.doc_id
                WHERE c.rn <> s1.rn AND c.rn <> s2.rn
            ),
            s3 AS (
                SELECT * FROM (
                    SELECT m3.*, row_number() OVER (PARTITION BY doc_id
                                                    ORDER BY mmr DESC, rn) AS pick
                    FROM m3
                ) WHERE pick = 1
            ),
            nc AS (SELECT doc_id, count(*) AS n FROM reps GROUP BY 1),
            sel AS (
                SELECT doc_id, word, aliases, 0 AS r FROM s1
                UNION ALL SELECT doc_id, word, aliases, 1 FROM s2
                UNION ALL SELECT doc_id, word, aliases, 2 FROM s3
            )
            SELECT s.doc_id, s.word AS ngram, s.word AS term,
                   (least(nc.n, 3) - s.r)::DOUBLE AS score,
                   s.aliases
            FROM sel s JOIN nc USING (doc_id)
        """,
        # --- topic_rank: singleton topics (single-word candidates), topic
        # graph = candidate graph weighted by sum over occurrence pairs of
        # 1/(|oi-oj|+1), diagonal zeroed; uniform-restart PageRank unrolled
        # 3 iterations (iters=3/tol=0 pinning, singlerank precedent).
        "topic_rank": f"""
            WITH occ AS (
                SELECT doc_id, word, (pos - 1)::DOUBLE AS i
                FROM ({word_pos}) WHERE length(word) >= 6
            ),
            adj AS (
                SELECT a.doc_id, a.word AS src, b.word AS dst,
                       sum(1.0 / (abs(a.i - b.i) + 1.0)) AS weight
                FROM occ a JOIN occ b
                  ON a.doc_id = b.doc_id AND a.word <> b.word
                GROUP BY 1, 2, 3
            ),
            outw AS (SELECT doc_id, src, sum(weight) AS out_w FROM adj GROUP BY 1, 2),
            fr AS (
                SELECT s.doc_id, s.src, s.dst, s.weight / o.out_w AS frac
                FROM adj s JOIN outw o ON s.doc_id = o.doc_id AND s.src = o.src
            ),
            v AS (SELECT DISTINCT doc_id, word AS ngram FROM occ),
            nn AS (SELECT doc_id, count(*)::DOUBLE AS n FROM v GROUP BY 1),
            r0 AS (
                SELECT v.doc_id, v.ngram, 1.0 / nn.n AS score
                FROM v JOIN nn USING (doc_id)
            ),
            r1 AS (
                SELECT v.doc_id, v.ngram,
                       0.15 / nn.n + 0.85 * coalesce(c.contrib, 0.0) AS score
                FROM v JOIN nn USING (doc_id) LEFT JOIN (
                    SELECT fr.doc_id, fr.dst, sum(r0.score * fr.frac) AS contrib
                    FROM fr JOIN r0
                      ON fr.doc_id = r0.doc_id AND fr.src = r0.ngram
                    GROUP BY fr.doc_id, fr.dst
                ) c ON v.doc_id = c.doc_id AND v.ngram = c.dst
            ),
            r2 AS (
                SELECT v.doc_id, v.ngram,
                       0.15 / nn.n + 0.85 * coalesce(c.contrib, 0.0) AS score
                FROM v JOIN nn USING (doc_id) LEFT JOIN (
                    SELECT fr.doc_id, fr.dst, sum(r1.score * fr.frac) AS contrib
                    FROM fr JOIN r1
                      ON fr.doc_id = r1.doc_id AND fr.src = r1.ngram
                    GROUP BY fr.doc_id, fr.dst
                ) c ON v.doc_id = c.doc_id AND v.ngram = c.dst
            ),
            r3 AS (
                SELECT v.doc_id, v.ngram,
                       0.15 / nn.n + 0.85 * coalesce(c.contrib, 0.0) AS score
                FROM v JOIN nn USING (doc_id) LEFT JOIN (
                    SELECT fr.doc_id, fr.dst, sum(r2.score * fr.frac) AS contrib
                    FROM fr JOIN r2
                      ON fr.doc_id = r2.doc_id AND fr.src = r2.ngram
                    GROUP BY fr.doc_id, fr.dst
                ) c ON v.doc_id = c.doc_id AND v.ngram = c.dst
            )
            SELECT doc_id, ngram, ngram AS term, round(score, 6) AS score FROM r3
        """,
        # --- corpus_pagerank: cooccurrence_edges (pairs of candidate
        # occurrences sharing a (doc, 8-token sentence bucket), src < dst,
        # occurrence multiplicity) + the word_pagerank 3-iteration unroll.
        "corpus_pagerank": f"""
            WITH cp_tok AS (
                SELECT doc_id, word, (pos - 1) // 8 AS sid
                FROM ({word_pos}) WHERE length(word) >= 5
            ),
            edges AS (
                SELECT a.word AS src, b.word AS dst, count(*)::DOUBLE AS weight
                FROM cp_tok a JOIN cp_tok b
                  ON a.doc_id = b.doc_id AND a.sid = b.sid AND a.word < b.word
                GROUP BY 1, 2
            ),
            sym AS (
                SELECT src, dst, weight FROM edges
                UNION ALL
                SELECT dst AS src, src AS dst, weight FROM edges
            ),
            outw AS (SELECT src, sum(weight) AS out_w FROM sym GROUP BY src),
            fr AS (
                SELECT s.src, s.dst, s.weight / o.out_w AS frac
                FROM sym s JOIN outw o ON s.src = o.src
            ),
            v AS (SELECT DISTINCT src AS ngram FROM sym),
            n AS (SELECT count(*)::DOUBLE AS n FROM v),
            r0 AS (SELECT ngram, 1.0 / (SELECT n FROM n) AS score FROM v),
            r1 AS (
                SELECT v.ngram, (1 - 0.85) / (SELECT n FROM n)
                       + 0.85 * coalesce(c.contrib, 0.0) AS score
                FROM v LEFT JOIN (
                    SELECT fr.dst, sum(r0.score * fr.frac) AS contrib
                    FROM fr JOIN r0 ON fr.src = r0.ngram GROUP BY fr.dst
                ) c ON v.ngram = c.dst
            ),
            r2 AS (
                SELECT v.ngram, (1 - 0.85) / (SELECT n FROM n)
                       + 0.85 * coalesce(c.contrib, 0.0) AS score
                FROM v LEFT JOIN (
                    SELECT fr.dst, sum(r1.score * fr.frac) AS contrib
                    FROM fr JOIN r1 ON fr.src = r1.ngram GROUP BY fr.dst
                ) c ON v.ngram = c.dst
            ),
            r3 AS (
                SELECT v.ngram, (1 - 0.85) / (SELECT n FROM n)
                       + 0.85 * coalesce(c.contrib, 0.0) AS score
                FROM v LEFT JOIN (
                    SELECT fr.dst, sum(r2.score * fr.frac) AS contrib
                    FROM fr JOIN r2 ON fr.src = r2.ngram GROUP BY fr.dst
                ) c ON v.ngram = c.dst
            )
            SELECT ngram, round(score, 6) AS score FROM r3
        """,
        # --- corpus_summary: SQL-shaped token table (md5-derived POS,
        # planted NER on len>=10 words, strip-s lemma, 10-token sentences)
        # through the corpus_summary rollup semantics (corpus.py:603-669).
        "corpus_summary": f"""
            WITH wp0 AS (
                SELECT doc_id, unnest({toks}) AS word,
                       unnest(range(0, len({toks}))) AS i
                FROM documents
            ),
            tok AS (
                SELECT doc_id, i // 10 + 1 AS sentence_id, word,
                       (['NOUN','VERB','ADJ','PROPN','ADV','DET'])[
                           (CAST('0x' || substring(md5(word), 1, 4) AS BIGINT) % 6)::INT + 1
                       ] AS pos,
                       CASE WHEN length(word) >= 10
                            THEN 'B-' || (['ORG','LOC','PER'])[
                                (CAST('0x' || substring(md5(word), 1, 4) AS BIGINT) % 3)::INT + 1
                            ]
                            ELSE 'O' END AS ner,
                       regexp_replace(word, 's$', '') AS lemma
                FROM wp0
            ),
            sent AS (
                SELECT doc_id, sentence_id,
                       max(CASE WHEN ner <> 'O' THEN 1 ELSE 0 END) AS has_ne
                FROM tok GROUP BY 1, 2
            ),
            sents AS (
                SELECT doc_id, count(*) AS n_sents, sum(has_ne)::BIGINT AS n_sents_w_ne
                FROM sent GROUP BY 1
            ),
            doc AS (
                SELECT doc_id, count(*) AS n_toks,
                       sum(CASE WHEN pos IN ('NOUN','PROPN') THEN 1 ELSE 0 END)::BIGINT AS n_nouns,
                       sum(CASE WHEN pos IN ('VERB','AUX') THEN 1 ELSE 0 END)::BIGINT AS n_verbs,
                       sum(CASE WHEN pos = 'ADJ' THEN 1 ELSE 0 END)::BIGINT AS n_adjs,
                       sum(CASE WHEN ner <> 'O' THEN 1 ELSE 0 END)::BIGINT AS n_ner,
                       count(DISTINCT lemma) AS unique_lemma
                FROM tok GROUP BY 1
            )
            SELECT d.doc_id, d.n_toks, d.n_nouns, d.n_verbs, d.n_adjs, d.n_ner,
                   d.unique_lemma, s.n_sents, s.n_sents_w_ne
            FROM doc d JOIN sents s USING (doc_id)
        """,
        # --- recall_audit: independently rebuild the exact top-5, the
        # md5-plane LSH buckets (4 tables x 6 planes, seed 42+101*t, sign
        # = low bit of md5(f"{{seed}}:{{plane}}:{{dim}}")[0]), and the
        # md5-sampled IVF centroids (256-row md5-ordered sample, 8 init
        # rows by smallest md5(f"42:{{i}}")[:8], one Lloyd step, normalize,
        # cosine-assign, 4-probe), then recompute recall@5 per query.
        "ann_lsh": f"""
            WITH {ann_core},
            {ann_lsh_ctes},
            scored AS (
                SELECT lc.query_id, lc.nbr_id,
                       list_cosine_similarity(q.qv, c.cv) AS cos
                FROM lsh_cand lc
                JOIN queries q USING (query_id) JOIN corpus c USING (nbr_id)
            ),
            ranked AS (
                SELECT query_id, nbr_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, nbr_id) AS rank
                FROM scored
            )
            SELECT query_id, nbr_id, round(cos, 4) AS cos, rank
            FROM ranked WHERE rank <= 5
        """,
        "ann_ivf": f"""
            WITH {ann_core},
            {ann_ivf_ctes},
            scored AS (
                SELECT qp.query_id, aa.nbr_id,
                       list_cosine_similarity(q.qv, c.cv) AS cos
                FROM qprobe qp JOIN aassign aa USING (cid)
                JOIN queries q USING (query_id) JOIN corpus c ON c.nbr_id = aa.nbr_id
            ),
            ranked AS (
                SELECT query_id, nbr_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, nbr_id) AS rank
                FROM scored
            )
            SELECT query_id, nbr_id, round(cos, 4) AS cos, rank
            FROM ranked WHERE rank <= 5
        """,
        # --- recall_audit: exact top-5 + both approximate paths rebuilt
        # from the shared fragments, recall@5 recomputed per query.
        "recall_audit": f"""
            WITH {ann_core},
            exact AS (
                SELECT query_id, nbr_id FROM (
                    SELECT q.query_id, c.nbr_id,
                           row_number() OVER (
                               PARTITION BY q.query_id
                               ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.nbr_id
                           ) AS rank
                    FROM queries q, corpus c
                ) WHERE rank <= 5
            ),
            exn AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1),
            {ann_lsh_ctes},
            lsh_top AS (
                SELECT query_id, nbr_id FROM (
                    SELECT lc.query_id, lc.nbr_id,
                           row_number() OVER (
                               PARTITION BY lc.query_id
                               ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, lc.nbr_id
                           ) AS rank
                    FROM lsh_cand lc
                    JOIN queries q USING (query_id) JOIN corpus c USING (nbr_id)
                ) WHERE rank <= 5
            ),
            {ann_ivf_ctes},
            ivf_top AS (
                SELECT query_id, nbr_id FROM (
                    SELECT qp.query_id, aa.nbr_id,
                           row_number() OVER (
                               PARTITION BY qp.query_id
                               ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, aa.nbr_id
                           ) AS rank
                    FROM qprobe qp JOIN aassign aa USING (cid)
                    JOIN queries q USING (query_id) JOIN corpus c ON c.nbr_id = aa.nbr_id
                ) WHERE rank <= 5
            ),
            qids AS (SELECT DISTINCT query_id FROM queries),
            lshr AS (
                SELECT q.query_id, coalesce(h.n_hit, 0) AS n_hit FROM qids q LEFT JOIN (
                    SELECT l.query_id,
                           sum(CASE WHEN e.nbr_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
                    FROM lsh_top l LEFT JOIN exact e
                      ON e.query_id = l.query_id AND e.nbr_id = l.nbr_id
                    GROUP BY 1
                ) h ON h.query_id = q.query_id
            ),
            ivfr AS (
                SELECT q.query_id, coalesce(h.n_hit, 0) AS n_hit FROM qids q LEFT JOIN (
                    SELECT v.query_id,
                           sum(CASE WHEN e.nbr_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
                    FROM ivf_top v LEFT JOIN exact e
                      ON e.query_id = v.query_id AND e.nbr_id = v.nbr_id
                    GROUP BY 1
                ) h ON h.query_id = q.query_id
            )
            SELECT 'lsh' AS variant, r.query_id, r.n_hit::BIGINT AS n_hit,
                   r.n_hit / x.n_exact::DOUBLE AS recall
            FROM lshr r JOIN exn x USING (query_id)
            UNION ALL
            SELECT 'ivf' AS variant, r.query_id, r.n_hit::BIGINT AS n_hit,
                   r.n_hit / x.n_exact::DOUBLE AS recall
            FROM ivfr r JOIN exn x USING (query_id)
        """,
    }
    # ---- tagged-union suite oracles: wrap each former standalone oracle
    # as a part of its suite (see the q_*_suite docstrings) — the SQL of
    # every part is byte-identical to its standalone form above, only
    # re-projected into the unified suite schema.
    out["set_relalg_suite"] = f"""
        SELECT 'anti_join' AS part, c_nationkey::VARCHAR AS k, n_customers AS n
        FROM ({out.pop("anti_join")})
        UNION ALL
        SELECT 'semi_join' AS part, s_nationkey::VARCHAR AS k, n_suppliers AS n
        FROM ({out.pop("semi_join")})
        UNION ALL
        SELECT 'set_ops' AS part, side AS k, n FROM ({out.pop("set_ops")})
    """
    out["docterm_stats_suite"] = f"""
        SELECT 'doc_stats' AS part, doc_id, n_words AS n,
               n_distinct::DOUBLE AS v1, mean_word_len AS v2
        FROM ({out.pop("doc_stats")})
        UNION ALL
        SELECT 'terms_stats' AS part, doc_id, n_terms AS n,
               mean_words_per_term AS v1, mean_term_chars AS v2
        FROM ({out.pop("terms_stats")})
    """
    out["events_suite"] = f"""
        SELECT 'events_window' AS part, hour_epoch AS k1, event_type AS k2,
               n, total_value AS v
        FROM ({out.pop("events_window")})
        UNION ALL
        SELECT 'sessionize' AS part, user_id AS k1, '' AS k2,
               n_sessions AS n, n_events::DOUBLE AS v
        FROM ({out.pop("sessionize")})
    """
    out["eval_suite"] = f"""
        SELECT 'precision_at_k' AS part, '' AS method, k,
               mean_precision AS mean_val, std_precision AS std_val, n_docs
        FROM ({out.pop("precision_at_k")})
        UNION ALL
        SELECT 'relative_recall' AS part, method, k,
               mean_recall AS mean_val, 0.0::DOUBLE AS std_val, n_docs
        FROM ({out.pop("relative_recall")})
    """
    out["textstats_suite"] = f"""
        WITH tc AS ({out.pop("token_counts")}),
        lq AS ({out.pop("lang_quality")})
        SELECT 'token_counts' AS part, doc_id, 'n_words' AS k,
               '' AS v_str, n_words::DOUBLE AS v_num FROM tc
        UNION ALL
        SELECT 'token_counts', doc_id, 'n_tokens_bpe_est', '',
               n_tokens_bpe_est::DOUBLE FROM tc
        UNION ALL
        SELECT 'fingerprint', doc_id, 'fp', fp, 0.0::DOUBLE
        FROM ({out.pop("fingerprint")})
        UNION ALL SELECT 'lang_quality', doc_id, 'mean_word_len', '', mean_word_len FROM lq
        UNION ALL SELECT 'lang_quality', doc_id, 'stopword_ratio', '', stopword_ratio FROM lq
        UNION ALL SELECT 'lang_quality', doc_id, 'alpha_ratio', '', alpha_ratio FROM lq
        UNION ALL SELECT 'lang_quality', doc_id, 'quality', '', quality FROM lq
        UNION ALL SELECT 'lang_quality', doc_id, 'lang_pred', lang_pred, 0.0::DOUBLE FROM lq
    """
    # all three parts of the 2-hop suite must equal the SAME oracle rows —
    # plain/bucketed/persisted-store value parity is certified by the
    # driver gate itself
    g2 = out.pop("graph_2hop")
    out["graph_2hop_suite"] = f"""
        SELECT 'plain' AS part, * FROM ({g2})
        UNION ALL
        SELECT 'bucketed' AS part, * FROM ({g2})
        UNION ALL
        SELECT 'stored' AS part, * FROM ({g2})
    """
    out["ann_suite"] = f"""
        SELECT 'lsh' AS part, * FROM ({out.pop("ann_lsh")})
        UNION ALL
        SELECT 'ivf' AS part, * FROM ({out.pop("ann_ivf")})
    """
    # COMMITTED GOLDEN CONSTANT for the composite pipeline at the
    # driver's correctness scale (sf0.01): 326 triples, orderless sum of
    # 48-bit row hashes. Regenerate deliberately (and update here) when
    # pipeline semantics change; tests/test_kg_pipeline_golden.py pins
    # the sf0.001 twin row-for-row.
    out["kg_pipeline_golden"] = """
        SELECT 326::BIGINT AS n_triples, 46320463150447303::BIGINT AS rowhash_sum
    """
    return out
