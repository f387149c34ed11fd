"""Graph-based term ranking.

Two tiers, per the north-star ("co-occurrence PageRank computed
per-partition then merged"):

1. **Per-document rankers** (SingleRank / PositionRank / TextRank family —
   reference: pke classes configured at main.py:122-141). Every document's
   co-occurrence graph is tiny, so each runs partition-local with a numpy
   power iteration — zero extra shuffles beyond the groupBy(doc_id).
   SingleRank and PositionRank take each doc as one Arrow table
   (``applyInArrow``): the per-doc pandas frame cost more than the graph
   and the power iteration together. TopicRank and MultipartiteRank
   still run in ``applyInPandas``.

2. **Corpus-level PageRank** over the global term co-occurrence graph:
   edges as a DataFrame, partial (map-side) contribution aggregation per
   iteration — the idiomatic Spark "compute per partition, merge" loop.
   Used for global term salience / canonical-entity weighting.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .skew import widen


def _rank_schema(df) -> str:
    """Output schema with the caller's doc_id type (string corpus ids vs
    long synthetic ids — Arrow refuses int64 under a string schema)."""
    id_type = df.schema["doc_id"].dataType.simpleString()
    return f"doc_id {id_type}, ngram string, term string, score double"

_CAND_POS = pa.array(["NOUN", "PROPN", "ADJ", "NUM"])


def _pagerank_numpy(adj: np.ndarray, personalization: np.ndarray | None = None,
                    d: float = 0.85, iters: int = 50, tol: float = 1e-6) -> np.ndarray:
    """Weighted PageRank power iteration on a dense doc-local matrix."""
    n = adj.shape[0]
    if n == 0:
        return np.zeros(0)
    out_w = adj.sum(axis=1)
    out_w[out_w == 0] = 1.0
    trans = adj / out_w[:, None]
    if personalization is None:
        p = np.full(n, 1.0 / n)
    else:
        p = personalization / max(personalization.sum(), 1e-12)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r_new = (1 - d) * p + d * (trans.T @ r)
        if np.abs(r_new - r).sum() < tol:
            r = r_new
            break
        r = r_new
    return r


def _window_graph_ref(seq_words, seq_glob_idx, vocab, window: int):
    """Reference (loop) builder of the window co-occurrence graph +
    position personalization — kept as the parity oracle for the
    vectorized ``_window_graph`` (a pytest asserts exact equality on
    randomized docs; the yake _yake_word_scores_ref convention)."""
    n = len(vocab)
    adj = np.zeros((n, n))
    pers = np.zeros(n)
    for i, (w, gi) in enumerate(zip(seq_words, seq_glob_idx)):
        wi = vocab[w]
        pers[wi] += 1.0 / (gi + 1)
        j = i + 1
        while j < len(seq_words) and seq_glob_idx[j] - gi < window:
            wj = vocab[seq_words[j]]
            if wj != wi:
                adj[wi, wj] += 1.0
                adj[wj, wi] += 1.0
            j += 1
    return adj, pers


def _window_graph(seq_words, seq_glob_idx, vocab, window: int):
    """Vectorized window co-occurrence graph — bitwise-identical to
    ``_window_graph_ref`` (adjacency entries are exact integer counts;
    ``np.add.at`` applies the personalization increments in the same
    ascending-position order as the loop) but O(window) numpy passes
    instead of an O(tokens x window) Python inner loop: the loop was
    ~25M interpreter iterations per sf0.1 pass of singlerank (r06)."""
    n = len(vocab)
    adj = np.zeros((n, n))
    pers = np.zeros(n)
    if not len(seq_words):
        return adj, pers
    codes = np.array([vocab[w] for w in seq_words], dtype=np.int64)
    gidx = np.asarray(seq_glob_idx, dtype=np.int64)
    np.add.at(pers, codes, 1.0 / (gidx + 1.0))
    # the loop's while-break equals "all j>i with glob gap < window"
    # because seq_glob_idx is strictly increasing; gap >= lag, so lags
    # beyond window-1 contribute nothing
    for lag in range(1, min(window, len(codes))):
        ok = (gidx[lag:] - gidx[:-lag]) < window
        wi, wj = codes[:-lag][ok], codes[lag:][ok]
        neq = wi != wj
        wi, wj = wi[neq], wj[neq]
        np.add.at(adj, (wi, wj), 1.0)
        np.add.at(adj, (wj, wi), 1.0)
    return adj, pers


def _rank_doc(tab: pa.Table, window: int, position_bias: bool,
              iters: int = 50, tol: float = 1e-6) -> pa.Table:
    """SingleRank (position_bias=False) / PositionRank (True) for one doc,
    on the doc's ``_rank_input`` rows as one Arrow table.

    Graph nodes = lowercased candidate-POS words; edges = co-occurrence
    within ``window`` tokens (window=10 for SingleRank, main.py:123-128),
    weighted by co-occurrence count. Candidate score = sum of member word
    ranks, in word order (pke SingleRank semantics). PositionRank
    personalizes the restart vector with 1/position of each word's
    occurrences.

    Known quirk, kept bit for bit because the golden checksums depend on
    it: a word's position counts the doc's candidate rows ahead of its
    tokens (the pandas ranker sorted the unioned rows by (sentence_id,
    token_id), and candidate rows carry (0, 0)), so PositionRank's
    restart weight is 1/(n_cands + i + 1), not pke's 1/(i + 1). SingleRank
    only reads position differences and is unaffected.
    """
    is_cand = pc.is_valid(tab.column("ngram"))
    toks = tab.filter(pc.invert(is_cand))
    cands = tab.filter(is_cand)
    order = np.lexsort((
        toks.column("token_id").to_numpy(), toks.column("sentence_id").to_numpy(),
    ))
    in_pos = pc.is_in(toks.column("pos").take(order), value_set=_CAND_POS)
    keep = np.flatnonzero(pc.fill_null(in_pos, False).to_numpy())
    words = [w.lower() for w in toks.column("word").take(order[keep]).to_pylist()]
    vocab = {w: i for i, w in enumerate(dict.fromkeys(words))}
    adj, pers = _window_graph(words, cands.num_rows + keep, vocab, window)
    ranks = _pagerank_numpy(adj, pers if position_bias else None, iters=iters, tol=tol)
    wscore = {w: ranks[i] for w, i in vocab.items()}
    cands = cands.filter(pc.is_valid(cands.column("term")))
    scores = [
        float(sum(wscore.get(w, 0.0) for w in term.split(" ")))
        for term in cands.column("term").to_pylist()
    ]
    return pa.table({
        "doc_id": cands.column("doc_id"),
        "ngram": cands.column("ngram"),
        "term": cands.column("term"),
        "score": pa.array(scores, pa.float64()),
    })


def _ranker(window: int, position_bias: bool, iters: int = 50, tol: float = 1e-6):
    def fn(tab: pa.Table) -> pa.Table:
        return _rank_doc(tab, window, position_bias, iters=iters, tol=tol)

    return fn


def _rank_input(tokens: DataFrame, cands: DataFrame) -> DataFrame:
    """Union token stream with candidate rows (ngram/term nulls on tokens)
    so one groupBy(doc_id) ships both to the ranker."""
    tok_part = tokens.select(
        "doc_id", "sentence_id", "token_id", "word", "pos",
        F.lit(None).cast("string").alias("ngram"),
        F.lit(None).cast("string").alias("term"),
    )
    cand_part = cands.select(
        "doc_id",
        F.lit(0).alias("sentence_id"),
        F.lit(0).alias("token_id"),
        F.lit("").alias("word"),
        F.lit("").alias("pos"),
        F.col("lemma_term").alias("ngram"),
        "term",
    ).dropDuplicates(["doc_id", "ngram"])
    return tok_part.unionByName(cand_part)


def single_rank(
    tokens: DataFrame, cands: DataFrame, window: int = 10,
    iters: int = 50, tol: float = 1e-6,
) -> DataFrame:
    """``iters``/``tol`` pass through to the power iteration; pinning
    (iters=3, tol=0) makes the ranking SQL-unrollable, which is how the
    driver's singlerank oracle certifies this code path (same device as
    the word_pagerank oracle)."""
    return widen(_rank_input(tokens, cands), "doc_id").groupBy("doc_id").applyInArrow(
        _ranker(window, False, iters=iters, tol=tol), _rank_schema(tokens)
    )


def position_rank(tokens: DataFrame, cands: DataFrame, window: int = 10) -> DataFrame:
    return widen(_rank_input(tokens, cands), "doc_id").groupBy("doc_id").applyInArrow(
        _ranker(window, True), _rank_schema(tokens)
    )


# --- TopicRank / MultipartiteRank (per-doc, candidate-topic graphs) -------

def _topic_clusters(cands: pd.DataFrame, threshold: float = 0.25) -> list[list[int]]:
    """Greedy agglomerative candidate clustering on word-overlap Jaccard
    (stand-in for pke's HAC over stem sets): candidates sharing >= threshold
    of words join a topic."""
    terms = cands["term"].values
    # singleton fast path (r06): DISTINCT single-word terms have pairwise
    # word-overlap Jaccard exactly 0 < threshold, so every topic is a
    # singleton — skip the O(n^2) Python set loop (the common shape when
    # candidates are unigrams; duplicates or multi-word terms fall back)
    if (
        threshold > 0
        and len(set(terms)) == len(terms)
        and not any(" " in t for t in terms)
    ):
        return [[i] for i in range(len(terms))]
    word_sets = [set(t.split(" ")) for t in terms]
    topics: list[list[int]] = []
    for i, ws in enumerate(word_sets):
        placed = False
        for top in topics:
            rep = word_sets[top[0]]
            j = len(ws & rep) / max(len(ws | rep), 1)
            if j >= threshold:
                top.append(i)
                placed = True
                break
        if not placed:
            topics.append([i])
    return topics


def _doc_topic_rank(pdf: pd.DataFrame, multipartite: bool, alpha: float = 1.1,
                    iters: int = 50, tol: float = 1e-6) -> pd.DataFrame:
    """TopicRank (multipartite=False): rank topics by PageRank over a
    complete topic graph weighted by inverse candidate-offset distance;
    score each topic's first-occurring candidate (pke TopicRank semantics).
    MultipartiteRank (True): node = candidate, edges only across topics,
    first-occurring candidate per topic gets an alpha position boost
    (pke MultipartiteRank, main.py:136-141)."""
    doc_id = pdf["doc_id"].iloc[0]
    occ = pdf[["ngram", "term", "offset_begin"]]
    cands = (
        occ.groupby("ngram", sort=True)
        .agg(term=("term", "first"), first_off=("offset_begin", "min"))
        .reset_index()
    )
    topics = _topic_clusters(cands)
    n = len(cands)
    if n == 0:
        return pd.DataFrame(columns=["doc_id", "ngram", "term", "score"])
    topic_of = np.empty(n, dtype=np.int64)
    for t, members in enumerate(topics):
        for m in members:
            topic_of[m] = t
    # candidate-pair weights sum(1/(|oi-oj|+1)) over all occurrence pairs,
    # vectorized: blocked outer |offset| differences scatter-added into the
    # candidate adjacency (the per-pair Python quadruple loop was
    # O(cands²·occ²) interpreter work — a giant doc stalled its task)
    cat = pd.Categorical(occ["ngram"], categories=cands["ngram"])
    cidx = np.asarray(cat.codes, dtype=np.int64)
    offs = occ["offset_begin"].to_numpy(dtype=np.float64)
    adj = np.zeros((n, n))
    # bound the dense (block x occ) slab to a FIXED byte budget (~256 MB of
    # float64) regardless of occurrence count: a constant block size made
    # the slab grow linearly with occurrences — ~32 GB transient for a
    # 1M-occurrence doc, OOMing the very task the vectorization was meant
    # to rescue (r02 ADVICE low #3)
    target_floats = 32 << 20
    block = max(1, target_floats // max(len(offs), 1))
    for s in range(0, len(offs), block):
        d = 1.0 / (np.abs(offs[s:s + block, None] - offs[None, :]) + 1.0)
        np.add.at(adj, (cidx[s:s + block, None], cidx[None, :]), d)
    same_topic = topic_of[:, None] == topic_of[None, :]
    if multipartite:
        adj = np.where(same_topic, 0.0, adj)  # edges only across topics
        # position boost: first candidate of each topic
        pers = np.ones(n)
        first_off = cands["first_off"].to_numpy()
        for members in topics:
            first = min(members, key=lambda m: first_off[m])
            pers[first] *= alpha * np.e ** (1.0 / (first_off[first] + 1))
        ranks = _pagerank_numpy(adj, pers, iters=iters, tol=tol)
        rows = [(doc_id, cands["ngram"][i], cands["term"][i], float(ranks[i])) for i in range(n)]
    else:
        k = len(topics)
        # topic graph: aggregate candidate weights by one-hot membership
        member = np.zeros((n, k))
        member[np.arange(n), topic_of] = 1.0
        tadj = member.T @ adj @ member
        np.fill_diagonal(tadj, 0.0)
        tr = _pagerank_numpy(tadj, iters=iters, tol=tol)
        first_off = cands["first_off"].to_numpy()
        rows = []
        for t, members in enumerate(topics):
            first = min(members, key=lambda m: first_off[m])
            rows.append((doc_id, cands["ngram"][first], cands["term"][first], float(tr[t])))
    return pd.DataFrame(rows, columns=["doc_id", "ngram", "term", "score"])


def topic_rank(cands: DataFrame, iters: int = 50, tol: float = 1e-6) -> DataFrame:
    """pke TopicRank parity shape (main.py:129-135): per-doc applyInPandas.

    ``iters``/``tol`` pass through to the topic-graph power iteration;
    pinning (iters=3, tol=0) makes the ranking SQL-unrollable when fed
    single-word candidates (every topic is then a singleton, so the topic
    graph IS the candidate graph) — the device the driver's topic_rank
    oracle uses to certify this code path."""
    inp = cands.select("doc_id", F.col("lemma_term").alias("ngram"), "term", "offset_begin")
    return widen(inp, "doc_id").groupBy("doc_id").applyInPandas(
        lambda pdf: _doc_topic_rank(pdf, multipartite=False, iters=iters, tol=tol),
        _rank_schema(cands),
    )


def multipartite_rank(cands: DataFrame) -> DataFrame:
    """pke MultipartiteRank parity shape (main.py:136-141)."""
    inp = cands.select("doc_id", F.col("lemma_term").alias("ngram"), "term", "offset_begin")
    return widen(inp, "doc_id").groupBy("doc_id").applyInPandas(
        lambda pdf: _doc_topic_rank(pdf, multipartite=True), _rank_schema(cands)
    )


# --- corpus-level distributed PageRank ------------------------------------

def cooccurrence_edges(cands: DataFrame) -> DataFrame:
    """Global term co-occurrence edges: candidate terms sharing a sentence.

    Self-join on (doc_id, sentence_id); hub-term skew is handled downstream
    by the salted contribution aggregation in ``distributed_pagerank``.
    """
    a = cands.select("doc_id", "sentence_id", F.col("lemma_term").alias("src"))
    b = cands.select("doc_id", "sentence_id", F.col("lemma_term").alias("dst"))
    return (
        a.join(b, ["doc_id", "sentence_id"])
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def distributed_pagerank(
    edges: DataFrame, d: float = 0.85, iters: int = 10, salt_buckets: int = 8
) -> DataFrame:
    """PageRank over an undirected weighted edge DataFrame, pure DataFrame
    ops: per-iteration map-side partial aggregation of contributions
    (Catalyst's partial+final agg = the "per-partition then merged" merge),
    with an explicit salted two-level aggregation so hub terms with huge
    in-degree don't hot-spot one reducer.

    Returns (ngram string, score double); scores sum to ~1.
    """
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    out_w = sym.groupBy("src").agg(F.sum("weight").alias("out_w"))
    sym = sym.join(out_w, "src").withColumn("frac", F.col("weight") / F.col("out_w"))
    sym = sym.select("src", "dst", "frac").persist()
    vertices = sym.select(F.col("src").alias("ngram")).distinct().persist()
    n = vertices.count()
    ranks = vertices.withColumn("score", F.lit(1.0 / n))
    for _ in range(iters):
        contribs = (
            sym.join(ranks.withColumnRenamed("ngram", "src"), "src")
            .withColumn("salt", F.pmod(F.abs(F.hash("dst", "src")), F.lit(salt_buckets)))
            .groupBy("dst", "salt")
            .agg(F.sum(F.col("score") * F.col("frac")).alias("partial"))
            .groupBy("dst")
            .agg(F.sum("partial").alias("contrib"))
        )
        ranks = (
            vertices.join(contribs.withColumnRenamed("dst", "ngram"), "ngram", "left")
            .fillna({"contrib": 0.0})
            .select("ngram", (F.lit((1 - d) / n) + F.lit(d) * F.col("contrib")).alias("score"))
        )
        # keep the lineage short: local[32] handles 10 iterations fine, but
        # at cluster scale checkpoint every few iterations
        ranks = ranks.localCheckpoint(eager=False)
    return ranks
