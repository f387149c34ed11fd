"""Statistical term weighting: ``candidates -> df_counts -> term_scores``.

TF-IDF and KPMiner are pure Column math over a broadcast document-frequency
table (reference: pke TfIdf / KPMiner driven at main.py:107-114; DF table
built by ``compute_document_frequency`` at main.py:91-94 with the
``--NB_DOC--`` sentinel row — here the sentinel becomes a scalar).
YAKE's per-word statistical features are doc-local, so they run per
document inside ``applyInPandas`` (SURVEY.md §2.4).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def document_frequency(
    cands: DataFrame, term_col: str = "lemma_term", *, with_n_docs: bool = True
) -> tuple[DataFrame, int | None]:
    """DF table: #docs containing each candidate n-gram, plus N (doc count).

    Parity: pke compute_document_frequency (main.py:91-94); the
    ``--NB_DOC--`` sentinel (data/interim/cargo_df.tsv.gz row 1) is
    returned as the scalar ``n_docs``. Catalyst gives partial+final agg.

    ``with_n_docs=False`` skips the eager N collect and returns
    ``(df_tab, None)`` — for consumers that only need the DF table (r06:
    the collect is a full scan+explode+countDistinct job, wasted when the
    scalar is discarded). Callers that rely on the collect as a cache
    materialization barrier (the pipeline's df_counts stage, the ranker
    queries over the persisted candidate table) must keep the default.
    """
    df_tab = (
        cands.groupBy(F.col(term_col).alias("ngram"))
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    if not with_n_docs:
        return df_tab, None
    n_docs = cands.select(F.countDistinct("doc_id").alias("n")).collect()[0]["n"]
    return df_tab, int(n_docs)


def tf_table(cands: DataFrame, term_col: str = "lemma_term") -> DataFrame:
    """Per-(doc, term) occurrence counts + surface form + first offset."""
    return cands.groupBy("doc_id", F.col(term_col).alias("ngram")).agg(
        F.count(F.lit(1)).alias("tf"),
        F.min("offset_begin").alias("first_offset"),
        F.min_by("term", "offset_begin").alias("surface"),
    )


def tfidf_scores(cands: DataFrame, df_tab: DataFrame, n_docs: int) -> DataFrame:
    """score = tf * log2(N / df) — pke TfIdf parity (main.py:107-110).

    The DF table is broadcast: it is vocabulary-sized (millions of rows at
    most), far smaller than the candidate-occurrence table, so the join is
    map-side at any corpus scale. Unseen n-grams get df=1 (pke fallback).

    In ``run_pipeline`` (and so ``triples_chain``), N is the docs_clean
    count: every cleaned doc, including docs that mined no candidate.
    ``n_docs`` is deliberately a SCALAR: a lazy 1-row-DataFrame N was
    tried and reverted — broadcast subqueries run as separate pre-jobs
    that race to recompute an uncached upstream chain (measured 8x
    slower); the eager collect in ``document_frequency`` doubles as the
    cache-materialization barrier.
    """
    tf = tf_table(cands)
    joined = tf.join(F.broadcast(df_tab), "ngram", "left").fillna({"df": 1})
    return joined.select(
        "doc_id",
        "ngram",
        F.col("surface").alias("term"),
        (F.col("tf") * F.log2(F.lit(float(n_docs)) / F.col("df"))).alias("score"),
    )


def kpminer_scores(
    cands: DataFrame,
    df_tab: DataFrame,
    n_docs: int,
    lasf: int = 3,
    cutoff: int = 400,
    sigma: float = 3.0,
    alpha: float = 2.3,
) -> DataFrame:
    """KPMiner-parity weighting (pke KPMiner, main.py:111-114).

    Candidates must be seen >= lasf times in the doc and first appear
    within ``cutoff`` chars; score = tf * boost * idf where the boost
    factor B = min(|N_d| / (|P_d| * alpha), sigma) uses doc-local counts
    (N_d = all candidate occurrences, P_d = multi-word ones) — computed
    with a window, no extra shuffle beyond the tf groupBy. In
    ``run_pipeline``, ``n_docs`` (the idf's N) is the docs_clean count.
    """
    tf = tf_table(cands)
    nw = cands.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum((F.col("n_words") > 1).cast("long")).alias("n_multi"),
    )
    filtered = tf.filter((F.col("tf") >= lasf) & (F.col("first_offset") <= cutoff))
    joined = (
        filtered.join(F.broadcast(df_tab), "ngram", "left")
        .fillna({"df": 1})
        .join(F.broadcast(nw), "doc_id")
    )
    boost = F.least(
        F.col("n_all") / (F.greatest(F.col("n_multi"), F.lit(1)) * F.lit(alpha)),
        F.lit(sigma),
    )
    return joined.select(
        "doc_id",
        "ngram",
        F.col("surface").alias("term"),
        (F.col("tf") * boost * F.log2(F.lit(float(n_docs)) / F.col("df"))).alias("score"),
    )


# --- YAKE (doc-local statistical features, applyInPandas) -----------------

YAKE_WINDOW = 2  # pke YAKE default co-occurrence window


def _yake_word_scores_ref(words_orig, words_low, sents, token_ids, window=YAKE_WINDOW):
    """Reference (loop) implementation of the YAKE word features — kept as
    the parity oracle for the vectorized `_yake_word_scores` (a pytest
    asserts equality on randomized docs); the vectorized path is what
    ships in the hot applyInPandas stage.

    Full YAKE per-word features (Campos et al., the algorithm behind
    pke YAKE used at reference main.py:115-121):

      TCase  = max(TF_upper, TF_acronym) / (1 + ln(TF))
      TPos   = ln(ln(3 + median(position)))
      TFNorm = TF / (mean(TF) + std(TF))
      TRel   = 1 + (DL + DR) * TF / maxTF   (DL/DR = distinct/total
               co-occurring words within `window` left/right)
      TSent  = #sentences containing w / #sentences

      S(w) = TPos * TRel / (TCase + TFNorm/TRel + TSent/TRel)

    Lower S = more important word (composed per candidate in _yake_doc).
    """
    n = len(words_low)
    n_sents = max(1, int(max(sents)))
    stats: dict[str, list] = {}
    for i, (wo, wl, s, tid) in enumerate(zip(words_orig, words_low, sents, token_ids)):
        st = stats.setdefault(wl, [0, [], set(), 0, 0, set(), 0, set(), 0])
        # [tf, positions, sentset, tf_upper, tf_acronym,
        #  left_distinct, left_total, right_distinct, right_total]
        st[0] += 1
        st[1].append(i)
        st[2].add(int(s))
        if wo.isupper() and len(wo) > 1:
            st[4] += 1
        elif wo[:1].isupper() and int(tid) > 1:
            st[3] += 1
        for j in range(max(0, i - window), i):
            st[5].add(words_low[j])
            st[6] += 1
        for j in range(i + 1, min(n, i + 1 + window)):
            st[7].add(words_low[j])
            st[8] += 1
    freqs = np.array([v[0] for v in stats.values()], dtype=float)
    mean_f, std_f = freqs.mean(), freqs.std() or 1.0
    max_f = freqs.max()
    wscore = {}
    for w, (tf, pos, sset, tfu, tfa, ldis, ltot, rdis, rtot) in stats.items():
        t_case = max(tfu, tfa) / (1.0 + np.log(tf))
        t_pos = np.log(np.log(3 + np.median(pos)))
        t_fnorm = tf / (mean_f + std_f)
        dl = len(ldis) / ltot if ltot else 0.0
        dr = len(rdis) / rtot if rtot else 0.0
        t_rel = 1.0 + (dl + dr) * tf / max_f
        t_sent = len(sset) / n_sents
        wscore[w] = (t_pos * t_rel) / (t_case + t_fnorm / t_rel + t_sent / t_rel)
    return wscore


def _yake_word_scores(words_orig, words_low, sents, token_ids, window=YAKE_WINDOW):
    """Vectorized YAKE word features — numerically identical to
    ``_yake_word_scores_ref`` (same elementwise formulas, same medians,
    same window edge handling; asserted by test) but O(n) numpy instead
    of a per-token Python loop with set updates: the doc-local stage was
    the costliest Python in the headline bench."""
    n = len(words_low)
    if n == 0:
        return {}
    lw = pd.Series(words_low, dtype=object)
    ow = pd.Series(words_orig, dtype=object)
    codes, uniques = pd.factorize(lw)
    u = len(uniques)
    tf = np.bincount(codes, minlength=u).astype(float)

    # positions (global enumeration index) -> per-word median
    pos = np.arange(n, dtype=float)
    med = pd.Series(pos).groupby(codes).median().reindex(range(u)).to_numpy()

    # sentence spread: distinct sids per word
    sent_arr = np.asarray(sents, dtype=np.int64)
    uniq_ws = {(c, s) for c, s in zip(codes, sent_arr)}
    nsw = np.bincount(
        np.fromiter((c for c, _ in uniq_ws), dtype=np.int64, count=len(uniq_ws)),
        minlength=u,
    ).astype(float)
    n_sents = max(1, int(sent_arr.max()))

    # casing: all-upper multi-char (ref st[4]) else capitalized non-initial
    # (ref st[3]); max of the two feeds TCase
    is_upper = ow.str.isupper().to_numpy(dtype=bool) & (ow.str.len() > 1).to_numpy(dtype=bool)
    tid_arr = np.asarray(token_ids, dtype=np.int64)
    first_cap = ow.str[:1].str.isupper().fillna(False).to_numpy(dtype=bool)
    is_acr = (~is_upper) & first_cap & (tid_arr > 1)
    tfa = np.bincount(codes, weights=is_upper.astype(float), minlength=u)
    tfu = np.bincount(codes, weights=is_acr.astype(float), minlength=u)

    # window-2 context: left/right totals + distinct neighbor words
    ldis = np.zeros(u)
    rdis = np.zeros(u)
    ltot = np.zeros(u)
    rtot = np.zeros(u)
    lpairs: set = set()
    rpairs: set = set()
    for off in range(1, window + 1):
        if off >= n + 1:
            break
        # left neighbor at distance off exists for occurrences i >= off
        c = codes[off:]
        nb = codes[:-off] if off else codes
        np.add.at(ltot, c, 1.0)
        lpairs.update(zip(c.tolist(), nb.tolist()))
        # right neighbor at distance off exists for i <= n-1-off
        np.add.at(rtot, codes[:-off], 1.0)
        rpairs.update(zip(codes[:-off].tolist(), codes[off:].tolist()))
    for c, _ in lpairs:
        ldis[c] += 1.0
    for c, _ in rpairs:
        rdis[c] += 1.0

    mean_f, std_f = tf.mean(), tf.std() or 1.0
    max_f = tf.max()
    t_case = np.maximum(tfu, tfa) / (1.0 + np.log(tf))
    t_pos = np.log(np.log(3 + med))
    t_fnorm = tf / (mean_f + std_f)
    dl = np.divide(ldis, ltot, out=np.zeros(u), where=ltot > 0)
    dr = np.divide(rdis, rtot, out=np.zeros(u), where=rtot > 0)
    t_rel = 1.0 + (dl + dr) * tf / max_f
    t_sent = nsw / n_sents
    s = (t_pos * t_rel) / (t_case + t_fnorm / t_rel + t_sent / t_rel)
    return {w: float(s[i]) for i, w in enumerate(uniques)}


def _yake_doc(pdf: pd.DataFrame) -> pd.DataFrame:
    """YAKE per document (pke YAKE, main.py:115-121) with the FULL feature
    set (_yake_word_scores: casing, position, normalized frequency, window
    relatedness, sentence spread); candidate score = prod(word scores) /
    (tf * (1 + sum(word scores))). Lower is better in YAKE; we negate so
    every ranker in the engine is max-is-best.

    Word statistics come from the DOC TOKEN STREAM (rows with ngram null),
    never from candidate surfaces: keying stats by whole multi-word
    surfaces leaves every constituent word of a multi-word candidate
    unseen at scoring time (r01 defect — ADVICE high #1). Candidate rows
    (ngram non-null, one row per occurrence) supply tf and surfaces."""
    doc_id = pdf["doc_id"].iloc[0]
    toks = pdf[pdf["ngram"].isna()].sort_values(["sentence_id", "token_id"])
    cands = pdf[pdf["ngram"].notna()]
    if len(toks) == 0 or len(cands) == 0:
        return pd.DataFrame(columns=["doc_id", "ngram", "term", "score"])
    wscore = _yake_word_scores(
        [str(w) for w in toks["word_orig"].values],
        [str(w) for w in toks["word_lower"].values],
        toks["sentence_id"].values,
        toks["token_id"].values,
    )
    out = []
    cnt = cands.groupby("ngram").size()
    uniq = cands[["ngram", "term"]].drop_duplicates("ngram")
    for ngram, term in zip(uniq["ngram"].values, uniq["term"].values):
        ws = [wscore.get(w, 1.0) for w in str(term).lower().split(" ")]
        tf_c = int(cnt[ngram])
        s = float(np.prod(ws) / (tf_c * (1 + sum(ws))))
        out.append((doc_id, ngram, term, -s))
    return pd.DataFrame(out, columns=["doc_id", "ngram", "term", "score"])


def _yake_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Many-docs-at-once YAKE: the same per-document feature formulas as
    ``_yake_doc``/``_yake_word_scores`` (doc-local semantics are keyed by
    (doc, word) pair codes throughout), but vectorized ACROSS the whole
    Arrow batch. Profiling at sf0.1 showed ~2/3 of the stage's Python
    time was fixed pandas overhead paid once per ~54-word document
    (sort_values, boolean indexing, Series init); batching ~150 docs per
    group amortizes it ~10x. Equality with the per-doc path is pinned by
    tests/test_weighting_ranking.py (batch == per-doc to 1e-9) and the
    driver's full-feature DuckDB oracle."""
    is_cand = pdf["ngram"].notna().to_numpy()
    toks = pdf[~is_cand]
    cands = pdf[is_cand]
    empty = pd.DataFrame(columns=["doc_id", "ngram", "term", "score"])
    if not len(toks) or not len(cands):
        return empty
    dcodes_all, docs_uniq = pd.factorize(pdf["doc_id"])
    nd = len(docs_uniq)
    dt = dcodes_all[~is_cand]
    sid = toks["sentence_id"].to_numpy(np.int64)
    tid = toks["token_id"].to_numpy(np.int64)
    order = np.lexsort((tid, sid, dt))
    dt, sid, tid = dt[order], sid[order], tid[order]
    low = toks["word_lower"].to_numpy(object)[order]
    orig = pd.Series(toks["word_orig"].to_numpy(object)[order])
    n = len(dt)
    wcodes, wuniq = pd.factorize(pd.Series(low))
    n_words = len(wuniq)
    pair_key = dt.astype(np.int64) * n_words + wcodes
    puniq, pcodes = np.unique(pair_key, return_inverse=True)
    u = len(puniq)
    pdoc = (puniq // n_words).astype(np.int64)
    pword = (puniq % n_words).astype(np.int64)
    tf = np.bincount(pcodes, minlength=u).astype(float)

    # per-doc enumeration index (dt is the primary lexsort key -> sorted)
    seg = np.cumsum(np.r_[0, (np.diff(dt) != 0)])
    starts = np.r_[0, np.flatnonzero(np.diff(dt)) + 1]
    pos = np.arange(n, dtype=np.int64) - starts[seg]
    med = pd.Series(pos.astype(float)).groupby(pcodes).median().reindex(range(u)).to_numpy()

    max_sid = int(sid.max()) + 1
    uws = np.unique(pcodes.astype(np.int64) * max_sid + sid)
    nsw = np.bincount(uws // max_sid, minlength=u).astype(float)
    n_sents = np.ones(nd)
    np.maximum.at(n_sents, dt, sid.astype(float))

    is_upper = (orig.str.isupper() & (orig.str.len() > 1)).to_numpy(dtype=bool)
    first_cap = orig.str[:1].str.isupper().fillna(False).to_numpy(dtype=bool)
    is_acr = (~is_upper) & first_cap & (tid > 1)
    tfa = np.bincount(pcodes, weights=is_upper.astype(float), minlength=u)
    tfu = np.bincount(pcodes, weights=is_acr.astype(float), minlength=u)

    ldis, rdis = np.zeros(u), np.zeros(u)
    ltot, rtot = np.zeros(u), np.zeros(u)
    lkeys, rkeys = [], []
    for off in range(1, YAKE_WINDOW + 1):
        if off >= n + 1:
            break
        same = dt[off:] == dt[:-off]  # neighbors never cross doc bounds
        c, nb = pcodes[off:][same], pcodes[:-off][same]
        np.add.at(ltot, c, 1.0)
        np.add.at(rtot, nb, 1.0)
        lkeys.append(c.astype(np.int64) * u + nb)
        rkeys.append(nb.astype(np.int64) * u + c)
    if lkeys:
        # distinct neighbor pairs are distinct ACROSS window offsets
        np.add.at(ldis, np.unique(np.concatenate(lkeys)) // u, 1.0)
        np.add.at(rdis, np.unique(np.concatenate(rkeys)) // u, 1.0)

    cntd = np.maximum(np.bincount(pdoc, minlength=nd).astype(float), 1.0)
    mean_f = np.bincount(pdoc, weights=tf, minlength=nd) / cntd
    dev = tf - mean_f[pdoc]
    std_f = np.sqrt(np.bincount(pdoc, weights=dev * dev, minlength=nd) / cntd)
    std_f[std_f == 0] = 1.0
    max_f = np.zeros(nd)
    np.maximum.at(max_f, pdoc, tf)

    t_case = np.maximum(tfu, tfa) / (1.0 + np.log(tf))
    t_pos = np.log(np.log(3 + med))
    t_fnorm = tf / (mean_f[pdoc] + std_f[pdoc])
    dl = np.divide(ldis, ltot, out=np.zeros(u), where=ltot > 0)
    dr = np.divide(rdis, rtot, out=np.zeros(u), where=rtot > 0)
    t_rel = 1.0 + (dl + dr) * tf / max_f[pdoc]
    t_sent = nsw / n_sents[pdoc]
    s = (t_pos * t_rel) / (t_case + t_fnorm / t_rel + t_sent / t_rel)

    # candidate scoring: explode terms into words, merge pair scores
    has_toks = np.zeros(nd, dtype=bool)
    has_toks[dt] = True
    cd = dcodes_all[is_cand]
    keep = has_toks[cd]  # per-doc path emits nothing for token-less docs
    if not keep.any():
        return empty
    cdf = pd.DataFrame(
        {
            "d": cd[keep],
            "ngram": cands["ngram"].to_numpy(object)[keep],
            "term": cands["term"].to_numpy(object)[keep],
        }
    )
    uniq = (
        cdf.groupby(["d", "ngram"], sort=False)
        .agg(term=("term", "first"), tf_c=("term", "size"))
        .reset_index()
    )
    words = uniq["term"].astype(str).str.lower().str.split(" ")
    ex = uniq.loc[uniq.index.repeat(words.str.len())].copy()
    ex["w"] = np.concatenate(words.to_numpy())
    score_df = pd.DataFrame({"d": pdoc, "w": wuniq[pword], "s": s})
    ex = ex.merge(score_df, on=["d", "w"], how="left")
    ex["s"] = ex["s"].fillna(1.0)
    agg = (
        ex.groupby(["d", "ngram"], sort=False)
        .agg(
            prod=("s", "prod"), ssum=("s", "sum"),
            term=("term", "first"), tf_c=("tf_c", "first"),
        )
        .reset_index()
    )
    score = -(agg["prod"] / (agg["tf_c"] * (1.0 + agg["ssum"])))
    return pd.DataFrame(
        {
            "doc_id": docs_uniq[agg["d"].to_numpy()],
            "ngram": agg["ngram"],
            "term": agg["term"],
            "score": score.astype(float),
        }
    )


def yake_scores(
    tokens: DataFrame, cands: DataFrame, bucket_parts: int | None = None
) -> DataFrame:
    """YAKE over the doc token stream + candidate occurrences; both sides
    union on doc_id (the graph_rank._rank_input trick). Docs are grouped
    by a HASH BUCKET of doc_id rather than doc_id itself (``bucket_parts``
    groups, default = spark.sql.shuffle.partitions): one shuffle either
    way, but each applyInPandas call then receives ~rows/bucket_parts
    rows spanning many documents, and ``_yake_batch`` vectorizes across
    all of them — the per-group pandas overhead that dominated the
    per-doc grouping disappears, and Arrow moves few large batches
    instead of millions of tiny ones. Doc-locality of every feature is
    preserved inside the batch via (doc, word) pair keys."""
    tok_part = tokens.select(
        "doc_id", "sentence_id", "token_id",
        F.col("word").alias("word_orig"),
        F.lower(F.col("word")).alias("word_lower"),
        F.lit(None).cast("string").alias("ngram"),
        F.lit(None).cast("string").alias("term"),
    )
    cand_part = cands.select(
        "doc_id",
        F.lit(0).alias("sentence_id"),
        F.lit(0).alias("token_id"),
        F.lit("").alias("word_orig"),
        F.lit("").alias("word_lower"),
        F.col("lemma_term").alias("ngram"),
        "term",
    )
    # output doc_id keeps the caller's id type (string corpus ids, long
    # synthetic ids — Arrow refuses an int64 column under a string schema)
    id_type = tokens.schema["doc_id"].dataType.simpleString()
    schema = f"doc_id {id_type}, ngram string, term string, score double"
    spark = tokens.sparkSession
    nb = bucket_parts or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    unioned = tok_part.unionByName(cand_part).withColumn(
        "__b", F.pmod(F.hash("doc_id"), F.lit(nb))
    )
    return unioned.groupBy("__b").applyInPandas(
        lambda pdf: _yake_batch(pdf.drop(columns="__b")), schema
    )


def top_k_terms(scores: DataFrame, k: int = 15) -> DataFrame:
    """Keep the k best-scored candidates per doc with explicit rank.

    Parity: ``extractor.get_n_best(n_term)`` (reference terms.py:171,
    n=15 at main.py:96). Ties broken by term for determinism.
    """
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.col("ngram"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def terms_stats(topk: DataFrame, term_col: str = "term") -> DataFrame:
    """Terms-per-doc / words-per-term rollup (the reference's extracted-term
    summary tables; SURVEY §2.4): per doc — term count, mean words per
    term, mean term character length. Pure Column math over the top-k
    table; one partial-aggregated groupBy."""
    words = F.size(F.split(F.col(term_col), " "))
    return topk.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.avg(words), 4).alias("mean_words_per_term"),
        F.round(F.avg(F.length(term_col)), 4).alias("mean_term_chars"),
    )


def terms_csv_shape(topk: DataFrame) -> DataFrame:
    """Export shape: (document_id, '|'-joined rank-ordered terms).

    Parity: TermsExtractor.write_terms_to (reference terms.py:26-34).
    """
    return (
        topk.groupBy(F.col("doc_id").alias("document_id"))
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("rank", "term"))),
                    lambda s: s["term"],
                ),
                "|",
            ).alias("terms")
        )
    )
