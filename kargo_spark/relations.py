"""Open relation extraction: ``terms_topk -> mentions -> pairs -> triples``.

The reference's relation module (kargo/relations.py) is stored as a single
newline-free line; round 1 misread it as empty and reconstructed semantics
from artifacts. Round 2 recovered the actual code: see ``reference_pairs``
below for the exact RelationExtractor.get_terms_occurrence parity path.
The engine-native path keeps the reconstructed shape: per sentence,
adjacent ranked-term mentions pair into
(head, in_between_words, tail) with a per-sentence ``cooc_no`` ordinal
(meta.cooc_no in data/annotations/relations/dev_20200612.jsonl), and the
final triple store is deduplicated (subj, pred, obj) with provenance.

Everything here is windows + joins — no UDFs:

* mentions  = candidate occurrences semi-joined to the per-doc top-k terms,
  first occurrence per (doc, sentence, term) only (reference
  corpus.py:102-111 matches only the first occurrence).
* pairs     = lead() over mentions ordered by begin offset.
* in-between words = array slice of the sentence's token array.
* triples   = groupBy (subj, pred, obj) with support count + provenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def mentions(cands: DataFrame, topk: DataFrame) -> DataFrame:
    """Occurrences of top-k terms, first per (doc, sentence, term).

    The semi-join side (topk) is k-per-doc — tiny relative to occurrences —
    but shares the doc_id key, so Catalyst shuffles both on (doc_id, ngram);
    with AQE the small side broadcast-joins when it fits.
    """
    keys = topk.select("doc_id", F.col("ngram").alias("lemma_term")).distinct()
    occ = cands.join(keys, ["doc_id", "lemma_term"], "left_semi")
    w = Window.partitionBy("doc_id", "sentence_id", "lemma_term").orderBy("offset_begin")
    return (
        occ.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def pairs(mention_df: DataFrame, sentences: DataFrame | None = None) -> DataFrame:
    """Adjacent-mention pairing per sentence with cooc_no ordinal.

    Output: (doc_id, sentence_id, cooc_no, head, tail, head_tok_end,
    tail_tok_begin, in_between_words?). ``in_between_words`` needs
    ``sentences``: per-sentence rows with a ``toks`` token array, such as
    ``nlp.annotate``'s output.
    """
    w = Window.partitionBy("doc_id", "sentence_id").orderBy("offset_begin", "tok_begin")
    p = (
        mention_df.select(
            "doc_id", "sentence_id",
            F.col("term").alias("head"),
            F.col("lemma_term").alias("head_ngram"),
            F.col("tok_end").alias("head_tok_end"),
            F.col("offset_begin"),
            F.lead("term").over(w).alias("tail"),
            F.lead("lemma_term").over(w).alias("tail_ngram"),
            F.lead("tok_begin").over(w).alias("tail_tok_begin"),
        )
        .filter(F.col("tail").isNotNull())
        # overlapping mentions (nested NPs) can't form a pair
        .filter(F.col("tail_tok_begin") > F.col("head_tok_end"))
        .withColumn("cooc_no", F.row_number().over(
            Window.partitionBy("doc_id", "sentence_id").orderBy("offset_begin")))
    )
    if sentences is not None:
        # in-between words from the sentence token array: slice between the
        # head's last token and the tail's first token (1-based token ids)
        toks = sentences.select("doc_id", "sentence_id", "toks")
        p = p.join(toks, ["doc_id", "sentence_id"], "left").withColumn(
            "in_between_words",
            F.array_join(
                F.transform(
                    F.filter(
                        F.col("toks"),
                        lambda t: (t["token_id"] > F.col("head_tok_end"))
                        & (t["token_id"] < F.col("tail_tok_begin")),
                    ),
                    lambda t: t["word"],
                ),
                " ",
            ),
        ).drop("toks")
    return p


def pair_npmi(
    occ: DataFrame,
    id_cols: tuple[str, ...] = ("doc_id", "sentence_id"),
    term_col: str = "term",
    min_pair_count: int = 2,
) -> DataFrame:
    """Normalized pointwise mutual information over term co-occurrence —
    the association-strength weighting a KG pipeline uses to score how
    meaningful a (subj, obj) pairing is before keeping a triple (vs. mere
    chance co-occurrence of two frequent terms).

    ``occ``: one row per (context, term) OCCURRENCE; contexts are the
    ``id_cols`` tuple (sentence, window, document...). Counts are over
    DISTINCT (context, term): n(a) = contexts containing a, n(a,b) =
    contexts containing both, N = total contexts.

      pmi  = ln( p(a,b) / (p(a) p(b)) )
      npmi = pmi / -ln p(a,b)          in [-1, 1], 1 = perfect association

    Shape: distinct -> self-join on the context key (src < dst) ->
    partial-agg counts -> broadcast of the (vocabulary-sized) unigram
    count table. Hub terms skew the context join's key distribution, not
    a reducer (keys are contexts, whose fan-out is sentence length —
    bounded), so no salting is needed; AQE splits stragglers.
    """
    ctx = [F.col(c) for c in id_cols]
    t = occ.select(*ctx, F.col(term_col).alias("t")).distinct()
    n_ctx = occ.select(*id_cols).distinct().count()
    uni = t.groupBy("t").agg(F.count(F.lit(1)).alias("n_t"))
    a = t.select(*ctx, F.col("t").alias("a"))
    b = t.select(*ctx, F.col("t").alias("b"))
    pair = (
        a.join(b, list(id_cols))
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_count)
    )
    joined = (
        pair.join(F.broadcast(uni.withColumnRenamed("t", "a").withColumnRenamed("n_t", "n_a")), "a")
        .join(F.broadcast(uni.withColumnRenamed("t", "b").withColumnRenamed("n_t", "n_b")), "b")
    )
    p_ab = F.col("n_ab") / F.lit(float(n_ctx))
    pmi = F.log(p_ab / ((F.col("n_a") / n_ctx) * (F.col("n_b") / n_ctx)))
    # p(a,b) = 1 -> pmi = 0 and -ln p = 0: the 0/0 limit is perfect
    # association, so pin it to 1 instead of NaN
    npmi = F.when(F.col("n_ab") == n_ctx, F.lit(1.0)).otherwise(pmi / -F.log(p_ab))
    return joined.select(
        "a", "b", "n_ab", npmi.cast("double").alias("npmi")
    )


def relation_json_rows(labeled_pairs: DataFrame, max_members: int = 64) -> DataFrame:
    """Cluster-file sink shape (reference artifact
    results/extracted_relations/relation_jsons/*.json — D6 in SURVEY §1):
    one JSON object per cluster id with its member records
    {text, head_words, tail_words, in_between_words}; noise cluster -1
    included. Emitted as (cluster string, n_members, members_json) rows.

    ``n_members`` is the TRUE cluster size, but ``members_json`` keeps at
    most ``max_members`` members (deterministic window top-n BEFORE the
    groupBy, so neither the shuffle nor the agg buffer ever holds an
    unbounded cluster — the reference's own noise cluster -1 had 6,763
    members; unbounded collect_list is one reducer OOM at scale;
    r01 defect — VERDICT What's-wrong #6)."""
    member = F.to_json(
        F.struct(
            F.coalesce(F.col("context"), F.lit("")).alias("text"),
            F.col("head").alias("head_words"),
            F.col("tail").alias("tail_words"),
            F.coalesce(F.col("in_between_words"), F.lit("")).alias("in_between_words"),
        )
    )
    with_member = labeled_pairs.withColumn("member", member).withColumn(
        "cluster", F.col("cluster").cast("string")
    )
    counts = with_member.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_members"))
    w = Window.partitionBy("cluster").orderBy("member")
    bounded = (
        with_member.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_members)
        .groupBy("cluster")
        .agg(
            F.concat(
                F.lit("["), F.array_join(F.sort_array(F.collect_list("member")), ","), F.lit("]")
            ).alias("members_json"),
        )
    )
    return counts.join(bounded, "cluster").select("cluster", "n_members", "members_json")


def labels_map_rows(pair_df: DataFrame, gold: DataFrame | None = None) -> DataFrame:
    """Label-map sink shape (reference artifact
    results/extracted_relations/labels/*.json: doc -> sent -> "head|tail"
    -> 0/1): rows (doc_id, sent_id, pair_key, label). Pairs join the gold
    YES/NO table when given, else label 0."""
    key = F.lower(F.concat_ws("|", "head", "tail"))
    out = pair_df.select(
        "doc_id", F.col("sentence_id").alias("sent_id"), key.alias("pair_key")
    )
    if gold is not None:
        g = gold.select(
            "doc_id",
            F.col("sent_id"),
            F.lower(F.concat_ws("|", "head", "tail")).alias("pair_key"),
            "label",
        )
        return out.join(g, ["doc_id", "sent_id", "pair_key"], "left").fillna({"label": 0})
    return out.withColumn("label", F.lit(0))


def triples_from_pairs(pair_df: DataFrame, pred_col: str | None = None) -> DataFrame:
    """Deduplicated (subj, pred, obj) triple store with support + provenance.

    pred = cluster id column when relation clustering ran, else the default
    'cooccurs_with' predicate. Dedup = groupBy, support count, provenance
    kept as a bounded collect (slice to 16) so a hub triple at 10^12-file
    scale cannot blow up a reducer.
    """
    pred = F.col(pred_col).cast("string") if pred_col else F.lit("cooccurs_with")
    return (
        pair_df.select(
            F.col("head").alias("subj"),
            pred.alias("pred"),
            F.col("tail").alias("obj"),
            F.concat_ws("#", "doc_id", "sentence_id").alias("prov"),
        )
        .groupBy("subj", "pred", "obj")
        .agg(
            F.count(F.lit(1)).alias("support"),
            F.slice(F.sort_array(F.collect_set("prov")), 1, 16).alias("provenance"),
        )
    )


# --- reference-exact candidate pair extraction -----------------------------

REFERENCE_PAIRS_SCHEMA = (
    "doc_id string, sent_id int, cooc_no int, head string, tail string, "
    "in_between string"
)

REFERENCE_PATTERN_SCHEMA = (
    REFERENCE_PAIRS_SCHEMA
    + ", in_between_pat array<string>, prefix_pat array<string>, "
    "suffix_pat array<string>"
)


def _doc_reference_pairs(
    pdf, window_size: int, closest_term_only: bool, include_ne: bool,
    exclude_ne: tuple, lowercase: bool = True, strict_reference_ne: bool = False,
    with_patterns: bool = False, n_outer_tokens: int = 0,
    generalize: str = "word",
):
    """Exact reimplementation of RelationExtractor.get_terms_occurrence +
    get_all_cooccurrences (reference kargo/relations.py — single-line file;
    recovered round 2) for ONE document:

    * term spans: FIRST word-sequence match per term, scanning
      ``range(n_words - n_term_words)`` — the reference's own off-by-one
      excludes a term ending exactly at the sentence end and is kept for
      parity (is_term_exist). ``lowercase=True`` matches against lowercased
      words and emits lowercased surfaces (the variant that reproduces the
      dev annotation artifacts, r02 north gate); ``False`` matches
      case-SENSITIVELY against the original words and emits original-case
      surfaces — the committed reference code path, the one that produced
      results/extracted_relations/relation_jsons/train_dev-*.json.
    * named entities: BIOES runs, types not in exclude_ne
      (get_named_entities; annotation runs used exclude PERSON/DATE).
      Default = the engine's cleaned tagger (handles plain BIO too, resets
      after each flush); ``strict_reference_ne=True`` replicates the
      reference loop VERBATIM, including its quirks (an I/E tag with no
      open span appends to — and therefore mutates — the previously
      emitted entity; excluded-type tokens are skipped without closing
      the open span), which artifact-level parity requires.
    * overlap reduction: keep first non-overlapping span, terms before NEs
      (reduce_duplicate_entities).
    * pairing: spans sorted by first token; tail = next span only when
      closest_term_only; token-id gap <= window_size; cooc_no = 0-based
      ordinal within the sentence (get_relations_to_anno meta).
    * ``with_patterns``: also emit the ClusteringRE pattern token arrays —
      in_between = tokens strictly between head and tail
      (get_tokens_subset(head_end+1, tail_begin)), plus prefix/suffix when
      ``n_outer_tokens`` > 0 (bounded by the previous head end / next head
      begin exactly as in get_terms_occurrence); each token generalized to
      its ``word`` / ``lemma`` / ``pos`` attribute (ClusteringRE
      generalize).
    """
    import pandas as pd

    doc_id = pdf["doc_id"].iloc[0]
    toks = pdf[pdf["term"].isna()]
    term_rows = pdf[pdf["term"].notna()].sort_values("rank")
    term_words = [str(t).split() for t in term_rows["term"].values]
    gattr = generalize if generalize in ("word", "lemma", "pos") else "word"
    out = []
    for sid, sent in toks.groupby("sent_id"):
        sent = sent.sort_values("token_id")
        words = [str(w) for w in sent["word"].values]
        lwords = [w.lower() for w in words]
        mwords = lwords if lowercase else words
        if with_patterns and gattr != "word":
            gvals = [str(x) for x in sent[gattr].values]
        else:
            gvals = words
        obs = sent["offset_begin"].values
        oes = sent["offset_end"].values
        ners = [str(x) for x in sent["ner"].values]
        off = int(obs[0])
        # offset-preserving sentence reconstruction (SentenceParser.__str__)
        buf, cur = [], 0
        for w, b, e in zip(words, obs, oes):
            b, e = int(b) - off, int(e) - off
            if cur < b:
                buf.append(" " * (b - cur))
            buf.append(w)
            cur = e
        text = "".join(buf)
        if lowercase:
            text = text.lower()
        # term spans: first match per term, reference off-by-one scan bound
        spans = []
        for tw in term_words:
            if not tw:
                continue
            for i in range(len(mwords) - len(tw)):
                if mwords[i : i + len(tw)] == tw:
                    spans.append(list(range(i, i + len(tw))))
                    break
        if include_ne and strict_reference_ne:
            # reference get_named_entities VERBATIM (0-based indices):
            # mutation quirks preserved — see docstring
            ents: list[list[int]] = []
            ent: list[int] = []
            n_toks = len(ners)
            for k, ner in enumerate(ners):
                if ner.split("-")[-1] in exclude_ne:
                    continue
                tag = ner[0]
                if tag in ("B", "S"):
                    ent = [k]
                elif tag in ("I", "E"):
                    ent.append(k)
                if tag in ("E", "S") or (tag in ("B", "I") and k + 1 == n_toks):
                    ents.append(ent)
            spans.extend(ents)
        elif include_ne:
            # engine-cleaned tagger: BIOES AND plain BIO, reset after flush
            ent = []
            for k, ner in enumerate(ners):
                tag = ner[0]
                excluded = ner.split("-")[-1] in exclude_ne
                if not excluded and tag in ("I", "E") and ent:
                    ent.append(k)
                    if tag == "E":
                        spans.append(ent)
                        ent = []
                    continue
                if ent:
                    spans.append(ent)
                    ent = []
                if not excluded and tag == "S":
                    spans.append([k])
                elif not excluded and tag in ("B", "I"):
                    ent = [k]
            if ent:
                spans.append(ent)
        # overlap reduction, first-wins (empty spans guarded away)
        uniq: list[list[int]] = []
        for e in spans:
            if not e:
                continue
            s = set(e)
            if not any(s & set(u) for u in uniq):
                uniq.append(e)
        uniq.sort(key=lambda e: e[0])
        # adjacent pairing within the token window
        cooc_no = 0
        prev_head_end = 0  # reference prev_head_end=1, 1-based -> 0-based
        for i in range(len(uniq)):
            head_end = uniq[i][-1]
            hi = min(i + 2, len(uniq)) if closest_term_only else len(uniq)
            for j in range(i + 1, hi):
                if uniq[j][0] - head_end <= window_size:
                    h = text[int(obs[uniq[i][0]]) - off : int(oes[uniq[i][-1]]) - off]
                    t = text[int(obs[uniq[j][0]]) - off : int(oes[uniq[j][-1]]) - off]
                    ib = text[int(oes[uniq[i][-1]]) - off : int(obs[uniq[j][0]]) - off]
                    row = [doc_id, int(sid), cooc_no, h, t, ib]
                    if with_patterns:
                        tail_begin = uniq[j][0]
                        # get_tokens_subset(head_end+1, tail_begin): 1-based
                        # ids head_end+1 .. tail_begin-1 == 0-based slice
                        # (head_end+1 : tail_begin)
                        row.append([gvals[k] for k in range(head_end + 1, tail_begin)])
                        if n_outer_tokens:
                            head_begin = uniq[i][0]
                            tail_end = uniq[j][-1]
                            next_head_begin = (
                                uniq[j + 1][0] if j < len(uniq) - 1 else len(words)
                            )
                            row.append([
                                gvals[k]
                                for k in range(
                                    max(prev_head_end, head_begin - n_outer_tokens),
                                    head_begin,
                                )
                            ])
                            row.append([
                                gvals[k]
                                for k in range(
                                    tail_end + 1,
                                    min(next_head_begin, tail_end + 1 + n_outer_tokens),
                                )
                            ])
                        else:
                            row.extend([[], []])
                    out.append(tuple(row))
                    cooc_no += 1
            if closest_term_only:
                prev_head_end = uniq[i][-1] + 1
    cols = ["doc_id", "sent_id", "cooc_no", "head", "tail", "in_between"]
    if with_patterns:
        cols += ["in_between_pat", "prefix_pat", "suffix_pat"]
    return pd.DataFrame(out, columns=cols)


def reference_pairs(
    tokens: DataFrame,
    terms: DataFrame,
    window_size: int = 10,
    closest_term_only: bool = True,
    include_ne: bool = True,
    exclude_ne: tuple = ("PERSON", "DATE"),
    lowercase: bool = True,
    strict_reference_ne: bool = False,
    with_patterns: bool = False,
    n_outer_tokens: int = 0,
    generalize: str = "word",
) -> DataFrame:
    """KArgo-exact relation-candidate pairs over an annotated token table
    (e.g. xml_io.read_corenlp_tokens output) + per-doc ranked terms
    (io_formats.read_terms_csv output).

    One groupBy(doc_id) shuffle ships tokens and terms together (union
    trick); the per-doc pass is the sequential reference algorithm —
    doc-local, so parallelism = documents, the right axis at corpus scale.

    Defaults reproduce the dev annotation artifacts (lowercased variant,
    r02 north gate). ``lowercase=False, strict_reference_ne=True,
    with_patterns=True`` is the committed-reference configuration that
    produced the train_dev ClusteringRE artifacts; see
    ``_doc_reference_pairs`` for the exact semantics of every flag.
    """
    gattr = generalize if generalize in ("word", "lemma", "pos") else "word"
    extra = [gattr] if (with_patterns and gattr != "word") else []
    tok_part = tokens.select(
        "doc_id",
        F.col("sentence_id").alias("sent_id"),
        "token_id", "word", "offset_begin", "offset_end", "ner",
        *extra,
        F.lit(None).cast("int").alias("rank"),
        F.lit(None).cast("string").alias("term"),
    )
    term_part = terms.select(
        "doc_id",
        F.lit(0).alias("sent_id"),
        F.lit(0).alias("token_id"),
        F.lit("").alias("word"),
        F.lit(0).cast("long").alias("offset_begin"),
        F.lit(0).cast("long").alias("offset_end"),
        F.lit("O").alias("ner"),
        *[F.lit("").alias(a) for a in extra],
        F.col("rank").cast("int").alias("rank"),
        "term",
    )

    def fn(pdf):
        return _doc_reference_pairs(
            pdf, window_size, closest_term_only, include_ne, exclude_ne,
            lowercase=lowercase, strict_reference_ne=strict_reference_ne,
            with_patterns=with_patterns, n_outer_tokens=n_outer_tokens,
            generalize=generalize,
        )

    return (
        tok_part.unionByName(term_part)
        .groupBy("doc_id")
        .applyInPandas(
            fn, REFERENCE_PATTERN_SCHEMA if with_patterns else REFERENCE_PAIRS_SCHEMA
        )
    )


def reference_triples(pairs: DataFrame) -> DataFrame:
    """(head, 'related_to', tail) triple store from reference-exact pairs,
    deduplicated with support — the north-star comparison surface."""
    return (
        pairs.groupBy(
            F.col("head").alias("subj"),
            F.lit("related_to").alias("pred"),
            F.col("tail").alias("obj"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
    )


def classify_clusters(
    cluster_meta: DataFrame,
    ref_labels: DataFrame,
    reweight: bool = False,
) -> DataFrame:
    """Weakly-supervised relation classification — the recovered reference's
    RelationExtractor.classify (kargo/relations.py, single-line file):
    members of each pattern cluster that appear in the labeled dev set vote
    the CLUSTER label (YES wins ties: ``int(yes >= no)``); every unlabeled
    member then inherits its cluster's label. ``reweight=True`` multiplies
    NO votes by the global YES/NO ratio before voting (the reference's
    class-imbalance correction).

    cluster_meta: (doc_id, sent_id, head, tail, cluster)
    ref_labels:   (doc_id, sent_id, pair_key, label)  — e.g.
                  io_formats.read_relation_labels output, pair_key =
                  lower(head|tail), label in {0, 1}

    Spark shape: one equi-join to attach member labels, one tiny
    per-cluster aggregation (num_clusters rows — broadcast back), no
    driver-side loops. Returns cluster_meta + (cluster_label, voted) where
    voted marks members that carried a dev label into the vote.
    """
    key = F.lower(F.concat_ws("|", "head", "tail"))
    m = cluster_meta.withColumn("pair_key", key)
    lab = ref_labels.select(
        "doc_id",
        F.col("sent_id").cast("int").alias("sent_id"),
        "pair_key",
        F.col("label").cast("int").alias("label"),
    )
    joined = m.join(lab, ["doc_id", "sent_id", "pair_key"], "left")
    votes = joined.filter(F.col("label").isNotNull()).groupBy("cluster").agg(
        F.sum(F.col("label")).alias("yes"),
        F.sum(1 - F.col("label")).alias("no"),
    )
    if reweight:
        tot = votes.agg(F.sum("yes").alias("ty"), F.sum("no").alias("tn"))
        votes = votes.crossJoin(F.broadcast(tot)).select(
            "cluster", "yes",
            (F.col("no") * F.col("ty") / F.greatest(F.col("tn"), F.lit(1))).alias("no"),
        )
    decided = votes.select(
        "cluster", (F.col("yes") >= F.col("no")).cast("int").alias("cluster_label")
    )
    return (
        joined.join(F.broadcast(decided), "cluster", "left")
        .withColumn("cluster_label", F.coalesce("cluster_label", F.lit(0)))
        .withColumn("voted", F.col("label").isNotNull())
        .drop("label")
    )


def pattern_edges(
    patterns: DataFrame,
    eps: float = 0.325,
    id_col: str = "pair_id",
    text_col: str = "in_between_words",
    hot_token_df: int = 1000,
) -> DataFrame:
    """ε-neighbor edges between relation context patterns by edit-distance
    ratio — the recovered reference's ClusteringRE distance
    (dist = 1 - Levenshtein seqratio over generalized patterns; here the
    JVM ``levenshtein`` char ratio on the pattern string — same family,
    zero Python in the verify).

    Scale shape: inverted-index blocking with a hot-key cutoff so
    stop-word blocks cannot go quadratic; empty patterns block together
    under a sentinel key; exact levenshtein verify runs only on blocked
    candidates. Block keys are shared TOKENS, plus char-2-grams for
    short (<= 2-token) patterns: single-word pairs like 'ships'/'shops'
    share no token yet sit within eps, but any pair within edit ratio
    0.35 over strings of length >= 3 must share a char 2-gram
    (<= 2·eps·maxlen of the maxlen-1 2-grams are disturbed).

    Residual approximation vs the reference's full O(n²) distance matrix
    (stated precisely): (a) pairs whose only shared keys exceed the hot
    cutoff are dropped — the same trade as every LSH path here; (b) a
    3+-token pair can sit within eps while sharing no whole token (one
    small edit inside EVERY word, e.g. 'aaaa bbbb cccc'/'aaab bbbc cccd')
    — such pairs are missed; real in-between patterns within eps=0.325
    almost always preserve at least one word verbatim, and closing this
    would require 2-gram keys on all patterns, whose hot-gram blocks
    defeat the cutoff anyway.
    Returns (src, dst, dist), src < dst.
    """
    p = patterns.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("txt"),
    )
    toks = F.filter(F.split(F.lower(F.col("txt")), r"[^a-z0-9]+"), lambda t: t != "")
    grams2 = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("txt") - 1, F.lit(1))),
        lambda i: F.concat(F.lit("::2g::"), F.lower("txt").substr(i, F.lit(2))),
    )
    keys = F.when(F.size(toks) == 0, F.array(F.lit("::empty::"))).otherwise(
        F.when(
            F.size(toks) <= 2,
            F.array_union(F.array_distinct(toks), F.array_distinct(grams2)),
        ).otherwise(F.array_distinct(toks))
    )
    keyed = p.select("id", "txt", F.explode(keys).alias("k"))
    hot = (
        keyed.groupBy("k").agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") > hot_token_df) & (F.col("k") != "::empty::"))
    )
    keyed = keyed.join(hot, "k", "left_anti")
    a, b = keyed.alias("a"), keyed.alias("b")
    dist = F.levenshtein(F.col("a.txt"), F.col("b.txt")) / F.greatest(
        F.greatest(F.length("a.txt"), F.length("b.txt")), F.lit(1)
    )
    return (
        a.join(b, "k")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"), dist.alias("dist"))
        .filter(F.col("dist") <= eps)
        .dropDuplicates(["src", "dst"])
    )


def pattern_clusters(
    pairs_with_context: DataFrame,
    eps: float = 0.325,
    min_samples: int = 75,
    id_col: str = "pair_id",
    text_col: str = "in_between_words",
) -> DataFrame:
    """Relation clustering over in-between patterns — the recovered
    reference's ClusteringRE.cluster (DBSCAN eps=0.325, min_samples=75 on
    the pattern distance matrix; extract_relations params), re-expressed
    as blocked edge generation + distance-agnostic distributed DBSCAN
    (clustering.dbscan_from_edges). Returns (pair_id -> cluster), noise -1.
    """
    from .clustering import dbscan_from_edges

    edges = pattern_edges(
        pairs_with_context, eps=eps, id_col=id_col, text_col=text_col
    ).persist()
    ids = pairs_with_context.select(F.col(id_col).alias("vec_id"))
    # dbscan_from_edges eagerly checkpoints its bounded result, so the
    # edge cache can be released as soon as it returns
    out = dbscan_from_edges(ids, edges, min_samples)
    edges.unpersist()
    return out.withColumnRenamed(
        "vec_id", id_col
    ).withColumnRenamed("cluster", "cluster")
