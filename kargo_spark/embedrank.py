"""EmbedRank-style term ranking: embedding similarity + MMR selection.

Reference: kargo/terms.py:184-235 — EmbedRankExtractor embeds the document
and each candidate with sent2vec (terms.py:204-211, zero-embedding mask at
208-209), then picks N terms by Maximal Marginal Relevance with beta=0.55
and alias_threshold=0.7 (terms.py:216-235).

Spark shape: candidates + doc text embed via the deterministic hashing
embedder (scalar-iterator pandas_udf); MMR is inherently sequential per
document, so it runs per doc inside ``applyInPandas`` over numpy arrays —
one shuffle on doc_id, vectorized math inside.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .embedding import DEFAULT_DIM, embed_texts_np
from .skew import widen


def _embedrank_schema(df: DataFrame) -> str:
    """Output schema inheriting the caller's doc_id type (string corpus
    ids vs long synthetic ids — Arrow rejects int64 under a string
    schema; same device as graph_rank._rank_schema)."""
    id_type = df.schema["doc_id"].dataType.simpleString()
    return f"doc_id {id_type}, ngram string, term string, score double, aliases string"

_EMPTY = pd.DataFrame(columns=["doc_id", "ngram", "term", "score", "aliases"])


def _mmr_doc(
    pdf: pd.DataFrame, n: int, beta: float, dim: int, seed: int, alias_threshold: float
) -> pd.DataFrame:
    doc_id = pdf["doc_id"].iloc[0]
    doc_text = pdf["content"].iloc[0]
    cands = pdf[["ngram", "term"]].drop_duplicates("ngram").reset_index(drop=True)
    if not len(cands):
        return _EMPTY
    C = embed_texts_np(cands["term"], dim, seed)
    d = embed_texts_np(pd.Series([doc_text]), dim, seed)[0]
    # zero-embedding mask (terms.py:208-209)
    nz = np.abs(C).sum(axis=1) > 0
    cands, C = cands[nz].reset_index(drop=True), C[nz]
    if not len(cands):
        return _EMPTY
    doc_sim = C @ d
    cand_sim = C @ C.T
    # alias collapse (terms.py:217,228-232 alias_threshold=0.7): candidates
    # whose pairwise cosine >= threshold are near-duplicate surfaces of one
    # phrase; greedily (by doc relevance, deterministic term tiebreak)
    # assign them to a representative so they cannot occupy several MMR
    # selection slots, and report them as that representative's aliases
    order = sorted(range(len(cands)), key=lambda i: (-doc_sim[i], cands["term"][i]))
    reps: list[int] = []
    aliases: dict[int, list[str]] = {}
    for i in order:
        owner = next((r for r in reps if cand_sim[i, r] >= alias_threshold), None)
        if owner is None:
            reps.append(i)
            aliases[i] = []
        else:
            aliases[owner].append(cands["term"][i])
    n = min(n, len(reps))
    selected: list[int] = []
    rest = list(reps)
    out = []
    for rank in range(n):
        if selected:
            redundancy = cand_sim[np.ix_(rest, selected)].max(axis=1)
        else:
            redundancy = np.zeros(len(rest))
        mmr = beta * doc_sim[rest] - (1 - beta) * redundancy
        best = int(np.argmax(mmr))
        idx = rest.pop(best)
        selected.append(idx)
        # monotone-decreasing score encodes MMR rank order
        out.append(
            (doc_id, cands["ngram"][idx], cands["term"][idx], float(n - rank),
             "|".join(sorted(aliases[idx])))
        )
        if not rest:
            break
    return pd.DataFrame(out, columns=["doc_id", "ngram", "term", "score", "aliases"])


def embedrank_scores(
    docs: DataFrame,
    cands: DataFrame,
    n: int = 15,
    beta: float = 0.55,
    dim: int = DEFAULT_DIM,
    seed: int = 42,
    alias_threshold: float = 0.7,
) -> DataFrame:
    """docs(doc_id, content) x candidates -> MMR-ranked terms per doc,
    near-duplicate candidates (cosine >= alias_threshold) collapsed into
    the selected term's '|'-joined ``aliases`` column."""
    cand_part = cands.select(
        "doc_id", F.col("lemma_term").alias("ngram"), "term"
    ).dropDuplicates(["doc_id", "ngram"])
    joined = cand_part.join(docs.select("doc_id", "content"), "doc_id")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _mmr_doc(pdf, n, beta, dim, seed, alias_threshold)

    # widen by doc_id: the MMR stage is CPU-dense on a byte-light input,
    # the AQE coalescing trap described in skew.widen
    return widen(joined, "doc_id").groupBy("doc_id").applyInPandas(
        fn, _embedrank_schema(docs)
    )
