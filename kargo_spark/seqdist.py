"""Sequence-of-strings edit-ratio distance + the exact ClusteringRE path.

The reference clusters relation context patterns with DBSCAN over a
precomputed distance matrix where ``dist = 1 - Lev.seqratio(p1, p2)``
(kargo/relations.py, ``ClusteringRE.calc_dist`` with
``dist_func=LEVENSHTEIN``; patterns = generalized token lists from
``calc_dist_matrix``, mean over {in_between[, prefix, suffix]}).

``seqratio`` here reimplements the python-Levenshtein semantics from its
documented contract (validated against the library's published example
values — ratio('Hello world!', 'Holly grail!') = 0.5833…, setratio of the
newspaper/caribou example = 0.2818452380952381):

* element substitution cost = ``2 * d2(a, b) / (len(a) + len(b))`` where
  ``d2`` is the character edit distance with substitutions costing 2;
* sequence-level DP with unit insert/delete cost over the elements;
* ``seqratio = (|p1| + |p2| - D) / (|p1| + |p2|)``.

Scale note. ``seqratio_eps_edges`` is the EXACT path: it broadcasts the
distinct-pattern vocabulary and fans the O(u²) pair blocks across the
cluster — the right tool for artifact parity and for corpora whose
*distinct* pattern vocabulary is bounded (patterns are short in-between
token windows; u grows far slower than pair count). The 100-TB path
remains ``relations.pattern_edges`` (inverted-index blocking + hot-key
cutoff); this module is its labeled exact twin, the same split as
``dedup.embedding_pairs_exact`` vs the LSH path.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def char_dist2(a: str, b: str) -> int:
    """Character edit distance with substitution cost 2 (= insert+delete),
    i.e. the LCS-based distance: d2 = la + lb - 2*LCS(a, b)."""
    if a == b:
        return 0
    # strip common prefix/suffix (classic, keeps the DP tiny)
    i = 0
    while i < len(a) and i < len(b) and a[i] == b[i]:
        i += 1
    j = 0
    while j < len(a) - i and j < len(b) - i and a[len(a) - 1 - j] == b[len(b) - 1 - j]:
        j += 1
    a2, b2 = a[i : len(a) - j], b[i : len(b) - j]
    if not a2 or not b2:
        return len(a2) + len(b2)
    prev = list(range(len(b2) + 1))
    for x, ca in enumerate(a2, 1):
        cur = [x] + [0] * len(b2)
        for y, cb in enumerate(b2, 1):
            cur[y] = min(
                prev[y] + 1, cur[y - 1] + 1, prev[y - 1] + (0 if ca == cb else 2)
            )
        prev = cur
    return prev[-1]


def _sub_cost(a: str, b: str, cache: dict) -> float:
    if a == b:
        return 0.0
    key = (a, b) if a <= b else (b, a)
    c = cache.get(key)
    if c is None:
        l = len(a) + len(b)
        c = 2.0 * char_dist2(a, b) / l if l else 0.0
        cache[key] = c
    return c


def seq_distance(p1: list[str], p2: list[str], cache: dict | None = None) -> float:
    """Weighted sequence edit distance over string elements (unit indel,
    normalized-char-distance substitution)."""
    if cache is None:
        cache = {}
    if not p1 or not p2:
        return float(len(p1) + len(p2))
    prev = [float(j) for j in range(len(p2) + 1)]
    for x, ea in enumerate(p1, 1):
        cur = [float(x)] + [0.0] * len(p2)
        for y, eb in enumerate(p2, 1):
            cur[y] = min(prev[y] + 1, cur[y - 1] + 1, prev[y - 1] + _sub_cost(ea, eb, cache))
        prev = cur
    return prev[-1]


def seqratio(p1: list[str], p2: list[str], cache: dict | None = None) -> float:
    lensum = len(p1) + len(p2)
    if lensum == 0:
        return 1.0
    return (lensum - seq_distance(p1, p2, cache)) / lensum


def pattern_distance(
    pats1: list[list[str]], pats2: list[list[str]], cache: dict | None = None
) -> float:
    """Mean over aligned pattern slots of 1 - seqratio — ClusteringRE
    calc_dist_matrix's ``np.mean(distance_matrix, axis=0)`` over
    {in_between[, prefix, suffix]}."""
    if cache is None:
        cache = {}
    ds = [1.0 - seqratio(a, b, cache) for a, b in zip(pats1, pats2)]
    return sum(ds) / len(ds)


def distinct_patterns(
    pairs_with_id: DataFrame,
    pattern_cols: tuple[str, ...] = ("in_between_pat",),
    id_col: str = "point_id",
) -> tuple[DataFrame, DataFrame]:
    """(points, vocab): points = (point_id, pattern_id) for every input
    row; vocab = (pattern_id, mult, <pattern_cols>) over DISTINCT pattern
    tuples. Distances only ever need the vocabulary — duplicate patterns
    are distance-0 twins, so the O(u²) work runs on u distinct rows, not
    n points (the reference corpus has ~12k points but ~6k distinct
    in-between patterns; the gap widens with corpus size)."""
    pts = pairs_with_id.select(F.col(id_col).alias("point_id"), *pattern_cols)
    vocab = (
        pts.groupBy(*pattern_cols)
        .agg(F.count(F.lit(1)).alias("mult"))
        .withColumn(
            "pattern_id",
            F.row_number().over(
                Window.orderBy(*[F.col(c).cast("string") for c in pattern_cols])
            ) - 1,
        )
    )
    points = pts.join(vocab.select("pattern_id", *pattern_cols), list(pattern_cols))
    return points.select("point_id", "pattern_id"), vocab


def seqratio_eps_edges(
    vocab: DataFrame,
    eps: float,
    pattern_cols: tuple[str, ...] = ("in_between_pat",),
    id_col: str = "pattern_id",
    block: int = 256,
    dist_func: str = "seqratio",
    max_vocab: int = 1_000_000,
) -> DataFrame:
    """ε-neighbor edges (src, dst, dist) with dist = mean over
    ``pattern_cols`` of the per-slot distance, src < dst, over the
    distinct pattern vocabulary.

    ``dist_func``: 'seqratio' (1 - seqratio, the reference LEVENSHTEIN
    branch) or 'sent2vec' (1 - cosine over an embedding of the joined
    pattern — reference ClusteringRE.calc_dist SENT2VEC branch; real
    sent2vec weights are not in this container, so the engine's
    deterministic hashing-trick embedder stands in, same substitution as
    EmbedRank).

    Shape: the vocabulary (id + token arrays — megabytes for a bounded
    pattern language) is broadcast once; the O(u²/2) pair space is tiled
    into (block x block) tasks fanned over the cluster; every task streams
    only the edges that survive the ε cut. For seqratio a cheap length
    bound prunes pairs first: D >= |len1 - len2| ⇒ dist >= |l1-l2|/(l1+l2)
    — no DP for pairs that cannot qualify. Char-pair substitution costs
    are memoized per task process; sent2vec embeds the vocabulary once per
    task.
    """
    import pandas as pd

    if dist_func not in ("seqratio", "sent2vec"):
        raise ValueError(f"unknown dist_func {dist_func!r}")
    spark = vocab.sparkSession
    # this is the exact parity twin: it collects the DISTINCT-PATTERN
    # vocabulary to the driver and broadcasts it, which is only sound for
    # a bounded pattern language. Guard it explicitly (r03 verdict
    # next-step #6) instead of assuming the caller read the module header
    # — via limit(max_vocab + 1) so the guard shares the one collect job
    # AND bounds driver memory even on an over-cap vocabulary.
    rows = (
        vocab.select(id_col, *pattern_cols)
        .orderBy(id_col)
        .limit(max_vocab + 1)
        .collect()
    )
    if len(rows) > max_vocab:
        raise ValueError(
            f"seqratio_eps_edges collects the distinct-pattern vocabulary to "
            f"the driver and got > max_vocab={max_vocab} patterns; "
            "this exact path is the bounded-vocab parity twin — use the "
            "scalable inverted-index twin relations.pattern_edges for "
            "unbounded corpora, or raise max_vocab deliberately"
        )
    pats = [tuple([list(r[c]) for c in pattern_cols]) for r in rows]
    ids = [r[id_col] for r in rows]
    u = len(pats)
    bc = spark.sparkContext.broadcast((ids, pats))
    nb = (u + block - 1) // block
    tiles = [(bi, bj) for bi in range(nb) for bj in range(bi, nb)]
    tiles_df = spark.createDataFrame(pa.table({
        "bi": pa.array([t[0] for t in tiles], pa.int32()),
        "bj": pa.array([t[1] for t in tiles], pa.int32()),
    })).repartition(
        min(len(tiles), int(spark.conf.get("spark.sql.shuffle.partitions")) * 4)
    )
    n_cols = len(pattern_cols)
    use_embed = dist_func == "sent2vec"

    def run(batches):
        import numpy as np

        ids_l, pats_l = bc.value
        cache: dict = {}
        emb = None
        if use_embed:
            from .embedding import DEFAULT_DIM, embed_texts_np

            emb = [
                embed_texts_np(
                    pd.Series([" ".join(p[s]) for p in pats_l]), DEFAULT_DIM, 42
                )
                for s in range(n_cols)
            ]
        for pdf in batches:
            out_src, out_dst, out_d = [], [], []
            for bi, bj in zip(pdf["bi"].values, pdf["bj"].values):
                lo_i, hi_i = bi * block, min((bi + 1) * block, u)
                lo_j, hi_j = bj * block, min((bj + 1) * block, u)
                if use_embed:
                    # vectorized tile: mean over slots of 1 - cosine
                    j_lo = lo_j
                    acc = None
                    for s in range(n_cols):
                        block_d = 1.0 - emb[s][lo_i:hi_i] @ emb[s][j_lo:hi_j].T
                        acc = block_d if acc is None else acc + block_d
                    acc /= n_cols
                    ii, jj = np.nonzero(acc <= eps)
                    for x, y in zip(ii, jj):
                        gi, gj = lo_i + int(x), j_lo + int(y)
                        if gi < gj:
                            out_src.append(ids_l[gi])
                            out_dst.append(ids_l[gj])
                            out_d.append(float(acc[x, y]))
                    continue
                for i in range(lo_i, hi_i):
                    pi = pats_l[i]
                    li = [len(p) for p in pi]
                    j0 = max(lo_j, i + 1)
                    for j in range(j0, hi_j):
                        pj = pats_l[j]
                        # length lower bound per slot, averaged
                        lb = 0.0
                        for s in range(n_cols):
                            l1, l2 = li[s], len(pj[s])
                            tot = l1 + l2
                            if tot:
                                lb += abs(l1 - l2) / tot
                        if lb / n_cols > eps:
                            continue
                        d = pattern_distance(pi, pj, cache)
                        if d <= eps:
                            out_src.append(ids_l[i])
                            out_dst.append(ids_l[j])
                            out_d.append(d)
            yield pd.DataFrame({"src": out_src, "dst": out_dst, "dist": out_d})

    return tiles_df.mapInPandas(run, "src long, dst long, dist double")


def weighted_dbscan_patterns(
    points: DataFrame,
    vocab: DataFrame,
    edges: DataFrame,
    min_samples: int,
) -> DataFrame:
    """DBSCAN over points that share a distinct-pattern vocabulary —
    multiplicity-weighted so the ε-graph lives on distinct patterns, never
    on the (quadratically larger) point-pair space.

    A pattern's ε-mass = its own multiplicity (all its points are mutual
    0-distance neighbors) + the multiplicity of every ε-neighbor pattern;
    sklearn semantics: core iff mass >= min_samples (self included),
    border -> nearest core neighbor's cluster, else noise (-1). Every
    point of one pattern is equivalent, so labels transfer by join.
    Returns (point_id, cluster).
    """
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = vocab.select(F.col("pattern_id").alias("dst"), F.col("mult").alias("m_dst"))
    nbr_mass = (
        sym.join(m, "dst")
        .groupBy(F.col("src").alias("pattern_id"))
        .agg(F.sum("m_dst").alias("nbr_mass"))
    )
    mass = (
        vocab.select("pattern_id", "mult")
        .join(nbr_mass, "pattern_id", "left")
        .select(
            "pattern_id", "mult",
            (F.col("mult") + F.coalesce("nbr_mass", F.lit(0))).alias("eps_mass"),
        )
    )
    core = mass.filter(F.col("eps_mass") >= min_samples).select("pattern_id").persist()
    core_edges = (
        edges.join(core.withColumnRenamed("pattern_id", "src"), "src", "left_semi")
        .join(core.withColumnRenamed("pattern_id", "dst"), "dst", "left_semi")
        .select("src", "dst")
    )
    from .clustering import connected_components

    comp = connected_components(core_edges)
    core_labels = (
        core.join(comp.withColumnRenamed("vec_id", "pattern_id"), "pattern_id", "left")
        .select(
            "pattern_id", F.coalesce("component", F.col("pattern_id")).alias("cluster")
        )
    )
    sym_d = edges.select("src", "dst", "dist").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "dist")
    )
    border = (
        sym_d.join(
            core_labels.withColumnRenamed("pattern_id", "dst").withColumnRenamed(
                "cluster", "c"
            ),
            "dst",
        )
        .join(core.withColumnRenamed("pattern_id", "src"), "src", "left_anti")
        .groupBy(F.col("src").alias("pattern_id"))
        .agg(F.min_by("c", "dist").alias("cluster"))
    )
    labels = core_labels.unionByName(border)
    out = (
        points.join(labels, "pattern_id", "left")
        .select("point_id", F.coalesce("cluster", F.lit(-1)).alias("cluster"))
        .localCheckpoint(eager=True)
    )
    core.unpersist()
    return out


def clustering_re(
    pairs: DataFrame,
    eps: float = 0.325,
    min_samples: int = 75,
    pattern_cols: tuple[str, ...] = ("in_between_pat",),
    dist_func: str = "seqratio",
    block: int = 256,
) -> DataFrame:
    """The full ClusteringRE.extract + cluster chain over a pattern-bearing
    pair table (relations.reference_pairs with ``with_patterns=True``):
    distinct-pattern vocabulary -> ε-edges (seqratio or sent2vec distance,
    mean over pattern slots) -> multiplicity-weighted DBSCAN. Returns the
    input rows + ``cluster`` (noise -1) — the shape
    ``relations.relation_json_rows`` sinks into the reference's
    relation_jsons artifacts.

    Parity (reference extract_relations config: eps=0.325, min_samples=75,
    generalize=word, in_between only, train+dev kpm corpora): noise and
    cluster count match the train_dev-kpm_0.325_75.json artifact EXACTLY
    (6,763 noise, 13 clusters) and 11 of 13 cluster sizes are identical;
    4 of 11,942 points (two border points per affected pair of clusters)
    legitimately differ because sklearn attaches a border point to
    whichever cluster's expansion reaches it first under the ORIGINAL
    os.listdir document order — unreproducible by construction — while
    this implementation uses the order-independent nearest-core rule
    (tests/test_clustering_re_parity.py).
    """
    # localCheckpoint is a LINEAGE BARRIER, not a cache hint: persist()+
    # count() only caches blocks, and if one is evicted (or an executor
    # dies) recomputation could reassign different monotonically-
    # increasing ids between the two consumptions of pw below, silently
    # mislabeling points (r03 ADVICE low #2). The checkpoint materializes
    # the generated ids durably before anything reads them twice.
    # Trade-offs, accepted for this bounded batch stage: checkpoint
    # blocks are released by the ContextCleaner when the RDD is
    # garbage-collected (not by an explicit unpersist), and losing an
    # executor after the checkpoint fails the JOB (un-recomputable
    # blocks) rather than silently recomputing with different ids —
    # fail-loud is exactly the behavior the id-stability fix wants.
    pw = pairs.withColumn(
        "point_id", F.monotonically_increasing_id()
    ).localCheckpoint(eager=True)
    points, vocab = distinct_patterns(pw, pattern_cols)
    vocab = vocab.persist()
    edges = seqratio_eps_edges(
        vocab, eps, pattern_cols, block=block, dist_func=dist_func
    ).persist()
    labels = weighted_dbscan_patterns(points, vocab, edges, min_samples)
    out = pw.join(labels, "point_id").drop("point_id").localCheckpoint(eager=True)
    edges.unpersist()
    vocab.unpersist()
    return out
