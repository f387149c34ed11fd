"""Relation-context clustering: DBSCAN, exact + scalable paths.

The reference clustered (head, in-between, tail) context vectors with
sklearn DBSCAN (README.md:36-38; code lost — kargo/relations.py is empty;
sweep parameters reconstructed from result filenames
``{set}_{ranker}_{eps}_{min_samples}.json``, noise cluster = -1).

Two implementations with identical semantics (SURVEY.md §2.4 "HARD" item):

* ``dbscan_exact``  — numpy DBSCAN inside a single ``applyInPandas`` group;
  the parity/oracle path for corpus-scale data.
* ``dbscan_scalable`` — ε-neighborhood graph via LSH-bucketed similarity
  join -> core points (|N_ε| >= min_samples) -> connected components over
  core-core edges via iterative min-label propagation (pure DataFrame
  loop) -> border points attach to their nearest core. Deterministic:
  cluster labels are the min vector id of each component's core set,
  noise = -1 — both paths produce the same clustering (label-normalized)
  on the same input.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .embedding import cosine_expr
from .similarity import _hyperplane_keys, _self_join_candidates

CLUSTER_SCHEMA = "vec_id long, cluster long"


def _dbscan_numpy(X: np.ndarray, eps: float, min_samples: int) -> np.ndarray:
    """Plain DBSCAN on cosine distance, deterministic labels = min core id
    per cluster (not discovery order), noise = -1."""
    n = X.shape[0]
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    Xn = X / norms
    dist = 1.0 - Xn @ Xn.T
    neigh = dist <= eps
    counts = neigh.sum(axis=1)  # includes self
    core = counts >= min_samples
    labels = np.full(n, -1, dtype=np.int64)
    # union-find over core-core edges
    parent = np.arange(n)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    core_idx = np.flatnonzero(core)
    for i in core_idx:
        for j in np.flatnonzero(neigh[i]):
            if core[j] and j > i:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    for i in core_idx:
        labels[i] = find(i)
    # border points: nearest core neighbor's cluster
    for i in np.flatnonzero(~core):
        cand = np.flatnonzero(neigh[i] & core)
        if len(cand):
            labels[i] = labels[cand[np.argmin(dist[i, cand])]]
    return labels


def dbscan_exact(vectors: DataFrame, eps: float = 0.325, min_samples: int = 75) -> DataFrame:
    """Exact DBSCAN: (vec_id long, vec array<float/double>) -> cluster labels.

    Single-group applyInPandas — only for parity tests / corpus-sized data.
    """

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        X = np.vstack(pdf["vec"].values).astype(np.float64)
        raw = _dbscan_numpy(X, eps, min_samples)
        ids = pdf["vec_id"].values
        lab = np.where(raw >= 0, ids[np.where(raw >= 0, raw, 0)], -1)
        return pd.DataFrame({"vec_id": ids, "cluster": lab})

    return (
        vectors.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(run, CLUSTER_SCHEMA)
    )


def connected_components(edges: DataFrame, max_iters: int = 20) -> DataFrame:
    """Min-label CC over (src long, dst long) edges -> (vec_id, component).

    Each round does min-label propagation (pull the min over neighbors)
    PLUS a pointer-jumping shortcut (label := label of the label node —
    sound because labels are node ids and only ever decrease), so label
    distance to the component minimum roughly halves per round:
    convergence in O(log diameter) rounds, not O(diameter). The r02 plain
    propagation capped at 20 iterations silently SPLIT any component whose
    label-propagation distance exceeded 20 hops — near-dup pair graphs
    commonly form long chains (VERDICT r02 What's-wrong #3 / ADVICE med
    #2). With jumping, 20 rounds covers diameters beyond 2^20; if the
    loop still exits unconverged it now RAISES instead of returning
    silently wrong components.
    """
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist()
    labels = (
        sym.select(F.col("src").alias("vec_id"))
        .distinct()
        .withColumn("component", F.col("vec_id"))
    )
    for it in range(max_iters):
        prop = (
            sym.join(labels.withColumnRenamed("vec_id", "src"), "src")
            .groupBy(F.col("dst").alias("vec_id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        propagated = labels.join(prop, "vec_id", "left").select(
            "vec_id",
            F.least(F.col("component"), F.coalesce("nbr_min", "component")).alias("component"),
        )
        # pointer jumping: component ids are node ids, so each node can
        # shortcut to its label node's own (<=) label in one self-join —
        # jump maps label-node id -> that node's label
        jump = propagated.select(
            F.col("vec_id").alias("component"), F.col("component").alias("gp")
        )
        new_labels = (
            propagated.join(jump, "component", "left")
            .select(
                "vec_id",
                F.least(F.col("component"), F.coalesce("gp", "component")).alias("component"),
            )
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.join(labels.withColumnRenamed("component", "old"), "vec_id")
            .filter(F.col("component") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        sym.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(propagation + pointer jumping covers diameters beyond "
            "2^max_iters; this indicates a pathological graph or a bug)"
        )
    sym.unpersist()
    return labels


def dbscan_sweep(
    vectors: DataFrame,
    eps_values: tuple[float, ...] = (0.25, 0.275, 0.3, 0.325, 0.335, 0.35),
    min_samples_values: tuple[int, ...] = (0, 25, 75, 85, 100),
    exact: bool = True,
    **kw,
) -> dict[tuple[float, int], DataFrame]:
    """The reference's DBSCAN parameter sweep (README.md:36-38; filename
    convention ``{set}_{ranker}_{eps}_{min_samples}`` in
    results/extracted_relations/): one clustering per (eps, min_samples).

    Returns {(eps, ms): labels_df}. min_samples=0 degrades to 1 (every
    point is core — sklearn semantics the reference relied on)."""
    out = {}
    for eps in eps_values:
        for ms in min_samples_values:
            fn = dbscan_exact if exact else dbscan_scalable
            out[(eps, ms)] = fn(vectors, eps=eps, min_samples=max(ms, 1), **kw)
    return out


def dbscan_scalable(
    vectors: DataFrame,
    eps: float = 0.325,
    min_samples: int = 75,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """LSH-blocked DBSCAN (SURVEY.md §2.4): approximate ε-neighborhood via
    multi-probe signatures, exact distance verify on bucket-joined pairs.

    Note: LSH blocking can miss cross-bucket neighbors (approximation);
    with several independent hash tables the miss rate is small. Parity
    tests compare against ``dbscan_exact`` on inputs where buckets are
    generous (few planes).
    """
    v = vectors.select(F.col("vec_id").alias("id"), F.col("vec").cast("array<double>").alias("vec"))
    seeds = [seed + 1000 * t for t in range(3)]  # 3 independent hash tables
    dist = (1.0 - cosine_expr(F.col("a.vec"), F.col("b.vec"))).alias("dist")
    pairs = (
        _self_join_candidates(
            _hyperplane_keys(v, "vec", seeds, n_planes, dim), ["table", "key"],
            pair_cols=(dist,), where=F.col("dist") <= eps,
        )
        .select(F.col("a").alias("src"), F.col("b").alias("dst"), "dist")
        .persist()
    )
    return dbscan_from_edges(v.select(F.col("id").alias("vec_id")), pairs, min_samples)


def dbscan_from_edges(ids: DataFrame, pairs: DataFrame, min_samples: int) -> DataFrame:
    """DBSCAN given a verified ε-neighbor edge list — the distance-agnostic
    second half of the scalable path, shared by the vector (cosine) and
    pattern (edit-ratio) cluster operators.

    ids:   one column ``vec_id`` — every point (isolated points -> -1).
    pairs: (src, dst, dist) with dist <= eps already verified, src < dst.
    """
    sym = pairs.select("src", "dst").unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    degree = sym.groupBy(F.col("src").alias("vec_id")).agg((F.count(F.lit(1)) + 1).alias("n_eps"))
    core = degree.filter(F.col("n_eps") >= min_samples).select("vec_id").persist()
    core_edges = (
        pairs.join(core.withColumnRenamed("vec_id", "src"), "src", "left_semi")
        .join(core.withColumnRenamed("vec_id", "dst"), "dst", "left_semi")
        .select("src", "dst")
    )
    comp = connected_components(core_edges)
    # singleton cores (no core neighbor) are their own cluster
    core_labels = (
        core.join(comp, "vec_id", "left")
        .select("vec_id", F.coalesce("component", "vec_id").alias("cluster"))
    )
    # border: nearest core neighbor's cluster
    border_near = (
        sym.join(core_labels.withColumnRenamed("vec_id", "dst").withColumnRenamed("cluster", "c"), "dst")
        .join(core.withColumnRenamed("vec_id", "src"), "src", "left_anti")
        .join(
            pairs.select("src", "dst", "dist").unionByName(
                pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "dist")
            ),
            ["src", "dst"],
        )
        .groupBy(F.col("src").alias("vec_id"))
        .agg(F.min_by("c", "dist").alias("cluster"))
    )
    all_labeled = core_labels.unionByName(border_near)
    out = (
        ids.join(all_labeled, "vec_id", "left")
        .select("vec_id", F.coalesce("cluster", F.lit(-1)).alias("cluster"))
    )
    # the result is one bounded row per point: materialize it so the core
    # cache (and the caller's edge cache) can be released immediately —
    # otherwise every sweep/pipeline invocation leaks a persisted block
    out = out.localCheckpoint(eager=True)
    core.unpersist()
    return out
