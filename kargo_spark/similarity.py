"""Similarity search over an embedding column (array<float>).

* ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set, cross-join against the corpus, JVM-side dot products via
  ``F.zip_with``/``F.aggregate``, per-query top-k window. The baseline and
  the oracle for the approximate paths.
* ``lsh_topk``         — random-hyperplane LSH-bucketed candidate
  generation + exact re-rank within buckets: the scale path (corpus side
  shuffles once on bucket key; queries broadcast).
* ``ivf_topk``         — IVF-style: k-means-lite centroids (deterministic
  seeded sample + one Lloyd step in pandas), assign corpus to nearest
  centroid (partition pruning analog), probe the ``n_probe`` nearest
  centroids per query.

Every LSH path in the package shares the two candidate primitives below:
``_hyperplane_keys`` (all random-hyperplane tables keyed in one
projection) and ``_self_join_candidates`` (the guarded bucket self-join
behind the dedup pair producers and ``dbscan_scalable``). Callers keep
their own exact verify step.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .embedding import cosine_expr


# capped_stats keys of the hot-bucket guard, in the order
# _self_join_candidates computes them
_CAP_STATS = ("dropped_buckets", "dropped_rows", "max_possible_pairs_dropped")


def _lsh_plane_matrix(n_planes: int, seed: int, dim: int, dist: str) -> np.ndarray:
    """Hyperplane components. ``gaussian``: seeded standard normals (the
    default). ``rademacher_md5``: ±1 from the low bit of
    md5(f"{seed}:{plane}:{dim_index}") — sign-hash quality is equivalent
    for cosine LSH (Achlioptas-style sparse/±1 projections), and the
    construction is DuckDB-reproducible, which lets the driver's
    recall_audit oracle recompute the buckets exactly."""
    if dist == "rademacher_md5":
        import hashlib

        return np.array(
            [
                [
                    1.0 if int(hashlib.md5(f"{seed}:{p}:{j}".encode()).hexdigest()[0], 16) & 1
                    else -1.0
                    for j in range(dim)
                ]
                for p in range(n_planes)
            ]
        )
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _hyperplane_keys(
    df: DataFrame, vec_col: str, seeds: list[int], n_planes: int, dim: int,
    dist: str = "gaussian",
) -> DataFrame:
    """Random-hyperplane LSH keys for every table in ONE projection: table
    ``t`` uses the ``n_planes`` planes of ``_lsh_plane_matrix(seeds[t])``,
    and its key packs the signs of dot(vec, plane) >= 0 into a long, plane 0
    as the high bit — the same buckets as one sign-bit string per table.
    All planes ride in one nested array literal; the rows explode once into
    ``df``'s columns plus (table int, key long), one row per table."""
    tables = F.array(*[
        F.array(*[
            F.array(*[F.lit(float(x)) for x in p])
            for p in _lsh_plane_matrix(n_planes, s, dim, dist)
        ])
        for s in seeds
    ])

    def bit(plane):
        dot = F.aggregate(F.zip_with(F.col(vec_col), plane, lambda x, y: x * y),
                          F.lit(0.0), lambda a, v: a + v)
        return F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0))

    keys = F.transform(tables, lambda planes: F.aggregate(
        planes, F.lit(0).cast("long"), lambda acc, p: acc * 2 + bit(p)
    ))
    return df.select("*", F.posexplode(keys).alias("table", "key"))


def _self_join_candidates(
    banded: DataFrame,
    keys: list[str],
    max_bucket_size: int | None = None,
    capped_stats: dict | None = None,
    stats: tuple[str, ...] = _CAP_STATS,
    pair_cols: tuple = (),
    where=None,
) -> DataFrame:
    """Candidate pairs of a banded table ``(id, *keys)``: rows sharing a
    bucket (all ``keys`` equal) pair up. Returns deduplicated ``(a, b)``
    with a < b; verification is the caller's. A caller whose banded table
    carries a payload may verify inside the join instead: ``pair_cols``
    are extra output columns over the sides ``a.*``/``b.*`` and ``where``
    filters on them, both before the dedup, so no payload and no rejected
    pair passes through it.

    ``max_bucket_size`` drops buckets holding more rows than the cap from
    the join (the hot-bucket guard). Pass a dict as ``capped_stats`` and it
    receives the ``stats`` keys — hot-bucket count, their rows, and the
    pairs they could have produced — from ONE aggregate row over the hot
    buckets, so the driver never holds the buckets themselves; when that
    row reports no hot bucket the anti-join is skipped."""
    found = [0, 0, 0]
    if max_bucket_size is not None:
        hot = (
            banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket_size)
        )
        if capped_stats is not None:
            row = hot.agg(
                F.count(F.lit(1)), F.sum("n"), F.sum(F.col("n") * (F.col("n") - 1))
            ).first()
            found = [int(row[0]), int(row[1] or 0), int(row[2] or 0) // 2]
        if capped_stats is None or found[0]:
            banded = banded.join(hot.select(*keys), keys, "left_anti")
    if capped_stats is not None:
        capped_stats.update((k, v) for k, v in zip(_CAP_STATS, found) if k in stats)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, keys)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"), *pair_cols)
    )
    if where is not None:
        pairs = pairs.filter(where)
    return pairs.dropDuplicates(["a", "b"])


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query. queries: (query_id, embedding)."""
    c = corpus.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).cast("array<double>").alias("cv"))
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "nbr_id", cosine_expr(F.col("qv"), F.col("cv")).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos", "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 6,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    plane_dist: str = "gaussian",
) -> DataFrame:
    """ANN top-k: candidates = corpus rows sharing any LSH bucket with the
    query across n_tables hash tables; exact cosine re-rank of candidates.
    ``plane_dist="rademacher_md5"`` makes the buckets (and hence recall)
    DuckDB-reproducible for the driver's recall_audit oracle."""
    c = corpus.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).cast("array<double>").alias("cv"))
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv"))
    seeds = [seed + 101 * t for t in range(n_tables)]
    cb = _hyperplane_keys(c, "cv", seeds, n_planes, dim, plane_dist)
    qb = _hyperplane_keys(q, "qv", seeds, n_planes, dim, plane_dist)
    cand = (
        cb.join(F.broadcast(qb), ["table", "key"])
        .dropDuplicates(["query_id", "nbr_id"])
        .select("query_id", "nbr_id", cosine_expr(F.col("qv"), F.col("cv")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("nbr_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    sample_order: str = "xxhash",
) -> DataFrame:
    """IVF ANN: coarse quantizer = deterministic sampled centroids refined
    by one Lloyd iteration (driver-side numpy on a bounded sample), corpus
    assigned to nearest centroid (this is the 'inverted file'); each query
    probes its n_probe nearest centroids' lists only.
    ``sample_order="md5"`` orders the centroid-init sample by
    md5(f"{seed}:{id}") instead of xxhash64 — same determinism, but
    DuckDB-reproducible so the driver's recall_audit oracle can rebuild
    the centroids (and hence the probe sets) exactly."""
    c = corpus.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).cast("array<double>").alias("cv"))
    # bounded, seeded sample for centroid init (never full collect)
    if sample_order == "md5":
        order = F.md5(F.concat(F.lit(f"{seed}:"), F.col("nbr_id").cast("string")))
    else:
        order = F.xxhash64("nbr_id", F.lit(seed))
    sample = np.array(
        c.orderBy(order).limit(max(n_centroids * 20, 256))
        .select("cv").toPandas()["cv"].tolist()
    )
    # md5-based choice, not Python hash() — deterministic by construction
    # and consistent with the repo's no-Python-hash rule (dedup docstring)
    import hashlib

    def _h(i: int) -> int:
        return int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8], 16)

    rng_idx = np.argsort(np.array([_h(i) for i in range(len(sample))]))[:n_centroids]
    cents = sample[rng_idx]
    # one Lloyd step on the sample
    sims = sample @ cents.T
    assign = sims.argmax(axis=1)
    for j in range(n_centroids):
        m = sample[assign == j]
        if len(m):
            cents[j] = m.mean(axis=0)
    cents = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-9)
    cent_df = corpus.sparkSession.createDataFrame(pa.table({
        "cid": pa.array(range(n_centroids), pa.int32()),
        "cvec": pa.array(cents.tolist(), pa.list_(pa.float64())),
    }))

    assigned = (
        c.crossJoin(F.broadcast(cent_df))
        .withColumn("sim", cosine_expr(F.col("cv"), F.col("cvec")))
        .withColumn("rn", F.row_number().over(Window.partitionBy("nbr_id").orderBy(F.desc("sim"), "cid")))
        .filter(F.col("rn") == 1)
        .select("nbr_id", "cv", "cid")
    )
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv"))
    q_probe = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("sim", cosine_expr(F.col("qv"), F.col("cvec")))
        .withColumn("rn", F.row_number().over(Window.partitionBy("query_id").orderBy(F.desc("sim"), "cid")))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "qv", "cid")
    )
    cand = assigned.join(F.broadcast(q_probe), "cid").select(
        "query_id", "nbr_id", cosine_expr(F.col("qv"), F.col("cv")).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("nbr_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos", "rank")
    )
