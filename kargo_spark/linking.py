"""Entity canonicalization + embedding-similarity entity linking.

North-star requirement (BASELINE.json): "mention detection +
embedding-similarity entity linking, and string/embedding canonicalization".
The reference has no surviving linking code; semantics follow its identity
rules (term identity = lowercased surface, evaluation.py:40-42; pair
identity = lowercased "head|tail", SURVEY.md §1.3).

Design:
* ``canonical_entities`` — string canonicalization: lower/trim/space-fold +
  naive singularization; canonical id = min doc-frequency-weighted surface.
* ``link_mentions`` — embedding-similarity top-1 linking, LSH-bucket
  blocked so it never goes quadratic: mentions and entities hash into the
  same random-hyperplane buckets; cosine verify within bucket; ties broken
  deterministically. A mention with no in-bucket entity above the threshold
  stays unlinked (NULL entity_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .embedding import cosine_expr, make_embedder
from .similarity import _hyperplane_keys


def normalize_surface(col):
    """lower + trim + whitespace-fold + strip trailing plural 's' per word."""
    c = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.array_join(
        F.transform(
            F.split(c, " "),
            lambda w: F.when(
                (F.length(w) > 3) & w.endswith("s") & ~w.endswith("ss"),
                F.substring(w, 1, F.length(w) - 1),
            ).otherwise(w),
        ),
        " ",
    )


def canonical_entities(mentions: DataFrame, term_col: str = "term") -> DataFrame:
    """Canonical entity table from mention surfaces.

    entity_id = md5 of the normalized form; canonical surface = the most
    frequent raw surface per normalized form (deterministic max_by with
    surface tiebreak).
    """
    norm = mentions.select(
        F.col(term_col).alias("surface"),
        normalize_surface(F.col(term_col)).alias("norm"),
    )
    surface_counts = norm.groupBy("norm", "surface").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("norm").orderBy(F.desc("cnt"), "surface")
    return (
        surface_counts.withColumn("__rn", F.row_number().over(w))
        .withColumn("__total", F.sum("cnt").over(Window.partitionBy("norm")))
        .filter(F.col("__rn") == 1)
        .select(
            F.substring(F.md5("norm"), -12, 12).alias("entity_id"),
            F.col("norm"),
            F.col("surface").alias("canonical"),
            F.col("__total").alias("support"),
        )
    )


def link_mentions(
    mentions: DataFrame,
    entities: DataFrame,
    term_col: str = "term",
    threshold: float = 0.6,
    dim: int = 64,
    n_planes: int = 4,
    seed: int = 7,
    lsh_dist: str = "gaussian",
) -> DataFrame:
    """Embedding-similarity top-1 entity linking, LSH-blocked.

    Exact-normalized matches link directly (cheap path, equi-join); the
    remainder link by max-cosine within shared LSH buckets (3 tables).
    Output = mentions + (entity_id, link_sim, link_kind).

    ``lsh_dist`` selects the hyperplane family (see
    ``similarity._lsh_plane_matrix``): the default seeded gaussians, or
    ``"rademacher_md5"`` — same LSH quality, but DuckDB-reproducible,
    which is what lets the driver's ``link_entities`` query oracle-check
    this stage end-to-end (exact-hit, embedding-hit and no-hit rows).
    """
    embed = make_embedder(dim=dim, seed=seed)
    # PERSISTED fan-out bases (r06): the naive composition re-executed the
    # full upstream chain per plan reference — the mention subtree for the
    # exact-hit branch, the LSH keys and the final left join, the entity
    # subtree for the exact join and the LSH keys — each recomputing its
    # window/normalization lineage (noop-isolated link_entities at sf0.1:
    # ~110 s with one LSH branch per table). Persisting the narrow bases
    # makes every chain run once; identical rows.
    entities = entities.persist()
    m = mentions.withColumn("__norm", normalize_surface(F.col(term_col))).persist()
    # cheap path: exact normalized match
    exact = m.join(
        entities.select(F.col("norm").alias("__norm"), "entity_id"), "__norm", "left"
    )
    hit = exact.filter(F.col("entity_id").isNotNull()).withColumn(
        "link_sim", F.lit(1.0)
    ).withColumn("link_kind", F.lit("exact"))
    miss = exact.filter(F.col("entity_id").isNull()).drop("entity_id")
    # no isEmpty() probe here: that is an extra Spark job on every call;
    # when miss is empty the embedding path below is a cheap no-op branch
    # of the same plan (r01 minor #7)
    # embedding path, LSH-blocked. Embed ONCE per distinct surface (the
    # LSH candidate only needs (__norm, vec): best joins back on __norm);
    # all 3 banding tables are keyed in one projection over each side.
    # The embedded bases stay persisted although each now has one
    # consumer: without them link_entities at sf0.1 on 4 cores took
    # 116 s, with them 35 s (same rows).
    ent_v = entities.select(
        "entity_id", F.col("norm").alias("__enorm")
    ).withColumn("evec", embed(F.col("__enorm"))).persist()
    miss_v = (
        miss.select("__norm").dropDuplicates(["__norm"])
        .withColumn("mvec", embed(F.col("__norm"))).persist()
    )
    seeds = [seed + 31 * t for t in range(3)]
    mb = _hyperplane_keys(miss_v, "mvec", seeds, n_planes, dim, dist=lsh_dist)
    eb = _hyperplane_keys(ent_v, "evec", seeds, n_planes, dim, dist=lsh_dist)
    cand = (
        mb.join(eb, ["table", "key"])
        .withColumn("sim", cosine_expr(F.col("mvec"), F.col("evec")))
        .filter(F.col("sim") >= threshold)
    )
    # rank on the 4-decimal-rounded sim: the embedder's float32 vectors
    # perturb cosines by ~1e-6, so two entities whose TRUE sims are equal
    # (k1/sqrt(m*n1) == k2/sqrt(m*n2) through different integers) would
    # otherwise tie-break on float noise instead of entity_id —
    # non-deterministic across engines/arithmetics. Distinct achievable
    # sims differ by >> 1e-4, so the rounding never reorders real
    # differences; it only collapses noise into honest ties.
    w = Window.partitionBy("__norm").orderBy(F.desc(F.round(F.col("sim"), 4)), "entity_id")
    best = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("__norm", "entity_id", F.col("sim").alias("link_sim"))
    )
    linked_miss = (
        miss.join(best, "__norm", "left")
        .withColumn("link_kind", F.when(F.col("entity_id").isNotNull(), "embedding"))
        .withColumn("link_sim", F.col("link_sim"))
    )
    return hit.drop("__norm").unionByName(linked_miss.drop("__norm"))
