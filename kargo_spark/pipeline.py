"""End-to-end KG-construction pipeline (the reference's main.py:202-209
stage chain, re-expressed as a checkpointed Spark DAG).

    documents -> docs_clean -> annotated -> tokens, candidates
      -> df_counts -> term_scores(ranker) -> terms_topk -> mentions
      -> pairs -> pair_vectors -> clusters -> triples (+ entities, links)

Every stage checkpoints via ``CheckpointRunner`` (parquet + manifest +
per-partition lineage), so a killed run resumes where it stopped.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import candidates as C
from . import corpus, nlp, relations, weighting
from .checkpointing import CheckpointRunner
from .clustering import dbscan_exact, dbscan_scalable
from .embedding import make_embedder
from .linking import canonical_entities, link_mentions
from .skew import size_bucketed, widen

_METRICS_SCHEMA = pa.schema([
    ("stage", pa.string()), ("rows", pa.int64()),
    ("seconds", pa.float64()), ("resumed", pa.bool_()),
])


def rank_scores(ranker: str, tokens: DataFrame, cands: DataFrame,
                df_tab: DataFrame, n_docs: int) -> DataFrame:
    from . import graph_rank

    if ranker == "tfidf":
        return weighting.tfidf_scores(cands, df_tab, n_docs)
    if ranker == "kpminer":
        return weighting.kpminer_scores(cands, df_tab, n_docs, lasf=2, cutoff=10_000)
    if ranker == "yake":
        return weighting.yake_scores(tokens, cands)
    if ranker == "singlerank":
        return graph_rank.single_rank(tokens, cands)
    if ranker == "positionrank":
        return graph_rank.position_rank(tokens, cands)
    raise ValueError(f"unknown ranker {ranker!r}")


def triples_chain(
    documents: DataFrame, ranker: str = "tfidf", n_terms: int = 15
) -> tuple[DataFrame, list[DataFrame]]:
    """The docs→triples chain as ONE lazy DAG: ``run_pipeline`` in memory,
    without clustering or linking. Used by the throughput bench, the
    streaming micro-batch sinks and ``ingest_increment``.

    Returns (triples, cached); the caller unpersists ``cached`` after its
    terminal action.
    """
    out = run_pipeline(
        documents.sparkSession, documents, None, ranker=ranker, n_terms=n_terms,
        cluster_relations=False, linking=False,
    )
    return out["triples"], [df for df in out.values() if df.is_cached]


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    workdir: str | None,
    ranker: str = "tfidf",
    n_terms: int = 15,
    cluster_relations: bool = True,
    eps: float = 0.35,
    min_samples: int = 3,
    scalable_clustering: bool | None = None,
    linking: bool = True,
    exact_cluster_max: int = 20_000,
    resume: bool = True,
    use_snapshots: bool = False,
    graph_prefix: str | None = None,
    graph_max_mid_degree: int | None = None,
) -> dict[str, DataFrame]:
    """Run the full DAG; returns every stage table by name. In memory
    (``workdir=None``) every frame it persists is among them, so the
    caller can unpersist the ``is_cached`` ones after its last action.

    ``scalable_clustering=None`` (default) auto-switches: exact DBSCAN is a
    single-task O(n²) parity oracle, safe only for small pair-vector
    counts, so it is used only when the vectors stage has at most
    ``exact_cluster_max`` rows; anything larger takes the LSH-blocked
    scalable path (r01 defect: exact was the unconditional default).
    ``linking=False`` skips the entities/links stages entirely — callers
    that only want triples must not pay for eager stage materialization.

    ``graph_prefix`` engages the bucketed graph substrate as the
    pipeline's OWN output layout (not just a demo query): the triples
    stage is additionally published via ``storage.write_graph_bucketed``
    as catalog tables ``{prefix}_{triples,nodes,edges,hop_t1,hop_t2}``,
    paying the (subj, pred, obj) / mid shuffles once at write time so
    every later 2-hop (``graph_store.two_hop_from_store``, zero
    Exchange) and incremental merge (``ingest_increment`` /
    ``graph_store.merge_into_graph_store``, new batch only shuffles)
    reuses the layout — the economics that matter at 10^12 triples.
    """
    ck = CheckpointRunner(spark, workdir, resume=resume, use_snapshots=use_snapshots)

    # in-memory mode persist policy (guide §5: cache only what is REUSED):
    # docs_clean (tokenize + the n_docs count) and candidates (df/scores/
    # mentions) have multiple consumers and stay cached; tokens is cached
    # only for the rankers that read the token stream again; df_counts/
    # term_scores/terms_topk/pairs/triples are straight-line single-
    # consumer stages whose lazy persist was pure cache-write overhead.
    # Durable (workdir) modes ignore the flag — checkpoints stay durable.
    docs_clean = ck.run_stage("docs_clean", lambda: corpus.docs_clean(documents))
    # the one annotate pass: sentence rows carrying their tokens and mined
    # candidates. Tokens, candidates and pairs all read it, so it is
    # persisted and runs once, at size_bucketed's width (one Python task
    # per core). A resume that skips tokens and candidates but recomputes
    # pairs reruns it lazily.
    annotated = nlp.annotate(size_bucketed(docs_clean, "content")).persist()
    tokens = ck.run_stage(
        "tokens", lambda: nlp.token_rows(annotated),
        persist=ranker in ("yake", "singlerank", "positionrank"),
    )
    cands = ck.run_stage(
        "candidates",
        lambda: C.filter_candidates(C.mine_candidates(annotated), stopwords=C.DEFAULT_STOPWORDS),
    )
    # document_frequency's eager scalar collect is deliberate even though
    # its N is dropped: in memory it materializes the candidates cache
    # BEFORE the rankers' broadcast-subquery jobs fire. A fully lazy N
    # (1-row broadcast DF) makes the df_tab and N broadcast jobs race to
    # recompute the whole uncached tokenize chain concurrently — measured
    # 8x slower, not faster. N itself is the docs_clean count.
    df_tab = ck.run_stage(
        "df_counts", lambda: weighting.document_frequency(cands)[0],
        persist=False,
    )
    n_docs = docs_clean.count()
    scores = ck.run_stage(
        "term_scores", lambda: rank_scores(ranker, tokens, cands, df_tab, n_docs),
        persist=False,
    )
    topk = ck.run_stage(
        "terms_topk", lambda: weighting.top_k_terms(scores, k=n_terms),
        persist=False,
    )
    ments = ck.run_stage(
        "mentions", lambda: relations.mentions(cands, topk), persist=linking
    )
    prs = ck.run_stage(
        "pairs", lambda: relations.pairs(ments, annotated),
        persist=cluster_relations,
    )
    if workdir is not None:
        # pairs is its last consumer and is re-read from its checkpoint;
        # in-memory mode keeps it, since its lazy consumers run later
        annotated.unpersist()

    if cluster_relations:
        embed = make_embedder()
        def make_vectors() -> DataFrame:
            ctx = prs.select(
                F.concat_ws(" | ", "head", "in_between_words", "tail").alias("context"),
                "doc_id", "sentence_id", "cooc_no", "head", "tail",
            ).withColumn(
                "vec_id",
                F.abs(F.xxhash64("doc_id", "sentence_id", "cooc_no")),
            )
            return ctx.withColumn("vec", embed(F.col("context")))
        vectors = ck.run_stage("pair_vectors", make_vectors)
        if scalable_clustering is None:
            # vectors is persisted/checkpointed by run_stage: this count is
            # a cheap cached-scan job, not a recompute
            scalable_clustering = vectors.count() > exact_cluster_max
        cluster_fn = dbscan_scalable if scalable_clustering else dbscan_exact
        clusters = ck.run_stage(
            "clusters",
            lambda: cluster_fn(vectors.select("vec_id", "vec"), eps=eps, min_samples=min_samples),
        )
        labeled = vectors.join(clusters, "vec_id", "left").fillna({"cluster": -1})
        triple_src = labeled.withColumn(
            "pred", F.concat(F.lit("rel_"), F.col("cluster").cast("string"))
        )
        triples = ck.run_stage(
            "triples", lambda: relations.triples_from_pairs(triple_src, pred_col="pred")
        )
    else:
        triples = ck.run_stage(
            "triples", lambda: relations.triples_from_pairs(prs),
            persist=graph_prefix is not None,
        )

    entities = links = None
    if linking:
        # the (doc_id, term) dedup is widened like link_mentions' own: a
        # plain dropDuplicates would freeze the mention cache inside
        # link_mentions at the shuffle partition count
        entities = ck.run_stage("entities", lambda: canonical_entities(ments))
        links = ck.run_stage(
            "links",
            lambda: link_mentions(
                widen(ments.select("doc_id", "term"), "doc_id", "term").dropDuplicates(),
                entities,
            ),
        )
    graph_out: dict[str, DataFrame] = {}
    if graph_prefix is not None:
        from .storage import write_graph_bucketed

        write_graph_bucketed(
            spark,
            triples,
            prefix=graph_prefix,
            two_hop_ready=True,
            max_mid_degree=graph_max_mid_degree,
        )
        graph_out = {
            "graph_triples": spark.table(f"{graph_prefix}_triples"),
            "graph_nodes": spark.table(f"{graph_prefix}_nodes"),
            "graph_edges": spark.table(f"{graph_prefix}_edges"),
        }

    out = {
        "docs_clean": docs_clean,
        "annotated": annotated,
        "tokens": tokens,
        "candidates": cands,
        "df_counts": df_tab,
        "term_scores": scores,
        "terms_topk": topk,
        "mentions": ments,
        "pairs": prs,
        "triples": triples,
        # an Arrow table plans as a LocalTableScan: collecting the metrics
        # starts no job (a Python list would scan a parallelized RDD)
        "metrics": spark.createDataFrame(
            pa.Table.from_pylist(ck.metrics(), schema=_METRICS_SCHEMA)
        ),
    }
    if cluster_relations:
        out["pair_vectors"] = vectors
        out["clusters"] = clusters
    if linking:
        out["entities"] = entities
        out["links"] = links
    out.update(graph_out)
    return out


def ingest_increment(
    spark: SparkSession,
    documents: DataFrame,
    graph_prefix: str = "kargo_graph",
    ranker: str = "tfidf",
    n_terms: int = 15,
    snapshot_root: str | None = None,
    graph_max_mid_degree: int | None = None,
) -> DataFrame:
    """Fold a NEW batch of documents into an existing bucketed graph
    store (written by ``run_pipeline(graph_prefix=...)``) without
    recomputing the store: the batch runs the lazy docs→triples chain
    (``triples_chain`` — increments use the unclustered predicate path,
    the same semantics the ``merge_triples`` contract query certifies),
    then upserts via ``graph_store.merge_into_graph_store`` — the store
    side scans its bucketed layout, only the batch shuffles — and the
    node/edge/hop serving tables are refreshed and swapped in.

    With ``snapshot_root``, the merged triples are also committed as an
    Iceberg-lite snapshot (one snapshot per ingest → time travel across
    ingest generations, rollback on a bad batch, and the rebuild source
    for torn-swap recovery). Returns the merged triples table.
    """
    from .graph_store import merge_into_graph_store

    new_triples, cached = triples_chain(documents, ranker=ranker, n_terms=n_terms)
    merged = merge_into_graph_store(
        spark,
        new_triples,
        prefix=graph_prefix,
        two_hop_ready=True,
        max_mid_degree=graph_max_mid_degree,
    )
    for df in cached:
        df.unpersist()
    if snapshot_root is not None:
        from .iceberg_lite import IcebergLiteTable

        IcebergLiteTable(spark, snapshot_root).commit(merged, "overwrite")
    return merged
