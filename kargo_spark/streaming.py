"""Structured Streaming surface.

The reference is strictly batch (SURVEY.md §2.8) — this module is the
beyond-reference streaming path a production ingest needs: documents (or
events) arriving continuously get the same normalization + windowed
analytics, exactly-once, with late data bounded by a watermark.

Jobs are defined against ``readStream`` inputs and are testable
synchronously with the memory sink (``process_all``): a directory of
parquet becomes a bounded stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def stream_events(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    return spark.readStream.format("parquet").schema(schema).load(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts + value sums per type."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    # watermarks require session-TZ timestamps; parquet NTZ columns cast up
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type", "n", "total_value",
        )
    )


def streaming_docs_clean(docs: DataFrame) -> DataFrame:
    """The ingest stage as a streaming transformation: normalization and
    ids are stateless Column ops so they apply to a stream unchanged;
    exact dedup becomes streaming ``dropDuplicates`` (state-backed)."""
    from .corpus import unicodify, with_content_sha, with_doc_id

    out = with_content_sha(docs)
    out = out.dropDuplicates(["repo", "path", "commit"])
    out = unicodify(out)
    out = out.filter(F.length(F.trim("content")) > 0)
    out = with_doc_id(out)
    return with_content_sha(out)


def process_all(stream_df: DataFrame, query_name: str, output_mode: str = "append") -> DataFrame:
    """Drive a streaming DataFrame to completion against bounded input via
    the memory sink; returns the materialized result table."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_id long, n_events long, "
    "session_start timestamp, session_end timestamp"
)
SESSION_STATE_SCHEMA = "last_epoch long, session_id long, n_events long, start_epoch long"


def stateful_sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    sessionization with a gap rule, state carried ACROSS micro-batches —
    the streaming twin of the batch ``sessionize`` query. Emits the
    current (user_id, session_id, n_events, start, end) row for every
    session touched by a batch (update mode; downstream sinks upsert).

    State per user = (last event epoch, open session ordinal, event count,
    session start epoch). Arrow-batched; per-group worker memory is 8
    bytes per event (the int64 epoch array — chunks must be merged before
    sorting for cross-chunk ordering), not the full row frames.
    """
    import pandas as pd

    def fn(key, pdf_iter, state):
        (user_id,) = key
        if state.exists:
            last_epoch, session_id, n_events, start_epoch = state.get
        else:
            last_epoch, session_id, n_events, start_epoch = -10**18, 0, 0, None
        touched = {}
        # a group larger than the Arrow batch size arrives as MULTIPLE
        # chunks in arbitrary order — sorting each chunk independently
        # would process events out of order across chunk boundaries
        # (negative gaps, inverted session start/end). Gather ONLY the
        # int64 epochs (8 bytes/event, not full rows) and sort once: a
        # 10^8-event hot user costs ~800 MB of ints, not a concat of
        # whole pandas frames
        import numpy as np

        epoch_chunks = [
            pdf["ts"].values.astype("datetime64[s]").astype("int64")
            for pdf in pdf_iter
            if len(pdf)
        ]
        if epoch_chunks:
            epochs = np.sort(np.concatenate(epoch_chunks))
            for epoch in epochs:
                epoch = int(epoch)
                if epoch - last_epoch > gap_seconds:
                    session_id += 1  # sessions are 1-based per user
                    n_events = 0
                    start_epoch = epoch
                n_events += 1
                last_epoch = epoch
                touched[session_id] = (n_events, start_epoch, last_epoch)
        state.update((last_epoch, session_id, n_events, start_epoch))
        rows = [
            (user_id, sid, n, pd.Timestamp(s, unit="s"), pd.Timestamp(e, unit="s"))
            for sid, (n, s, e) in touched.items()
        ]
        yield pd.DataFrame(
            rows,
            columns=["user_id", "session_id", "n_events", "session_start", "session_end"],
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    e = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return e.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_OUTPUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def _commit_batch_once(batch_df: DataFrame, batch_id: int, table_root: str,
                       checkpoint_dir: str, ranker: str, n_terms: int,
                       columns: tuple[str, ...] = ()) -> bool:
    """Run the docs→triples chain on one micro-batch and append its triples
    to the Iceberg-lite table at ``table_root`` as a snapshot tagged
    ``(checkpoint, batch_id)``. Returns False, committing nothing, when
    that tag is already in the table's history (a replay after restart);
    ``columns`` selects the committed columns (all when empty)."""
    from .iceberg_lite import IcebergLiteTable
    from .pipeline import triples_chain

    tbl = IcebergLiteTable(batch_df.sparkSession, table_root)

    # idempotency key = (checkpoint, batch id), NOT the bare batch id:
    # a different query instance (fresh checkpoint, or a second stream
    # feeding the same table) numbers its batches from 0 again with
    # DIFFERENT data — only a replay of THIS query may be skipped
    committed = {
        (s["summary"].get("streaming_checkpoint"), s["summary"].get("streaming_batch_id"))
        for s in tbl.snapshots()
    }
    if (checkpoint_dir, batch_id) in committed:
        return False
    triples, cached = triples_chain(batch_df, ranker=ranker, n_terms=n_terms)
    try:
        tbl.commit(
            triples.select(*columns) if columns else triples,
            operation="append" if tbl.exists() else "overwrite",
            summary_extra={
                "streaming_batch_id": batch_id,
                "streaming_checkpoint": checkpoint_dir,
            },
        )
    finally:
        # release the chain's caches even when the commit fails —
        # Spark retries the batch and re-persists fresh copies
        for df in cached:
            df.unpersist()
    return True


def streaming_triples(docs_stream: DataFrame, table_root: str, checkpoint_dir: str,
                      ranker: str = "tfidf", n_terms: int = 15):
    """Continuous KG construction: each micro-batch of source documents
    runs the docs→triples chain (pipeline.triples_chain) and APPENDS to an
    Iceberg-lite snapshot table, tagging the snapshot with the streaming
    batch id. On restart, Structured Streaming re-delivers the last
    unacknowledged batch; a batch id already present in the table's
    snapshot history is skipped — the standard foreachBatch +
    transactional-table pattern for effectively-exactly-once sinks.

    Returns the started StreamingQuery (availableNow trigger: drains all
    pending input, then stops — call .awaitTermination()).
    """
    def process(batch_df: DataFrame, batch_id: int) -> None:
        _commit_batch_once(batch_df, batch_id, table_root, checkpoint_dir, ranker, n_terms)

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .queryName("streaming_triples")
        .start()
    )


def streaming_graph_ingest(
    docs_stream: DataFrame,
    graph_prefix: str,
    ledger_root: str,
    checkpoint_dir: str,
    ranker: str = "tfidf",
    n_terms: int = 15,
    refresh_every: int = 1,
):
    """Continuous ingest INTO the bucketed graph store: each micro-batch
    of documents runs the docs→triples chain, commits the batch triples
    to an Iceberg-lite LEDGER table (atomic snapshot, exactly-once via
    the (checkpoint, batch_id) summary tag — same device as
    ``streaming_triples``), then refreshes the serving substrate
    (``{graph_prefix}_*`` bucketed tables).

    Correctness split, because the catalog-table swap is per-table
    atomic but not cross-table: the LEDGER is authoritative (its commit
    is all-or-nothing), the serving tables are a derived cache. Steady
    state refreshes incrementally — ``merge_into_graph_store`` reads
    ONLY the just-committed snapshot's added files, so the big store
    side never re-shuffles. On ANY replay ambiguity (batch id already in
    the ledger: the previous attempt may have died before, during, or
    after the serving swap) the refresh falls back to a full REBUILD
    from the ledger — idempotent, correct from any torn state, and rare
    (only after a crash-replay). First batch bootstraps the store the
    same rebuild way.

    ``refresh_every=K`` amortizes copy-on-write amplification (every
    serving refresh rewrites the store generation — inherent to
    copy-on-write with hash-bucketed keys, where any batch touches all
    buckets): the ledger still commits EVERY batch exactly-once, but the
    serving tables refresh only on every K-th ledger snapshot, merging
    the accumulated K batches' files in one pass — LSM-style compaction
    cadence. Between refreshes the serving store lags the ledger by at
    most K-1 batches (call ``refresh_graph_serving`` to force a sync,
    e.g. after an availableNow drain).
    """
    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not _commit_batch_once(batch_df, batch_id, ledger_root, checkpoint_dir, ranker,
                                  n_terms, ("subj", "pred", "obj", "support")):
            # replay after a crash: the ledger has the batch, but the
            # serving swap may be torn at any point — rebuild. Every
            # crash funnels through here (the stream never acked the
            # batch), so the coverage marker is always repaired.
            refresh_graph_serving(spark, graph_prefix, ledger_root)
            return
        _maybe_refresh(spark, graph_prefix, ledger_root, max(refresh_every, 1))

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .queryName("streaming_graph_ingest")
        .start()
    )


def _covered_marker(spark, graph_prefix: str) -> int | None:
    """Newest ledger snapshot id the serving tables reflect (None =
    unknown/never refreshed)."""
    if not spark.catalog.tableExists(f"{graph_prefix}__covered"):
        return None
    row = spark.table(f"{graph_prefix}__covered").collect()
    return int(row[0]["snapshot_id"]) if row else None


def _set_covered(spark, graph_prefix: str, snapshot_id: int) -> None:
    from .storage import write_bucketed

    write_bucketed(
        spark.createDataFrame([(snapshot_id,)], "snapshot_id long"),
        f"{graph_prefix}__covered", ["snapshot_id"], 1,
    )


def refresh_graph_serving(spark, graph_prefix: str, ledger_root: str) -> None:
    """Rebuild the serving substrate from the authoritative ledger (full
    re-aggregate; correct from ANY torn state) and stamp the coverage
    marker. Call after an availableNow drain with ``refresh_every > 1``
    to force the serving tables up to date."""
    from .iceberg_lite import IcebergLiteTable
    from .storage import write_graph_bucketed

    tbl = IcebergLiteTable(spark, ledger_root)
    merged = (
        tbl.read()
        .groupBy("subj", "pred", "obj")
        .agg(F.sum("support").alias("support"))
    )
    write_graph_bucketed(spark, merged, prefix=graph_prefix, two_hop_ready=True)
    _set_covered(spark, graph_prefix, tbl.current_snapshot_id())


def _maybe_refresh(spark, graph_prefix: str, ledger_root: str, every: int) -> None:
    """Serving-refresh policy: count ledger snapshots past the coverage
    marker; at ``every`` pending, merge exactly those snapshots' added
    files into the store (store side scans bucketed in place) and advance
    the marker. Marker unknown / not in history / store missing → full
    rebuild. The marker advances only AFTER a successful swap; a crash
    in between leaves the batch unacked, so the replay path rebuilds —
    double-merge is impossible."""
    from .graph_store import merge_into_graph_store
    from .iceberg_lite import IcebergLiteTable

    tbl = IcebergLiteTable(spark, ledger_root)
    snaps = tbl.snapshots()
    marker = _covered_marker(spark, graph_prefix)
    ids = [s["snapshot_id"] for s in snaps]
    if (
        marker is None
        or marker not in ids
        or not spark.catalog.tableExists(f"{graph_prefix}_triples")
    ):
        refresh_graph_serving(spark, graph_prefix, ledger_root)
        return
    pending = len(ids) - 1 - ids.index(marker)
    if pending < every:
        return  # ledger durable; serving lags by < every batches (policy)
    base_dirs = set(tbl._snapshot(marker)["data_dirs"])
    added = [d for d in snaps[-1]["data_dirs"] if d not in base_dirs]
    batch = (
        tbl._scan(added)
        .groupBy("subj", "pred", "obj")
        .agg(F.sum("support").alias("support"))
    )
    merge_into_graph_store(spark, batch, prefix=graph_prefix, two_hop_ready=True)
    _set_covered(spark, graph_prefix, ids[-1])
