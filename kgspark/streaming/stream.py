"""Structured-Streaming front end for incremental ingest.

``readStream`` over a parquet drop-directory of page files →
``foreachBatch(ingest_pages)``. Each micro-batch is the same exact
incremental job as a manual ``ingest_pages`` call; Spark's streaming
checkpoint gives at-least-once batch delivery and the url-keyed
anti-join inside ``ingest_pages`` upgrades it to effectively-once.

The reference's equivalent surface is the AsyncWorker queue feeding
``add_episode`` (server/graph_service/routers/ingest.py:17-52).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import SparkSession

from kgspark.schemas import PAGES
from kgspark.sources.store import INGEST_TABLES, GraphStore
from kgspark.streaming.incremental import ingest_pages


def stream_ingest(
    spark: SparkSession,
    input_path: str,
    store_root: str,
    checkpoint_dir: str,
    now: datetime | None = None,
    embed_dim: int = 64,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
):
    """Start (and, with available_now, drain) a page-ingest stream.
    Returns the StreamingQuery.

    ``compact_every=N`` runs the small-file compaction sweep
    (GraphStore.compact) after every Nth micro-batch — the analogue of
    Lucene's automatic background segment merges in the reference
    (its per-save MERGEs keep adding segments; Lucene merges them off
    the write path). Row contents are untouched; without it a long-
    running stream accumulates one file per batch per touched
    partition until scan open-cost dominates search."""
    store = GraphStore(store_root)
    reader = spark.readStream.schema(PAGES)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_path)

    def _batch(df, batch_id: int) -> None:
        ingest_pages(spark, store, df, now=now, embed_dim=embed_dim)
        if compact_every and (batch_id + 1) % compact_every == 0:
            for t in INGEST_TABLES:
                if store.exists(t):
                    store.compact(spark, t)

    writer = (
        pages.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q
