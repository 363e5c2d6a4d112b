"""Streaming similarity serving — query vectors arrive as a stream and
probe the persisted :class:`~..operators.similarity.AnnIndex` per
micro-batch.

Shape: ``foreachBatch`` is the right streaming primitive here, not a
stream-static join — the probe needs the batch's query matrix
driver-side (to pick the ``n_probes`` nearest lists against the tiny
centroid matrix), which is exactly the bounded collect the batch
``ann_index_topk`` already performs.  Each micro-batch therefore pays
O(probed buckets) of index scan and nothing else: the corpus is never
re-trained or re-assigned, and an empty batch is a no-op (the batch
probe returns an empty relation).

The index generation is pinned at stream start; blue-green swaps
(``extend_ann_index`` / rebuild) cut over by restarting the stream on
the new generation — the same operational contract as the dedup index's
nightly ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.similarity import AnnIndex, ann_index_topk
from .events import staged_file_stream

__all__ = ["start_ann_probe_sink"]


def start_ann_probe_sink(
    spark: SparkSession,
    queries_path: str,
    index: AnnIndex,
    output_path: str,
    checkpoint_path: str,
    k: int = 5,
    n_probes: int = 4,
    keep_batches: "int | None" = None,
):
    """Start the serving stream: parquet query feed → per-micro-batch
    probe of ``index`` → parquet results under ``output_path``,
    partitioned by ``batch_id`` (the batch operator's output schema plus
    the ``batch_id`` column).  Returns the started StreamingQuery;
    callers own ``stop()``.

    Idempotent under micro-batch replay: each batch lands in its own
    ``batch_id=N`` partition via dynamic partition overwrite, so a
    failure between the write and the checkpoint commit makes the
    replayed batch REWRITE its partition instead of appending duplicate
    top-k rows (the same exactly-once-output contract as
    :func:`~.sinks.start_bucketed_upsert_sink`).

    Growth contract (r14 verdict item 5): by default the result archive
    keeps every ``batch_id=N`` partition — an archive by design, whose
    expiry belongs to the deployment (downstream compaction or object-
    store lifecycle rules).  Pass ``keep_batches=N`` to make the sink
    SELF-bounding: after each write the newest N partitions are kept
    and older ones removed (``sinks.prune_batch_partitions``) — the
    right shape when the output is a serving window, not a history.

    Layout note: ``output_path`` must be a NEW directory (or one written
    by this batch_id-partitioned form).  A directory holding the
    pre-r14 append-mode sink's root-level part files cannot gain
    ``batch_id=N`` subdirectories — Spark's partition discovery refuses
    mixed leaf layouts; migrate by reading the old files and rewriting
    them under a ``batch_id=-1`` partition, or start fresh."""
    from .sinks import prune_batch_partitions

    if keep_batches is not None and int(keep_batches) < 1:
        raise ValueError(f"keep_batches must be >= 1 (got {keep_batches})")
    stream = staged_file_stream(spark, queries_path)

    def probe_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        out = ann_index_topk(
            spark, batch_df, index, k=k, n_probes=n_probes
        ).withColumn("batch_id", F.lit(int(batch_id)))
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(output_path)
        )
        if keep_batches is not None:
            prune_batch_partitions(output_path, keep_batches)

    return (
        stream.writeStream.foreachBatch(probe_batch)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )
