"""Incremental / streaming index maintenance.

The reference updates its index per-record via load hooks
[G: lib/db.c hooks → lib/ii.c · grn_ii_column_update]. The Spark-native
equivalent (SURVEY.md §2.10) is incremental SEGMENT builds: new docs
arrive → new doc-id ranges → new segments → finalize merges. Two entry
points:

- ``append_docs``: batch-incremental — run after appending docs to the
  corpus; ``build_index(resume=True)`` skips committed segments, rebuilds
  any segment whose id range gained docs (stale detection via lineage),
  and re-finalizes. Idempotent; safe to re-run after failures.

- ``stream_build``: Structured Streaming — ``foreachBatch`` over any
  streaming source; each micro-batch appends its docs as segments via
  the same resumable machinery. foreachBatch is AT-LEAST-once (a crash
  between the sink write and the checkpoint commit replays the epoch),
  so the corpus sink is epoch-keyed — a replayed batch OVERWRITES its
  own ``epoch=<id>`` partition instead of appending duplicates — and
  segment lineage makes the index side idempotent.

The reference is NOT a streaming engine — no watermarks/session windows
are built here (SURVEY.md §2.10: not a capability of the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from groonga_spark.build import build_index


def append_docs(
    spark: SparkSession,
    all_docs: DataFrame,
    path: str,
    mode: str | None = None,
    segment_size: int | None = None,
    shard_size: int | None = None,
) -> dict:
    """Bring the index at ``path`` up to date with ``all_docs``.

    ``all_docs`` is the full current corpus (e.g. the Iceberg table after
    new snapshots); only segments with new/changed doc counts rebuild.

    Append contract: micro-batches must add docs with NEW, monotonically
    growing doc ids — the staleness scan is range-pruned to the recorded
    high-water mark, so an in-place text replacement below it is NOT
    detected here. For upserts, delete_docs + compact_index, or run
    build_index(resume=True) (full fingerprint check), instead.
    """
    return build_index(
        spark, all_docs, path, mode=mode, segment_size=segment_size,
        shard_size=shard_size, resume=True, append_only=True,
    )


def stream_build(
    stream_docs: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint_path: str,
    mode: str | None = None,
    segment_size: int | None = None,
    shard_size: int | None = None,
):
    """writeStream.foreachBatch pipeline: append each micro-batch to the
    corpus parquet, then incrementally extend the index.

    Returns the DataStreamWriter (caller picks the trigger, e.g.
    ``.trigger(availableNow=True).start()``). Batches must carry
    monotonically growing ``doc_id``s (assign upstream via
    build.assign_dense_ids / a high-water mark).
    """

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        _append_epoch(batch_df, epoch_id, corpus_path, index_path,
                      mode=mode, segment_size=segment_size,
                      shard_size=shard_size)

    return (
        stream_docs.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_path)
    )


def _append_epoch(batch_df: DataFrame, epoch_id: int, corpus_path: str,
                  index_path: str, mode: str | None = None,
                  segment_size: int | None = None,
                  shard_size: int | None = None) -> None:
    """One foreachBatch body — idempotent under replay: foreachBatch
    delivers at-least-once, so the epoch's rows OVERWRITE the epoch's
    own ``epoch=<id>`` partition dir (a replay lands in the same place,
    never appends to a shared one); the index side is idempotent via
    segment lineage."""
    import os

    spark = batch_df.sparkSession
    (batch_df.write.mode("overwrite")
     .parquet(os.path.join(corpus_path, f"epoch={int(epoch_id)}")))
    all_docs = spark.read.parquet(corpus_path).drop("epoch")
    append_docs(spark, all_docs, index_path, mode=mode,
                segment_size=segment_size, shard_size=shard_size)
