"""Structured-Streaming ingest: continuous arrival of new document files.

The reference's closest behavior is the dashboard's streaming file
discovery + incremental skip (reference src/dashboard/routes/ingestion.py:
149-192 and the document_exists skip, src/storage/postgres.py:253-262).
Here that becomes the idiomatic Spark shape: ``readStream`` over the input
table directory → ``foreachBatch`` running the SAME batch extraction DAG →
idempotent append, with exactly-once via the streaming checkpoint (file
source tracks processed files; a killed job resumes where it left off).

Batch and streaming share one code path (run_extraction) — no forked logic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import run_extraction
from ..schemas import DOCUMENTS_SPANS_SCHEMA


def stream_ingest(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    run_id: str = "stream",
    max_files_per_trigger: int | None = None,
) -> None:
    """Process all currently-available files (Trigger.AvailableNow) and stop.

    Re-running with the same checkpoint processes only NEW files — the
    streaming analog of the lineage anti-join resume.
    """
    reader = (
        spark.readStream.schema(DOCUMENTS_SPANS_SCHEMA)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(input_dir)

    chunks_dir = os.path.join(out_dir, "chunks")
    spans_dir = os.path.join(out_dir, "extracted_spans")
    lineage_dir = os.path.join(out_dir, "lineage")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # doc-level exactly-once: the file-source checkpoint dedups FILES,
        # not documents — a doc re-delivered inside a new file would be
        # re-extracted. Anti-join the accumulated lineage (the reference's
        # document_exists skip / ON CONFLICT DO NOTHING semantics,
        # src/storage/postgres.py:104-106,253-262); dropDuplicates handles a
        # doc appearing twice INSIDE one micro-batch.
        from ..sources.sinks import _has_parquet_files, idempotent_append

        prior = None
        if _has_parquet_files(lineage_dir):  # not the _SUCCESS marker: a
            # partially-committed lineage dir must still drive the anti-join
            prior = spark.read.parquet(lineage_dir)
        result = run_extraction(
            batch_df.dropDuplicates(["doc_id"]),
            run_id=f"{run_id}-b{batch_id}",
            prior_lineage=prior,
            persist_blocks=True,
        )
        extracted, chunks, lineage = result
        # idempotent (keyed anti-join) appends — a foreachBatch replay after
        # a mid-batch failure must not duplicate already-written rows
        try:
            idempotent_append(spark, extracted, spans_dir, key=["doc_id", "order"])
            idempotent_append(spark, chunks, chunks_dir, key="id")
            idempotent_append(spark, lineage, lineage_dir, key=["doc_id", "status"])
        finally:
            # one cached kernel output per micro-batch: release it, or a
            # long-running stream accumulates them for the whole session
            result.unpersist()

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
