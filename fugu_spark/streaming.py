"""Incremental ingest via Structured Streaming (SURVEY.md §2.11).

The reference ingests over synchronous batch HTTP; SURVEY pins the Spark
mapping for incremental ingest as ``foreachBatch`` + table MERGE. This
module is that mapping: a file-source stream (the drop-folder / Iceberg
append pattern) whose micro-batches are upserted into the segment index
as new generations.

Exactly-once story: the stream checkpoint records committed batch ids;
after a crash Spark may REPLAY the last in-flight batch. ``upsert_segments``
is content-idempotent under replay — re-upserting the same ids writes a
new generation and delete-masks the previous one, so queries see each doc
once (the duplicate generation is garbage that ``compact()`` removes;
n_docs keeps maxDoc semantics until then, as with any upsert).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .segments import SegmentIndex, count_unique_ids, upsert_segments
from .tokenizer import DEFAULT_MODE


def start_stream_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "content",
    facets_col: str | None = "facets",
    mode: str = DEFAULT_MODE,
    fmt: str = "parquet",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Stream files arriving under ``source_dir`` into the index.

    ``available_now=True`` drains everything currently present and stops
    (the batch-resume pattern: run it from cron/Airflow); False keeps a
    continuous micro-batch stream running. Returns the StreamingQuery.

    When the stream schema carries ``facets_col``, each micro-batch also
    appends the corresponding filter_index rows at the new generation —
    without this, an upsert's del_gen would delete-mask the doc's OLDER
    filter_index rows and the doc would silently vanish from
    facet-filtered results while still matching unfiltered queries. Date
    columns (X5) get the same treatment: each batch is run through
    ``with_date_fields`` and its date_index sidecar rows appended, so
    stream-re-upserted docs keep matching date-range-filtered queries.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.format(fmt).load(source_dir)

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        from .dates import with_date_fields

        batch = with_date_fields(batch)
        count_unique_ids(batch, id_col)  # a repeated id fails before any write
        si = SegmentIndex.load(spark, index_dir)
        if facets_col and facets_col in batch.columns:
            # counts ledger: subtract the facets this batch's ids currently
            # hold (their filter_index rows are about to be masked) BEFORE
            # the upsert bumps the generation
            from . import fsio
            from .engine import (
                _counts_rows_from_facets,
                _write_counts_index,
                live_facet_rows_for_ids,
            )

            old = live_facet_rows_for_ids(spark, index_dir, batch.select(id_col))
            if old is not None and fsio.exists(fsio.join(index_dir, "counts_index")):
                _counts_rows_from_facets(old, sign=-1).write.mode("append").parquet(
                    fsio.join(index_dir, "counts_index")
                )
                _write_counts_index(batch, index_dir, facets_col, mode="append")
        si = upsert_segments(si, batch, id_col=id_col, text_col=text_col, mode=mode)
        from . import fsio

        # sidecar appends are gated on the sidecar EXISTING: appending to
        # an index that never had one would create a silently-partial
        # sidecar holding only streamed docs, and filtered queries would
        # then return only those instead of falling back to the docs table
        if (
            facets_col
            and facets_col in batch.columns
            and fsio.exists(fsio.join(index_dir, "filter_index"))
        ):
            from .engine import _write_filter_index

            _write_filter_index(
                batch, index_dir, id_col, facets_col, gen=si.max_gen(), mode="append"
            )
        from .engine import _write_date_index, _write_suggest_index

        if fsio.exists(fsio.join(index_dir, "date_index")):
            _write_date_index(batch, index_dir, id_col, gen=si.max_gen(), mode="append")
        if fsio.exists(fsio.join(index_dir, "suggest_index")):
            _write_suggest_index(
                batch, index_dir, id_col, text_col, gen=si.max_gen(), mode="append"
            )
        if fsio.exists(fsio.join(index_dir, "doc_store")):
            from .engine import _write_doc_store

            _write_doc_store(batch, index_dir, id_col, gen=si.max_gen(), mode="append")

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
