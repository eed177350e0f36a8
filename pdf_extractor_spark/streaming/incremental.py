"""Time-windowed incremental batches over warc_ts (SURVEY.md §2.9).

``process_time_range`` runs the extraction pipeline over one warc_ts window
(partition-prunable when the input table is partitioned by day); combined
with the snapshot catalog's anti-join resume, repeated invocations give
exactly-once-per-url incremental processing — the distributed analog of the
reference's upload cache (reference src/pdf_uploader.py:25,51-54).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_extractor_spark.pipeline import run_extraction_job


def process_time_range(
    spark: SparkSession,
    input_df: DataFrame,
    output_table: str,
    start: datetime.datetime,
    end: datetime.datetime,
    n_partitions: int | None = None,
) -> dict:
    """Extract docs with start <= warc_ts < end, resuming past commits.

    The warc_ts filter lands in PushedFilters on the scan; on a
    date-partitioned table it prunes partitions before any IO.
    """
    window = input_df.filter(
        (F.col("warc_ts") >= F.lit(start)) & (F.col("warc_ts") < F.lit(end))
    )
    return run_extraction_job(
        spark, window, output_table, n_partitions=n_partitions, resume=True
    )


def stream_extract_to_catalog(
    spark: SparkSession,
    input_path: str,
    schema: str,
    output_table: str,
    checkpoint: str,
    n_partitions: int | None = None,
):
    """M5 — Structured Streaming extraction with EXACTLY-ONCE-per-url
    commits: readStream over the input table -> ``foreachBatch`` running
    the batch job (pipeline.run_extraction_job) on each micro-batch, so
    each micro-batch commits as one catalog snapshot with its lineage.

    Idempotence does NOT rest on the streaming checkpoint alone: inside
    every batch, the catalog's resume anti-join removes urls a previous
    commit already covers, so a replayed epoch (crash after commit, before
    checkpoint write — the classic foreachBatch at-least-once window) adds
    zero duplicate rows. Checkpoint = offset tracking; catalog = the
    exactly-once ledger. Returns a DataStreamWriter; call ``.start()``.
    """
    stream = spark.readStream.schema(schema).parquet(input_path)

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        # dedupe WITHIN the batch too: the catalog anti-join only covers
        # urls from PRIOR commits; a recrawl landing twice in one trigger
        # (or an availableNow backlog with re-deliveries) would otherwise
        # extract and commit the same url twice in one snapshot
        run_extraction_job(
            batch_df.sparkSession,
            batch_df.dropDuplicates(["url"]),
            output_table,
            n_partitions=n_partitions,
        )

    return (
        stream.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def process_in_batches(
    spark: SparkSession,
    input_df: DataFrame,
    output_table: str,
    batch: datetime.timedelta,
    n_partitions: int | None = None,
) -> list[dict]:
    """Drive the whole table as consecutive warc_ts micro-batches."""
    bounds = input_df.agg(
        F.min("warc_ts").alias("lo"), F.max("warc_ts").alias("hi")
    ).first()
    if bounds["lo"] is None:
        return []
    lo, hi = bounds["lo"], bounds["hi"]
    out = []
    cur = lo
    while cur <= hi:
        nxt = cur + batch
        out.append(
            process_time_range(spark, input_df, output_table, cur, nxt, n_partitions)
        )
        cur = nxt
    return out


def stream_refresh_to_catalog(
    spark: SparkSession,
    input_path: str,
    schema: str,
    output_table: str,
    checkpoint: str,
    n_partitions: int | None = None,
    near_dup_threshold: float = 0.5,
    band_index_path: str | None = None,
):
    """Continuous corpus REFRESH as a stream: readStream over the crawl
    feed -> ``foreachBatch`` running the full three-gate refresh
    (pipeline.run_refresh_job) per micro-batch — exact resume, extraction
    of survivors, near-dup probe of the committed corpus, snapshot commit
    with lineage. A micro-batch is a static DataFrame inside foreachBatch,
    so the BATCH job and the STREAMING job are literally the same code
    path: one semantics, two triggers (the same unification as
    stream_extract_to_catalog, extended to the dedup gate).

    Exactly-once: the catalog anti-join absorbs replayed epochs (at-least-
    once foreachBatch window) — a re-delivered batch finds all its urls
    committed and commits nothing; the near-dup gate is naturally
    idempotent (dropped docs never enter the corpus, so a replay re-drops
    them). With ``band_index_path``, each committed micro-batch's bands
    append to the bucketed corpus index, so probe cost stays O(batch) for
    the stream's whole lifetime — the shape a 10^12-doc continuous-ingest
    deployment needs. Returns a DataStreamWriter; call ``.start()``.
    """
    from pdf_extractor_spark.pipeline import run_refresh_job

    stream = spark.readStream.schema(schema).parquet(input_path)

    def _refresh(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.dropDuplicates(["url"])
        run_refresh_job(
            batch_df.sparkSession,
            batch_df,
            output_table,
            n_partitions=n_partitions,
            near_dup_threshold=near_dup_threshold,
            band_index_path=band_index_path,
        )

    return (
        stream.writeStream.foreachBatch(_refresh)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
