"""Isolated-stage ledger: each layer's public call timed on its own.

Spark fuses scan, Arrow transfer, extraction and the result projection
into one action inside the job, so the job's spans cannot split them.
These stages re-run each piece alone on the same input:

- scan: ``sum(length(html))`` over the input (Parquet read only);
- transfer: a passthrough pandas UDF over ``html`` into a noop sink
  (the JVM->Python->JVM Arrow round trip with no parsing);
- extract: ``pipeline.extract_documents`` into a noop sink;
- remaining: ``catalog.remaining(...).count()`` against a table on
  which everything is committed (the resume anti-join alone);
- partitioning: the explicit repartition, with the docs and payload
  bytes each UDF-stage partition receives.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import functions as F

from pdf_extractor_spark import pipeline
from pdf_extractor_spark.plans import partitioning
from pdf_extractor_spark.sources import catalog


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _passthrough_udf():
    @F.pandas_udf("binary")
    def passthrough(payload: pd.Series) -> pd.Series:
        return payload

    return passthrough


def run(spark, input_df, committed_table: str, n_partitions: int | None) -> dict:
    out: dict[str, float] = {}
    scan_s, row = _timed(lambda: input_df.agg(F.sum(F.length("html")).alias("b")).first())
    out["sources.scan_s"] = scan_s
    out["sources.scan_mb"] = (row["b"] or 0) / 1e6
    out["sources.input_splits"] = input_df.rdd.getNumPartitions()

    passthrough = _passthrough_udf()
    out["udfs.transfer_s"], _ = _timed(
        lambda: input_df.select(passthrough("html").alias("h"))
        .write.format("noop").mode("overwrite").save()
    )
    out["udfs.extract_s"], _ = _timed(
        lambda: pipeline.extract_documents(input_df, n_partitions=n_partitions)
        .write.format("noop").mode("overwrite").save()
    )
    out["catalog.remaining_s"], _ = _timed(
        lambda: catalog.remaining(spark, input_df, committed_table).count()
    )

    if n_partitions:
        heavy = partitioning.heavy_hosts(input_df)  # its time comes from the job's span
        out["partitioning.heavy_hosts_n"] = len(heavy)
        udf_input = partitioning.salted_repartition(input_df, n_partitions, heavy=heavy)
    else:
        out["partitioning.heavy_hosts_n"] = 0
        udf_input = input_df  # the UDF runs on the scan splits
    # docs and payload bytes per UDF-stage partition; with a repartition
    # this action is the exchange (scan + shuffle write + shuffle read)
    exchange_s, parts = _timed(
        lambda: udf_input.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("html")).alias("b"))
        .collect()
    )
    out["partitioning.exchange_s"] = exchange_s if n_partitions else 0.0
    n_parts = n_partitions or input_df.rdd.getNumPartitions()
    docs = [r["n"] for r in parts]
    size = [r["b"] or 0 for r in parts]
    out["partitioning.nonempty_partitions"] = len(parts)
    out["partitioning.skew_docs"] = max(docs) / (sum(docs) / n_parts)
    out["partitioning.skew_bytes"] = max(size) / (sum(size) / n_parts)
    return out
