"""B10/B11: per-partition lineage + metrics rows.

Metrics are derived from the extraction output itself (the extraction row
function stamps ``partition_id`` from the TaskContext inside ``map_rows``;
the HTML branch uses ``spark_partition_id()``), NOT from Spark
accumulators - those are at-least-once under task retry, while a groupBy
over the written rows is exactly-once by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_metrics(extracted: DataFrame) -> DataFrame:
    """Roll up the extraction output per (run, task partition)."""
    return (extracted
            .groupBy("run_id", "partition_id")
            .agg(F.count("*").alias("n_docs"),
                 F.count(F.when(F.col("error").isNull(), 1)).alias("n_ok"),
                 F.count(F.when(F.col("error").isNotNull(), 1)).alias("n_err"),
                 F.sum("bytes_in").alias("bytes_in"),
                 F.sum("parse_ms").alias("parse_ms"),
                 F.sum("n_pages").alias("n_pages"))
            .select("partition_id", "n_docs", "n_ok", "n_err", "bytes_in",
                    "parse_ms", "n_pages", "run_id"))
