"""B1: sources.

The production input is an Iceberg table (``spark.read.format("iceberg")``);
parquet stands in where no Iceberg catalog is configured, and raw crawl
output (``.warc`` / ``.warc.gz``) is read by :mod:`.warc`.  ``read_pages``
routes all three, so the pipeline code is storage-agnostic.  Writes go
through the pipeline's ``TableSink`` (``plans.sinks``), not this module.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

# input_hint table shape (BASELINE.json)
PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def _is_warc_source(source: str) -> bool:
    """True only when the BASENAME says WARC: a ``.warc``/``.warc.gz``
    file, a glob whose basename targets them, or a directory holding
    them.  A substring test on the whole path misroutes Iceberg table
    names like ``crawl.warc_index`` (or any parquet path containing
    '.warc') to the file reader."""
    base = os.path.basename(source.rstrip("/"))
    if base.endswith((".warc", ".warc.gz")):
        return True
    if any(c in base for c in "*?[") and ".warc" in base:
        return True
    if os.path.isdir(source):
        return bool(_glob.glob(os.path.join(source, "*.warc"))
                    or _glob.glob(os.path.join(source, "*.warc.gz")))
    return False


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Read the Common-Crawl-style pages table.

    ``source`` is an Iceberg table name (contains no '/'), a parquet
    path, or raw crawl output - a ``.warc``/``.warc.gz`` file, a
    directory of them, or a glob (routed to :mod:`.warc`, one task per
    file).  Column pruning / predicate pushdown happen downstream via
    Catalyst for the table paths.
    """
    if _is_warc_source(source):
        from .warc import read_warc

        return read_warc(spark, source)
    if "/" not in source and "." in source:
        try:
            return spark.read.format("iceberg").load(source)
        except Exception:
            pass
    return spark.read.parquet(source)
