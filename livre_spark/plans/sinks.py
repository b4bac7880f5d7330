"""Table sinks: the pipeline's write/read-back seam (B2).

The pipeline body (``plans.job``, batch and streaming alike) writes four
tables (documents_text, documents_spans, partition_metrics, done_urls).
SURVEY B2 names Iceberg (``writeTo(...).append()``) as the production
sink; this sandbox has no Iceberg runtime jars, so the shipped sink is
parquet - but the pipeline only talks to the ``TableSink`` protocol
below, so swapping sinks is a constructor argument, not a rewrite.

ParquetSink (runs here)
    Directory-per-table under a root; append = ``write.mode("append")``,
    read-back = ``spark.read.parquet`` with absent-table -> None;
    ``documents_text`` is partitioned by ``run_id``, so ``read_run``
    opens one run's directory - O(run), not O(table).  An append to a
    ``documents_text`` that still holds top-level parquet files (the
    layout written before that partitioning) raises ``ValueError``: a
    read of the mixed directory would silently drop those rows.  The
    manifest-last commit protocol and ``heal_torn`` exist BECAUSE this
    sink's multi-table append is not atomic: a crash between the text
    write and the manifest append leaves the torn window the healer
    converges.

IcebergSink (documented, exercised only for plan/identifier logic)
    Tables are catalog identifiers; append = ``df.writeTo(ident).append()``
    which commits ONE ATOMIC SNAPSHOT per table.  What changes at the
    protocol level:

    - the commit point moves from "manifest row appended" to "snapshot
      committed"; with write-audit-publish (WAP) or a two-table
      transaction the text+manifest pair becomes a single atomic commit
      and the torn-batch window DISAPPEARS - ``heal_torn`` degenerates
      to a no-op scan that finds nothing;
    - resume reads the manifest table pinned to its last committed
      snapshot (``VERSION AS OF``), so a reader racing a writer can
      never observe a half-appended manifest;
    - ``run_id`` maps naturally onto the snapshot's summary metadata
      (``snapshot-property.run_id``), giving snapshot-id <-> run_id
      lineage for free, and a failed run is rolled back by expiring its
      snapshot instead of compensating appends.

    Method bodies are real ``writeTo``/``spark.table`` calls - they run
    wherever ``spark.sql.catalog.<name>`` is configured with the Iceberg
    runtime on the classpath.
"""

from __future__ import annotations

import glob
import os
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


class TableSink(Protocol):
    """What the pipeline needs from a sink: append rows to a named
    table, read a named table (or one run's rows of it) back (None when
    absent), and name the table's location for reporting."""

    def append(self, df: DataFrame, table: str) -> None: ...

    def read_or_none(self, spark: SparkSession,
                     table: str) -> DataFrame | None: ...

    def read_run(self, spark: SparkSession, table: str,
                 run_id: str) -> DataFrame | None: ...

    def location(self, table: str) -> str: ...


class ParquetSink:
    """Directory-per-table parquet sink (the in-sandbox implementation)."""

    def __init__(self, root: str):
        self.root = root

    def location(self, table: str) -> str:
        return os.path.join(self.root, table)

    def append(self, df: DataFrame, table: str) -> None:
        writer = df.write.mode("append")
        if table == "documents_text":  # the one partitioned table
            _refuse_unpartitioned(self.location(table))
            writer = writer.partitionBy("run_id")
        writer.parquet(self.location(table))

    def read_or_none(self, spark: SparkSession,
                     table: str) -> DataFrame | None:
        # mergeSchema: table schemas only ever grow additively (e.g. the
        # round-4 ``info`` column on documents_text), so a directory
        # appended to by old and new writers is mixed-schema parquet;
        # without merging, which footer Spark samples decides whether
        # new columns appear.  Merging pins the union deterministically.
        try:
            df = (spark.read.option("mergeSchema", "true")
                  .parquet(self.location(table)))
        except Exception:
            return None
        if dict(df.dtypes).get("run_id", "string") != "string":
            # partition type inference read run_id=000123456789 as a number
            df = spark.read.schema(df.drop("run_id").schema.add(
                "run_id", StringType())).parquet(self.location(table))
        return df

    def read_run(self, spark: SparkSession, table: str,
                 run_id: str) -> DataFrame | None:
        """One run's rows of documents_text: only its directory is opened;
        None when the run wrote no rows (so made no directory)."""
        path = os.path.join(self.location(table), f"run_id={run_id}")
        try:
            # one write made these files: one schema, nothing to merge
            return spark.read.parquet(path).withColumn("run_id",
                                                       F.lit(run_id))
        except Exception:
            return None


def _refuse_unpartitioned(path: str) -> None:
    """Raise when ``path`` holds top-level parquet files: that layout was
    written before documents_text was partitioned by run_id, and Spark's
    read of a directory mixing it with ``run_id=<id>/`` partitions
    silently drops the top-level rows."""
    if glob.glob(os.path.join(glob.escape(path), "*.parquet")):
        raise ValueError(
            f"{path} holds unpartitioned parquet files (written before "
            "documents_text was partitioned by run_id); appending run_id "
            "partitions next to them would hide their rows from every "
            "read - move them under a run_id=<id>/ directory first")


class IcebergSink:
    """Iceberg catalog sink (see module docstring for the protocol
    differences its atomic snapshots buy).

    ``namespace`` is the dotted catalog prefix, e.g. ``"lake.crawl"`` ->
    table identifiers ``lake.crawl.documents_text``.  Requires a session
    with ``spark.sql.catalog.lake`` configured (iceberg-spark-runtime on
    the classpath); constructing the sink needs neither.
    """

    def __init__(self, namespace: str, snapshot_props: dict | None = None):
        self.namespace = namespace
        self.snapshot_props = dict(snapshot_props or {})

    def location(self, table: str) -> str:
        return f"{self.namespace}.{table}"

    def append(self, df: DataFrame, table: str) -> None:
        writer = df.writeTo(self.location(table))
        for k, v in self.snapshot_props.items():
            # surfaces as snapshot summary metadata -> run_id lineage
            writer = writer.option(f"snapshot-property.{k}", str(v))
        # DataFrameWriterV2.append never creates the table; probe the
        # catalog explicitly so a TABLE_OR_VIEW_NOT_FOUND raised for
        # some OTHER relation in the plan (e.g. a joined view) cannot
        # masquerade as "target missing" and trigger a spurious create
        if self._table_exists(df.sparkSession, table):
            writer.append()
        else:
            writer.create()

    def _table_exists(self, spark: SparkSession, table: str) -> bool:
        try:
            return spark.catalog.tableExists(self.location(table))
        except Exception:
            # catalog not configured / transient - fall through to
            # append and let its error surface with full context
            return True

    def read_or_none(self, spark: SparkSession,
                     table: str) -> DataFrame | None:
        try:
            return spark.table(self.location(table))
        except Exception:
            return None

    def read_run(self, spark: SparkSession, table: str,
                 run_id: str) -> DataFrame | None:
        df = self.read_or_none(spark, table)
        return None if df is None else df.filter(F.col("run_id") == run_id)
