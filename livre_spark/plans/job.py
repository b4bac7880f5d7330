"""The end-to-end extraction pipeline (SURVEY.md section 3.4).

read (B1) -> latest-per-url dedup (B12) -> magic-byte filter (B4) ->
checkpoint anti-join (B13/B18) -> size-bucket + salt repartition (B5/B6)
-> mapInArrow extraction (B7) -> ONE write of text + nested spans (B2)
-> spans/metrics/manifest derived from this run's rows (B9/B10/B18).
Everything after the snapshot dedup is one body, ``_extract_and_commit``,
which the streaming ``foreachBatch`` (B20) runs per micro-batch too.

Catalyst plans everything outside the UDF.  Stage boundaries: one shuffle
for the dedup window, one for the skew repartition, one for the metrics
aggregate - the minimum for these semantics.

Single-action design: the extraction UDF runs exactly once, feeding one
parquet write of ``documents_text`` (text + nested ``spans`` + ``run_id``).
Every secondary sink (exploded spans, per-partition metrics, the resume
manifest) is derived by reading this run's rows back - the sink partitions
``documents_text`` by ``run_id``, so that opens only this run's files, and
parquet prunes ``text`` away - with no ``persist()`` of full text+spans
through the block store and no repeated extraction: the fan-out costs a
metadata-sized fraction of the extraction itself.

Crash-consistency: the manifest append is the commit point and it runs
last, so a crash between the text write and the manifest leaves a *torn
batch* - rows present in ``documents_text`` but absent from the manifest.
``heal_torn`` (run at the start of every pipeline invocation) converges
that window: torn urls get their missing spans/metrics/manifest rows
appended (each guarded by an existence check, so healing is itself
idempotent), after which manifest == text urls and the normal anti-join
resume is exact.  A resumed run therefore converges to the byte-identical
output of a single clean run.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.htmltext import looks_like_html
from ..operators.checkpoint import append_manifest, filter_done, read_done_urls
from ..operators.extraction import (
    _pdf_magic, explode_spans, extract_documents, extract_html_documents,
    pdf_magic_filter,
)
from ..operators.metrics import partition_metrics
from ..operators.skew import latest_per_url, size_bucketed_repartition
from ..sources import read_pages
from .sinks import ParquetSink, TableSink


def build_session(app_name: str = "livre-spark", cores: str | int = "*",
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    """local[cores] session tuned for the extraction workload;
    ``extra_conf`` entries override any setting below."""
    n = (os.cpu_count() or 8) if cores == "*" else int(cores)
    builder = (SparkSession.builder
               .appName(app_name)
               .master(f"local[{cores}]")
               .config("spark.sql.shuffle.partitions",
                       str(shuffle_partitions or max(2 * n, 8)))
               .config("spark.sql.execution.arrow.pyspark.enabled", "true")
               # Arrow batch size: bigger batches amortize the JVM<->Python
               # handoff; 1024 keeps per-batch latency low for heavy-tail docs
               .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
               .config("spark.sql.parquet.compression.codec", "snappy")
               .config("spark.sql.adaptive.enabled", "true")
               # NTZ timestamps bind to the session tz on cast; pin UTC
               # so epoch math is deterministic across environments
               .config("spark.sql.session.timeZone", "UTC")
               # byte-capped scan splits: the shuffle-free small-doc
               # path relies on these for balance (operators/skew.py).
               # 32 MiB measured best at local[32] (paired-fraction sweep:
               # 4 MiB 0.39-0.51, 16 MiB 0.55-0.73, 32 MiB 0.85-0.94,
               # 128 MiB 0.81-0.83 of the same-window mp.Pool ceiling) -
               # per-task overhead dominates below it, tail imbalance above
               .config("spark.sql.files.maxPartitionBytes", str(32 << 20))
               # task-granularity floor: without it a corpus of
               # ~cores x maxPartitionBytes scans as EXACTLY one task per
               # core (Spark's default minPartitionNum = cores), so one
               # heavy-tail straggler gates 1/cores of the stage.  4
               # waves lets the scheduler back-fill behind stragglers;
               # the byte cap above still bounds splits for big corpora
               .config("spark.sql.files.minPartitionNum", str(4 * n))
               .config("spark.driver.memory", "8g")
               .config("spark.ui.enabled", "false")
               .config("spark.driver.host", "127.0.0.1"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


TEXT_TABLE = "documents_text"
SPANS_TABLE = "documents_spans"
METRICS_TABLE = "partition_metrics"


def heal_torn(spark: SparkSession, output_dir: str,
              checkpoint_dir: str | None,
              write_spans: bool = True,
              sink: TableSink | None = None) -> int:
    """Converge a torn batch left by a crash before the manifest append.

    Torn = urls in ``documents_text`` missing from the manifest.  For those
    rows, append the missing exploded spans (skipping urls the spans table
    already has), the missing metrics rows (skipping run_ids the metrics
    table already has), and finally the manifest urls.  Every append is
    guarded by an existence check, so a crash *during healing* is healed
    by the next invocation - the procedure converges.

    Returns the number of torn urls healed (0 on the normal path).

    NB with an atomic-commit sink (plans.sinks.IcebergSink + a WAP /
    two-table transaction) the torn window cannot exist and this scan
    finds nothing - the parquet sink is WHY this procedure exists.
    """
    if not checkpoint_dir:
        return 0
    sink = sink or ParquetSink(output_dir)
    text = sink.read_or_none(spark, TEXT_TABLE)
    if text is None:
        return 0
    done = read_done_urls(spark, checkpoint_dir)
    torn = text if done is None else text.join(done, "url", "left_anti")
    # one column-pruned scan decides the fast path
    n_torn = torn.select("url").count()
    if n_torn == 0:
        return 0

    spans_tbl = sink.read_or_none(spark, SPANS_TABLE)
    if spans_tbl is not None or write_spans:
        missing_spans = torn if spans_tbl is None else torn.join(
            spans_tbl.select("url").distinct(), "url", "left_anti")
        sink.append(explode_spans(missing_spans), SPANS_TABLE)

    metrics_tbl = sink.read_or_none(spark, METRICS_TABLE)
    missing_runs = torn if metrics_tbl is None else torn.join(
        metrics_tbl.select("run_id").distinct(), "run_id", "left_anti")
    sink.append(partition_metrics(missing_runs), METRICS_TABLE)

    append_manifest(torn, checkpoint_dir)
    return n_torn


def _extract_and_commit(pages: DataFrame, run_id: str, sink: TableSink,
                        checkpoint_dir: str | None, write_spans: bool = True,
                        html_mode: str | None = None, **kernel) -> int:
    """``run_pipeline``'s body after healing and snapshot dedup, also run
    per streaming micro-batch; ``kernel`` goes to ``extract_documents``.
    Returns the number of docs this run wrote."""
    pages = filter_done(pages, checkpoint_dir)
    # a stored byte-length column turns the two size-branch predicates
    # into stats-pruned pushed filters (no double scan of the binary)
    size_col = "n_bytes" if "n_bytes" in pages.columns else None
    extracted = extract_documents(
        size_bucketed_repartition(pdf_magic_filter(pages), size_col=size_col),
        **kernel)
    if html_mode is not None:
        # the HTML branch is pure codegen (no UDF, no skew shuffle - the
        # regex pipeline cost is linear in bytes, scan splits balance it)
        extracted = extracted.unionByName(extract_html_documents(
            pages.filter(~_pdf_magic("html") & looks_like_html("html")),
            mode=html_mode))

    # the ONLY action that runs the UDF: text + nested spans in one write
    sink.append(extracted.withColumn("run_id", F.lit(run_id)), TEXT_TABLE)

    # secondary sinks derive from this run's rows; parquet prunes the
    # text column away, so these scans read only the small columns
    written = sink.read_run(pages.sparkSession, TEXT_TABLE, run_id)
    if written is None:  # nothing extracted: no rows to derive or commit
        return 0
    if write_spans:
        sink.append(explode_spans(written), SPANS_TABLE)
    sink.append(partition_metrics(written), METRICS_TABLE)
    n_docs = written.count()
    append_manifest(written, checkpoint_dir)
    return n_docs


def run_pipeline(spark: SparkSession, source: str, output_dir: str,
                 checkpoint_dir: str | None = None,
                 dedup_snapshots: bool = True,
                 write_spans: bool = True,
                 cmap: bool = False,
                 strip_inline: bool = False,
                 with_info: bool = False,
                 html_mode: str | None = None,
                 run_id: str | None = None,
                 sink: TableSink | None = None) -> dict:
    """Execute the full pipeline; returns output locations + counts.

    ``html_mode``: route non-PDF rows that look like HTML through the
    JVM-side boilerplate-strip/DOM-heuristic extractor (north rule's
    HTML axis) - ``"main"`` or ``"strip"``; ``None`` (default) keeps
    the PDF-only behavior.

    ``sink``: where the four tables land - default a ParquetSink rooted
    at ``output_dir``; an IcebergSink turns every append into an atomic
    snapshot commit (plans/sinks.py documents what that collapses).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    sink = sink or ParquetSink(output_dir)

    healed = heal_torn(spark, output_dir, checkpoint_dir,
                       write_spans=write_spans, sink=sink)

    pages = read_pages(spark, source)
    if dedup_snapshots and "warc_ts" in pages.columns:
        pages = latest_per_url(pages)
    n_docs = _extract_and_commit(
        pages, run_id, sink, checkpoint_dir, write_spans=write_spans,
        html_mode=html_mode, cmap=cmap, strip_inline=strip_inline,
        with_info=with_info)

    return {"run_id": run_id, "n_docs": n_docs, "n_healed": healed,
            "text_path": sink.location(TEXT_TABLE),
            "spans_path": sink.location(SPANS_TABLE) if write_spans else None,
            "metrics_path": sink.location(METRICS_TABLE)}
