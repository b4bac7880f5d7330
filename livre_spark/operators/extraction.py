"""B7: vectorized extraction, and the Arrow boundary of every Python kernel.

Hosts every parsing kernel from ``livre_spark.pdf`` (SURVEY.md section 2.A)
and ``map_rows``, the one per-row Arrow map that every per-document Python
kernel runs under: PDF text here, media, video and PDF-image features in
``functions``, and the decode/crypt kernels of the registered queries.  One
Arrow batch in, one Arrow batch out, built once from the rows the kernel
yields; no per-row Python ever crosses the JVM boundary (the ``input_hint``
mandate).  Per-row failures are contained into the ``error`` column - a
poisoned PDF must not kill the job.

``mapInArrow`` (not ``mapInPandas``): the kernels consume raw bytes and
emit strings/structs, so the pandas materialization on both edges is
pure overhead - skipping it measured ~25% more docs/s at local[32]
(6.8k -> 9.0k on the bench corpus in the same host window).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from functools import partial

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, FloatType, IntegerType, LongType, MapType,
    StringType, StructField, StructType,
)
from pyspark.sql.pandas.types import to_arrow_schema

from ..pdf.api import extract_text, is_pdf

SPAN_TYPE = StructType([
    StructField("page", IntegerType()),
    StructField("x", FloatType()),
    StructField("y", FloatType()),
    StructField("off", LongType()),
    StructField("len", LongType()),
])

EXTRACTED_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("text", StringType()),
    StructField("n_pages", IntegerType()),
    StructField("n_spans", IntegerType()),
    StructField("spans", ArrayType(SPAN_TYPE)),
    StructField("error", StringType()),
    StructField("parse_ms", DoubleType()),
    StructField("bytes_in", LongType()),
    StructField("partition_id", IntegerType()),
    # /Info metadata (decrypted for encrypted docs) - populated only
    # under with_info=True, else null; additive, never breaks readers
    StructField("info", MapType(StringType(), StringType())),
])


def map_rows(df: DataFrame, fn: Callable[..., Iterable[dict]],
             schema: StructType | str) -> DataFrame:
    """Run ``fn(*row)`` on every row of ``df`` under one ``mapInArrow``.

    ``fn`` takes the row's columns in ``df``'s order and yields zero or
    more output rows, each a dict keyed by ``schema``'s field names; a
    missing key reads back as null.  ``schema`` is a StructType or a
    DDL string.  This is the one Arrow boundary of every per-document
    Python kernel.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    body = partial(_row_batches, fn=fn, arrow_schema=to_arrow_schema(schema))
    return df.mapInArrow(body, schema)


def _row_batches(batches: Iterator[pa.RecordBatch],
                 fn: Callable[..., Iterable[dict]],
                 arrow_schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """``map_rows``' mapInArrow body: one output batch per input batch,
    built once from the rows ``fn`` yields."""
    for batch in batches:
        columns = [c.to_pylist() for c in batch.columns]
        rows = [out for row in zip(*columns) for out in fn(*row)]
        yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)


def _extract_row(url: str, html: bytes | None, cmap: bool = False,
                 strip_inline: bool = False,
                 with_info: bool = False) -> Iterator[dict]:
    """One (url, html) row -> one EXTRACTED_SCHEMA row.

    ``partition_id`` is stamped here from the TaskContext (not with
    ``F.spark_partition_id()``, which would write the column as
    ``int not null`` and change the table's schema)."""
    buf = html or b""
    if is_pdf(buf):
        result = extract_text(buf, cmap=cmap, strip_inline=strip_inline,
                              with_info=with_info)
    else:
        result = {"text": "", "spans": [], "n_pages": 0,
                  "error": "NotAPdf", "parse_ms": 0.0}
    ctx = TaskContext.get()
    result.update(url=url, n_spans=len(result["spans"]), bytes_in=len(buf),
                  partition_id=ctx.partitionId() if ctx is not None else -1)
    yield result


def extract_documents(pages: DataFrame, cmap: bool = False,
                      strip_inline: bool = False,
                      with_info: bool = False) -> DataFrame:
    """Run the extraction kernel over a (url, html) DataFrame.

    Columns are pruned to exactly (url, html) before the UDF so Catalyst
    pushes the projection into the scan (ReadSchema stays 2 columns).

    ``cmap=True`` switches show-string decode to the opt-in /ToUnicode
    CMap mode (pdf/cmap.py); ``strip_inline=True`` removes BI/ID/EI
    inline-image spans pre-tokenization (pdf/inline.py);
    ``with_info=True`` populates the ``info`` metadata map (decrypted
    /Info strings).  The defaults stay reference-byte-identical.
    """
    row = partial(_extract_row, cmap=cmap, strip_inline=strip_inline,
                  with_info=with_info)
    return map_rows(pages.select("url", "html"), row, EXTRACTED_SCHEMA)


def pdf_magic_filter(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """B4: JVM-side magic-byte predicate - no Python involved.

    ``substring`` on a binary column stays inside whole-stage codegen and
    is pushed toward the scan.
    """
    return pages.filter(_pdf_magic(html_col))


def _pdf_magic(html_col: str) -> F.Column:
    return F.decode(
        F.expr(f"substring({html_col}, 1, 5)"), "ISO-8859-1") == "%PDF-"


def extract_html_documents(pages: DataFrame,
                           mode: str = "main") -> DataFrame:
    """HTML-axis extraction (north rule: boilerplate strip + DOM
    heuristics) producing EXTRACTED_SCHEMA rows - pure JVM Column
    expressions (functions/htmltext.py), whole-stage codegen, no Python.

    ``mode``: ``"main"`` = readability-lite main content;
    ``"strip"`` = plain tag strip.
    """
    from ..functions.htmltext import main_content, strip_tags

    # lenient binary->string cast, NOT decode('UTF-8'): Spark 4's decode
    # throws MALFORMED_CHARACTER_CODING on invalid bytes - one poisoned
    # crawl row must not kill the job.  The cast wraps the bytes without
    # validation; the regex pipeline is ASCII-structural so invalid
    # sequences flow through opaquely into the text.
    doc = F.col("html").cast("string")
    txt = main_content(doc) if mode == "main" else strip_tags(doc)
    return pages.select(
        F.col("url"),
        txt.alias("text"),
        F.lit(0).cast("int").alias("n_pages"),
        F.lit(0).cast("int").alias("n_spans"),
        F.array().cast(ArrayType(SPAN_TYPE)).alias("spans"),
        F.lit(None).cast("string").alias("error"),
        F.lit(0.0).alias("parse_ms"),
        F.length("html").cast("long").alias("bytes_in"),
        F.spark_partition_id().alias("partition_id"),
        F.lit(None).cast(MapType(StringType(), StringType()))
        .alias("info"))


def explode_spans(extracted: DataFrame) -> DataFrame:
    """B9: per-span table (url, page, x, y, off, len)."""
    return (extracted
            .select("url", F.explode("spans").alias("s"))
            .select("url", "s.page", "s.x", "s.y", "s.off", "s.len"))
