"""Spark pipeline integration: end-to-end correctness, dedup, skew path,
resume idempotence.  Small corpus, session-scoped local[4] session."""

import os

import pytest

from livre_spark.plans.corpus import expected_rows, write_corpus
from livre_spark.plans.job import run_pipeline

N_DOCS = 60


@pytest.fixture(scope="module")
def corpus_path(tmp_path_factory):
    path = tmp_path_factory.mktemp("corpus")
    return write_corpus(str(path / "pages"), N_DOCS)


def _read_text(spark, out_dir):
    return {r["url"]: r for r in
            spark.read.parquet(os.path.join(out_dir, "documents_text")).collect()}


def test_pipeline_end_to_end(spark, corpus_path, tmp_path):
    out = str(tmp_path / "out")
    info = run_pipeline(spark, corpus_path, out,
                        checkpoint_dir=str(tmp_path / "ckpt"))
    got = _read_text(spark, out)
    expected = {e["url"]: e for e in expected_rows(N_DOCS)}

    pdf_urls = {u for u, e in expected.items() if e["kind"] == "pdf"}
    corrupt_urls = {u for u, e in expected.items() if e["kind"] == "corrupt"}
    html_urls = {u for u, e in expected.items() if e["kind"] == "html"}

    # html rows are filtered by the magic-byte predicate (B4)
    assert set(got) == pdf_urls | corrupt_urls
    assert info["n_docs"] == len(got)

    for url in pdf_urls:
        row = got[url]
        assert row["error"] is None, (url, row["error"])
        # the byte-identity contract: extracted text equals the
        # by-construction expected text for the NEWEST snapshot
        assert row["text"] == expected[url]["expected_text"], url
        assert row["n_pages"] == expected[url]["n_pages"]
    for url in corrupt_urls:
        assert got[url]["error"] is not None


def test_spans_table(spark, corpus_path, tmp_path):
    out = str(tmp_path / "out")
    run_pipeline(spark, corpus_path, out)
    spans = spark.read.parquet(os.path.join(out, "documents_spans"))
    assert spans.columns == ["url", "page", "x", "y", "off", "len"]
    assert spans.count() > 0
    # offsets are consistent: every span's [off, off+len) lies in the text
    text = spark.read.parquet(os.path.join(out, "documents_text"))
    joined = spans.join(text, "url")
    import pyspark.sql.functions as F
    bad = joined.filter(
        (F.col("off") < 0) | (F.col("off") + F.col("len") > F.length("text")))
    assert bad.count() == 0


def test_metrics_table(spark, corpus_path, tmp_path):
    out = str(tmp_path / "out")
    info = run_pipeline(spark, corpus_path, out)
    metrics = spark.read.parquet(os.path.join(out, "partition_metrics"))
    rows = metrics.collect()
    assert sum(r["n_docs"] for r in rows) == info["n_docs"]
    assert all(r["run_id"] == info["run_id"] for r in rows)


def test_resume_idempotent(spark, corpus_path, tmp_path):
    """Kill-and-rerun produces the identical output table (B18)."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    info1 = run_pipeline(spark, corpus_path, out, checkpoint_dir=ckpt)
    # second run: everything already done -> zero new docs appended
    info2 = run_pipeline(spark, corpus_path, out, checkpoint_dir=ckpt)
    assert info2["n_docs"] == 0
    got = _read_text(spark, out)
    assert len(got) == info1["n_docs"]  # no duplicate rows appended

    # fresh run into another dir gives byte-identical text per url
    out2 = str(tmp_path / "out2")
    run_pipeline(spark, corpus_path, out2)
    got2 = _read_text(spark, out2)
    assert {u: r["text"] for u, r in got.items()} == \
           {u: r["text"] for u, r in got2.items()}


def test_explain_has_pruned_scan(spark, corpus_path):
    """Column pruning reaches the parquet scan: the UDF input reads only
    (url, html), never text/lang."""
    from livre_spark.operators.extraction import extract_documents
    from livre_spark.sources import read_pages

    df = extract_documents(read_pages(spark, corpus_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    import re
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "text" not in m.group(1) and "lang" not in m.group(1), m.group(1)


def test_torn_batch_heals(spark, corpus_path, tmp_path):
    """A crash between the text write and the manifest append (the
    non-transactional window) leaves a torn batch; the next pipeline run
    converges it: manifest/spans restored, no duplicate text rows, no
    re-extraction."""
    import shutil

    from livre_spark.operators.checkpoint import manifest_path

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    info1 = run_pipeline(spark, corpus_path, out, checkpoint_dir=ckpt)

    # simulate the crash: outputs written, manifest never appended
    shutil.rmtree(manifest_path(ckpt))
    # ... and the spans sink also lost (crash before the spans write)
    shutil.rmtree(os.path.join(out, "documents_spans"))

    info2 = run_pipeline(spark, corpus_path, out, checkpoint_dir=ckpt)
    assert info2["n_healed"] == info1["n_docs"]
    assert info2["n_docs"] == 0  # nothing re-extracted
    got = _read_text(spark, out)
    assert len(got) == info1["n_docs"]  # no duplicate text rows

    # spans restored from the nested column, no duplicates
    spans = spark.read.parquet(os.path.join(out, "documents_spans"))
    n_spans_expected = sum(r["n_spans"] for r in got.values())
    assert spans.count() == n_spans_expected

    # healing is idempotent: a third run changes nothing
    info3 = run_pipeline(spark, corpus_path, out, checkpoint_dir=ckpt)
    assert info3["n_healed"] == 0 and info3["n_docs"] == 0
    assert spark.read.parquet(
        os.path.join(out, "documents_spans")).count() == n_spans_expected


def test_html_mode_extracts_main_content(spark, corpus_path, tmp_path):
    """html_mode routes non-PDF HTML rows through the JVM boilerplate
    strip; the corpus's html rows carry golden main content (nav/footer
    link farms and script/style must vanish)."""
    out = str(tmp_path / "out")
    info = run_pipeline(spark, corpus_path, out, html_mode="main")
    got = _read_text(spark, out)
    expected = {e["url"]: e for e in expected_rows(N_DOCS)}
    html_urls = {u for u, e in expected.items() if e["kind"] == "html"}
    assert html_urls, "corpus should contain html rows"
    assert html_urls <= set(got)
    for url in html_urls:
        row = got[url]
        assert row["error"] is None
        assert row["text"] == expected[url]["expected_text"], url
        assert row["n_pages"] == 0 and row["n_spans"] == 0
    # PDF rows still extract byte-identically alongside
    pdf_urls = {u for u, e in expected.items() if e["kind"] == "pdf"}
    for url in pdf_urls:
        assert got[url]["text"] == expected[url]["expected_text"], url
    assert info["n_docs"] == len(got)


def test_html_mode_contains_malformed_bytes(spark, tmp_path):
    """A poisoned crawl row (invalid UTF-8 inside an <html> prefix) must
    not kill the job - Spark 4's decode('UTF-8') throws; the lenient
    binary->string cast must be used instead."""
    import datetime

    rows = [
        ("h://garbage", datetime.datetime(2025, 1, 1),
         bytearray(b"<html>\xff\xfe\x80 broken bytes but plenty of plain"
                   b" text content to keep</p>"), None, None),
        ("h://truncated", datetime.datetime(2025, 1, 1),
         bytearray(b"<!DOCTYPE html><body><p>a paragraph long enough to"
                   b" keep in the output"), None, None),
        ("h://not-html", datetime.datetime(2025, 1, 1),
         bytearray(b"\x00\x01binary junk"), None, None),
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string,"
              " lang string").write.parquet(src)
    out = str(tmp_path / "out")
    info = run_pipeline(spark, src, out, html_mode="main")
    got = _read_text(spark, out)
    assert info["n_docs"] == 2            # binary junk not routed
    assert "plain text content" in got["h://garbage"]["text"]
    assert got["h://truncated"]["text"].startswith("a paragraph")


def test_sink_seam_explicit_parquet_identical(spark, corpus_path, tmp_path):
    """The TableSink seam: running with an explicit ParquetSink produces
    the identical layout/content as the default path (no behavior
    change), and the manifest accepts a sink object too."""
    from livre_spark.plans.sinks import IcebergSink, ParquetSink

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    info = run_pipeline(spark, corpus_path, out, checkpoint_dir=ckpt,
                        sink=ParquetSink(out))
    assert info["text_path"] == str(tmp_path / "out" / "documents_text")
    text = spark.read.parquet(info["text_path"])
    assert text.count() == info["n_docs"] > 0
    # resume via the seam: second run extracts nothing new
    info2 = run_pipeline(spark, corpus_path, out, checkpoint_dir=ckpt,
                        sink=ParquetSink(out))
    assert info2["n_docs"] == 0 and info2["n_healed"] == 0

    # Iceberg identifier logic (no catalog in-sandbox; construction and
    # naming must work so a configured cluster can pass one in)
    ice = IcebergSink("lake.crawl", snapshot_props={"run_id": "r1"})
    assert ice.location("documents_text") == "lake.crawl.documents_text"
    assert ice.read_or_none(spark, "documents_text") is None


def test_with_info_metadata_column(spark, tmp_path):
    """with_info=True populates the info map - decrypted for encrypted
    docs; default runs leave it null (schema additive)."""
    from livre_spark.operators.extraction import extract_documents
    from livre_spark.pdf.genpdf import build_pdf

    rows = [
        ("u-plain", bytearray(build_pdf(
            [b"BT (a) Tj ET"], info={"Title": "plain doc"}))),
        ("u-enc", bytearray(build_pdf(
            [b"BT (b) Tj ET"], encrypt="rc4-128",
            info={"Title": "secret doc", "Author": "Anaïs"}))),
        ("u-noinfo", bytearray(build_pdf([b"BT (c) Tj ET"]))),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = {r["url"]: r for r in
           extract_documents(pages, with_info=True).collect()}
    assert got["u-plain"]["info"] == {"Title": "plain doc"}
    assert got["u-enc"]["info"] == {"Title": "secret doc",
                                    "Author": "Anaïs"}
    assert got["u-noinfo"]["info"] is None
    assert got["u-enc"]["text"] == "\nb"  # extraction itself unchanged
    # default: column exists, stays null
    got2 = {r["url"]: r for r in extract_documents(pages).collect()}
    assert all(got2[u]["info"] is None for u in got2)


def test_parquet_sink_merges_mixed_schemas(spark, tmp_path):
    """A table directory appended to by old (no info column) and new
    writers is mixed-schema parquet; read_or_none must pin the UNION
    deterministically instead of whichever footer Spark samples."""
    from livre_spark.plans.sinks import ParquetSink

    sink = ParquetSink(str(tmp_path))
    loc = sink.location("documents_text")
    spark.createDataFrame([("u1", "old")], "url string, text string") \
        .write.mode("append").parquet(loc)
    spark.createDataFrame(
        [("u2", "new", {"Title": "t"})],
        "url string, text string, info map<string,string>") \
        .write.mode("append").parquet(loc)
    got = sink.read_or_none(spark, "documents_text")
    assert set(got.columns) == {"url", "text", "info"}
    rows = {r["url"]: r["info"] for r in got.collect()}
    assert rows["u1"] is None and rows["u2"] == {"Title": "t"}


def test_parquet_sink_refuses_unpartitioned_text_layout(spark, corpus_path,
                                                        tmp_path):
    """An output whose documents_text holds top-level parquet files (the
    layout written before partitioning by run_id) is refused before the
    text append: Spark's read of the mixed directory would silently drop
    the old rows.  The old files are left as they were."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path / "out")
    text_dir = os.path.join(out, "documents_text")
    os.makedirs(text_dir)
    old = os.path.join(text_dir, "part-00000.parquet")
    pq.write_table(pa.table({"url": [f"old-{i}" for i in range(9)],
                             "text": ["t"] * 9}), old)
    with open(old, "rb") as f:
        before = f.read()
    with pytest.raises(ValueError, match="documents_text"):
        run_pipeline(spark, corpus_path, out)
    assert os.listdir(text_dir) == ["part-00000.parquet"]
    with open(old, "rb") as f:
        assert f.read() == before


def test_torn_batch_keeps_numeric_looking_run_id(spark, corpus_path,
                                                 tmp_path):
    """``run_id`` is a partition directory of documents_text; partition
    type inference would read ``run_id=000123456789`` back as a bigint
    123456789.  The sink pins it to string, so the metrics rows a heal
    derives still carry the id verbatim."""
    import shutil

    from livre_spark.operators.checkpoint import manifest_path

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    info1 = run_pipeline(spark, corpus_path, out, checkpoint_dir=ckpt,
                         run_id="000123456789")
    shutil.rmtree(manifest_path(ckpt))
    shutil.rmtree(os.path.join(out, "partition_metrics"))

    info2 = run_pipeline(spark, corpus_path, out, checkpoint_dir=ckpt)
    assert info2["n_healed"] == info1["n_docs"] and info2["n_docs"] == 0
    metrics = spark.read.parquet(os.path.join(out, "partition_metrics"))
    assert dict(metrics.dtypes)["run_id"] == "string"
    rows = metrics.collect()
    assert {r["run_id"] for r in rows} == {"000123456789"}
    assert sum(r["n_docs"] for r in rows) == info1["n_docs"]


def test_read_back_opens_only_this_run(spark, corpus_path, tmp_path):
    """The body's read-back of a second run into a non-empty output
    opens only that run's ``documents_text/run_id=<run>/`` files."""
    from livre_spark.plans.sinks import ParquetSink

    read_back = []

    class SpySink(ParquetSink):
        def read_run(self, spark, table, run_id):
            df = super().read_run(spark, table, run_id)
            read_back.append(df)
            return df

    out = str(tmp_path / "out")
    first = run_pipeline(spark, corpus_path, out)
    info = run_pipeline(spark, corpus_path, out, sink=SpySink(out))
    files = read_back[0].inputFiles()
    assert files and all(
        f"/documents_text/run_id={info['run_id']}/" in f for f in files)
    assert os.listdir(os.path.join(
        out, "documents_text", f"run_id={first['run_id']}"))
    assert info["n_docs"] == first["n_docs"] > 0
