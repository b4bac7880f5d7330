"""Structured Streaming wrapper: availableNow micro-batch over a parquet
drop-directory, reusing the batch extraction pipeline."""

import os

from livre_spark.plans.corpus import expected_rows, write_corpus
from livre_spark.streaming import start_extraction_stream


def test_stream_extracts(spark, tmp_path):
    src = str(tmp_path / "drop")
    write_corpus(src, 20, duplicate_every=0)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = start_extraction_stream(spark, src, out, ckpt, trigger_once=True)
    q.awaitTermination(timeout=180)

    got = {r["url"]: r["text"] for r in
           spark.read.parquet(os.path.join(out, "documents_text")).collect()}
    expected = {e["url"]: e for e in expected_rows(20)}
    pdf_urls = {u for u, e in expected.items() if e["kind"] == "pdf"}
    assert set(got) >= pdf_urls
    for url in pdf_urls:
        assert got[url] == expected[url]["expected_text"]

    # second trigger over the same files: streaming checkpoint + manifest
    # anti-join -> no duplicates appended
    q2 = start_extraction_stream(spark, src, out, ckpt, trigger_once=True)
    q2.awaitTermination(timeout=180)
    n = spark.read.parquet(os.path.join(out, "documents_text")).count()
    assert n == len(got)


def _write_batch(spark, tmp_path, src, name, rows):
    import datetime
    import shutil

    from livre_spark.sources import PAGES_SCHEMA

    df = spark.createDataFrame(
        [(u, datetime.datetime(2026, 1, 1) + datetime.timedelta(hours=h),
          bytearray(b"%PDF-x"), "", "en") for u, h in rows],
        PAGES_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
    for f in os.listdir(str(tmp_path / name)):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(str(tmp_path / name), f),
                        os.path.join(src, name + ".parquet"))


def test_stream_first_seen_no_duplicates(spark, tmp_path):
    """First-seen state dedup wired BEFORE extraction: urls recurring
    across three micro-batches are extracted exactly once."""
    src = str(tmp_path / "drop")
    os.makedirs(src)
    _write_batch(spark, tmp_path, src, "b1", [("u1", 0), ("u2", 1)])
    _write_batch(spark, tmp_path, src, "b2", [("u1", 2), ("u3", 3)])
    _write_batch(spark, tmp_path, src, "b3",
                 [("u2", 4), ("u3", 5), ("u4", 6)])
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = start_extraction_stream(spark, src, out, ckpt, trigger_once=True,
                                max_files_per_trigger=1)
    q.awaitTermination(timeout=180)

    urls = [r["url"] for r in spark.read.parquet(
        os.path.join(out, "documents_text")).select("url").collect()]
    assert sorted(urls) == ["u1", "u2", "u3", "u4"]  # no duplicates


def test_dedup_first_seen_stateful(spark, tmp_path):
    """applyInPandasWithState first-seen dedup: a url recurring in a
    later micro-batch is emitted only once, with the first batch's ts."""
    import datetime

    from livre_spark.sources import PAGES_SCHEMA
    from livre_spark.streaming import dedup_first_seen

    src = str(tmp_path / "drop")
    os.makedirs(src)

    def write_batch(name, rows):
        df = spark.createDataFrame(
            [(u, datetime.datetime(2026, 1, 1) + datetime.timedelta(hours=h),
              bytearray(b"%PDF-x"), "", "en") for u, h in rows],
            PAGES_SCHEMA)
        df.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / name))
        import shutil
        for f in os.listdir(str(tmp_path / name)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(str(tmp_path / name), f),
                            os.path.join(src, name + ".parquet"))

    write_batch("b1", [("u1", 0), ("u2", 1)])
    write_batch("b2", [("u1", 2), ("u3", 3)])   # u1 recurs

    stream = (spark.readStream.schema(PAGES_SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (dedup_first_seen(stream)
         .writeStream.outputMode("append")
         .format("memory").queryName("first_seen")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(timeout=180)

    rows = {r["url"]: r for r in spark.sql(
        "SELECT * FROM first_seen").collect()}
    assert set(rows) == {"u1", "u2", "u3"}
    for u in rows:
        assert rows[u]["n_snapshots"] == 1  # emitted on first sighting


def test_windowed_page_counts(spark, tmp_path):
    """Watermarked tumbling-window aggregation over the page stream."""
    from livre_spark.streaming import stream_pages, windowed_page_counts

    src = str(tmp_path / "drop")
    os.makedirs(src)
    # two 10-minute windows: hours 0.0-0.1 (3 rows) and 1.0 (2 rows)
    _write_batch(spark, tmp_path, src, "b1",
                 [("u1", 0), ("u2", 0), ("u1", 0)])
    _write_batch(spark, tmp_path, src, "b2", [("u3", 1), ("u4", 1)])

    q = (windowed_page_counts(stream_pages(spark, src), window="10 minutes")
         .writeStream.outputMode("complete")
         .format("memory").queryName("win_counts")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(timeout=180)

    rows = {r["win_start"].hour: r for r in
            spark.sql("SELECT * FROM win_counts").collect()}
    assert rows[0]["n_pages"] == 3
    assert rows[0]["n_urls"] == 2  # u1 deduped by approx distinct
    assert rows[1]["n_pages"] == 2


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Gap-timeout sessionization: in-batch gap closures emit
    immediately, the trailing open session closes via EVENT-TIME
    timeout when the watermark passes last+gap, and every closed
    session matches the batch session_stats twin row-for-row."""
    import datetime

    from livre_spark.operators.sessions import session_stats
    from livre_spark.streaming import streaming_sessionize

    SCHEMA = ("user_id long, event_id long, ts timestamp, value double")
    t0 = datetime.datetime(2026, 1, 1)

    def ev(u, eid, minutes, v):
        return (u, eid, t0 + datetime.timedelta(minutes=minutes), v)

    # u1: session A (0, 10min), then >30min gap, session B (120min);
    # u2: one session (5min); u9 late sentinels push the watermark
    # 0.125 pins HALF_UP cents (pandas' default half-even would say 12)
    b1 = [ev(1, 0, 0, 1.25), ev(1, 1, 10, 2.50), ev(1, 2, 120, 4.00),
          ev(2, 3, 5, 0.125)]
    b2 = [ev(9, 4, 600, 0.50)]    # watermark -> 10:00 closes u1B + u2
    b3 = [ev(9, 5, 1300, 0.25)]   # watermark -> closes u9's first

    src = str(tmp_path / "events_drop")
    os.makedirs(src)
    import shutil
    for name, rows in (("b1", b1), ("b2", b2), ("b3", b3)):
        d = str(tmp_path / name)
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(d, f),
                            os.path.join(src, name + ".parquet"))

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (streaming_sessionize(stream)
         .writeStream.outputMode("append")
         .format("memory").queryName("sessions_stream")
         .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(timeout=180)

    got = {(r["user_id"], r["session_id"]):
           (r["n_events"], r["start_us"], r["end_us"], r["value_cents"])
           for r in spark.sql("SELECT * FROM sessions_stream").collect()}
    # u1 has both sessions closed, u2 its one, u9's first (the second
    # stays open - no later watermark ever passes it)
    batch = spark.createDataFrame(b1 + b2 + b3, SCHEMA)
    want = {(r["user_id"], r["session_id"]):
            (r["n_events"], r["start_us"], r["end_us"], r["value_cents"])
            for r in session_stats(batch).collect()}
    open_keys = {(9, 1)}  # u9's final session never times out
    assert set(got) == set(want) - open_keys
    for k in got:
        assert got[k] == want[k], (k, got[k], want[k])


def _rows(spark, out, table, cols):
    return sorted(tuple(r) for r in spark.read.parquet(
        os.path.join(out, table)).select(*cols).collect())


def test_stream_and_batch_write_the_same_tables(spark, tmp_path):
    """A stream and run_pipeline over one corpus run the same body: the
    same text and span rows, and both write metrics and a manifest."""
    from livre_spark.plans.job import run_pipeline

    src = write_corpus(str(tmp_path / "drop"), 20)
    streamed = str(tmp_path / "stream"), str(tmp_path / "stream_ckpt")
    start_extraction_stream(spark, src, *streamed).awaitTermination(
        timeout=180)
    batched = str(tmp_path / "batch"), str(tmp_path / "batch_ckpt")
    run_pipeline(spark, src, *batched)

    def tables(out, ckpt):
        return (_rows(spark, out, "documents_text",
                      ["url", "text", "n_pages", "error"]),
                _rows(spark, out, "documents_spans",
                      ["url", "page", "x", "y", "off", "len"]),
                sum(r[0] for r in _rows(spark, out, "partition_metrics",
                                        ["n_docs"])),
                _rows(spark, ckpt, "done_urls", ["url"]))

    stream, batch = tables(*streamed), tables(*batched)
    text, spans, n_metrics, manifest = batch
    assert text and spans
    assert n_metrics == len(text) == len(manifest)
    assert stream == batch


def test_empty_run_writes_no_manifest_rows(spark, tmp_path):
    """A run with nothing to extract (HTML rows only, no html_mode) into
    an empty output returns n_docs 0 and commits no manifest rows, in
    run_pipeline and in the stream alike."""
    import datetime

    from livre_spark.operators.checkpoint import read_done_urls
    from livre_spark.plans.job import run_pipeline
    from livre_spark.sources import PAGES_SCHEMA

    src = str(tmp_path / "drop")
    spark.createDataFrame(
        [(f"h://{i}", datetime.datetime(2026, 1, 1),
          bytearray(b"<html><p>plain page</p></html>"), "", "en")
         for i in range(3)], PAGES_SCHEMA).coalesce(1).write.parquet(src)

    ckpt = str(tmp_path / "batch_ckpt")
    info = run_pipeline(spark, src, str(tmp_path / "batch"),
                        checkpoint_dir=ckpt)
    assert info["n_docs"] == 0
    assert read_done_urls(spark, ckpt) is None

    ckpt = str(tmp_path / "stream_ckpt")
    start_extraction_stream(spark, src, str(tmp_path / "stream"),
                            ckpt).awaitTermination(timeout=180)
    assert read_done_urls(spark, ckpt) is None
