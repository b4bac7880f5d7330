#!/usr/bin/env python3
"""perfbench: the repository's benchmark, end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 10 --trace 0

Workloads (one closed-loop client; one Spark job at a time on
``local[nproc]``; the driver process generates the inputs from ``--seed``):

- ``crawl_fresh``: ``plans.job.run_pipeline(html_mode="main")`` into empty
  output and checkpoint directories over the ``genpdf`` crawl mix plus
  planted >= 1 MiB PDFs.  The PDF kernel, the Arrow boundary and the skew
  operator do nearly all the work.
- ``crawl_resume``: ``run_pipeline`` over a restored prior output and
  manifest that already cover most urls; the input adds new urls,
  re-crawled snapshots and a planted torn batch.  Dedup window, anti-join,
  ``heal_torn`` and the read-back sinks do most of the work.
- ``dedup_sf0.1``: the registered dedup, similarity and text queries of
  ``__spark_entry__.queries()`` over the sf0.1 ``documents``,
  ``embeddings`` and ``events`` tables in ``perfbench/sf0.1``, each timed
  with the ``count(every column)`` action and checked against its DuckDB
  ``oracle_sql()`` twin.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes a separate
traced run and prints the per-layer metrics.  The line before the last is a
report (versions, core count, seed, input sizes, ``failed_share``); the
last line is the result.  ``BENCHMARK.json`` at the checkout root lists the
metrics, and ``perfbench/layers.json`` says which end-to-end metric and
workload each layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = len(os.sched_getaffinity(0))
DRIVER_HEAP = "1g"

SIZES = {
    # mix: generate_row documents; heavy: planted >= 1 MiB PDFs;
    # resume: prior urls (the last `torn` of them torn), new urls and
    # re-crawled snapshots
    "full": dict(mix=3000, heavy=6, prior=2850, torn=60, new=150,
                 recrawl=150),
    "tiny": dict(mix=60, heavy=1, prior=50, torn=5, new=10, recrawl=5),
}

QUERIES = ("sim_near_dup", "dedup_simhash", "dedup_simhash_pairs",
           "dedup_minhash_lsh", "sim_topk", "sim_topk_lsh", "json_props",
           "html_main")
TABLES = ("documents_text", "documents_spans", "partition_metrics",
          "done_urls")
PDF_PHASES = ("open", "pages", "build_content", "extract_page",
              "decode_chain", "decrypt")
PDF_COUNTS = ("pages", "spans", "text_chars", "inflated_bytes",
              "decrypt_calls")
ERROR_CODES = ("NoStartXref",)   # anything else lands in ``other``
# the sf0.1 test tables the dedup queries read, at every size
SF_DIR = os.path.join(HERE, "sf0.1")
SF_TABLES = ("documents", "embeddings", "events")


# ---------------------------------------------------------------------------
# Spark session lifetime
# ---------------------------------------------------------------------------


def confine_to(work: str) -> None:
    """Point every temporary file of Python, the JVM and Spark into the
    benchmark's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    jopts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the driver JVM starts at its full heap, so its resident size tracks
    # what the job touches rather than when G1 decides to grow the heap
    for var, opts in (("SPARK_SUBMIT_OPTS", f"{jopts} -Xms{DRIVER_HEAP}"),
                      ("SPARK_LAUNCHER_OPTS", jopts)):
        os.environ[var] = f"{os.environ.get(var, '')} {opts}".strip()


def start_session(work: str, event_dir: str | None = None):
    from livre_spark.plans.job import build_session

    conf = {"spark.driver.memory": DRIVER_HEAP,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark")}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false"})
    spark = build_session(app_name="perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the session, then the JVM gateway, and wait for every process
    this benchmark started."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from proc import descendants, reap

    pids = descendants(os.getpid())
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap(pids)


def label(spark, name: str | None) -> None:
    from tracing import LABEL_PROP

    spark.sparkContext.setLocalProperty(LABEL_PROP, name)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Crawl:
    """Shared by both crawl workloads: input pages, goldens, the timed
    ``run_pipeline`` call and the check of what it wrote."""

    name = ""
    prior_state = False
    # The JVM keeps getting faster for a minute after set-up, so the first
    # timed call is the slowest; wall_s is the median of at least three
    # calls, so it does not depend on whether a third call fits.
    min_calls = 3

    def __init__(self, work: str, seed: int, size: dict):
        self.work, self.seed, self.size = work, seed, size
        self.src = os.path.join(work, "input", "pages")
        self.warm_src = os.path.join(work, "input", "warm")
        self.run_dir = os.path.join(work, "run")
        self.goldens: dict = {}
        self.rows: list[dict] = []
        self.input_bytes = 0

    # -- preparation ------------------------------------------------------
    def prepare(self) -> None:
        import gen

        # the warm-up input has the timed input's plan shape and row kinds,
        # heavy branch included, at 5% of its rows
        n_warm = self.size["mix"] // 20
        warm = (gen.mix_rows(self.seed, range(900_000, 900_000 + n_warm), {})
                + gen.heavy_rows(self.seed + 1, 1, {}))
        gen.write_pages(self.warm_src, warm, row_groups=8)
        self.input_bytes = gen.write_pages(self.src, self.rows)

    def prepare_spark(self, spark) -> None:
        pass

    def input_stamp(self) -> dict:
        return {"source_rows": len(self.rows), "source_bytes": self.input_bytes,
                "urls": len(self.goldens)}

    # -- set-up -----------------------------------------------------------
    def warm(self, spark) -> None:
        """The warm-up pass: the pipeline over the warm-up input into a
        scratch output (twice for a resumed crawl: fresh, then resumed)."""
        from livre_spark.plans.job import run_pipeline

        d = os.path.join(self.work, "warm")
        shutil.rmtree(d, ignore_errors=True)
        for _ in range(2 if self.prior_state else 1):
            run_pipeline(spark, self.warm_src, os.path.join(d, "out"),
                         os.path.join(d, "ckpt"), html_mode="main")
        shutil.rmtree(d, ignore_errors=True)

    # -- the timed call ---------------------------------------------------
    def reset(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)

    @property
    def out(self) -> str:
        return os.path.join(self.run_dir, "out")

    @property
    def ckpt(self) -> str:
        return os.path.join(self.run_dir, "ckpt")

    def call(self, spark, traced: bool = False) -> dict:
        from livre_spark.plans.job import run_pipeline

        return run_pipeline(spark, self.src, self.out, self.ckpt,
                            html_mode="main")

    def work_units(self) -> int:
        return len(self.rows)

    # -- correctness ------------------------------------------------------
    def check(self, spark, info: dict) -> tuple[int, int]:
        """(attempted, failed) documents.  A document fails when it is
        missing or duplicated in documents_text or the manifest, when its
        text or page count differs from the golden, or when a corrupt
        document carries no error code."""
        import pyarrow.parquet as pq

        text = pq.read_table(os.path.join(self.out, "documents_text"),
                             columns=["url", "text", "n_pages", "error"])
        done = pq.read_table(os.path.join(self.ckpt, "done_urls"),
                             columns=["url"]).column("url").to_pylist()
        seen: dict[str, int] = {}
        bad = set()
        for url, txt, n_pages, err in zip(*(text.column(c).to_pylist()
                                           for c in text.column_names)):
            seen[url] = seen.get(url, 0) + 1
            g = self.goldens.get(url)
            if g is None:
                bad.add(url)
            elif g.kind == "corrupt":
                if err is None:
                    bad.add(url)
            elif txt != g.text or n_pages != g.n_pages:
                bad.add(url)
        done_count: dict[str, int] = {}
        for url in done:
            done_count[url] = done_count.get(url, 0) + 1
        for url in set(self.goldens) | set(seen) | set(done_count):
            if seen.get(url) != 1 or done_count.get(url) != 1:
                bad.add(url)
        for url in sorted(bad)[:5]:
            print(f"perfbench: wrong output for {url} (rows {seen.get(url)},"
                  f" manifest rows {done_count.get(url)})", file=sys.stderr)
        return len(set(self.goldens) | set(seen)), len(bad)

    # -- per-layer --------------------------------------------------------
    def extracted_rows(self) -> list[bytes]:
        """The bytes the pipeline's PDF kernel sees: newest snapshot per
        url, PDF magic, not yet done."""
        newest: dict[str, dict] = {}
        for row in self.rows:
            cur = newest.get(row["url"])
            if cur is None or row["warc_ts"] > cur["warc_ts"]:
                newest[row["url"]] = row
        done = self.done_before()
        return [r["html"] for u, r in sorted(newest.items())
                if u not in done and r["html"][:5] == b"%PDF-"]

    def done_before(self) -> set:
        return set()

    def install_spans(self, tracer) -> None:
        from livre_spark.plans import job, sinks

        tracer.patch(job, "run_pipeline", "pipeline")
        tracer.patch(job, "heal_torn", "heal")
        tracer.patch(job, "append_manifest", "manifest")
        original = sinks.ParquetSink.__dict__["append"]
        spans = {t: tracer.span(f"append.{t}", original) for t in TABLES}

        def append(sink, df, table):
            return spans[table](sink, df, table)

        tracer.replace(sinks.ParquetSink, "append", append)

    def table_files(self) -> dict[str, dict[str, int]]:
        out = {}
        for table in TABLES:
            base = self.ckpt if table == "done_urls" else self.out
            d = os.path.join(base, table)
            out[table] = {f: os.path.getsize(os.path.join(d, f))
                          for f in (os.listdir(d) if os.path.isdir(d) else ())
                          if f.endswith(".parquet")}
        return out

    def probe_input(self, spark):
        """The pipeline's extraction input, for the boundary probe."""
        from livre_spark.operators.checkpoint import filter_done
        from livre_spark.operators.extraction import pdf_magic_filter
        from livre_spark.operators.skew import (
            latest_per_url, size_bucketed_repartition,
        )
        from livre_spark.sources import read_pages

        pages = latest_per_url(read_pages(spark, self.src))
        if self.prior_state:
            pages = filter_done(pages, self.template_ckpt)
        return size_bucketed_repartition(pdf_magic_filter(pages),
                                         size_col="n_bytes")

    def traced_extras(self, spark, metrics: dict,
                      info: dict) -> tuple[int, int]:
        """Layer probes after the traced call: the Arrow boundary against
        the kernel UDF over the same input.  Returns checked (attempted,
        failed)."""
        from livre_spark.operators.extraction import extract_documents

        df = self.probe_input(spark)

        def identity(batches):
            yield from batches

        for name, plan in (
                ("boundary", df.select("url", "html").mapInArrow(
                    identity, "url string, html binary")),
                ("kernel_udf", extract_documents(df))):
            label(spark, name)
            t0 = time.perf_counter()
            plan.write.format("noop").mode("overwrite").save()
            metrics[f"operators.extraction.{name}_s"] = \
                time.perf_counter() - t0
        label(spark, None)
        self.ckpt_info = info
        return 0, 0

    def output_metrics(self, metrics, info, tracer, files_before,
                       files_after) -> None:
        """Layer metrics read from the traced call's output and spans."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from livre_spark.operators.skew import DEFAULT_LARGE_THRESHOLD

        written = pq.read_table(os.path.join(self.out, "documents_text"),
                                columns=["run_id", "bytes_in"])
        mine = written.filter(pc.equal(written["run_id"], info["run_id"]))
        metrics["operators.skew.large_docs"] = pc.sum(pc.greater_equal(
            mine["bytes_in"], DEFAULT_LARGE_THRESHOLD).cast("int64")).as_py() or 0
        if self.prior_state:
            self.resume_metrics(metrics, tracer)
        for table in TABLES:
            metrics[f"plans.job.{table}_append_s"] = \
                tracer.total_s[f"append.{table}"]
            new = set(files_after[table]) - set(files_before[table])
            metrics[f"plans.sinks.{table}_bytes"] = sum(
                files_after[table][f] for f in new)

    @staticmethod
    def resume_metrics(metrics, tracer) -> None:
        """Spans of a resumed ``run_pipeline`` call."""
        metrics["operators.checkpoint.resume_s"] = tracer.total_s["pipeline"]
        metrics["plans.job.heal_s"] = tracer.total_s["heal"]
        metrics["plans.job.manifest_s"] = tracer.total_s["manifest"]

    def event_metrics(self, metrics, ev) -> None:
        """Layer metrics read from the Spark event log."""
        from tracing import PY_RECV, PY_SENT

        tasks = sorted(ev.busiest_stage("timed"))
        metrics["operators.skew.extract_tasks"] = len(tasks)
        metrics["operators.skew.task_tail_ratio"] = (
            tasks[-1] / max(statistics.median(tasks), 1e-3) if tasks else 0.0)
        metrics["operators.extraction.bytes_to_python"] = \
            ev.accum["kernel_udf"][PY_SENT]
        metrics["operators.extraction.bytes_from_python"] = \
            ev.accum["kernel_udf"][PY_RECV]
        urls = len(self.goldens)
        metrics["operators.checkpoint.skipped_share"] = \
            (urls - self.ckpt_info["n_docs"]) / urls
        metrics["operators.checkpoint.healed_urls"] = \
            self.ckpt_info["n_healed"]
        metrics["plans.job.spark_jobs"] = ev.jobs["timed"]


class CrawlFresh(Crawl):
    name = "crawl_fresh"

    def prepare(self) -> None:
        import gen

        self.rows = (gen.stratified_mix_rows(self.seed, self.size["mix"],
                                             self.goldens)
                     + gen.heavy_rows(self.seed, self.size["heavy"],
                                      self.goldens))
        super().prepare()

    def traced_extras(self, spark, metrics: dict,
                      info: dict) -> tuple[int, int]:
        """Also probe the checkpoint layer: drop the manifest rows of
        ``torn`` urls from the traced run's output - a torn batch - and
        run the pipeline again with the pipeline spans on.  It must heal
        exactly those urls and extract nothing; its heal, manifest and
        wall seconds are the ``plans.job`` and ``operators.checkpoint``
        timings of this workload."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from tracing import Tracer

        super().traced_extras(spark, metrics, info)
        manifest = os.path.join(self.ckpt, "done_urls")
        urls = sorted(pq.read_table(manifest).column("url").to_pylist())
        torn = self.size["torn"]
        shutil.rmtree(manifest)
        os.makedirs(manifest)
        pq.write_table(pa.table({"url": pa.array(urls[torn:], pa.string())}),
                       os.path.join(manifest, "part-00000.parquet"))
        tracer = Tracer()
        self.install_spans(tracer)
        label(spark, "checkpoint_probe")
        try:
            self.ckpt_info = self.call(spark)
        finally:
            label(spark, None)
            tracer.restore()
        self.resume_metrics(metrics, tracer)
        attempted, failed = self.check(spark, self.ckpt_info)
        failed += (abs(self.ckpt_info["n_healed"] - torn)
                   + self.ckpt_info["n_docs"])
        return attempted, failed


class CrawlResume(Crawl):
    name = "crawl_resume"
    prior_state = True

    def prepare(self) -> None:
        import gen

        s = self.size
        prior, torn = s["prior"], s["torn"]
        mix = gen.mix_rows(self.seed, range(prior + s["new"]), self.goldens)
        step = max(1, (prior - torn) // s["recrawl"])
        self.rows = mix + gen.recrawl_rows(self.seed,
                                           range(0, prior - torn, step))
        idx = [_url_index(r["url"]) for r in mix]
        self.prior_src = os.path.join(self.work, "input", "prior")
        self.torn_src = os.path.join(self.work, "input", "torn")
        gen.write_pages(self.prior_src, [r for r, i in zip(mix, idx)
                                         if i < prior - torn])
        gen.write_pages(self.torn_src, [r for r, i in zip(mix, idx)
                                        if prior - torn <= i < prior])
        self.template = os.path.join(self.work, "template")
        super().prepare()

    @property
    def template_ckpt(self) -> str:
        return os.path.join(self.template, "ckpt")

    def prepare_spark(self, spark) -> None:
        """Build the restored state once: a complete prior run, then a
        run over the torn slice whose spans, metrics and manifest appends
        are removed - the state a crash right after the text write
        leaves."""
        from livre_spark.plans.job import run_pipeline

        out = os.path.join(self.template, "out")
        run_pipeline(spark, self.prior_src, out, self.template_ckpt,
                     html_mode="main")
        dirs = [os.path.join(out, "documents_spans"),
                os.path.join(out, "partition_metrics"),
                os.path.join(self.template_ckpt, "done_urls")]
        before = {d: set(os.listdir(d)) for d in dirs}
        run_pipeline(spark, self.torn_src, out, self.template_ckpt,
                     html_mode="main")
        for d in dirs:
            for f in set(os.listdir(d)) - before[d]:
                if f.endswith(".parquet") or f.endswith(".parquet.crc"):
                    os.remove(os.path.join(d, f))

    def reset(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        shutil.copytree(self.template, self.run_dir)

    def check(self, spark, info: dict) -> tuple[int, int]:
        attempted, failed = super().check(spark, info)
        # the healer must have converged exactly the planted torn batch,
        # and only the new urls may have been extracted
        failed += (abs(info["n_healed"] - self.size["torn"])
                   + abs(info["n_docs"] - self.size["new"]))
        return attempted, failed

    def done_before(self) -> set:
        return {u for u in self.goldens
                if _url_index(u) < self.size["prior"]}


def _url_index(url: str) -> int:
    """generate_row's document index, from its url ``.../{i:08d}.pdf``."""
    return int(url[-12:-4])


class Dedup:
    """The registered dedup, similarity and text queries, each run with
    the ``count(every column)`` action; checked against DuckDB."""

    name = "dedup_sf0.1"
    # a set is ~7 s; as for the crawls, wall_s is the median of three calls
    min_calls = 3

    def __init__(self, work: str, seed: int, size: dict):
        # The tables are the sf0.1 test tables, copied into perfbench/: the
        # seed does not change them.
        self.work, self.seed, self.size = work, seed, size
        self.sf = SF_DIR
        self.sizes: dict = {}
        self.expected: dict = {}
        self.rows: dict = {}
        self.collected: dict = {}

    def prepare(self) -> None:
        """The input sizes and every query's DuckDB result."""
        import duckdb
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in SF_TABLES:
                path = os.path.join(self.sf, f"{t}.parquet")
                self.sizes[t] = (pq.ParquetFile(path).metadata.num_rows,
                                 os.path.getsize(path))
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for q in QUERIES:
                res = con.execute(oracles[q])
                self.expected[q] = _rows([d[0] for d in res.description],
                                         res.fetchall())
        finally:
            con.close()

    def prepare_spark(self, spark) -> None:
        pass

    def input_stamp(self) -> dict:
        return {t: {"rows": r, "bytes": b} for t, (r, b) in self.sizes.items()}

    def work_units(self) -> int:
        return sum(r for r, _ in self.sizes.values())

    def warm(self, spark) -> None:
        """The warm-up pass collects every query over the same tables;
        ``check`` compares what it collected with the DuckDB results.  A
        smaller warm-up table set would not be cheaper: a set's time is
        mostly per-query planning and scheduling, not rows."""
        import __spark_entry__ as entry

        registry = entry.queries()
        self.collected = {}
        for q in QUERIES:
            try:
                df = registry[q](spark, self.sf)
                self.collected[q] = (df.columns, df.collect())
            except Exception as exc:  # a raising query is a failed one
                print(f"perfbench: {q} raised {exc!r}", file=sys.stderr)

    def reset(self) -> None:
        pass

    def call(self, spark, traced: bool = False) -> dict:
        """The timed set: each query with the ``count(every column)``
        action; ``wall_s`` is the sum over the set."""
        from pyspark.sql import functions as F

        import __spark_entry__ as entry

        registry = entry.queries()
        times, counts = {}, {}
        for q in QUERIES:
            if traced:
                label(spark, f"q.{q}")
            t0 = time.perf_counter()
            try:
                df = registry[q](spark, self.sf)
                row = df.agg(*[F.count(c) for c in df.columns]).collect()[0]
                counts[q] = dict(zip(df.columns, row))
            except Exception as exc:  # a raising query is a failed one
                print(f"perfbench: {q} raised {exc!r}", file=sys.stderr)
            times[q] = time.perf_counter() - t0
        if traced:
            label(spark, None)
        return {"query_s": times, "counts": counts}

    def check(self, spark, info: dict) -> tuple[int, int]:
        """(attempted, failed) queries.  A query fails when it raised, when
        the rows the warm-up collected differ from its DuckDB twin, or when
        the timed action's non-null count of a column differs from the
        DuckDB result's."""
        failed = 0
        for q in QUERIES:
            cols, rows = self.expected[q]
            if q not in self.collected or q not in info["counts"]:
                failed += 1
                continue
            got = _rows(*self.collected[q])
            self.rows[q] = len(got[1])
            want_counts = {c: sum(r[i] is not None for r in rows)
                           for i, c in enumerate(cols)}
            if got != self.expected[q] or info["counts"][q] != want_counts:
                print(f"perfbench: {q} differs from its oracle",
                      file=sys.stderr)
                failed += 1
        return len(QUERIES), failed

    def install_spans(self, tracer) -> None:
        pass

    def table_files(self) -> dict:
        return {}

    def traced_extras(self, spark, metrics: dict,
                      info: dict) -> tuple[int, int]:
        return 0, 0

    def extracted_rows(self) -> list[bytes]:
        return []

    def output_metrics(self, metrics, info, tracer, files_before,
                       files_after) -> None:
        for q in QUERIES:
            metrics[f"functions.q.{q}_s"] = info["query_s"][q]
            metrics[f"functions.q.{q}_rows"] = self.rows.get(q, 0)

    def event_metrics(self, metrics, ev) -> None:
        for q in QUERIES:
            metrics[f"functions.q.{q}_shuffle_bytes"] = \
                ev.shuffle_bytes[f"q.{q}"]


def _norm(v):
    import datetime
    import math

    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _rows(names, rows) -> tuple:
    """Order-insensitive form of a result: sorted column names and sorted
    normalized rows, as the repository's oracle tests compare them."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    return ([names[i] for i in order],
            sorted(tuple(_norm(row[i]) for i in order) for row in rows))



WORKLOADS = {w.name: w for w in (CrawlFresh, CrawlResume, Dedup)}


# ---------------------------------------------------------------------------
# the runs
# ---------------------------------------------------------------------------


def run_untraced(wl, work: str, seconds: float) -> tuple[dict, int, int]:
    from proc import PeakMemory

    t0 = time.perf_counter()
    spark = start_session(work)
    wl.warm(spark)
    setup = time.perf_counter() - t0
    wl.prepare_spark(spark)

    rss = PeakMemory(os.getpid())
    walls, peaks = [], []
    attempted = failed = 0
    # closed loop: the next call starts when the previous one is checked,
    # while the workload's minimum is not reached or one more call of the
    # median length still fits in ``seconds``
    start = time.monotonic()
    loops: list[float] = []
    while (len(loops) < wl.min_calls or time.monotonic() - start
           + statistics.median(loops) <= seconds):
        t_loop = time.monotonic()
        wl.reset()
        rss.start()
        t0 = time.perf_counter()
        info = wl.call(spark)
        walls.append(time.perf_counter() - t0)
        peaks.append(rss.stop())
        a, f = wl.check(spark, info)
        attempted += a
        failed += f
        loops.append(time.monotonic() - t_loop)
    wall = statistics.median(walls)
    metrics = {
        "wall_s": (wall, "s"),
        "docs_per_s": (wl.work_units() / wall, "1/s"),
        "setup_s": (setup, "s"),
        "peak_rss_mb": (statistics.median(peaks) / 2**20, "MB"),
    }
    print(f"perfbench: wall_s samples {[round(w, 4) for w in walls]}",
          file=sys.stderr)
    return metrics, attempted, failed


def pdf_replay(docs: list[bytes]) -> dict:
    """Replay the kernel's documents in this process on one core with a
    span around each attribute ``pdf.api`` calls."""
    from livre_spark.pdf import api, crypt, document, filters, objects
    from tracing import Tracer

    tracer = Tracer()

    def inflated(t, out):
        t.counts["inflated_bytes"] += len(out)

    decode = tracer.span("decode_chain", filters.decode_chain, inflated)
    for owner, attr, name in (
            (api, "open_document", "open"),
            (document.Document, "pages", "pages"),
            (document.Document, "build_content", "build_content"),
            (api, "extract_page", "extract_page"),
            (crypt.StandardDecryptor, "decrypt", "decrypt")):
        tracer.patch(owner, attr, name)
    # objects.py binds decode_chain by name at import
    for owner in (filters, objects):
        tracer.replace(owner, "decode_chain", decode)

    affinity = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {min(affinity)})
    doc_s, errors = [], {}
    counts = dict.fromkeys(PDF_COUNTS, 0)
    try:
        for buf in docs:
            t0 = time.perf_counter()
            res = api.extract_text(buf)
            doc_s.append(time.perf_counter() - t0)
            counts["pages"] += res["n_pages"]
            counts["spans"] += len(res["spans"])
            counts["text_chars"] += len(res["text"])
            if res["error"] is not None:
                code = res["error"] if res["error"] in ERROR_CODES else "other"
                errors[code] = errors.get(code, 0) + 1
    finally:
        os.sched_setaffinity(0, affinity)
        tracer.restore()
    counts["inflated_bytes"] = tracer.counts["inflated_bytes"]
    counts["decrypt_calls"] = tracer.calls["decrypt"]

    total = sum(doc_s)
    out = {"pdf.docs_per_s_core": len(docs) / total if total else 0.0}
    for phase in PDF_PHASES:
        out[f"pdf.{phase}_s"] = tracer.self_s[phase]
        out[f"pdf.{phase}_share"] = tracer.self_s[phase] / total if total else 0.0
    ms = sorted(s * 1000.0 for s in doc_s) or [0.0]
    out["pdf.doc_ms_p50"] = statistics.median(ms)
    out["pdf.doc_ms_p99"] = ms[min(len(ms) - 1, int(0.99 * len(ms)))]
    out["pdf.doc_ms_max"] = ms[-1]
    for name in PDF_COUNTS:
        out[f"pdf.{name}"] = counts[name]
    for code in ERROR_CODES + ("other",):
        out[f"pdf.error_docs.{code}"] = errors.get(code, 0)
    return out


def run_traced(wl, work: str, names) -> tuple[dict, int, int]:
    """The per-layer run, in one session with the Spark event log on: an
    untraced call, the same call traced (spans around the pipeline's
    sinks), the layer probes, a second untraced call, then the kernel
    replay.  Tracing overhead is the traced call against the mean of the
    untraced calls around it, so JIT warm-up favours neither side.  Every
    metric in ``names`` is reported; a layer the workload does not run
    reports 0."""
    from tracing import EventLog, Tracer

    metrics = dict.fromkeys(names, 0)
    evdir = os.path.join(work, "events")
    spark = start_session(work, event_dir=evdir)
    wl.warm(spark)
    wl.prepare_spark(spark)
    attempted = failed = 0
    untraced = []

    def checked(info) -> None:
        nonlocal attempted, failed
        a, f = wl.check(spark, info)
        attempted, failed = attempted + a, failed + f

    def untraced_call() -> None:
        wl.reset()
        t0 = time.perf_counter()
        info = wl.call(spark)
        untraced.append(time.perf_counter() - t0)
        checked(info)

    untraced_call()
    wl.reset()
    tracer = Tracer()
    files_before = wl.table_files()
    wl.install_spans(tracer)
    label(spark, "timed")
    try:
        t0 = time.perf_counter()
        info = wl.call(spark, traced=True)
        traced = time.perf_counter() - t0
    finally:
        label(spark, None)
        tracer.restore()
    checked(info)
    wl.output_metrics(metrics, info, tracer, files_before, wl.table_files())
    a, f = wl.traced_extras(spark, metrics, info)
    attempted, failed = attempted + a, failed + f
    untraced_call()
    spark.stop()   # finalizes the event log
    wl.event_metrics(metrics, EventLog(evdir))

    metrics.update(pdf_replay(wl.extracted_rows()))
    mean_untraced = statistics.mean(untraced)
    core_rate = metrics["pdf.docs_per_s_core"]
    metrics["plans.job.kernel_efficiency"] = (
        wl.work_units() / mean_untraced / (CORES * core_rate)
        if core_rate else 0.0)
    metrics["perfbench.wall_s_untraced"] = mean_untraced
    metrics["perfbench.wall_s_traced"] = traced
    metrics["perfbench.trace_overhead_share"] = traced / mean_untraced - 1.0
    return metrics, attempted, failed


def versions() -> dict:
    import pyarrow
    import pyspark

    return {"nproc": CORES, "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": platform.python_version()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="crawl input size; 'tiny' is for the self-test")
    args = ap.parse_args(argv)

    missing = [p for p in ("livre_spark/plans/job.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not in {ROOT} (missing "
              f"{', '.join(missing)})", file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    confine_to(work)
    sys.dont_write_bytecode = True

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wl = WORKLOADS[args.workload](work, args.seed, SIZES[args.size])
    try:
        wl.prepare()
        if args.trace:
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            values, attempted, failed = run_traced(wl, work, units)
            metrics = {k: (values[k], units[k]) for k in units}
        else:
            metrics, attempted, failed = run_untraced(wl, work, args.seconds)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    failed_share = failed / attempted if attempted else 1.0
    printed = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    report = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "size": args.size, **versions(),
              "input": wl.input_stamp(),
              "failed_share": {"value": failed_share, "unit": "share"},
              "metrics": printed}
    print("perfbench report " + json.dumps(report, sort_keys=True))
    result = {"correct": failed == 0 and attempted > 0,
              "attempted": max(attempted, 1), "failed": failed,
              "metrics": printed}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
