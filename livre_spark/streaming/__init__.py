"""B20: incremental ingest via Structured Streaming.

The reference has no streaming (a single document in memory); the input
table is a static snapshot, so streaming is optional - micro-batch resume
(checkpoint anti-join, operators/checkpoint.py) covers incremental crawls.
This wrapper exists for continuously-landing crawl data: ``readStream``
over the pages directory -> stateful first-seen url dedup -> ``foreachBatch``
running ``run_pipeline``'s body (same kernels, skew handling, sink and four
tables, so both can share one output), with a watermark on ``warc_ts``.

Design note for scale: ``foreachBatch`` (not ``writeStream`` operators)
because the extraction stage needs the skew repartition + multi-sink
fan-out, which are batch-DataFrame shaped.  Exactly-once comes from the
streaming checkpoint + the idempotent manifest anti-join, not from sink
transactions.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType, TimestampType,
)

from ..operators.sessions import DEFAULT_GAP_US
from ..plans.job import _extract_and_commit, heal_torn
from ..plans.sinks import ParquetSink
from ..sources import PAGES_SCHEMA


def dedup_first_seen(pages_stream: DataFrame, url_col: str = "url",
                     ts_col: str = "warc_ts",
                     payload_cols: list[str] | None = None) -> DataFrame:
    """Custom stateful streaming operator: cross-micro-batch first-seen
    url dedup via ``applyInPandasWithState`` (B20+).

    Emits one row per url in the micro-batch where it FIRST appears
    (with that batch's earliest snapshot ts and count); later snapshots
    of the same url only bump the per-key state counter.  This is the
    streaming complement of the batch ``latest_per_url``+manifest resume:
    across runs the first completed extraction of a url wins there too,
    so first-seen streaming reproduces the multi-run batch semantics.
    A crawl frontier dedup needs memory of every url seen so far -
    exactly what the state store (RocksDB per key at scale) provides and
    a stateless watermark aggregation cannot.

    ``payload_cols``: extra columns to carry through on the emitted row
    (e.g. ``["html", "text", "lang"]`` so extraction can run downstream).
    Within the first micro-batch the LATEST-ts snapshot's payload is kept,
    matching the batch pipeline's within-run ``latest_per_url`` choice.
    Scale note: the groupBy shuffles the payload bytes once - the same
    single url-keyed shuffle the batch dedup window pays.

    State per key: a single snapshot counter - bounded by key
    cardinality, not by stream length.
    """
    payload_cols = payload_cols or []
    in_fields = {f.name: f for f in pages_stream.schema.fields}
    out_schema = StructType(
        [StructField(url_col, StringType()),
         StructField("first_ts", TimestampType()),
         StructField("n_snapshots", LongType())]
        + [in_fields[c] for c in payload_cols])
    state_schema = StructType([StructField("n_seen", LongType())])

    def fn(key, pdfs, state):
        import pandas as pd

        n = 0
        first_ts = None
        best_ts = None       # latest ts within this batch
        best_payload = None  # its payload row
        for pdf in pdfs:
            if not len(pdf):  # empty chunk: min() would be NaT
                continue
            n += len(pdf)
            m = pdf[ts_col].min()
            first_ts = m if first_ts is None else min(first_ts, m)
            if payload_cols:
                i = pdf[ts_col].idxmax()
                mx = pdf[ts_col].loc[i]
                if best_ts is None or mx > best_ts:
                    best_ts = mx
                    best_payload = {c: pdf[c].loc[i] for c in payload_cols}
        if n == 0:
            return
        if state.exists:
            (prev,) = state.get
            state.update((prev + n,))
        else:
            state.update((n,))
            row = {url_col: [key[0]], "first_ts": [first_ts],
                   "n_snapshots": [n]}
            for c in payload_cols:
                row[c] = [best_payload[c]]
            yield pd.DataFrame(row)

    return (pages_stream.groupBy(url_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append",
                                    GroupStateTimeout.NoTimeout))


def windowed_page_counts(pages_stream: DataFrame,
                         window: str = "10 minutes",
                         ts_col: str = "warc_ts") -> DataFrame:
    """Watermarked tumbling-window rollup - the standard late-data
    pattern: the ``stream_pages`` watermark (1 day) bounds how long a
    window's state lives; snapshots later than that are dropped rather
    than growing state forever.  Pure built-in streaming aggregation
    (window + count), no custom state."""
    return (pages_stream
            .groupBy(F.window(F.col(ts_col), window))
            .agg(F.count("*").alias("n_pages"),
                 F.approx_count_distinct("url").alias("n_urls"))
            .select(F.col("window.start").alias("win_start"),
                    F.col("window.end").alias("win_end"),
                    "n_pages", "n_urls"))


def stream_pages(spark: SparkSession, source_dir: str,
                 max_files_per_trigger: int = 16) -> DataFrame:
    """readStream over a parquet drop-directory of crawl pages."""
    return (spark.readStream
            .schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(source_dir)
            .withWatermark("warc_ts", "1 day"))


def start_extraction_stream(spark: SparkSession, source_dir: str,
                            output_dir: str, checkpoint_dir: str,
                            trigger_once: bool = True,
                            max_files_per_trigger: int = 16):
    """Continuous extraction: each micro-batch is one pipeline run.

    The stateful first-seen url dedup runs BEFORE extraction, so a url
    recurring across micro-batches is extracted exactly once (the batch
    ``latest_per_url``+manifest semantics); each micro-batch then runs
    ``run_pipeline``'s body under a fresh ``run_id`` - a replayed batch
    never reads back an earlier attempt's rows - into the same four
    tables.  The manifest anti-join stays as the replay/restart guard.
    """
    sink = ParquetSink(output_dir)
    # converge any torn batch a crashed run left (text written, manifest
    # missing) BEFORE the streaming checkpoint replays that batch - the
    # healed manifest makes the replay's filter_done skip those urls, so
    # no duplicate text rows are appended
    heal_torn(spark, output_dir, checkpoint_dir, sink=sink)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _extract_and_commit(batch_df, uuid.uuid4().hex[:12], sink,
                            checkpoint_dir)

    stream = stream_pages(spark, source_dir,
                          max_files_per_trigger=max_files_per_trigger)
    payload = [c for c in stream.columns if c not in ("url", "warc_ts")]
    writer = (dedup_first_seen(stream, payload_cols=payload)
              .withColumnRenamed("first_ts", "warc_ts")
              .drop("n_snapshots")
              .writeStream
              .outputMode("append")
              .option("checkpointLocation",
                      f"{checkpoint_dir}/stream_checkpoint")
              .foreachBatch(process_batch))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_sessionize(events_stream: DataFrame,
                         gap_us: int | None = None,
                         user_col: str = "user_id", ts_col: str = "ts",
                         value_col: str = "value",
                         watermark: str = "0 seconds") -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization with
    CLOSED-session emission - the streaming twin of
    ``operators.sessions.session_stats``.

    Batch sessionize is two window passes; a stream can't window over
    the future, so per-user state carries the OPEN session (start/last
    timestamps, count, integer value cents) across micro-batches:

    - a gap exceeded *within* the arriving data closes a session
      immediately (emitted in that micro-batch);
    - the trailing open session registers an EVENT-TIME timeout at
      ``last_ts + gap``; when the watermark passes it the state times
      out and the session is emitted exactly once - late events inside
      the watermark still extend the session, the standard
      correctness trade late-data streaming makes.

    Output schema matches ``session_stats`` (user, session_id,
    n_events, start_us, end_us, value_cents) so results are directly
    comparable for activity that doesn't straddle an eviction:
    ``session_id`` is the per-user closed-session ordinal, reset if a
    user goes idle past the watermark and returns (keeping it forever
    would mean unbounded state - exactly what the timeout bounds).

    Scale: one user-keyed shuffle per micro-batch (same key as the
    batch twin); state size = open sessions, bounded by active users,
    evicted by the timeout - RocksDB state store territory at crawl
    scale, never heap-unbounded.
    """
    import pandas as pd

    gap = DEFAULT_GAP_US if gap_us is None else gap_us
    in_user = next(f for f in events_stream.schema.fields
                   if f.name == user_col)
    out_schema = StructType([
        StructField(user_col, in_user.dataType),
        StructField("session_id", LongType()),
        StructField("n_events", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("value_cents", LongType()),
    ])
    state_schema = StructType([
        StructField("next_sid", LongType()),
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("value_cents", LongType()),
    ])

    def fn(key, pdfs, state):
        def row(sid, s_us, e_us, n, cents):
            return pd.DataFrame({
                user_col: [key[0]], "session_id": [sid],
                "n_events": [n], "start_us": [s_us], "end_us": [e_us],
                "value_cents": [cents]})

        if state.hasTimedOut:
            sid, s_us, l_us, n, cents = state.get
            state.remove()
            yield row(sid, s_us, l_us, n, cents)
            return
        import numpy as np

        events = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            us = (pdf[ts_col].astype("int64"))  # ns since epoch
            # HALF_UP like the batch twin's F.round (pandas .round is
            # half-even: 0.125 would diverge by a cent)
            v = pdf[value_col].to_numpy() * 100
            cents = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(
                "int64")
            events.extend(zip(us // 1000, cents))
        if not events:
            return
        events.sort()
        if state.exists:
            sid, s_us, l_us, n, cents = state.get
        else:
            sid, s_us, l_us, n, cents = 0, None, None, 0, 0
        for us, c in events:
            if s_us is None:
                s_us, l_us, n, cents = us, us, 1, int(c)
            elif us - l_us > gap:
                yield row(sid, s_us, l_us, n, cents)
                sid += 1
                s_us, l_us, n, cents = us, us, 1, int(c)
            else:
                # late events inside the watermark may predate the
                # session start (cross-batch out-of-order); the batch
                # twin's min(_us) must still match
                s_us = min(s_us, us)
                l_us = max(l_us, us)
                n += 1
                cents += int(c)
        state.update((sid, s_us, l_us, n, cents))
        # close the open session once the watermark passes last + gap
        state.setTimeoutTimestamp((l_us + gap) // 1000)
        return

    return (events_stream
            .withWatermark(ts_col, watermark)
            .groupBy(user_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append",
                                    GroupStateTimeout.EventTimeTimeout))
