#!/usr/bin/env python
"""Benchmark harness.

Prints ONE JSON line:
  {"metric": "docs/sec (PDF-to-text)", "value": <docs/sec at full cores>,
   "unit": "docs/sec", "queries": {<name>: sec, ...}, "sf": <sf>,
   "scaling": {"cores_n": 8, "cores_4n": 32, "docs_per_sec_n": ...,
               "docs_per_sec_4n": ..., "efficiency": ...}}

Two phases:

1. **Extraction scaling** (the north rule's two-cluster-size criterion,
   evidenced in-sandbox by two parallelism levels): the same synthetic PDF
   corpus is extracted end-to-end at local[N] and local[4N]; docs/sec at
   both and efficiency = rate_4N / (4 * rate_N) are reported and written
   to BENCH/BASELINE.md.
2. **Headline relational queries** at $SPARK_GRAFT_SF_DIR (default
   /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

The PDF corpus is deterministic (seeded), generated in parallel via Spark
and cached under .bench_cache/ keyed by (n_docs, seed).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "250000"))
SEED = 42
CACHE = os.path.join(REPO, ".bench_cache")

HEADLINE = [
    "extract_roundtrip", "agg_pricing", "window_latest", "join_broadcast",
    "topk_orders", "explode_tokens", "token_count", "quality_score",
    "dedup_minhash_lsh", "sim_topk", "sim_near_dup", "dedup_simhash",
    "dedup_simhash_pairs", "sim_topk_lsh", "html_strip", "html_main",
    "sessionize", "json_props", "funnel", "sim_topk_many",
    "sim_pipeline_e2e",
]


def _gen_batches(batches):
    import pandas as pd

    from livre_spark.pdf.genpdf import generate_row

    for batch in batches:
        rows = {"url": [], "html": [], "text": [], "lang": [],
                "n_bytes": []}
        for i in batch["id"]:
            row = generate_row(int(i), SEED)
            rows["url"].append(row["url"])
            rows["html"].append(row["html"])
            rows["text"].append("")
            rows["lang"].append(row["lang"])
            rows["n_bytes"].append(len(row["html"]))
        yield pd.DataFrame(rows)


def ensure_corpus(spark, n_docs: int) -> str:
    """Generate (once) the bench corpus in parallel; returns its path."""
    import pyspark.sql.functions as F

    # the cache key carries a hash of the generator source, so a
    # generate_row change can never serve a stale corpus
    import hashlib
    import inspect

    from livre_spark.pdf import genpdf
    src_h = hashlib.md5(inspect.getsource(genpdf).encode()).hexdigest()[:8]
    path = os.path.join(CACHE, f"corpus_n{n_docs}_s{SEED}_{src_h}")
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker):
        return path
    shutil.rmtree(path, ignore_errors=True)
    (spark.range(n_docs).repartition(CPUS * 4)
     .mapInPandas(_gen_batches,
                  schema="url string, html binary, text string,"
                         " lang string, n_bytes long")
     .withColumn("warc_ts", F.lit("2026-01-01 00:00:00").cast("timestamp"))
     .select("url", "warc_ts", "html", "text", "lang", "n_bytes")
     .write.mode("overwrite").parquet(path))
    return path


def _probe_child(core: int, ready_path: str, stop_path: str,
                 out_path: str) -> None:
    """Steal probe: a fixed-work burn loop pinned to ONE reserved core,
    running CONCURRENTLY with the measurement it deflates.  Chunks/sec
    falls exactly when the KVM host deschedules the vCPU - the same
    steal the workload experiences AT THE SAME INSTANT, which adjacent-
    in-time pairing (the previous methodology) provably missed: fully
    idle clean runs still measured adjacent fractions 0.30 vs 1.10."""
    os.sched_setaffinity(0, {core})
    with open(ready_path, "w"):
        pass
    t0 = time.perf_counter()
    n = 0
    x = 1.0
    while not os.path.exists(stop_path):
        for _ in range(200_000):  # ~10 ms of register-resident work
            x = x * 1.0000001 + 1e-9
        n += 1
    dt = time.perf_counter() - t0
    with open(out_path, "w") as fh:
        fh.write(f"{n / dt if dt > 0 else 0.0}\n{x}")


class StealProbe:
    """Start/stop wrapper for the concurrent steal probe."""

    def __init__(self, core: int):
        import multiprocessing as mp

        self.dir = tempfile.mkdtemp(prefix="bench_probe_")
        self.ready = os.path.join(self.dir, "ready")
        self.stopf = os.path.join(self.dir, "stop")
        self.out = os.path.join(self.dir, "rate")
        ctx = mp.get_context("spawn")
        self.proc = ctx.Process(target=_probe_child,
                                args=(core, self.ready, self.stopf,
                                      self.out))
        self.proc.start()
        t0 = time.perf_counter()
        while not os.path.exists(self.ready):
            if time.perf_counter() - t0 > 30:
                raise RuntimeError("steal probe failed to start")
            time.sleep(0.01)

    def stop(self) -> float:
        """Chunks/sec the reserved core achieved over the probed span."""
        with open(self.stopf, "w"):
            pass
        self.proc.join(timeout=30)
        try:
            with open(self.out) as fh:
                rate = float(fh.readline())
        except Exception:
            rate = 0.0
        shutil.rmtree(self.dir, ignore_errors=True)
        return rate


def _split_cpus(workers: int) -> tuple[int, set[int]]:
    """First allotted CPU is the probe's reserved core; the next
    ``workers`` CPUs are the workload's.  Both sides of every paired
    measurement (Spark AND mp.Pool) use the same split, so the reserved
    core cancels out of the fractions."""
    allotted = sorted(os.sched_getaffinity(0))
    if len(allotted) < workers + 1:
        raise RuntimeError(f"need {workers + 1} CPUs, have {len(allotted)}")
    return allotted[0], set(allotted[1 : workers + 1])


def _run_extraction_child(cores: int, corpus_path: str, queue) -> None:
    """Child-process body: pin CPUs, launch a FRESH JVM, run, report.

    ``cores`` counts WORKER cores; one extra core is reserved for the
    concurrent steal probe that brackets the timed action.

    A ~2% deterministic sample runs through the identical plan BEFORE the
    timed action: it spawns every Python worker, compiles the codegen
    stages and touches the parquet footers, so the timed run measures
    steady-state throughput - what a long-running cluster job actually
    scales by - not per-run fixed costs (~5s here regardless of core
    count, i.e. pure anti-scaling noise at the measured durations).
    """
    probe_core, worker_cpus = _split_cpus(cores)
    os.sched_setaffinity(0, worker_cpus)

    import pyspark.sql.functions as F

    from livre_spark.operators.extraction import (
        extract_documents, pdf_magic_filter,
    )
    from livre_spark.operators.skew import size_bucketed_repartition
    from livre_spark.plans.job import build_session

    evdir = tempfile.mkdtemp(prefix=f"bench_ev_{cores}_")
    spark = build_session(app_name=f"bench-{cores}", cores=cores,
                          shuffle_partitions=max(cores * 2, 8),
                          extra_conf={"spark.eventLog.enabled": "true",
                                      "spark.eventLog.dir": evdir,
                                      # Spark 4 zstd-compresses by
                                      # default; the stdlib JSON walk
                                      # in _task_stats needs plaintext
                                      "spark.eventLog.compress": "false"})
    payload = None
    try:
        out = tempfile.mkdtemp(prefix=f"bench_out_{cores}_")
        pages = spark.read.parquet(corpus_path)
        pages = pdf_magic_filter(pages)

        # warmup: same plan shape over a hash-picked ~2% slice (never
        # .limit() - it collapses to one partition)
        warm = pages.filter(F.pmod(F.xxhash64("url"), F.lit(50)) == 0)
        (extract_documents(size_bucketed_repartition(warm,
                                                     size_col="n_bytes"))
         .select("url", "n_pages", "error")
         .write.mode("overwrite").parquet(os.path.join(out, "warm")))

        extracted = extract_documents(
            size_bucketed_repartition(pages, size_col="n_bytes"))
        probe = StealProbe(probe_core)
        t0 = time.perf_counter()
        t0_ms = time.time() * 1000
        (extracted.select("url", "text", "n_pages", "n_spans", "error")
         .write.mode("overwrite").parquet(os.path.join(out, "text")))
        dt = time.perf_counter() - t0
        t1_ms = time.time() * 1000
        probe_rate = probe.stop()
        n_docs = spark.read.parquet(os.path.join(out, "text")).count()
        shutil.rmtree(out, ignore_errors=True)
        payload = (dt, n_docs, t0_ms, t1_ms, probe_rate)
    finally:
        spark.stop()  # finalizes the event log (.inprogress -> done)
        if payload is None:
            queue.put(None)
    dt, n_docs, t0_ms, t1_ms, probe_rate = payload
    try:
        stats = _task_stats(evdir, t0_ms, t1_ms)
    except Exception as exc:  # diagnostics must never hang the bench
        stats = {"error": repr(exc)}
    queue.put((dt, n_docs, stats, probe_rate))
    shutil.rmtree(evdir, ignore_errors=True)


def _task_stats(evdir: str, t0_ms: float, t1_ms: float) -> dict:
    """Per-task wall times of the TIMED job, from the Spark event log.

    The straggler diagnostic the mean fraction hides: for the stage with
    the largest total task time (the extraction stage), report task
    count, max and median task seconds - max/median >> 1 with ~1 task
    per core means one heavy-tail doc gated the whole stage.
    """
    import json as _json

    by_stage: dict[int, list[float]] = {}
    # Spark 4 writes v2 event logs as a DIRECTORY of events_* files
    paths = []
    for root, _dirs, files in os.walk(evdir):
        paths += [os.path.join(root, f) for f in files]
    for path in paths:
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = _json.loads(line)
                except ValueError:
                    continue
                if ev.get("Event") != "SparkListenerTaskEnd":
                    continue
                info = ev.get("Task Info") or {}
                fin = info.get("Finish Time") or 0
                if not (t0_ms <= fin <= t1_ms + 1000):
                    continue
                dur = (fin - info.get("Launch Time", fin)) / 1000.0
                by_stage.setdefault(int(ev.get("Stage ID", -1)),
                                    []).append(dur)
    if not by_stage:
        return {}
    sid, durs = max(by_stage.items(), key=lambda kv: sum(kv[1]))
    durs.sort()
    return {
        "stage_id": sid,
        "n_tasks": len(durs),
        "max_task_s": round(durs[-1], 2),
        "median_task_s": round(durs[len(durs) // 2], 2),
        "tail_ratio": round(durs[-1] / max(durs[len(durs) // 2], 1e-9), 2),
        "all_stage_tasks": {str(k): len(v)
                            for k, v in sorted(by_stage.items())},
    }


def run_extraction(cores: int,
                   corpus_path: str) -> tuple[float, int, dict, float]:
    """One extraction run at local[cores] PINNED to ``cores`` worker CPUs
    (+1 reserved probe core), with the concurrent steal-probe rate.

    Pinning rationale: without it, ``local[8]`` on a 32-core box is not an
    8-core cluster - its JVM task threads plus Python workers spread over
    all 32 CPUs, inflating the small-cluster rate and corrupting the N vs
    4N comparison.  The honest sandbox proxy for N vs 4N *executors* gives
    each "cluster size" a true CPU budget.

    Subprocess isolation is load-bearing: ``spark.stop()`` does not stop
    the JVM, and a reused JVM (plus the Python workers it forks) keeps the
    affinity mask it was born with - so each measurement gets a fresh
    process tree that inherits the right mask.

    Measures the core path as a SINGLE Spark action (scan -> magic filter
    -> skew repartition -> mapInPandas extraction -> parquet write) so the
    scaling numbers reflect the compute, not per-job scheduling overhead.
    """
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    queue = ctx.Queue()
    proc = ctx.Process(target=_run_extraction_child,
                       args=(cores, corpus_path, queue))
    proc.start()
    result = queue.get()
    proc.join()
    if result is None:
        raise RuntimeError(f"extraction child failed at local[{cores}]")
    return result


def run_headline_queries(spark, probe_core: int | None = None,
                         extra: dict | None = None):
    """Times each headline query twice; each attempt carries a
    CONCURRENT steal probe on the reserved core.  Returns (raw, norm):
    raw = best measured seconds (comparable to past rounds), norm = the
    same attempt deflated by probe/calibration where calibration is the
    best probe rate of the whole phase - the steady-state number host
    steal can't inflate.  ``extra`` adds {name: fn(spark, sf_dir)}
    diagnostics timed under the same probe regime (e.g. A/B twins of a
    headline query)."""
    import __spark_entry__ as em
    from pyspark.sql.functions import count as F_count

    queries = em.queries()
    queries = {**queries, **(extra or {})}
    attempts: dict[str, list[tuple[float, float]]] = {}
    for name in HEADLINE + list(extra or ()):
        fn = queries[name]
        runs = []
        # best-of-2: the host-steal windows inflate single draws 3-4x
        for _ in range(2):
            probe = StealProbe(probe_core) if probe_core is not None \
                else None
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            # force EVERY output column: a bare count() lets Catalyst
            # prune pure projections entirely (a 5s simhash query timed
            # as 0.4s).  count(col) must evaluate the expression per row
            # to null-check it, for any column type.
            df.agg(*[F_count(c) for c in df.columns]).collect()
            dt = time.perf_counter() - t0
            pr = probe.stop() if probe is not None else 0.0
            runs.append((dt, pr))
        attempts[name] = runs
    cal = max((pr for runs in attempts.values() for _dt, pr in runs),
              default=0.0)
    raw = {n: round(min(dt for dt, _pr in runs), 3)
           for n, runs in attempts.items()}
    if cal <= 0:
        return raw, dict(raw)
    # a dead probe (pr=0) keeps the RAW time for that attempt instead
    # of publishing an impossible 0.0s
    norm = {n: round(min(dt * (pr / cal) if pr > 0 else dt
                         for dt, pr in runs), 3)
            for n, runs in attempts.items()}
    return raw, norm


# --- cross-round drift anchor -------------------------------------------
# r4 -> r5 saw a BROAD query-phase wall-time regression (e.g.
# extract_roundtrip 2.04 -> 3.35s raw) that within-phase probe
# normalization cannot attribute: it deflates relative to the phase's own
# best probe, so a uniformly slow host window looks identical to a code
# regression.  The anchor settles it: re-run three fixed queries
# INTERLEAVED, record the per-attempt concurrent probe rate (an absolute
# machine-speed measure - fixed work on one reserved core, comparable
# across rounds), and judge only attempts whose probe says the host was
# healthy at that instant.
ANCHOR_QUERIES = ("extract_roundtrip", "agg_pricing", "sim_near_dup")
# frozen raw best-of seconds from the archived round artifacts
# (BENCH_r04/r05 + git-archived BENCH/BASELINE.md) at sf0.1
ANCHOR_HISTORY = {
    "r4": {"extract_roundtrip": 2.041, "agg_pricing": 1.071,
           "sim_near_dup": 5.943},
    "r5": {"extract_roundtrip": 3.349, "agg_pricing": 2.330,
           "sim_near_dup": 8.574},
}
# best steal-probe chunks/sec ever observed on this box (r4/r5 window
# archives peak at 144.1); an attempt with probe >= 85% of this ran on a
# host that was NOT stealing, so its wall time is attributable to code
PROBE_HEALTHY = 144.0


def run_drift_anchor(spark, probe_core: int | None, rounds: int = 3) -> dict:
    """Per-query verdict: 'host' if a healthy-probe attempt returns to
    the r4 level (<= 1.25x), 'code' if healthy attempts stay >= 1.6x r4
    (the r5 regression reproduces with the host exonerated), else
    'indeterminate'; 'no-healthy-window' when the host never gave a
    clean slot.  Overall = majority of per-query verdicts."""
    import __spark_entry__ as em
    from pyspark.sql.functions import count as F_count

    queries = em.queries()
    attempts: dict[str, list] = {n: [] for n in ANCHOR_QUERIES}
    for _ in range(rounds):
        for name in ANCHOR_QUERIES:  # interleaved round-robin
            probe = StealProbe(probe_core) if probe_core is not None \
                else None
            t0 = time.perf_counter()
            df = queries[name](spark, SF_DIR)
            df.agg(*[F_count(c) for c in df.columns]).collect()
            dt = time.perf_counter() - t0
            pr = probe.stop() if probe is not None else 0.0
            attempts[name].append([round(dt, 3), round(pr, 1)])
    out = {"probe_healthy_ref": PROBE_HEALTHY, "queries": {}}
    verdicts = []
    for name, runs in attempts.items():
        healthy = [dt for dt, pr in runs if pr >= 0.85 * PROBE_HEALTHY]
        best_h = min(healthy) if healthy else None
        r4 = ANCHOR_HISTORY["r4"][name]
        if best_h is None:
            v = "no-healthy-window"
        elif best_h <= r4 * 1.25:
            v = "host"
        elif best_h >= r4 * 1.6:
            v = "code"
        else:
            v = "indeterminate"
        verdicts.append(v)
        out["queries"][name] = {
            "attempts": runs, "best_healthy": best_h,
            "r4": r4, "r5": ANCHOR_HISTORY["r5"][name], "verdict": v}
    for pick in ("code", "host"):
        if verdicts.count(pick) >= 2:
            out["verdict"] = pick
            break
    else:
        out["verdict"] = ("no-healthy-window"
                          if all(v == "no-healthy-window" for v in verdicts)
                          else "indeterminate")
    return out


def _burn(seconds: float) -> int:
    t0 = time.perf_counter()
    x = 0
    while time.perf_counter() - t0 < seconds:
        x += 1
    return x


def hardware_speedup(cores_n: int, cores_4n: int, seconds: float = 2.5) -> float:
    """Pure-CPU ceiling of this box going cores_n -> cores_4n CPUs.

    Each measurement pins the process (and its pool workers) to exactly
    that many CPUs, mirroring the pinned extraction runs.  On an idle
    host this is ~4.0; it degrades when the VM host steals cycles.
    NB: a register-resident burn loop overstates the ceiling for a
    memory-bound workload - ``kernel_pool_rate`` below (emitted as
    ``kernel_pool_speedup``) is the workload-representative ceiling;
    this one is kept as a host-steal indicator.
    """
    import multiprocessing as mp

    all_cpus = os.sched_getaffinity(0)
    rates = {}
    try:
        for n in (cores_n, cores_4n):
            os.sched_setaffinity(0, set(sorted(all_cpus)[:n]))
            with mp.Pool(n) as pool:
                total = sum(pool.map(_burn, [seconds] * n))
            rates[n] = total / seconds
    finally:
        os.sched_setaffinity(0, all_cpus)
    return rates[cores_4n] / rates[cores_n]


def _extract_chunk(docs: list[bytes]) -> int:
    from livre_spark.pdf.api import extract_text
    for d in docs:
        extract_text(d)
    return len(docs)


def _kernel_pool_child(cores: int, docs_path: str, queue) -> None:
    import multiprocessing as mp
    import pickle

    probe_core, worker_cpus = _split_cpus(cores)
    os.sched_setaffinity(0, worker_cpus)
    with open(docs_path, "rb") as fh:
        docs = pickle.load(fh)
    # round-robin chunks smooth the heavy-tail docs across workers
    chunks = [docs[i::cores * 8] for i in range(cores * 8)]
    with mp.get_context("fork").Pool(cores) as pool:
        probe = StealProbe(probe_core)
        t0 = time.perf_counter()
        total = sum(pool.map(_extract_chunk, chunks))
        dt = time.perf_counter() - t0
        probe_rate = probe.stop()
    queue.put((dt, total, probe_rate))


def prepare_kernel_sample(corpus_path: str, sample_docs: int = 32000) -> str:
    """Pickle a corpus sample for the kernel-pool baseline runs."""
    import pickle

    import pyarrow.parquet as pq

    docs: list[bytes] = []
    dataset = pq.ParquetDataset(corpus_path)
    for frag in dataset.fragments:
        tbl = frag.to_table(columns=["html"])
        docs.extend(tbl.column("html").to_pylist())
        if len(docs) >= sample_docs:
            break
    docs = docs[:sample_docs]
    fh = tempfile.NamedTemporaryFile(suffix=".pkl", delete=False)
    pickle.dump(docs, fh)
    fh.close()
    return fh.name


def kernel_pool_rate(cores: int, docs_path: str) -> tuple[float, float]:
    """One pinned fresh-subprocess mp.Pool run of the SAME extraction
    kernel over the SAME doc mix: zero scheduling, zero serialization,
    perfect balance - the machine's achievable rate at ``cores`` worker
    CPUs *at this moment* (the VM host steals capacity unpredictably;
    identical Spark runs measured 21.5s vs 93.6s).  Returns (docs/sec,
    concurrent steal-probe chunks/sec)."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    p = ctx.Process(target=_kernel_pool_child, args=(cores, docs_path, q))
    p.start()
    dt, total, probe_rate = q.get()
    p.join()
    return total / dt, probe_rate


def measure_window(cores_n: int, cores_4n: int, corpus: str,
                   docs_path: str) -> dict:
    """One measurement window: pool/Spark at N, then pool/Spark at 4N.

    Every run (Spark AND pool) carries a CONCURRENT steal probe on a
    reserved core, and all rates are deflated by their own probe before
    any comparison.  Rationale: the previous adjacent-in-time pairing
    assumed consecutive runs see the same host-steal state - measured
    false (identical clean back-to-back 4N fractions ranged 0.30-1.10).
    The probe samples the steal DURING the run it normalizes, so the
    deflated fraction (spark/probe) / (pool/probe) compares workloads at
    the capacity the host actually delivered to each.
    """
    w: dict = {}
    for tag, cores in (("n", cores_n), ("4n", cores_4n)):
        p1, pp1 = kernel_pool_rate(cores, docs_path)
        dt, n, stats, sp = run_extraction(cores, corpus)
        p2, pp2 = kernel_pool_rate(cores, docs_path)
        spark_rate = n / dt
        # deflate each rate by its own concurrent probe; the pool side
        # takes the better deflated draw of its two sandwich runs.  A
        # dead probe (rate 0) falls back to the UNdeflated rate for
        # that run - degraded pairing beats a zero that would poison
        # the fraction ratio (or divide by zero)
        cal = max(pp1, pp2, sp, 1e-9)
        pool_defl = max(p1 / (pp1 if pp1 > 0 else cal),
                        p2 / (pp2 if pp2 > 0 else cal))
        spark_defl = spark_rate / (sp if sp > 0 else cal)
        fraction = spark_defl / pool_defl if pool_defl else 0.0
        w[tag] = {"seconds": round(dt, 2), "docs": n,
                  "spark_rate": round(spark_rate, 1),
                  "pool_rate": round(max(p1, p2), 1),
                  "probe_spark": round(sp, 1),
                  "probe_pool": [round(pp1, 1), round(pp2, 1)],
                  "fraction": round(fraction, 3),
                  "tasks": stats}
    w["efficiency_vs_kernel"] = round(
        w["4n"]["fraction"] / w["n"]["fraction"], 3)
    # steal-corrected raw scaling: probe-deflated spark rates, exact
    # worker-core factor (the reserved probe core is excluded on both
    # levels, so cores_4n/cores_n stays the true 4.0).  Dead probes
    # degrade to the undeflated ratio rather than zeroing the window
    pn = w["n"]["probe_spark"]
    p4 = w["4n"]["probe_spark"]
    cal2 = max(pn, p4, 1e-9)
    defl_n = w["n"]["spark_rate"] / (pn if pn > 0 else cal2)
    defl_4n = w["4n"]["spark_rate"] / (p4 if p4 > 0 else cal2)
    w["efficiency_raw"] = round(
        defl_4n / ((cores_4n / cores_n) * defl_n) if defl_n else 0.0, 3)
    w["efficiency_raw_unprobed"] = round(
        w["4n"]["spark_rate"]
        / ((cores_4n / cores_n) * w["n"]["spark_rate"]), 3)
    return w


def main() -> None:
    from livre_spark.plans.job import build_session

    os.makedirs(CACHE, exist_ok=True)
    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)

    # phase 0+2: corpus, then headline queries on CPUS-1 worker cores
    # with the last core reserved for the per-attempt steal probe
    all_cpus = os.sched_getaffinity(0)
    query_probe_core, query_cpus = _split_cpus(CPUS - 1)
    os.sched_setaffinity(0, query_cpus)
    spark = build_session(app_name="bench-gen", cores=CPUS - 1,
                          shuffle_partitions=CPUS * 2)
    corpus = ensure_corpus(spark, N_DOCS)

    def _near_dup_cap_off(sp, sf_dir):
        # A/B twin of sim_near_dup with the skew cap DISABLED, so the
        # cap machinery's cost (groupBy + window + hot-key filter before
        # the bucket scoring) is attributed to code, not host
        # weather; sim_near_dup itself is the cap-ON measurement
        import __spark_entry__ as em
        from livre_spark.functions import similarity as qsim

        return qsim.cosine_near_dup_pairs_lsh(
            em._t(sp, sf_dir, "embeddings"), dim=64, threshold=0.45,
            bands=em._ND_BANDS, planes_per_band=em._ND_PLANES_PER_BAND,
            seed=42)

    timings, timings_norm = run_headline_queries(
        spark, probe_core=query_probe_core,
        extra={"sim_near_dup_cap_off": _near_dup_cap_off})
    anchor = run_drift_anchor(spark, probe_core=query_probe_core)
    spark.stop()
    os.sched_setaffinity(0, all_cpus)  # scaling children re-split

    # phase 1: extraction scaling N vs 4N.  The VM host steals capacity
    # in minutes-long windows (identical 32-core runs measured 21.5s vs
    # 93.6s), so measurement is organized into INTERLEAVED windows -
    # (pool-N, spark-N, pool-N, pool-4N, spark-4N, pool-4N) adjacent in
    # time - and the MEDIAN window by steal-immune efficiency (ratio of
    # Spark/pool fractions) is reported, with every window emitted so
    # the artifact can never cherry-pick a lucky draw.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5"))
    # one core per level is reserved for the concurrent steal probe, so
    # worker counts are (CPUS/4 - 1) and 4x that: 7 -> 28 on 32 CPUs,
    # keeping the worker ratio EXACTLY 4.0 with the probe outside both
    cores_n = max(2, CPUS // 4 - 1)
    cores_4n = 4 * cores_n
    docs_pkl = prepare_kernel_sample(corpus)
    try:
        windows = [measure_window(cores_n, cores_4n, corpus, docs_pkl)
                   for _ in range(repeats)]
    finally:
        os.unlink(docs_pkl)
    ranked = sorted(windows, key=lambda w: w["efficiency_vs_kernel"])
    med = ranked[len(ranked) // 2]
    lvl_n, lvl_4n = med["n"], med["4n"]
    rate_n, rate_4n = lvl_n["spark_rate"], lvl_4n["spark_rate"]
    hw_speedup = hardware_speedup(cores_n, cores_4n)
    s_all_eff = [w["efficiency_vs_kernel"] for w in windows]

    result = {
        "metric": "docs/sec (PDF-to-text)",
        "value": rate_4n,
        "unit": "docs/sec",
        "queries": timings,
        "queries_normalized": timings_norm,
        "drift_anchor": anchor,
        "sf": sf,
        "scaling": {
            "corpus_docs": N_DOCS,
            "cores_n": cores_n,
            "cores_4n": cores_4n,
            "probe_note": "one core per level reserved for the"
                          " concurrent steal probe; rates deflated by"
                          " the probe before fractions/efficiency",
            "windows": windows,
            "median_window": {
                "seconds_n": lvl_n["seconds"],
                "seconds_4n": lvl_4n["seconds"],
                "docs_per_sec_n": rate_n,
                "docs_per_sec_4n": rate_4n,
                "kernel_pool_docs_per_sec_n": lvl_n["pool_rate"],
                "kernel_pool_docs_per_sec_4n": lvl_4n["pool_rate"],
                "spark_fraction_of_pool_n": lvl_n["fraction"],
                "spark_fraction_of_pool_4n": lvl_4n["fraction"],
            },
            # headline = the MEDIAN window's numbers (back-compat keys)
            "seconds_n": lvl_n["seconds"],
            "seconds_4n": lvl_4n["seconds"],
            "docs_per_sec_n": rate_n,
            "docs_per_sec_4n": rate_4n,
            "efficiency": med["efficiency_raw"],
            "efficiency_raw_unprobed": med.get(
                "efficiency_raw_unprobed"),
            "hardware_cpu_speedup": round(hw_speedup, 3),
            "kernel_pool_docs_per_sec_n": lvl_n["pool_rate"],
            "kernel_pool_docs_per_sec_4n": lvl_4n["pool_rate"],
            "kernel_pool_speedup": round(
                lvl_4n["pool_rate"] / lvl_n["pool_rate"], 3),
            "spark_fraction_of_pool_n": lvl_n["fraction"],
            "spark_fraction_of_pool_4n": lvl_4n["fraction"],
            "efficiency_vs_kernel": med["efficiency_vs_kernel"],
            "efficiency_all_windows": [w["efficiency_vs_kernel"]
                                       for w in windows],
            "tasks_4n": lvl_4n["tasks"],
            "tasks_n": lvl_n["tasks"],
        },
    }
    _write_baseline_md(result)
    # full detail for archaeology (windows, task stats, probe traces)
    with open(os.path.join(REPO, "BENCH", "result_full.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    # the PRINTED line must stay small: the driver keeps only a ~2000
    # char tail of stdout and json-parses it - round 4's full-detail
    # line overflowed that and the artifact lost the parsed queries.
    # Both query columns (raw + probe-normalized) ride here; windows
    # and task detail live in BENCH/BASELINE.md + result_full.json.
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "queries": timings,
        "queries_normalized": timings_norm,
        # compact anchor: the verdict + best healthy-probe seconds per
        # anchor query (full attempts table in result_full.json)
        "drift_anchor": {
            "verdict": anchor["verdict"],
            **{n: q["best_healthy"]
               for n, q in anchor["queries"].items()}},
        "sf": sf,
        "scaling": {
            "cores_n": cores_n,
            "cores_4n": cores_4n,
            "docs_per_sec_n": rate_n,
            "docs_per_sec_4n": rate_4n,
            "spark_fraction_of_pool_n": lvl_n["fraction"],
            "spark_fraction_of_pool_4n": lvl_4n["fraction"],
            "efficiency_raw": med["efficiency_raw"],
            "efficiency_vs_kernel": med["efficiency_vs_kernel"],
            "efficiency_all_windows": s_all_eff,
            "detail": "BENCH/BASELINE.md",
        },
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # never overflow the driver's tail again
        compact["queries_normalized"] = "see BENCH/BASELINE.md"
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


def _anchor_md(anchor: dict | None) -> str:
    if not anchor:
        return ""
    rows = "\n".join(
        f"| {n} | {q['r4']} | {q['r5']} | "
        f"{q['best_healthy'] if q['best_healthy'] is not None else '-'} | "
        f"{', '.join(f'{dt}s@{pr}' for dt, pr in q['attempts'])} | "
        f"{q['verdict']} |"
        for n, q in anchor["queries"].items())
    return f"""
## Cross-round drift anchor

Three fixed queries re-run interleaved, each attempt under its own
concurrent steal probe.  An attempt is HEALTHY when its probe rate is
>= 85% of {anchor['probe_healthy_ref']} chunks/s (the best rate this
box has ever shown, from the r4/r5 window archives) - the host was not
stealing at that instant, so the wall time is attributable to code.
Verdict 'host' = healthy attempts return to the r4 level (the r4->r5
drift was weather); 'code' = the regression reproduces under a healthy
probe (bisect it).

**Overall verdict: {anchor['verdict']}**

| query | r4 raw s | r5 raw s | best healthy s | attempts (s@probe) | verdict |
|---|---|---|---|---|---|
{rows}
"""


def _write_baseline_md(result: dict) -> None:
    s = result["scaling"]
    windows = s["windows"]

    def _trow(i: int, w: dict) -> str:
        return (f"| {i + 1} | {w['n']['fraction']} | {w['4n']['fraction']} |"
                f" {w['efficiency_vs_kernel']} | {w['efficiency_raw']} |"
                f" {w['n']['spark_rate']} | {w['4n']['spark_rate']} |")

    def _taskline(tag: str, t: dict) -> str:
        if not t:
            return f"- {tag}: (no event-log task data)"
        return (f"- {tag}: extraction stage ran {t['n_tasks']} tasks, max"
                f" task {t['max_task_s']}s vs median {t['median_task_s']}s"
                f" (tail ratio {t['tail_ratio']})")

    md = f"""# BENCH baseline - measured

Deterministic synthetic PDF corpus ({s['corpus_docs']} docs, seed={SEED},
heavy-tail page counts).  Each run is a single Spark action (read ->
magic filter -> heavy-tail repartition -> mapInArrow extraction ->
parquet text sink), executed in a fresh process whose whole process tree
(JVM + forked Python workers) is CPU-pinned to exactly N / 4N worker
cores (+1 reserved steal-probe core per level, so the worker ratio is
exactly 4.0) - the honest sandbox proxy for N vs 4N executors.

**Headline = the MEDIAN of {len(windows)} windows** (every window
below; no best-of selection anywhere):

| run | parallelism | docs | seconds | docs/sec |
|---|---|---|---|---|
| bench-N  | local[{s['cores_n']}]  | {s['corpus_docs']} | {s['seconds_n']} | {s['docs_per_sec_n']} |
| bench-4N | local[{s['cores_4n']}] | {s['corpus_docs']} | {s['seconds_4n']} | {s['docs_per_sec_4n']} |

**Scaling efficiency (N -> 4N): {s['efficiency_vs_kernel']} normalized to
the workload's paired hardware baseline** (target >= 0.8); raw
{s['efficiency']} vs the ideal 4.0x.  All windows (median by normalized
efficiency is the reported one):

| window | frac N | frac 4N | eff normalized | eff raw | docs/s N | docs/s 4N |
|---|---|---|---|---|---|---|
""" + "\n".join(_trow(i, w) for i, w in enumerate(windows)) + f"""

Task-granularity diagnostic (median window, from the Spark event log -
the straggler tail the mean fraction hides):

{_taskline('N ', s['tasks_n'])}
{_taskline('4N', s['tasks_4n'])}

Methodology - concurrent steal-probe normalization: the KVM host
steals capacity unpredictably (identical 32-core runs measured 21.5s vs
93.6s; even ADJACENT clean runs disagreed 3x, which broke the previous
adjacent-pairing scheme).  Every measured run - Spark and ``mp.Pool``
alike - therefore reserves one core for a fixed-work burn probe running
CONCURRENTLY with the timed action; chunks/sec on that core is the
capacity the host delivered DURING that exact run, and every rate is
deflated by its own probe before comparison.  Per level the deflated
Spark rate is divided by the deflated rate of an ``mp.Pool`` run of the
SAME extraction kernel over the SAME doc mix (zero scheduling/
serialization, perfect balance - the workload-shaped ceiling):
{s['kernel_pool_docs_per_sec_n']} docs/s at N,
{s['kernel_pool_docs_per_sec_4n']} at 4N (ratio
{s['kernel_pool_speedup']}x; the kernel is memory-bound, so 4x the
cores on ONE shared memory bus never gives 4x - a real 4N-executor
cluster has 4x the memory bandwidth too, which the pool normalization
emulates).  Spark holds {s['spark_fraction_of_pool_n']} of the
achievable rate at N and {s['spark_fraction_of_pool_4n']} at 4N;
normalized efficiency is the ratio of those fractions - the share of
hardware Spark keeps when cores quadruple.  Raw efficiency is the
probe-deflated Spark ratio against the exact 4.0x worker factor.  A
register-resident burn loop measured {s['hardware_cpu_speedup']}x on
the same CPUs - kept as a host-steal indicator only, since a
cache-resident burn overstates the ceiling for a memory-bound
workload.

Each timed run is preceded by a ~2% warmup through the identical plan
(spawns the Python workers, compiles codegen, reads footers), so the
numbers are steady-state throughput - the quantity that scales on a
cluster - not per-run fixed costs.

Headline query timings at sf={result['sf']} (local[{CPUS - 1}] + probe
core).  "normalized" deflates each attempt by its concurrent probe
against the phase's best probe rate - the steady-state number host
steal cannot inflate; "raw" is directly comparable to earlier rounds:

| query | raw s | normalized s |
|---|---|---|
""" + "\n".join(
        f"| {k} | {v} | {result['queries_normalized'].get(k, v)} |"
        for k, v in result["queries"].items()) + """

``sim_near_dup`` is the cap-ON measurement (the registered query, skew
cap active); ``sim_near_dup_cap_off`` is its A/B twin with the cap
disabled, so the cap machinery's cost (bucket-count groupBy + window +
hot-key filter ahead of the bucket scoring) is attributed to code
rather than host weather.
""" + _anchor_md(result.get("drift_anchor"))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as fh:
        fh.write(md)


if __name__ == "__main__":
    main()
