#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny crawl size (several minutes).

    python3 perfbench/selftest.py [--seed N]

For every workload it makes one untraced run and two traced runs at one
seed (the dedup tables are the sf0.1 files at every size), and checks
that:

- the result line has exactly its four keys, and every metric of
  ``BENCHMARK.json`` (end-to-end untraced, per-layer traced) is printed
  with its unit and nothing else is;
- the report line carries the stamp (core count, versions, seed, input
  sizes) and ``failed_share`` is 0;
- the ``pdf.*`` counts, ``operators.skew.large_docs`` and
  ``operators.checkpoint.skipped_share`` repeat exactly across the two
  traced runs;
- ``perfbench/layers.json`` maps every per-layer metric to the
  end-to-end metric and workload it should move;
- crawl_fresh shows ``operators.skew.large_docs`` > 0, dedup_sf0.1 shows
  every ``pdf.*`` count at 0 (true by construction: the query set has no
  PDF input, so the kernel replay gets no documents) and crawl_resume shows
  ``operators.checkpoint.healed_urls`` > 0;
- in a directory holding only ``BENCHMARK.json`` and ``perfbench/``, the
  benchmark exits non-zero without printing a result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import argparse
import fnmatch
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_fresh", "crawl_resume", "dedup_sf0.1")
STAMP = ("nproc", "spark", "pyarrow", "python", "seed", "input")
# counts the kernel replay and the pipeline produce deterministically
REPEATABLE = ("pdf.pages", "pdf.spans", "pdf.text_chars",
              "pdf.inflated_bytes", "pdf.decrypt_calls",
              "pdf.error_docs.NoStartXref", "pdf.error_docs.other",
              "operators.skew.large_docs",
              "operators.checkpoint.skipped_share")


def run(workload: str, seed: int, trace: int, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=3)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    with open(os.path.join(HERE, "layers.json")) as fh:
        layers = json.load(fh)
    unmapped = [m for m in want[1] if not any(
        fnmatch.fnmatchcase(m, row["metrics"]) for row in layers["layers"])]
    expect(not unmapped, f"layers.json maps every per-layer metric to an "
           f"end-to-end metric and workload (unmapped: {unmapped})")
    expect({w["name"] for w in spec["workloads"]} <= set(layers["workloads"]),
           "layers.json says why each workload exists")

    traced: dict[str, list[dict]] = {}
    for workload in WORKLOADS:
        for trace in (0, 1, 1):
            tag = f"{workload} trace={trace}"
            code, lines = run(workload, args.seed, trace)
            expect(code == 0 and len(lines) >= 2, f"{tag}: exit 0 with a "
                   f"report and a result (exit {code})")
            if code != 0 or len(lines) < 2:
                continue
            result = json.loads(lines[-1])
            report = json.loads(lines[-2].split(" ", 2)[2])
            expect(set(result) == {"correct", "attempted", "failed",
                                   "metrics"}, f"{tag}: result keys")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            expect(got == want[trace], f"{tag}: every metric with its unit"
                   f" (missing {sorted(set(want[trace]) - set(got))},"
                   f" extra {sorted(set(got) - set(want[trace]))})")
            expect(all(k in report for k in STAMP), f"{tag}: stamp")
            expect(report["failed_share"]["value"] == 0 and result["correct"]
                   and result["failed"] == 0, f"{tag}: failed_share is 0")
            if trace:
                traced.setdefault(workload, []).append(
                    {k: v["value"] for k, v in result["metrics"].items()})

    for workload, (first, second) in ((w, r) for w, r in traced.items()
                                      if len(r) == 2):
        differ = [k for k in REPEATABLE if first[k] != second[k]]
        expect(not differ, f"{workload}: counts repeat across two runs at "
               f"one seed (differ: {differ})")
    if "crawl_fresh" in traced:
        expect(traced["crawl_fresh"][0]["operators.skew.large_docs"] > 0,
               "crawl_fresh: the skew operator's heavy branch ran")
    if "dedup_sf0.1" in traced:
        # holds by construction; it guards the printing of the zeros
        m = traced["dedup_sf0.1"][0]
        expect(all(m[k] == 0 for k in m if k.startswith("pdf.")
                   and not k.endswith(("_s", "_share", "_core"))
                   and not k.startswith("pdf.doc_ms")),
               "dedup_sf0.1: every pdf.* count is 0")
    if "crawl_resume" in traced:
        expect(traced["crawl_resume"][0]["operators.checkpoint.healed_urls"]
               > 0, "crawl_resume: the torn batch was healed")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = run("crawl_fresh", args.seed, 0, cwd=bare)
        expect(code != 0 and not any(l.startswith("{") for l in lines),
               "without the program: non-zero exit and no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"selftest: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
