"""Tracing for the per-layer run: span wrappers and the Spark event log.

Spans are recorded from the benchmark's side of each layer boundary: the
wrappers patch the attributes the program looks up at call time and are
removed again afterwards, so the untraced runs execute unmodified code.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter, defaultdict


class Tracer:
    """Self time, total time and call counts of wrapped callables.

    A wrapped call's self time is its duration minus the time spent in
    wrapped calls it made; nested spans share one stack, so self times
    add up to the time of the outermost spans.
    """

    def __init__(self):
        self.self_s: dict[str, float] = defaultdict(float)
        self.total_s: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self.counts: Counter = Counter()
        self._stack: list[list[float]] = []
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str, fn, on_result=None):
        """``fn`` wrapped in a span named ``name``; ``on_result(self,
        result)`` may add counts."""
        stack, self_s, total_s = self._stack, self.self_s, self.total_s
        calls = self.calls

        def wrapper(*args, **kwargs):
            frame = [0.0]
            stack.append(frame)
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                dur = time.perf_counter() - t0
                stack.pop()
                self_s[name] += dur - frame[0]
                total_s[name] += dur
                calls[name] += 1
                if stack:
                    stack[-1][0] += dur
            if on_result is not None:
                on_result(self, result)
            return result

        return wrapper

    def replace(self, owner, attr: str, value) -> None:
        """Set ``owner.attr`` to ``value`` until ``restore()``."""
        self._patched.append((owner, attr, owner.__dict__[attr]
                              if isinstance(owner, type)
                              else getattr(owner, attr)))
        setattr(owner, attr, value)

    def patch(self, owner, attr: str, name: str, on_result=None) -> None:
        """Wrap ``owner.attr`` in a span named ``name`` until
        ``restore()``."""
        original = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        self.replace(owner, attr, self.span(name, original, on_result))

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

LABEL_PROP = "perfbench.label"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


class EventLog:
    """Jobs, stages and tasks of one application, grouped by the
    ``perfbench.label`` local property set around each traced action."""

    def __init__(self, evdir: str):
        self.jobs: Counter = Counter()                 # label -> jobs
        self.stage_label: dict[int, str] = {}
        self.tasks: dict[int, list[float]] = defaultdict(list)  # stage -> s
        self.shuffle_bytes: Counter = Counter()        # label -> bytes
        self.accum: dict[str, Counter] = defaultdict(Counter)   # label
        paths = []
        for root, _dirs, files in os.walk(evdir):
            # Spark 4 may write a directory of events_* files; skip the
            # hidden checksum files beside them
            paths += [os.path.join(root, f) for f in files
                      if not f.startswith(".")]
        for path in sorted(paths):
            with open(path, errors="replace") as fh:
                for line in fh:
                    if line.strip():
                        self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            label = (ev.get("Properties") or {}).get(LABEL_PROP)
            if label:
                self.jobs[label] += 1
                for sid in ev.get("Stage IDs", ()):
                    self.stage_label[int(sid)] = label
        elif kind == "SparkListenerTaskEnd":
            sid = int(ev["Stage ID"])
            label = self.stage_label.get(sid)
            if label is None:
                return
            info = ev.get("Task Info") or {}
            self.tasks[sid].append(
                (info.get("Finish Time", 0) - info.get("Launch Time", 0))
                / 1000.0)
            metrics = ev.get("Task Metrics") or {}
            self.shuffle_bytes[label] += (
                metrics.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
            for acc in info.get("Accumulables", ()):
                name = acc.get("Name")
                if name in (PY_SENT, PY_RECV):
                    self.accum[label][name] += int(acc.get("Update") or 0)

    def busiest_stage(self, label: str) -> list[float]:
        """Task seconds of ``label``'s stage with the most task time (the
        extraction stage of a pipeline run)."""
        stages = [self.tasks[s] for s, lab in self.stage_label.items()
                  if lab == label and self.tasks.get(s)]
        return max(stages, key=sum) if stages else []
