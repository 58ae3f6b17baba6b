"""Benchmark-side tracing: spans around calls into the program's public
functions, a counting KV wrapper, and Spark event-log parsing.

Spans are recorded from the benchmark's own files only. While a span is
open its id is set as a Spark local property, so every job and stage
submitted inside it carries the id in the event log and the stage's
accumulables can be attributed to the span afterwards. Spans stay in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from typing import Callable, Iterable, Optional

from zipline_chronon_spark.online.kv import InMemoryKv, KvStore

SPAN_PROP = "perfbench.span"


class Tracer:
    """Nested spans: name, start, end and parent. Disabled tracers record
    nothing and cost one attribute check per call."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True):
        """``jobs=False`` for spans that submit no Spark job: they skip the
        local-property round trips to the JVM."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if jobs:
            self._set_props(sid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if jobs:
                parent = self.spans[self._stack[-1]] if self._stack else None
                self._set_props(parent and parent["id"], parent and parent["name"])

    def _set_props(self, sid: Optional[int], name: Optional[str]) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty(SPAN_PROP, None if sid is None else str(sid))
        self.sc.setJobDescription(name)

    def wrap(self, name: str, fn: Callable, jobs: bool = True) -> Callable:
        """``fn`` inside a span; the span keeps the return value under
        "result" (plans are inspected after the timed loop)."""
        def traced(*args, **kwargs):
            with self.span(name, jobs) as rec:
                out = fn(*args, **kwargs)
                if rec is not None:
                    rec["result"] = out
                return out
        return traced

    @contextlib.contextmanager
    def patched(self, targets: Iterable[tuple]):
        """Replace ``owner.attr`` by a span-recording wrapper for the
        duration of the block: the way to trace a public function that the
        program calls internally (e.g. GroupByBackfill calling
        pit_join.compute_group_by_self). Targets are (owner, attr, span
        name[, jobs])."""
        saved = []
        try:
            if self.enabled:
                for owner, attr, name, *jobs in targets:
                    orig = getattr(owner, attr)
                    saved.append((owner, attr, orig))
                    setattr(owner, attr, self.wrap(name, orig, *jobs))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    # --- span arithmetic -------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it covered by direct children."""
        kids = sorted((s["start"], s["end"]) for s in self.spans
                      if s["parent"] == span["id"] and s["end"] is not None)
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (span["end"] - span["start"]) - covered

    def descendants(self, root_names: set[str]) -> set[int]:
        """Ids of spans named in ``root_names`` and of all spans under them."""
        out = {s["id"] for s in self.spans if s["name"] in root_names}
        for s in self.spans:  # spans are appended parent-first
            if s["parent"] in out:
                out.add(s["id"])
        return out


class CountingKv(KvStore):
    """Delegates to an InMemoryKv and counts what crosses the KV boundary:
    entries and bytes written, calls, time spent, and for scans the entries
    returned against the entries the scan had to walk."""

    def __init__(self):
        self.inner = InMemoryKv()
        self.puts = 0
        self.put_bytes = 0
        self.calls = 0
        self.seconds = 0.0
        self.scan_returned = 0
        self.scan_walked = 0

    def _count_put(self, key: bytes, value: bytes) -> None:
        self.puts += 1
        self.put_bytes += len(key) + len(value)

    def put(self, dataset: str, key: bytes, value: bytes) -> None:
        self._count_put(key, value)
        self.inner.put(dataset, key, value)

    def write_rows(self, df, encode_fn) -> int:
        def counted(row: dict):
            dataset, k, v = encode_fn(row)
            self._count_put(k, v)
            return dataset, k, v
        return self.inner.write_rows(df, counted)

    def get(self, dataset: str, key: bytes) -> Optional[bytes]:
        t0 = time.perf_counter()
        try:
            return self.inner.get(dataset, key)
        finally:
            self.calls += 1
            self.seconds += time.perf_counter() - t0

    def scan(self, dataset: str, key_prefix: bytes = b""):
        self.calls += 1
        self.scan_walked += len(self.inner.data.get(dataset, {}))
        it = iter(self.inner.scan(dataset, key_prefix))
        while True:
            t0 = time.perf_counter()
            try:
                item = next(it)
            except StopIteration:
                self.seconds += time.perf_counter() - t0
                return
            self.seconds += time.perf_counter() - t0
            self.scan_returned += 1
            yield item

    def reset_read_counters(self) -> None:
        self.calls = 0
        self.seconds = 0.0
        self.scan_returned = 0
        self.scan_walked = 0


# --- Spark event log ------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs and stages of every application logged under ``log_dir``.

    Returns {"jobs": [{"span"}], "stages": {(app, stage id): {"span", "acc":
    {accumulable name: total}, "task_run_ms": [...], "task_peak_mem":
    [...]}}}. Only completed stages are kept; skipped stages never run. The
    log rolls (the Spark 4 default): one directory of event files per
    application."""
    jobs: list[dict] = []
    stages: dict[tuple, dict] = {}
    for entry in sorted(os.listdir(log_dir)):
        for path in sorted(glob.glob(os.path.join(log_dir, entry, "events_*"))):
            with open(path) as f:
                for line in f:
                    _apply(json.loads(line), entry, jobs, stages)
    return {"jobs": jobs, "stages": {k: v for k, v in stages.items() if v["completed"]}}


def _span_of(ev: dict) -> Optional[int]:
    span = (ev.get("Properties") or {}).get(SPAN_PROP)
    return int(span) if span is not None else None


def _apply(ev: dict, app: str, jobs: list, stages: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        jobs.append({"span": _span_of(ev)})
    elif kind == "SparkListenerStageSubmitted":
        st = stages.setdefault((app, ev["Stage Info"]["Stage ID"]), _new_stage())
        st["span"] = _span_of(ev)
    elif kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        st = stages.setdefault((app, info["Stage ID"]), _new_stage())
        st["completed"] = True
        for acc in info.get("Accumulables", []):
            try:
                st["acc"][acc["Name"]] = st["acc"].get(acc["Name"], 0) + int(acc["Value"])
            except (TypeError, ValueError, KeyError):
                continue  # non-numeric accumulables
    elif kind == "SparkListenerTaskEnd":
        st = stages.setdefault((app, ev["Stage ID"]), _new_stage())
        tm = ev.get("Task Metrics") or {}
        st["task_run_ms"].append(int(tm.get("Executor Run Time", 0)))
        st["task_peak_mem"].append(int(tm.get("Peak Execution Memory", 0)))


def _new_stage() -> dict:
    return {"span": None, "completed": False, "acc": {}, "task_run_ms": [],
            "task_peak_mem": []}
