"""Spans recorded from outside the program, plus Spark job metrics read
from the Spark UI REST API.

`Tracer.install()` replaces public functions of the program's modules with
wrappers that record a span per call (name, layer, start, end, parent,
request id). Spans stay in memory until the run writes them out. Jobs are
attributed to spans by time window: the traced phases run one request at a
time and the server serializes its Spark calls, so a job submitted inside a
span belongs to it.
"""

from __future__ import annotations

import datetime
import functools
import itertools
import json
import threading
import time
import urllib.parse
import urllib.request


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.request: dict | None = None  # open client span, for server threads
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    # ---- spans ----
    def begin(self, name: str, layer: str, **attrs) -> dict:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self.request
        span = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "rid": parent["rid"] if parent else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        if span["rid"] is None:
            span["rid"] = span["id"]
        stack.append(span)
        return span

    def end(self, span: dict, ok: bool = True) -> None:
        span["end"] = time.time()
        span["ok"] = ok
        self._local.stack.pop()
        with self._lock:
            self.spans.append(span)

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        span = self.begin(name, layer)
        ok = False
        try:
            out = fn(*args, **kwargs)
            ok = True
            return out
        finally:
            self.end(span, ok)

    # ---- wrappers around the program's public functions ----
    def wrap(self, owner, attr: str, name: str, layer: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            return self.call(name, layer, original, *args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def install(self) -> None:
        from elastik_nearest_neighbors_spark import api, server, session
        from elastik_nearest_neighbors_spark.operators import knn, lsh
        from elastik_nearest_neighbors_spark.sources import index_store

        for m in ("search", "msearch", "get_doc", "index", "delete_ids",
                  "refresh", "compact", "create"):
            self.wrap(server.AknnHttpServer, m, f"server.{m}", "server")
        for owner in (api, server):
            for f in ("aknn_index", "aknn_search"):
                if hasattr(owner, f):
                    self.wrap(owner, f, f"api.{f}", "api")
        self.wrap(api, "aknn_create", "api.aknn_create", "api")
        for m in ("create", "save", "get"):
            self.wrap(api.AknnModelRegistry, m, f"api.registry.{m}", "api")
        self.wrap(lsh.LshModel, "with_hashes", "operators.lsh.with_hashes", "operators.lsh")
        for owner in (knn, api):
            self.wrap(owner, "rank_term_matches", "operators.knn.rank_term_matches",
                      "operators.knn")
        for f in ("pruned_dynamic_overwrite", "compact_in_place",
                  "clustered_overwrite_swap", "clustered"):
            self.wrap(index_store, f, f"sources.index_store.{f}", "sources.index_store")
        self.wrap(session, "get_spark", "session.get_spark", "session")
        self.wrap(session, "configure", "session.configure", "session")

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover (seconds)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(s["start"], s["end"], [(c["start"], c["end"]) for c in children.get(s["id"], [])])
        for s in spans
    }


def covered(lo: float, hi: float, intervals) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---- Spark jobs and stages, read from the UI REST API ----

def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.datetime.strptime(
        ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def spark_jobs(spark, settle_s: float = 10.0) -> list[dict]:
    """Every finished job of this application with its stages' metrics
    summed: tasks, run/CPU/GC ms and shuffle bytes. Polls until the UI
    listener has caught up with the last job."""
    sc = spark.sparkContext
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + settle_s
    while True:
        jobs = _get(f"{base}/jobs")
        if all(j.get("completionTime") for j in jobs) or time.time() > deadline:
            break
        time.sleep(0.2)
    stages = {s["stageId"]: s for s in _get(f"{base}/stages") if s.get("status") == "COMPLETE"}
    claimed: set[int] = set()
    out = []
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        row = {
            "job": j["jobId"],
            "submit": _epoch(j.get("submissionTime")),
            "complete": _epoch(j.get("completionTime")) or _epoch(j.get("submissionTime")),
            "stages": 0, "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
        }
        for sid in j.get("stageIds", []):
            s = stages.get(sid)
            if s is None or sid in claimed:
                continue  # skipped (reused shuffle output) or counted already
            claimed.add(sid)
            row["stages"] += 1
            row["tasks"] += s.get("numCompleteTasks", 0)
            row["run_ms"] += s.get("executorRunTime", 0)
            row["cpu_ms"] += s.get("executorCpuTime", 0) / 1e6
            row["gc_ms"] += s.get("jvmGcTime", 0)
            row["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
            row["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        if row["submit"] is not None:
            out.append(row)
    return out


def jobs_in(jobs: list[dict], start: float, end: float) -> list[dict]:
    # the REST API reports milliseconds; allow for truncation at both ends
    return [j for j in jobs if start - 0.001 <= j["submit"] <= end + 0.001]


def driver_only(jobs: list[dict], start: float, end: float) -> float:
    """Span length not covered by any Spark job (seconds)."""
    return (end - start) - covered(start, end, [(j["submit"], j["complete"]) for j in jobs])
