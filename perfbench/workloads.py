"""The workloads. Each is a closed loop: a caller of EsAknn blocks on its
reply, and the server serializes every Spark call under one lock, so an
open loop faster than the server would only grow a queue.

serve_read   4 clients GET /{index}/{id}/_aknn_search with Zipf-skewed ids
             over a store bulk-loaded during set-up. Per-request fixed cost
             (Spark jobs, driver time, the server lock, the doc cache)
             dominates; almost no hashing or store writing.
batch_ann    The Spark-native facade, no HTTP: aknn_index over a corpus four
             times larger to a noop sink, then one-shot aknn_search batches.
             The candidate join, count and shuffle do the work; per-job
             fixed cost is amortized over the batch.
serve_write  1 client. Timed bulk load (refresh:false batches, refresh,
             compact), then a fixed mix of point upserts, deletes, re-adds
             of deleted ids and searches, with a compact every few writes.
             Exercises hashing, the store layout and cache invalidation.
             Not listed in BENCHMARK.json: a run of each workload takes
             45-75 s on a 4-core host, and two repeated sets of ten runs
             per workload fit the benchmark's time budget for two of them.

Every workload reports the same end-to-end metrics. A "search call" is a
GET search (serve_*) or one aknn_search(...).collect() over a batch of ids
(batch_ann); a "write call" is one request that writes the index: a staged
bulk batch after the first (serve_read), a point upsert or delete
(serve_write), or one aknn_index pass over a chunk of the corpus
(batch_ann).
"""

from __future__ import annotations

import contextlib
import http.client
import json
import os
import statistics
import threading
import time

import numpy as np

from . import check, inputs
from .trace import Tracer, driver_only, jobs_in, self_times, spark_jobs

SERVE_DOCS = 8192  # twice the server's 4096-entry doc cache
STAGE_BATCHES = 4
READ_CLIENTS = 4
BATCH_DOCS = 4 * SERVE_DOCS
BATCH_QUERIES = 64
INDEX_CHUNKS = 4
INDEX_PASSES = 3
COMPACT_EVERY = 6
K1, K2 = 100, 10
WARM_MIN, WARM_MAX = 4, 5
SAMPLED_QUERIES = 64  # query ids kept for candidate counts
INDEX = "bench"
MODEL = "bench"

now = time.perf_counter


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(np.ceil(q * len(s))) - 1))]


class Run:
    """State shared by one run: counters, samples, checks and spans."""

    def __init__(self, seed: int, seconds: float, work: str, trace: bool):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = Tracer() if trace else None
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.search_ms: list[float] = []
        self.write_ms: list[float] = []
        self.search_busy_s = 0.0  # union of search-call intervals
        self.queries = 0
        self.recalls: list[float] = []
        self.ingest_docs_per_s = None
        self.setup_s = None
        self.extra: dict = {}
        self.spark = None
        self.server = None
        self._lock = threading.Lock()

    # ---- bookkeeping ----
    def fail(self, problem: str) -> None:
        with self._lock:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(problem)

    def attempt(self) -> None:
        with self._lock:
            self.attempted += 1

    @contextlib.contextmanager
    def client_span(self, name: str, traced: bool = True, **attrs):
        """A client-side span around one call; an untraced call switches the
        wrappers off for its duration."""
        t = self.tracer
        if t is None or not t.enabled or not traced:
            prev = t is not None and t.enabled
            if t is not None:
                t.enabled = False
            try:
                yield None
            finally:
                if t is not None:
                    t.enabled = prev
            return
        span = t.begin(name, "client", **attrs)
        t.request = span
        try:
            yield span
        finally:
            t.request = None
            t.end(span)

    def mark(self, phase: str) -> None:
        """Record the time since the process started at the end of `phase`."""
        self.extra.setdefault("phases", []).append(
            (phase, round(now() - self.extra["t_start"], 2)))

    def start_session(self):
        from elastik_nearest_neighbors_spark import session

        if self.tracer is not None:
            self.tracer.install()
            self.tracer.enabled = True
        t = now()
        self.spark = session.get_spark(app_name="perfbench")
        self.extra["session_start_s"] = now() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.mark("session")
        return self.spark

    def start_server(self):
        from elastik_nearest_neighbors_spark.server import AknnHttpServer

        self.server = AknnHttpServer(
            self.spark, os.path.join(self.work, "store"), store_backed=True
        ).start()
        return Client(self.server.port)

    def store_root(self) -> str:
        return os.path.join(self.work, "store", "indexes")

    # ---- HTTP with accounting ----
    def request(self, client, method, path, body=None, expect=(200,), what="", traced=True):
        """One HTTP call; a transport error or an unexpected status counts as
        a failure and returns (None, seconds spent)."""
        self.attempt()
        t = now()
        with self.client_span(f"client.{what or method}", traced, bytes=len(body or b"")):
            try:
                status, payload, rtt = client.call(method, path, body)
            except (OSError, http.client.HTTPException) as exc:
                self.fail(f"{method} {path}: {type(exc).__name__}: {exc}")
                return None, now() - t
        if status not in expect:
            self.fail(f"{method} {path}: HTTP {status} {str(payload)[:200]}")
            return None, rtt
        return payload, rtt


class Client:
    def __init__(self, port: int):
        self.port = port

    def call(self, method: str, path: str, body: bytes | None = None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        t = now()
        try:
            headers = {"Content-Type": "application/json"} if body is not None else {}
            conn.request(method, path, body=body, headers=headers)
            resp = conn.getresponse()
            data = resp.read()
            rtt = now() - t
        finally:
            conn.close()
        try:
            payload = json.loads(data) if data else None
        except ValueError:
            payload = data[:200]
        return resp.status, payload, rtt


def lsh_shape() -> tuple[int, int]:
    from elastik_nearest_neighbors_spark.constants import LSH_BITS, LSH_TABLES

    return LSH_TABLES, LSH_BITS


# ---- shared serve steps ----

def serve_setup(run: Run, n: int):
    """Session, inputs, server and model; returns (client, corpus,
    staged bodies)."""
    run.start_session()
    vectors = inputs.mixture(run.rng, n)
    tables, bits = lsh_shape()
    create = inputs.encode(
        {"_id": MODEL, "docs": [inputs.doc(i, vectors[i]) for i in range(2 * tables * bits)]}
    )
    step = -(-n // STAGE_BATCHES)
    staged = [
        inputs.encode({
            "model": MODEL, "_index": INDEX, "refresh": False,
            "docs": [inputs.doc(i, vectors[i]) for i in range(a, min(n, a + step))],
        })
        for a in range(0, n, step)
    ]
    client = run.start_server()
    run.request(client, "POST", "/_aknn_create", create, what="create")
    run.mark("create")
    corpus = check.Corpus(vectors)
    run.extra["corpus"] = corpus
    return client, corpus, staged


def bulk_load(run: Run, client, staged: list[bytes], n: int, compact: bool) -> float:
    """refresh:false batches, one refresh, optionally a compact; returns
    the elapsed seconds. Staging calls are write calls."""
    t = now()
    files = []
    for k, body in enumerate(staged):
        before = store_files(run)
        _, rtt = run.request(client, "POST", "/_aknn_index", body, what="stage")
        files.append(store_files(run) - before)
        if k:  # the first batch starts the Python workers and warms the path
            run.write_ms.append(rtt * 1e3)
        run.extra.setdefault("write_request_bytes", []).append(len(body))
    run.extra["hash_s"] = now() - t
    run.extra["files_per_write"] = files
    run.mark("stage")
    run.request(client, "POST", "/_aknn_refresh", inputs.encode({"_index": INDEX}), what="refresh")
    run.mark("refresh")
    if compact:
        compact_index(run, client)
    elapsed = now() - t
    run.ingest_docs_per_s = n / elapsed
    run.extra["hashed_vectors"] = n
    store_snapshot(run, "after_bulk")
    return elapsed


def compact_index(run: Run, client) -> None:
    _, rtt = run.request(client, "POST", "/_aknn_compact", inputs.encode({"_index": INDEX}),
                         what="compact")
    run.extra.setdefault("compact_s", []).append(rtt)


def search(run: Run, client, corpus: check.Corpus, qid: int, traced: bool = True):
    """One GET search, checked; returns the round trip in seconds."""
    payload, rtt = run.request(
        client, "GET", f"/{INDEX}/{qid}/_aknn_search?k1={K1}&k2={K2}", what="search",
        traced=traced,
    )
    if payload is not None:
        check_answer(run, corpus, qid, payload)
    return rtt


def check_answer(run: Run, corpus: check.Corpus, qid: int, payload) -> None:
    """Check one search answer and record its recall."""
    try:
        hits = [(h["_id"], h["_score"]) for h in payload["hits"]["hits"]]
    except (KeyError, TypeError):
        run.fail(f"query {qid}: malformed answer {str(payload)[:200]}")
        return
    problems, recall = check.check_hits(corpus, qid, hits)
    for p in problems:
        run.fail(p)
    with run._lock:
        run.recalls.append(recall)
        queries = run.extra.setdefault("sampled_queries", [])
        if len(queries) < SAMPLED_QUERIES:
            queries.append(qid)


def store_snapshot(run: Run, label: str) -> None:
    """Files, directories and bytes under the index store (traced runs)."""
    if run.tracer is None:
        return
    files = dirs = size = 0
    for base, dnames, fnames in os.walk(run.store_root()):
        dirs += len(dnames)
        for f in fnames:
            files += 1
            size += os.path.getsize(os.path.join(base, f))
    run.extra.setdefault("store", {})[label] = {"files": files, "dirs": dirs, "bytes": size}


# ---- serve_read ----

def serve_read(run: Run) -> None:
    client, corpus, staged = serve_setup(run, SERVE_DOCS)
    bulk_load(run, client, staged, SERVE_DOCS, compact=False)
    stream = iter(inputs.zipf_ids(run.rng, SERVE_DOCS, 100_000))
    seen: set[int] = set()
    repeats = [0, 0]

    def next_id() -> int:
        qid = next(stream)
        repeats[0] += qid in seen
        repeats[1] += 1
        seen.add(qid)
        return qid

    if run.tracer is not None:
        run.tracer.enabled = False
    window = closed_loop(run, client, corpus, READ_CLIENTS, next_id,
                         run.seconds / 2 if run.tracer else run.seconds)
    run.extra["repeat_id_share"] = repeats[0] / max(1, repeats[1])
    if run.tracer is None:
        run.search_ms, run.search_busy_s, run.queries = window
        return
    # traced: the 4-client half gives the queued p50; a single client then
    # alternates traced and untraced requests for the per-layer numbers
    run.extra["p50_4_clients_ms"] = statistics.median(window[0])
    single_client(run, lambda traced: search(run, client, corpus, next_id(), traced),
                  run.seconds / 2)


def closed_loop(run: Run, client, corpus, clients: int, next_id, seconds: float):
    """`clients` threads issue searches back to back. Warm-up lasts until
    the gaps between completions level off (counted in set-up); the
    requests that complete in the next `seconds` are measured. Returns
    (latencies ms, seconds between the first and last measured completion,
    completions after the first) so that throughput is the completion rate
    inside the window, free of edge effects."""
    lock = threading.Lock()
    done: list[tuple[float, float]] = []  # (issued, completed)
    gate = {"open": None, "close": None}

    def eta() -> float:
        return float(np.median([e - s for s, e in done[-clients:]])) if done else 0.0

    def worker():
        while True:
            with lock:
                # near the end, issue nothing that cannot complete inside the
                # window: requests already queued keep their full-load waits
                # and the run does not idle through a drain afterwards
                if gate["close"] is not None and now() + eta() >= gate["close"]:
                    return
                qid = next_id()
            t = now()
            rtt = search(run, client, corpus, qid, traced=False)
            with lock:
                done.append((t, t + rtt))

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(clients)]
    t0 = now()
    for th in threads:
        th.start()
    while True:
        time.sleep(0.02)
        with lock:
            ends = sorted(e for _, e in done)
        if len(ends) >= WARM_MAX or (len(ends) >= WARM_MIN and leveled(ends)):
            break
        if now() - t0 > 120 or not any(th.is_alive() for th in threads):
            break
    with lock:
        gate["open"] = now()
        gate["close"] = gate["open"] + seconds
    run.setup_s = gate["open"] - run.extra["t_start"]
    run.mark("warmup")
    for th in threads:
        th.join()
    run.mark("window")
    timed = sorted((e, s) for s, e in done if gate["open"] <= e <= gate["close"])
    lat = [(e - s) * 1e3 for e, s in timed]
    if len(timed) < 2:  # too slow for a completion rate: fall back to count / window
        return lat, seconds, len(timed)
    return lat, timed[-1][0] - timed[0][0], len(timed) - 1


def leveled(ends: list[float]) -> bool:
    gaps = np.diff(ends)[-3:]
    m = float(np.median(gaps))
    return bool(np.all(np.abs(gaps - m) <= 0.2 * m))


def single_client(run: Run, call, seconds: float) -> None:
    """Traced phase: one client alternates traced and untraced calls, so
    the difference of their medians is the tracing overhead."""
    t_end = now() + seconds
    traced, untraced = [], []
    i = 0
    while now() < t_end or not traced or not untraced:
        run.tracer.enabled = i % 2 == 0
        rtt = call(run.tracer.enabled)
        (traced if i % 2 == 0 else untraced).append(rtt * 1e3)
        i += 1
    run.tracer.enabled = False
    run.extra["traced_ms"], run.extra["untraced_ms"] = traced, untraced
    run.search_ms = traced + untraced
    run.queries = len(run.search_ms) * run.extra.get("queries_per_call", 1)
    run.search_busy_s = sum(run.search_ms) / 1e3


# ---- serve_write ----

def serve_write(run: Run) -> None:
    client, corpus, staged = serve_setup(run, SERVE_DOCS)
    ops = inputs.write_ops(run.rng, SERVE_DOCS, 400, COMPACT_EVERY)
    bodies = {}
    for k, (op, i) in enumerate(ops):
        if op in ("upsert", "readd"):
            v = inputs.fresh_vector(run.rng, corpus.vectors)
            bodies[k] = (v, inputs.encode(
                {"model": MODEL, "_index": INDEX, "docs": [inputs.doc(i, v)]}))
    pre = now() - run.extra["t_start"]
    bulk_load(run, client, staged, SERVE_DOCS, compact=True)
    run.write_ms.clear()  # staged batches are ingest here; writes are the point ops
    run.extra["write_request_bytes"] = []
    # warm the point-write and search paths once, outside the timed mix:
    # re-index one doc with its own vector and search it
    t = now()
    same = inputs.encode({"model": MODEL, "_index": INDEX,
                          "docs": [inputs.doc(0, corpus.vectors[0])]})
    run.request(client, "POST", "/_aknn_index", same, what="warmup")
    search(run, client, corpus, 1)
    run.setup_s = pre + (now() - t)
    run.mark("warmup")
    run.search_ms = []
    t_mix = now()
    t_end = t_mix + run.seconds
    k = 0
    files_per_write = []
    while k < len(ops) and now() < t_end:
        op, i = ops[k]
        traced = run.tracer is not None and k % 2 == 0
        if run.tracer is not None:
            run.tracer.enabled = traced
        before = store_files(run)
        if op == "search":
            rtt = search(run, client, corpus, i, traced)
            run.search_ms.append(rtt * 1e3)
            (run.extra.setdefault("traced_ms" if traced else "untraced_ms", [])).append(rtt * 1e3)
        elif op == "compact":
            compact_index(run, client)
        else:
            if op == "delete":
                _, rtt = run.request(client, "DELETE", f"/{INDEX}/{i}", what="write", traced=traced)
                corpus.drop(i)
                run.extra["write_request_bytes"].append(0)
            else:
                v, body = bodies[k]
                _, rtt = run.request(client, "POST", "/_aknn_index", body, what="write",
                                     traced=traced)
                corpus.put(i, v)
                run.extra["write_request_bytes"].append(len(body))
            run.write_ms.append(rtt * 1e3)
            files_per_write.append(store_files(run) - before)
            read_back(run, client, corpus, i)
        k += 1
    if run.tracer is not None:
        run.tracer.enabled = False
        run.extra["files_per_write"] = files_per_write
    run.mark("mix")
    run.extra["mix_s"] = now() - t_mix
    run.queries = len(run.search_ms)
    run.search_busy_s = sum(run.search_ms) / 1e3
    store_snapshot(run, "after_mix")


def store_files(run: Run) -> int:
    """Files under the index store; counted in traced runs only."""
    if run.tracer is None:
        return 0
    return sum(len(f) for _, _, f in os.walk(run.store_root()))


def read_back(run: Run, client, corpus: check.Corpus, i: int) -> None:
    """GET /{index}/{id}: a deleted doc must 404, a written one must return
    its new vector exactly."""
    if corpus.live[i]:
        payload, _ = run.request(client, "GET", f"/{INDEX}/{i}", what="doc_get", traced=False)
        if payload is not None and payload.get("_source", {}).get("_aknn_vector") != corpus.vectors[i].tolist():
            run.fail(f"doc {i}: read back a different vector than was written")
    else:
        run.request(client, "GET", f"/{INDEX}/{i}", expect=(404,), what="doc_get", traced=False)


# ---- batch_ann ----

def batch_ann(run: Run) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from elastik_nearest_neighbors_spark import api

    spark = run.start_session()
    vectors = inputs.mixture(run.rng, BATCH_DOCS)
    corpus = check.Corpus(vectors)
    path = os.path.join(run.work, "corpus")
    os.makedirs(path)
    files = 8
    step = BATCH_DOCS // files
    for f in range(files):
        rows = range(f * step, (f + 1) * step)
        pq.write_table(pa.table({
            "_id": pa.array(rows, pa.int64()),
            "_aknn_vector": pa.array([vectors[i] for i in rows], pa.list_(pa.float64())),
        }), os.path.join(path, f"part-{f}.parquet"))
    docs = spark.read.parquet(path)
    run.mark("data")
    batches = inputs.query_batches(run.rng, BATCH_DOCS, BATCH_QUERIES, 1000)
    warm = inputs.query_batches(run.rng, BATCH_DOCS, BATCH_QUERIES, 2)
    model = guarded(run, lambda: api.aknn_create(docs))
    run.extra["model"] = model
    # warm-up: one index pass and two search batches (JIT, Python workers);
    # after one batch the first measured calls were still getting faster
    noop(api.aknn_index(docs, model))
    for ids in warm:
        api.aknn_search(api.aknn_index(docs, model), ids, K1, K2).collect()
    run.setup_s = now() - run.extra["t_start"]
    run.mark("warmup")
    if run.tracer is not None:
        run.tracer.enabled = True

    chunk = BATCH_DOCS // INDEX_CHUNKS
    t = now()
    for c in list(range(INDEX_CHUNKS)) * INDEX_PASSES:
        part = docs.where((docs["_id"] >= c * chunk) & (docs["_id"] < (c + 1) * chunk))
        with run.client_span("client.stage"):
            t_c = now()
            guarded(run, lambda: noop(api.aknn_index(part, model)))
            run.write_ms.append((now() - t_c) * 1e3)
    run.ingest_docs_per_s = INDEX_PASSES * BATCH_DOCS / (now() - t)
    run.extra["hash_s"] = now() - t
    run.extra["hashed_vectors"] = INDEX_PASSES * BATCH_DOCS
    run.extra["queries_per_call"] = BATCH_QUERIES
    run.mark("ingest")

    answers = []

    def one(ids, traced=True):
        with run.client_span("client.search", traced):
            t_s = now()
            rows = guarded(
                run, lambda: api.aknn_search(api.aknn_index(docs, model), ids, K1, K2).collect()
            )
        answers.append((ids, rows or []))
        return now() - t_s

    stream = iter(batches)
    if run.tracer is not None:
        single_client(run, lambda traced: one(next(stream), traced), run.seconds)
    else:
        t_end = now() + run.seconds
        # stop when the next call would not finish inside the window
        while now() + (statistics.median(run.search_ms) / 1e3 if run.search_ms else 0) < t_end:
            run.search_ms.append(one(next(stream)) * 1e3)
        run.queries = len(run.search_ms) * BATCH_QUERIES
        run.search_busy_s = sum(run.search_ms) / 1e3
    run.mark("searches")
    run.extra["sampled_queries"] = [q for ids, _ in answers for q in ids][:SAMPLED_QUERIES]
    for ids, rows in answers:
        by_q: dict[int, list] = {q: [] for q in ids}
        for r in sorted(rows, key=lambda r: (r.query_id, r.distance, r.neighbor_id)):
            by_q.setdefault(r.query_id, []).append((r.neighbor_id, r.distance))
        for q, hits in by_q.items():
            problems, recall = check.check_hits(corpus, q, hits)
            for p in problems:
                run.fail(p)
            run.recalls.append(recall)
    run.extra["corpus"] = corpus


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def guarded(run: Run, fn):
    run.attempt()
    try:
        return fn()
    except Exception as exc:  # noqa: BLE001 — a failed call is counted, not fatal
        run.fail(f"{type(exc).__name__}: {str(exc)[:200]}")
        return None


WORKLOADS = {"serve_read": serve_read, "serve_write": serve_write, "batch_ann": batch_ann}


# ---- metrics ----

def end_to_end(run: Run, peak_rss_mb: float) -> tuple[dict, dict]:
    """(metrics, sample counts)."""
    m = {
        "setup_s": (run.setup_s, "s"),
        "ok_frac": ((run.attempted - run.failed) / max(1, run.attempted), "fraction"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "search_p50_ms": (statistics.median(run.search_ms), "ms"),
        "search_p90_ms": (pct(run.search_ms, 0.9), "ms"),
        "search_qps": (run.queries / run.search_busy_s, "1/s"),
        "ingest_docs_per_s": (run.ingest_docs_per_s, "1/s"),
        "write_p50_ms": (statistics.median(run.write_ms), "ms"),
        "write_p90_ms": (pct(run.write_ms, 0.9), "ms"),
        "recall_at_10": (statistics.fmean(run.recalls), "fraction"),
    }
    samples = {
        "search_p50_ms": len(run.search_ms), "search_p90_ms": len(run.search_ms),
        "search_qps": run.queries, "write_p50_ms": len(run.write_ms),
        "write_p90_ms": len(run.write_ms), "recall_at_10": len(run.recalls),
        "setup_s": 1, "ok_frac": run.attempted, "peak_rss_mb": 1, "ingest_docs_per_s": 1,
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}, samples


def per_layer(run: Run, workload: str) -> tuple[dict, dict]:
    """(metrics for the result line, full detail for the trace file)."""
    spans = [s for s in run.tracer.spans if s["end"] is not None]
    jobs = spark_jobs(run.spark)
    selfs = self_times(spans)
    kids: dict[int, list] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def desc(span, name):
        out, todo = [], list(kids.get(span["id"], []))
        while todo:
            c = todo.pop()
            if c["name"] == name:
                out.append(c)
            todo.extend(kids.get(c["id"], []))
        return out

    def med(xs, default=0.0):
        return float(statistics.median(xs)) if xs else default

    def per_call(kind):
        calls = [s for s in spans if s["name"] == f"client.{kind}"]
        rows = []
        for s in calls:
            js = jobs_in(jobs, s["start"], s["end"])
            rows.append({
                "ms": (s["end"] - s["start"]) * 1e3,
                "jobs": len(js), "stages": sum(j["stages"] for j in js),
                "tasks": sum(j["tasks"] for j in js),
                "driver_only_ms": driver_only(js, s["start"], s["end"]) * 1e3,
                "task_cpu_ms": sum(j["cpu_ms"] for j in js),
                "udf_gap_ms": sum(j["run_ms"] - j["cpu_ms"] for j in js),
                "shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in js),
                "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in js),
                "server_ms": sum((c["end"] - c["start"]) * 1e3 for c in kids.get(s["id"], [])
                                 if c["layer"] == "server"),
                "plan_ms": sum((c["end"] - c["start"]) * 1e3
                               for c in desc(s, "operators.knn.rank_term_matches")),
                "plan_end": max([c["end"] for c in desc(s, "operators.knn.rank_term_matches")],
                                default=None),
                "end": max([c["end"] for c in kids.get(s["id"], []) if c["layer"] == "server"],
                           default=s["end"]),
            })
        return rows

    # "stage" calls are the ingest path (staged bulk batches, or aknn_index
    # chunks); they are also the write calls where a workload has no
    # point writes
    search_rows, ingest_rows = per_call("search"), per_call("stage")
    write_rows = per_call("write") or ingest_rows

    layer_self: dict[str, float] = {}
    for s in spans:
        layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + selfs[s["id"]] * 1e3
    server_calls: dict[str, int] = {}
    for s in spans:
        if s["layer"] == "server":
            server_calls[s["name"]] = server_calls.get(s["name"], 0) + 1

    def share(rows, key):
        return med([r[key] / r["ms"] for r in rows if r["ms"] > 0])

    traced_ms, untraced_ms = run.extra.get("traced_ms", []), run.extra.get("untraced_ms", [])
    p50_4 = run.extra.get("p50_4_clients_ms")
    queue_share = 0.0
    if p50_4 and untraced_ms:
        queue_share = (p50_4 - med(untraced_ms)) / p50_4
    create = [s for s in spans if s["name"] == "api.aknn_create"]
    compact_s = run.extra.get("compact_s", [])
    store = run.extra.get("store", {})
    last_store = store.get("after_mix") or store.get("after_bulk") or {"files": 0, "dirs": 0, "bytes": 0}
    user_bytes = SERVE_DOCS * inputs.DIM * 8
    cands, per_hit = candidate_ratios(run, workload)
    hash_s = run.extra.get("hash_s", 0.0)

    m = {
        "session.start_ms": (run.extra["session_start_s"] * 1e3, "ms"),
        "session.spark.search.jobs": (med([r["jobs"] for r in search_rows]), "count"),
        "session.spark.search.stages": (med([r["stages"] for r in search_rows]), "count"),
        "session.spark.search.tasks": (med([r["tasks"] for r in search_rows]), "count"),
        "session.spark.search.driver_only_ms": (med([r["driver_only_ms"] for r in search_rows]), "ms"),
        "session.spark.search.task_cpu_ms": (med([r["task_cpu_ms"] for r in search_rows]), "ms"),
        "session.spark.search.shuffle_read_bytes": (med([r["shuffle_read_bytes"] for r in search_rows]), "bytes"),
        "session.spark.search.shuffle_write_bytes": (med([r["shuffle_write_bytes"] for r in search_rows]), "bytes"),
        "session.spark.write.jobs": (med([r["jobs"] for r in write_rows]), "count"),
        "session.spark.write.tasks": (med([r["tasks"] for r in write_rows]), "count"),
        "session.spark.write.driver_only_ms": (med([r["driver_only_ms"] for r in write_rows]), "ms"),
        "session.spark.ingest.udf_gap_ms": (sum(r["udf_gap_ms"] for r in ingest_rows), "ms"),
        "session.spark.gc_ms": (sum(j["gc_ms"] for j in jobs), "ms"),
        "session.spark.jobs": (len(jobs), "count"),
        "api.create_ms": ((create[0]["end"] - create[0]["start"]) * 1e3 if create else 0.0, "ms"),
        "api.calls": (sum(1 for s in spans if s["layer"] == "api"), "count"),
        "operators.lsh.hash_ms": (hash_s * 1e3, "ms"),
        "operators.lsh.vectors_per_s": (run.extra.get("hashed_vectors", 0) / hash_s if hash_s else 0.0, "1/s"),
        "operators.knn.plan_ms": (med([r["plan_ms"] for r in search_rows]), "ms"),
        "operators.knn.exec_ms": (med([(r["end"] - r["plan_end"]) * 1e3 for r in search_rows
                                       if r["plan_end"] is not None]), "ms"),
        "operators.knn.candidates_per_query": (cands, "count"),
        "operators.knn.candidates_per_hit": (per_hit, "count"),
        "server.calls": (sum(server_calls.values()), "count"),
        "server.failed": (sum(1 for s in spans if s["layer"] == "server" and not s["ok"]), "count"),
        "server.search.busy_share": (share(search_rows, "server_ms"), "fraction"),
        "server.queue_share": (queue_share, "fraction"),
        "server.repeat_id_share": (run.extra.get("repeat_id_share", 0.0), "fraction"),
        "server.wire.search.overhead_share": (
            med([1 - r["server_ms"] / r["ms"] for r in search_rows if r["server_ms"]]), "fraction"),
        "server.wire.write.overhead_share": (
            med([1 - r["server_ms"] / r["ms"] for r in write_rows if r["server_ms"]]), "fraction"),
        "server.wire.write.request_bytes": (med(run.extra.get("write_request_bytes", [])), "bytes"),
        "sources.index_store.files": (last_store["files"], "count"),
        "sources.index_store.dirs": (last_store["dirs"], "count"),
        "sources.index_store.bytes": (last_store["bytes"], "bytes"),
        "sources.index_store.files_per_write": (med(run.extra.get("files_per_write", [])), "count"),
        "sources.index_store.bytes_per_user_byte": (last_store["bytes"] / user_bytes if last_store["bytes"] else 0.0, "ratio"),
        "sources.index_store.compact_share": (
            sum(compact_s) / run.extra["mix_s"] if run.extra.get("mix_s") else 0.0, "fraction"),
        "trace.overhead_ms": (med(traced_ms) - med(untraced_ms) if traced_ms and untraced_ms else 0.0, "ms"),
    }
    metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
    detail = {
        "layer_self_ms": layer_self,
        "server_calls": server_calls,
        "server_busy_ms": {
            name: sum((s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == name)
            for name in server_calls
        },
        "server.queue_ms": (p50_4 - med(untraced_ms)) if p50_4 and untraced_ms else None,
        "wire_overhead_ms": {
            "search": med([r["ms"] - r["server_ms"] for r in search_rows if r["server_ms"]]),
            "write": med([r["ms"] - r["server_ms"] for r in write_rows if r["server_ms"]]),
        },
        "compact_ms": [c * 1e3 for c in compact_s],
        "store": store,
        "search_calls": search_rows,
        "write_calls": write_rows,
        "traced_ms": traced_ms,
        "untraced_ms": untraced_ms,
        "jobs": jobs,
        "spans": spans,
    }
    return metrics, detail


def candidate_ratios(run: Run, workload: str) -> tuple[float, float]:
    """Candidates per query (live docs sharing a hash term with it) and
    candidates per true top-10 neighbour returned, from the model's
    hyperplanes applied to the benchmark's own copy of the vectors."""
    from elastik_nearest_neighbors_spark.api import AknnModelRegistry

    qids = run.extra.get("sampled_queries", [])
    if not qids:
        return 0.0, 0.0
    model = run.extra.get("model") or AknnModelRegistry(
        os.path.join(run.work, "store", "models")).get(MODEL)
    corpus = run.extra["corpus"]
    terms = check.lsh_terms(model, corpus.vectors)
    per_query = statistics.fmean(check.candidates(terms, corpus.live, q) for q in qids)
    useful = statistics.fmean(run.recalls) * K2 if run.recalls else 0.0
    return per_query, per_query / useful if useful else 0.0
