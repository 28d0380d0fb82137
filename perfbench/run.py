"""EsAknn serving benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It builds nothing: the program is imported
from the checkout. Inputs are generated from --seed, every output is
checked against numpy ground truth, and the last line of standard output
is one JSON object {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics, and the spans, Spark jobs and
per-call detail are written to .perfbench/trace-<workload>-<seed>.json.
The exit code is non-zero when any request fails or any check fails.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()


def host_probe_ms() -> float:
    """A fixed single-thread Python loop, timed. Printed with every result so
    that host speed drift between runs can be told apart from the program."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return (time.perf_counter() - t) * 1e3


PROBE_START_MS = host_probe_ms()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")


def prepare_env(work: str) -> None:
    """Keep every file Spark and its workers write inside the checkout, and
    size the session for a small shared host."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # without PerfDisableSharedMem the JVM writes /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 1)))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> float:
    """Peak resident memory of this process (it hosts the server) plus its
    JVM child, from VmHWM."""
    me = os.getpid()
    jvms = [p for p in descendants(me) if comm(p) == "java"]
    return (status_kb(me, "VmHWM") + sum(status_kb(p, "VmHWM") for p in jvms)) / 1024


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    owns) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 15
    while time.time() < deadline and any(os.path.exists(f"/proc/{k}") for k in kids):
        time.sleep(0.1)


def provenance(args, work_sizes: dict) -> dict:
    import hashlib
    import platform

    import numpy
    import pyspark

    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "elastik_nearest_neighbors_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    digest.update(os.path.relpath(os.path.join(base, f), ROOT).encode())
                    digest.update(fh.read())
    try:
        java = subprocess.run(["java", "-version"], capture_output=True, text=True,
                              timeout=30).stderr.splitlines()
        java = next(line for line in java if not line.startswith("Picked up"))
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_DRIVER_MEM": os.environ.get("SPARK_DRIVER_MEM"),
        "ram_mb": ram_mb(),
        "java": java, "python": platform.python_version(),
        "pyspark": pyspark.__version__, "numpy": numpy.__version__,
        "source_sha256": digest.hexdigest()[:16],
        "host_probe_ms": [round(PROBE_START_MS, 2), round(host_probe_ms(), 2)],
        **work_sizes,
    }


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) // 1024


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve_read", "serve_write", "batch_ann"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    import importlib.util

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("elastik_nearest_neighbors_spark") is None:
        print(f"the program (elastik_nearest_neighbors_spark) is not in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    from perfbench import workloads as W

    run = W.Run(args.seed, args.seconds, work, bool(args.trace))
    run.extra["t_start"] = T_START
    rss = None
    try:
        W.WORKLOADS[args.workload](run)
        rss = peak_rss_mb()
        if args.trace:
            metrics, detail = W.per_layer(run, args.workload)
    finally:
        if run.server is not None:
            run.server.stop()
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        run.mark("stop")

    sizes = {
        "serve_docs": W.SERVE_DOCS, "batch_docs": W.BATCH_DOCS,
        "batch_queries": W.BATCH_QUERIES, "stage_batches": W.STAGE_BATCHES,
        "read_clients": W.READ_CLIENTS if args.workload == "serve_read" else 1,
        "k1": W.K1, "k2": W.K2, "lsh_tables_bits": list(W.lsh_shape()),
    }
    prov = provenance(args, sizes)
    if not args.trace:
        metrics, samples = W.end_to_end(run, rss)
        print("provenance " + json.dumps(prov))
        print("phases " + json.dumps(run.extra.get("phases", [])))
        for name, m in metrics.items():
            print(f"{name:>18} {m['value']:14.4f} {m['unit']:<9} n={samples[name]}")
    else:
        detail["provenance"] = prov
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(detail, f, default=str)
        print("provenance " + json.dumps(prov))
        print(f"trace written to {os.path.relpath(path, ROOT)}")
    for p in run.problems:
        print("FAILED CHECK " + p)
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
