"""Repeatability check: two sets of runs of the same tree, compared against
the bounds in BENCHMARK.json.

    python3 perfbench/repeat.py --runs 10 [--workloads serve_read batch_ann]

For every workload, runs 2 x --runs untraced runs, alternating the sets,
each run with its own seed (set A: 1..runs, set B: 1001..1000+runs). For
each end-to-end metric it prints the spread of each set (distance between
the first and third quartile as a share of the median) and the shift of
set B's median from set A's, in the direction that counts as worse. A
spread above the metric's bound (setup_s excepted) or a shift above it
fails the check, and the exit code is non-zero. Raw result lines are kept
in .perfbench/repeat-<workload>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(a: list[float], b: list[float], better: str) -> float:
    """How much worse set B's median is than set A's, as a share of A's."""
    ma, mb = statistics.median(a), statistics.median(b)
    return (mb - ma) / ma if better == "lower" else (ma - mb) / ma


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} exited {out.returncode}:\n"
                         f"{out.stdout[-2000:]}\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    ok = True
    for w in args.workloads:
        sets: dict[str, list[dict]] = {"A": [], "B": []}
        log = os.path.join(ROOT, ".perfbench", f"repeat-{w}.jsonl")
        with open(log, "w") as f:
            for i in range(args.runs):
                for name, seed in (("A", 1 + i), ("B", 1001 + i)):
                    res = run_once(w, seed, bench["run_seconds"])
                    sets[name].append(res)
                    f.write(json.dumps({"set": name, "seed": seed, **res}) + "\n")
                    f.flush()
        print(f"{w}: {args.runs} runs per set")
        print(f"  {'metric':<20}{'median A':>14}{'median B':>14}{'spread A':>10}"
              f"{'spread B':>10}{'worse':>8}{'bound':>7}")
        for m in bench["end_to_end"]:
            a = [r["metrics"][m["name"]]["value"] for r in sets["A"]]
            b = [r["metrics"][m["name"]]["value"] for r in sets["B"]]
            sa, sb, wb = spread(a), spread(b), worse_by(a, b, m["better"])
            bad = wb > m["bound"] or (m["name"] != "setup_s" and max(sa, sb) > m["bound"])
            ok &= not bad
            print(f"  {m['name']:<20}{statistics.median(a):>14.4f}{statistics.median(b):>14.4f}"
                  f"{sa:>10.3f}{sb:>10.3f}{wb:>8.3f}{m['bound']:>7.2f}"
                  f"{'  FAIL' if bad else ''}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
