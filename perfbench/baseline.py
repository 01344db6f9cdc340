"""Run every workload on several seeds and record the medians and spreads.

    python3 perfbench/baseline.py --runs 10 --first-seed 1
    python3 perfbench/baseline.py --runs 10 --first-seed 11   # a second set

Each run is ``run.py --trace 0`` with its own seed, one after another.
For every end-to-end metric this prints the median and the spread (the
distance between the first and third quartile, as a share of the median)
next to the metric's bound.  A set is appended to ``--out`` whether it
holds or not, with the raw values, each run's duration and the box's load
(``session.load_context()``, before and after).  From the second set on,
each median is also compared with the first set's: a metric holds when its
spread is within its bound (``setup_s`` is exempt) and its median is not
worse than the first set's by more than the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPREAD_EXEMPT = ("setup_s",)


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``."""
    change = (second - first) / first
    return change if better == "lower" else -change


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out", default=os.path.join(HERE, "baseline.json"))
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from etl_embargo_spark.session import load_context

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    doc = {"sets": []}
    if os.path.exists(args.out):
        with open(args.out) as f:
            doc = json.load(f)
    sets = doc["sets"]
    first = sets[0]["workloads"] if sets else {}
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    seeds = list(range(args.first_seed, args.first_seed + args.runs))
    report = {"load_start": load_context(), "cpus": len(os.sched_getaffinity(0)),
              "run_seconds": spec["run_seconds"], "seeds": seeds, "workloads": {}}
    ok = True
    for w in workloads:
        values: dict[str, list[float]] = {}
        run_s = []
        iterations = []  # each run's timed iterations, in order
        steal_s = []  # CPU time the host took from this machine, per run
        for seed in seeds:
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            run_s.append(round(time.monotonic() - t0, 1))
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            if proc.returncode != 0 or res is None or not res["correct"]:
                print(f"{w} seed {seed}: FAILED (exit {proc.returncode})", file=sys.stderr)
                print(proc.stderr[-2000:], file=sys.stderr)
                ok = False
                continue
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            iterations.append(next(
                (json.loads(ln.split(" ", 2)[2]) for ln in lines
                 if ln.startswith("# iterations_s ")), []))
            steal_s.append(next(
                (float(ln.split()[2]) for ln in lines if ln.startswith("# host_steal_s ")), 0.0))
            print(f"{w} seed {seed} ({run_s[-1]} s): " + " ".join(
                f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()), flush=True)
        rows = {"run_s": run_s, "iterations_s": iterations, "host_steal_s": steal_s}
        for m in spec["end_to_end"]:
            v = values.get(m["name"], [])
            if len(v) < 2:
                ok = False
                continue
            row = {
                "median": statistics.median(v), "spread": spread(v),
                "bound": m["bound"], "unit": m["unit"], "values": v,
            }
            holds = m["name"] in SPREAD_EXEMPT or row["spread"] <= m["bound"]
            base = first.get(w, {}).get(m["name"])
            note = ""
            if base:
                row["worse_than_first_set_by"] = worse_by(base["median"], row["median"], m["better"])
                holds = holds and row["worse_than_first_set_by"] <= m["bound"]
                note = f", {row['worse_than_first_set_by']:+.3f} worse than the first set"
            row["holds"] = holds
            ok = ok and holds
            rows[m["name"]] = row
            print(f"  {w} {m['name']}: median {row['median']:.4g} {m['unit']}, "
                  f"spread {row['spread']:.3f}{note} (bound {m['bound']})"
                  f"{'' if holds else ' -- DOES NOT HOLD'}", flush=True)
        report["workloads"][w] = rows
    report["load_end"] = load_context()
    report["holds"] = ok
    sets.append(report)
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
