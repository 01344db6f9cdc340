"""Benchmark entry point.

    python3 perfbench/run.py --workload embargo_day --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  This process makes the workload's inputs
from ``--seed`` (untimed), starts ``driver.py`` in a new session with
Spark configured through its own channels (``PYSPARK_SUBMIT_ARGS``,
``SPARK_LOCAL_DIRS``), samples the resident memory of the driver's JVM and
Python workers from ``/proc`` while it runs, and prints every metric by
name and unit.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics of ``BENCHMARK.json``, ``--trace 1`` the per-layer
ones (a layer the workload does not call reads 0).

Exit status is 0 only when every output matched its manifest or oracle.
All files go under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("embargo_day", "reference_sql")
TABLE_SF = "0.01"
TIME_LIMIT_S = 170.0


def spark_cores() -> int:
    """Cores the driver runs tasks on: half of those the benchmark may use.
    The JVM's own threads and the Python workers need the rest; with all of
    them given to tasks, losing two cores to other load made an embargo day
    92 % slower, against 31 % on half (README, "Steadiness")."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def session_pids(sid: int) -> list[int]:
    """Every process in session ``sid``."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[3]) == sid:
                    out.append(int(pid))
        except (OSError, ValueError, IndexError):
            continue  # the process ended while being read
    return out


def rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


def steal_ticks() -> int:
    """CPU time the hypervisor gave to other guests while this machine's
    vCPUs wanted to run, in clock ticks summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def reap_group(sid: int) -> None:
    """Make sure nothing the driver started outlives the run."""
    for sig, wait_s in ((None, 10.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            try:
                os.killpg(sid, sig)
            except ProcessLookupError:
                return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            if not session_pids(sid):
                return
            time.sleep(0.1)


def make_inputs(work: str, workload: str, seed: int) -> dict[str, str]:
    """Generate (or reuse) this seed's inputs; inputs of other seeds are
    removed so the work directory stays small."""
    inputs = os.path.join(work, "inputs")
    mine = os.path.join(inputs, f"seed{seed}")
    if os.path.isdir(inputs):
        for d in os.listdir(inputs):
            if d != f"seed{seed}":
                shutil.rmtree(os.path.join(inputs, d))
    tables = os.path.join(mine, f"sf{TABLE_SF}")
    if not os.path.exists(os.path.join(tables, "_done")):
        shutil.rmtree(tables, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "gen_testdata.py"),
             "--sf", TABLE_SF, "--seed", str(seed), "--out", tables],
            check=True, stdout=subprocess.DEVNULL,
        )
        open(os.path.join(tables, "_done"), "w").close()
    out = {"tables": tables}
    if workload == "embargo_day":
        import corpus

        day = os.path.join(mine, "day")
        if not os.path.exists(os.path.join(day, "_done")):
            shutil.rmtree(day, ignore_errors=True)
            corpus.generate(day, seed)
            open(os.path.join(day, "_done"), "w").close()
        out["day"] = day
    return out


def child_env(work: str, trace: bool, event_log: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.local.dir={local}",
        # Two JVM settings take warm-up and heap sizing out of the noise
        # between runs (README, "Steadiness").  C1 only: with the default
        # tiered JIT, C2 compiler threads compete with the task threads for
        # the cores for the first ~25 s, and each iteration is faster than
        # the one before; C1 is at its steady speed after the cold
        # iteration, as fast as the C2 plateau on both workloads.  A 2 GB
        # initial heap: G1 otherwise settles on a heap of 0.7-1.1 GB that
        # differs from run to run, and a small one runs a concurrent mark
        # cycle every few hundred ms.
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -Xms2g",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)
    env.update(
        SPARK_GRAFT_CPUS=str(spark_cores()),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit) + " pyspark-shell",
    )
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    # A SIGTERM must still run the clean-up below that stops the driver.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    engine = os.path.join(ROOT, "etl_embargo_spark", "__init__.py")
    generator = os.path.join(ROOT, "tools", "gen_testdata.py")
    for need in (spec_path, engine, generator):
        if not os.path.exists(need):
            print(f"perfbench: {need} is missing; run from a full checkout", file=sys.stderr)
            return 2
    with open(spec_path) as f:
        spec = json.load(f)

    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench_work")
    inputs = make_inputs(work, args.workload, args.seed)
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    event_log = os.path.join(run_dir, "eventlog")
    os.makedirs(event_log)
    result_path = os.path.join(run_dir, "result.json")

    cmd = [
        sys.executable, os.path.join(HERE, "driver.py"),
        "--workload", args.workload, "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--tables", inputs["tables"],
        "--run-dir", run_dir, "--event-log", event_log, "--result", result_path,
    ]
    if "day" in inputs:
        cmd += ["--day", inputs["day"]]
    cmd += ["--spawned-at", repr(time.time())]
    steal0 = steal_ticks()
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=child_env(work, bool(args.trace), event_log),
        stdout=sys.stderr, start_new_session=True,
    )
    # Sample the JVM and the Python workers (not the driver's own Python
    # process) every 0.2 s; look for new processes once a second, since a
    # full /proc walk costs CPU the workload would otherwise get.
    samples: list[tuple[float, int]] = []
    timed_out = False
    pids: list[int] = []
    tick = 0
    try:
        while proc.poll() is None:
            if tick % 5 == 0:
                pids = [p for p in session_pids(proc.pid) if p != proc.pid]
            tick += 1
            samples.append((time.time(), rss_bytes(pids)))
            if time.monotonic() - t_start > TIME_LIMIT_S:
                timed_out = True
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                break
            time.sleep(0.2)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        reap_group(proc.pid)
    if timed_out or proc.returncode != 0 or not os.path.exists(result_path):
        why = "timed out" if timed_out else f"exited with {proc.returncode}"
        print(f"perfbench: driver {why}", file=sys.stderr)
        return 1

    steal_s = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    with open(result_path) as f:
        res = json.load(f)
    lo, hi = res["timed_window"]
    timed = [b for t, b in samples if lo <= t <= hi] or [b for _, b in samples] or [0]
    e2e = {
        "setup_s": res["setup_s"],
        "wall_s": res["wall_s"],
        "input_mb_s": res["input_mb_s"],
        "rss_mb": statistics.median(timed) / 1e6,
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    layers = res["layers"]
    layers["memory.peak_rss_mb"] = max((b for _, b in samples), default=0) / 1e6
    attempted, failed = res["attempted"], res["failed"]

    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(res['runs'])} timed iterations, closed loop, 1 client, "
          f"local[{spark_cores()}] on {len(os.sched_getaffinity(0))} cores")
    print(f"# iterations_s {json.dumps([round(w, 4) for w, _ in res['runs']])}")
    for name, v in e2e.items():
        print(f"{name} {v:.6g} {units[name]}" + (" (traced run)" if args.trace else ""))
    print(f"peak_rss_mb {layers['memory.peak_rss_mb']:.6g} MB (whole run, not gated)")
    print(f"error_rate {failed / max(attempted, 1):.6g} ratio ({failed}/{attempted})")
    if args.trace:
        for m in spec["per_layer"]:
            print(f"{m['name']} {layers.get(m['name'], 0):.6g} {m['unit']}")
        # Times of layers only one workload calls: printed and in the
        # spans, but not in the JSON, where the other workload would
        # report a constant 0.
        for name in sorted(set(layers) - set(units)):
            print(f"{name} {layers[name]:.6g} {'s' if name.endswith('_s') else 'count'} (detail)")
        print(f"# spans: {os.path.relpath(os.path.join(run_dir, 'spans.json'), ROOT)}")
    # Read next to wall_s: a run in which the host took much CPU time from
    # this machine is slow for reasons outside the program.
    print(f"# host_steal_s {steal_s:.1f} s (CPU time taken by the host, all CPUs)")
    for p in res["problems"]:
        print(f"# mismatch: {p}")

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else e2e
    metrics = {
        m["name"]: {"value": source.get(m["name"], 0), "unit": m["unit"]} for m in names
    }
    print(f"perfbench: run took {time.monotonic() - t_start:.1f}s", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
