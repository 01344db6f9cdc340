"""One benchmark run of one workload, in its own process.

``run.py`` generates the inputs, starts this process, samples its memory
and prints the result; this process owns the Spark session.  It sets the
session up through ``session.get_spark``, runs the workload closed-loop
(one client: each step starts when the previous one has finished), checks
every output outside the timed regions and writes a JSON result file.

Time starts when ``run.py`` spawns this process, so ``setup_s`` covers
interpreter start, imports, ``get_spark`` and the warm-up (a ``q_count``
scan for the JVM and parquet footers, then one ``mapInPandas`` job that
spawns the Python workers).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

PHASES = ("build", "exec")

# Timed iterations run until --seconds have passed, and at least this many,
# so that wall_s is a median of several iterations.
MIN_ITERATIONS = 5

# The untimed first embargo day runs over this many archives of the day (two
# per task thread on a 4-core machine), so that every Python worker the day
# uses has run, for less than the cost of a cold full day.
WARMUP_ARCHIVES = 4

# The reference's set-algebra and listing surface (split, whitelist semi
# join, embargo and sync anti joins, compare, overwrite merge) plus two
# relational shapes: an aggregate, and a multi-join with a correlated
# minimum.  All are read-only and have DuckDB oracles that hold on any
# generated seed.  q_join_revenue is left out: it rounds a double sum to
# cents, and on some seeds the two engines round a half cent differently.
REFERENCE_SQL = [
    "q_split_partition",
    "q_whitelist_semi",
    "q_embargo_anti",
    "q_sync_anti",
    "q_compare_full_outer",
    "q_overwrite_merge",
    "q_pricing_summary",
    "q_min_cost_supplier",
]


def release_blocks(spark) -> int:
    """Count the persistent RDDs a step left behind, then drop them and the
    cache so the next step starts from parquet."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    left = rdds.size()
    for jrdd in list(rdds.values()):
        jrdd.unpersist(False)
    spark.catalog.clearCache()
    return left


def warm_python_workers(spark) -> None:
    def ident(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism
    (
        spark.range(n).repartition(n)
        .mapInPandas(ident, schema="id long")
        .write.format("noop").mode("overwrite").save()
    )


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.workload = args.workload
        self.ops = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layers: dict[str, float] = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
        print(f"perfbench: {what}", file=sys.stderr)

    def set_group(self, name: str) -> None:
        """Label the next jobs ``<workload>:<name>`` (traced runs only)."""
        if self.traced:
            self.sc.setJobGroup(f"{self.workload}:{name}", name)

    def tracker_counts(self, group: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"{self.workload}:{group}")
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        return len(jobs), stages, tasks

    # -- set-up -------------------------------------------------------------
    def setup(self) -> None:
        from etl_embargo_spark import registry
        from etl_embargo_spark.session import get_spark

        import spans as tr

        import_s = time.time() - self.args.spawned_at  # process start -> engine imported
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        t1 = time.perf_counter()
        registry.queries()["q_count"](self.spark, self.args.tables).collect()
        warm_python_workers(self.spark)
        t2 = time.perf_counter()
        self.setup_s = import_s + (t2 - t0)
        self.layers["session.import_s"] = import_s
        self.layers["session.start_s"] = t1 - t0
        self.layers["session.warm_s"] = t2 - t1
        print(f"perfbench: setup {self.setup_s:.2f}s", file=sys.stderr)
        self.traced = bool(self.args.trace)
        self.tracer = tr.Tracer(enabled=False)  # timed_loop turns it on per step

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    def timed_loop(self, step) -> list[tuple[float, bool]]:
        """Closed loop: call ``step(traced)`` until ``--seconds`` have
        passed, at least ``MIN_ITERATIONS`` times.  A step returns its wall
        time, or None when it failed; a failed step is counted through
        ``fail`` and its time is left out.  A traced run alternates
        untraced and traced steps, so the tracing overhead can be read off
        the same process."""
        out = []
        self.window = [time.time()]
        t_end = time.perf_counter() + self.args.seconds
        k = 0
        while time.perf_counter() < t_end or k < MIN_ITERATIONS:
            traced = self.traced and k % 2 == 1
            self.tracer.enabled = traced
            wall = step(traced)
            if wall is not None:
                out.append((wall, traced))
            k += 1
        self.tracer.enabled = False
        self.window.append(time.time())
        return out

    # -- embargo_day --------------------------------------------------------
    def embargo_day(self) -> dict:
        from etl_embargo_spark.plans.embargo_pipeline import embargo_day
        from etl_embargo_spark.sources.text_source import read_whitelist

        import checks
        from layers import EmbargoProbes

        day = self.args.day
        with open(os.path.join(day, "manifest.json")) as f:
            manifest = json.load(f)
        archives = os.path.join(day, "archives")
        warm_archives = os.path.join(self.args.run_dir, "warmup")
        os.makedirs(warm_archives)
        firsts = sorted(manifest["archives"])[:WARMUP_ARCHIVES]
        for name in firsts:
            shutil.copy(os.path.join(archives, name), warm_archives)
        warm_manifest = {
            **manifest,
            "entries": {p: e for p, e in manifest["entries"].items() if e["archive"] in firsts},
        }
        probes = EmbargoProbes(self.spark, self.tracer, self.workload)
        state = {"i": 0, "counts": {}, "written": (0, 0), "tracked": []}
        groups = ("embargo_day:exec", "routed_write:exec", "write_blobs:exec")

        def step(traced: bool, archives=archives, manifest=manifest) -> float | None:
            out = os.path.join(self.args.run_dir, f"day{state['i']}")
            state["i"] += 1
            routed, blobs = os.path.join(out, "routed"), os.path.join(out, "blobs")
            self.ops += 1
            self.tracer.new_trace()
            if traced:
                before = [self.tracker_counts(g) for g in groups]
            self.set_group("embargo_day:exec" if traced else "untraced")
            t0 = time.perf_counter()
            try:
                with probes.installed() if traced else nullcontext():
                    with self.tracer.span("embargo_pipeline.embargo_day"):
                        wl = read_whitelist(self.spark, os.path.join(day, "whitelist"))
                        embargo_day(
                            self.spark, archives, wl, routed,
                            manifest["cutoff"], repack=True, repack_dir=blobs,
                        )
            except Exception as exc:  # a failed day is counted, not fatal
                self.fail(f"embargo_day raised {type(exc).__name__}: {exc}")
                release_blocks(self.spark)
                shutil.rmtree(out, ignore_errors=True)
                return None
            wall = time.perf_counter() - t0
            if traced:
                after = [self.tracker_counts(g) for g in groups]
                state["tracked"].append(
                    [sum(a[k] - b[k] for a, b in zip(after, before)) for k in range(3)]
                )
            self.layers["catalog.blocks_left"] = release_blocks(self.spark)
            problems, counts = checks.check_embargo_day(manifest, routed, blobs)
            state["counts"] = counts
            state["written"] = _tree_stats(out)
            shutil.rmtree(out)
            if problems:
                self.fail(f"embargo_day output: {len(problems)} problems, first: {problems[0]}")
                return None
            return wall

        cold = step(False, warm_archives, warm_manifest) or 0.0
        runs = self.timed_loop(step)
        print(f"perfbench: cold {cold:.2f}s, timed {[round(w, 2) for w, _ in runs]}", file=sys.stderr)
        wall_s = statistics.median(w for w, _ in runs) if runs else 0.0
        res = {
            "wall_s": wall_s,
            "input_mb_s": manifest["input_bytes"] / 1e6 / wall_s if wall_s else 0.0,
            "runs": runs,
        }
        self.layers["iteration.cold_s"] = cold
        if self.traced:
            self.embargo_layers(runs, probes, manifest, state)
        return res

    def embargo_layers(self, runs, probes, manifest, state) -> None:
        import spans as tr

        n = sum(1 for _, t in runs if t) or 1
        spans, selfs = self.tracer.spans, self.tracer.self_times()
        acc = probes.values()
        files, written = state["written"]
        L = self.layers
        L["tar_source.list_s"] = tr.sum_self(spans, "tar_source.read_tar_entries", selfs) / n
        L["tar_source.decode_s"] = acc["decode_s"] / n
        L["tar_source.entries"] = acc["entries"] / n
        L["tar_source.decoded_mb"] = acc["decoded_bytes"] / 1e6 / n
        L["tar_source.repack_s"] = acc["repack_s"] / n
        L["tar_source.read_amplification"] = acc["scan_bytes"] / n / manifest["input_bytes"]
        L["embargo_pipeline.classify_s"] = acc["classify_s"] / n
        L["embargo_pipeline.self_s"] = tr.sum_self(spans, "embargo_pipeline.embargo_day", selfs) / n
        L["embargo_pipeline.public_rows"] = state["counts"].get("public", 0)
        L["embargo_pipeline.private_rows"] = state["counts"].get("private", 0)
        L["routed_write.parquet_s"] = tr.sum_self(spans, "routed_write.write_routed", selfs) / n
        L["routed_write.blobs_s"] = tr.sum_self(spans, "routed_write.write_blobs", selfs) / n
        L["routed_write.written_mb"] = written / 1e6
        L["routed_write.files"] = files
        L["iteration.build_s"] = (
            L["embargo_pipeline.self_s"] + L["tar_source.list_s"]
            + tr.sum_self(spans, "tar_source.repack_archives", selfs) / n
        )
        L["iteration.exec_s"] = L["routed_write.parquet_s"] + L["routed_write.blobs_s"]
        for k, name in enumerate(("jobs", "stages", "tasks")):
            L[f"exec.{name}"] = statistics.median(t[k] for t in state["tracked"])

    # -- query workloads ----------------------------------------------------
    def queries(self, names: list[str]) -> dict:
        from etl_embargo_spark import registry
        from etl_embargo_spark.parity import duckdb_connection

        import checks

        qmap, oracles = registry.queries(), registry.oracle_sql()
        sf = self.args.tables

        # Cold pass: each query once, collected and checked against its
        # oracle.  Untimed apart from the reported cold_s.
        con = duckdb_connection(sf)
        cold = 0.0
        self.set_group("cold")
        for q in names:
            self.ops += 1
            t0 = time.perf_counter()
            try:
                got = qmap[q](self.spark, sf).toPandas()
            except Exception as exc:
                self.fail(f"{q} raised {type(exc).__name__}: {exc}")
                release_blocks(self.spark)
                continue
            cold += time.perf_counter() - t0
            release_blocks(self.spark)
            diff = checks.compare_with_oracle(got, con.execute(oracles[q]).fetchdf())
            if diff:
                self.fail(f"{q} differs from its oracle: {diff}")
        con.close()

        per_query: dict[str, list[float]] = {q: [] for q in names}
        layer: dict[str, list[float]] = {}

        def step(traced: bool, record: bool = True) -> float | None:
            """One pass over the queries; None when any of them failed, and
            then none of the pass's times count."""
            self.tracer.new_trace()
            times: dict[str, float] = {}
            with self.tracer.span(f"{self.workload}.pass"):
                for q in names:
                    self.ops += 1
                    if traced:
                        before = {ph: self.tracker_counts(f"{q}:{ph}") for ph in PHASES}
                    t0 = time.perf_counter()
                    try:
                        self.set_group(f"{q}:build" if traced else "untraced")
                        with self.tracer.span(f"{q}.build"):
                            df = qmap[q](self.spark, sf)
                        t1 = time.perf_counter()
                        self.set_group(f"{q}:exec" if traced else "untraced")
                        with self.tracer.span(f"{q}.exec"):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:
                        self.fail(f"{q} raised {type(exc).__name__}: {exc}")
                        release_blocks(self.spark)
                        continue
                    t2 = time.perf_counter()
                    times[q] = t2 - t0
                    left = release_blocks(self.spark)
                    if traced:
                        after = {ph: self.tracker_counts(f"{q}:{ph}") for ph in PHASES}
                        for ph in PHASES:
                            for k, b, a in zip(("jobs", "stages", "tasks"), before[ph], after[ph]):
                                layer.setdefault(f"{q}.{ph}_{k}", []).append(a - b)
                        layer.setdefault(f"{q}.build_s", []).append(t1 - t0)
                        layer.setdefault(f"{q}.exec_s", []).append(t2 - t1)
                        layer.setdefault(f"{q}.blocks_left", []).append(left)
            if len(times) < len(names):
                return None
            if not record:
                return sum(times.values())
            for q, t in times.items():
                per_query[q].append(t)
            return sum(times.values())

        # One untimed noop pass: the cold pass collected with toPandas, so
        # the first noop-write plans would still be new to codegen.
        warm = step(False, record=False)
        runs = self.timed_loop(step)
        print(f"perfbench: cold {cold:.2f}s, warm {warm or 0:.2f}s, "
              f"timed {[round(w, 2) for w, _ in runs]}", file=sys.stderr)
        # One iteration's wall, composed from each query's median: a noisy
        # neighbour that stalls one query in one pass does not move it.
        # Every list has one time per successful pass.
        wall_s = sum(statistics.median(v) for v in per_query.values()) if runs else 0.0
        self.layers["iteration.cold_s"] = cold
        if self.traced:
            med = {k: statistics.median(v) for k, v in layer.items()}
            L = self.layers
            for q in names:
                L[f"{q}.build_s"] = med.get(f"{q}.build_s", 0.0)
                L[f"{q}.build_jobs"] = med.get(f"{q}.build_jobs", 0)
                L[f"{q}.exec_s"] = med.get(f"{q}.exec_s", 0.0)
            L["registry.build_s"] = sum(L[f"{q}.build_s"] for q in names)
            L["iteration.build_s"] = L["registry.build_s"]
            L["iteration.exec_s"] = sum(L[f"{q}.exec_s"] for q in names)
            L["registry.build_jobs"] = sum(L[f"{q}.build_jobs"] for q in names)
            L["catalog.blocks_left"] = sum(med.get(f"{q}.blocks_left", 0) for q in names)
            for k in ("jobs", "stages", "tasks"):
                L[f"exec.{k}"] = sum(
                    med.get(f"{q}.{ph}_{k}", 0) for q in names for ph in PHASES
                )
        return {
            "wall_s": wall_s,
            "input_mb_s": _dir_bytes(sf) / 1e6 / wall_s if wall_s else 0.0,
            "runs": runs,
        }

    # -- event log ----------------------------------------------------------
    def event_log_layers(self, runs_traced: int) -> None:
        import spans as tr

        groups = tr.read_event_log(self.args.event_log)
        prefix = f"{self.workload}:"
        keep = [
            v for g, v in groups.items()
            if g.startswith(prefix) and g not in (prefix + "cold", prefix + "untraced")
        ]
        n = runs_traced or 1
        tot: dict[str, float] = {}
        for v in keep:
            for k, x in v.items():
                tot[k] = tot.get(k, 0) + x
        L = self.layers
        L["exec.shuffle_write_mb"] = tot.get("shuffle_write_b", 0) / 1e6 / n
        L["exec.spill_mb"] = tot.get("spill_b", 0) / 1e6 / n
        L["exec.gc_s"] = tot.get("gc_ms", 0) / 1e3 / n
        run_ms = tot.get("run_ms", 0)
        L["exec.cpu_ratio"] = tot.get("cpu_ns", 0) / 1e6 / run_ms if run_ms else 0.0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _tree_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's markers and
    checksum files."""
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--tables", required=True)
    ap.add_argument("--day")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--event-log")
    ap.add_argument("--result", required=True)
    ap.add_argument("--spawned-at", type=float, required=True, help="time.time() at spawn")
    args = ap.parse_args()

    run = Run(args)
    run.setup()
    try:
        if args.workload == "embargo_day":
            res = run.embargo_day()
        else:
            res = run.queries(REFERENCE_SQL)
    finally:
        run.stop()
    if run.traced:
        traced = [w for w, t in res["runs"] if t]
        untraced = [w for w, t in res["runs"] if not t]
        if traced and untraced:
            run.layers["trace.overhead_s"] = (
                statistics.median(traced) - statistics.median(untraced)
            )
        run.event_log_layers(len(traced))
        run.tracer.dump(os.path.join(args.run_dir, "spans.json"))
    result = {
        "workload": args.workload,
        "attempted": run.ops,
        "failed": run.failed,
        "problems": run.problems[:20],
        "setup_s": run.setup_s,
        "timed_window": run.window,
        "layers": run.layers,
        **res,
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
