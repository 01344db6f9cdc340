"""The benchmark's own tests; no Spark session needed.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import spans  # noqa: E402

WL = frozenset({"10.0.0.1", "2001:db8::230"})
DAY, CUTOFF = 20170315, 20160315


@pytest.fixture
def small_corpus(monkeypatch):
    monkeypatch.setattr(corpus, "N_ARCHIVES", 3)
    monkeypatch.setattr(corpus, "ENTRIES_PER_ARCHIVE", 40)


def test_same_seed_same_manifest(tmp_path, small_corpus):
    a = corpus.generate(str(tmp_path / "a"), seed=7)
    b = corpus.generate(str(tmp_path / "b"), seed=7)
    c = corpus.generate(str(tmp_path / "c"), seed=8)
    assert corpus.manifest_digest(a) == corpus.manifest_digest(b)
    assert corpus.manifest_digest(a) != corpus.manifest_digest(c)
    assert sorted(os.listdir(tmp_path / "a" / "archives")) == sorted(a["archives"])


def test_seed_keeps_the_population(tmp_path, small_corpus):
    """Seeds permute one population: same entry count and share per side."""
    sides = []
    for seed in (1, 2):
        m = corpus.generate(str(tmp_path / str(seed)), seed)
        vis = [e["visibility"] for e in m["entries"].values()]
        sides.append((len(vis), vis.count("public")))
    assert sides[0] == sides[1]


@pytest.mark.parametrize(
    "basename, archive_date, want",
    [
        ("20170315T00:00:01Z_10.0.0.1_00001.web100", DAY, "public"),  # whitelist hit
        ("20170315T00:00:01Z_10.9.9.9_00001.web100", DAY, "private"),  # whitelist miss
        ("20170315T00:00:01Z_2001:db8:::230_00001.web100", DAY, "public"),  # ::: repaired
        ("20170225T23:00:00Z_ALL0.web100", DAY, "private"),  # malformed, no IP
        ("20170315T00:00:01Z_gg:::zz_00001.web100", DAY, "private"),  # bad IPv6
        ("20170315T00:00:01Z_10.9.9.9_00001.paris", DAY, "public"),  # not web100
        ("20170315T00:00:01Z_10.9.9.9_00001.web100", 20150101, "public"),  # aged out
    ],
)
def test_manifest_rule(basename, archive_date, want):
    assert corpus.classify(basename, archive_date, CUTOFF, WL) == want


def test_local_ip_grammar():
    assert corpus.local_ip("20170315T00:00:01Z_10.0.0.1_00001.web100") == "10.0.0.1"
    assert corpus.local_ip("20170225T23:00:00Z_ALL0.web100") == ""
    assert corpus.local_ip("noseparators.web100") == ""


def test_manifest_follows_the_rule(tmp_path, small_corpus):
    m = corpus.generate(str(tmp_path), seed=3)
    with open(tmp_path / "whitelist") as f:
        wl = frozenset(line.strip() for line in f if line.strip())
    for path, e in m["entries"].items():
        base = path.rsplit("/", 1)[-1]
        assert e["visibility"] == corpus.classify(base, m["day"], m["cutoff"], wl)
    kinds = {e["visibility"] for e in m["entries"].values()}
    assert kinds == {"public", "private"}


def test_metric_names_and_units():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"]), m
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
        assert m["better"] in ("higher", "lower")
    assert {"setup_s", "wall_s"} <= {m["name"] for m in spec["end_to_end"]}
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    # Figures the inputs fix, or that no kept workload moves, are printed
    # as detail lines rather than carried as metrics.
    for fixed in ("embargo_pipeline.public_rows", "embargo_pipeline.private_rows",
                  "registry.build_jobs"):
        assert fixed not in names
    assert not [n for n in names if n.endswith(".build_jobs")]


def test_failed_steps_are_left_out_of_the_timings(monkeypatch):
    from types import SimpleNamespace

    import driver

    monkeypatch.setattr(driver, "MIN_ITERATIONS", 5)
    run = driver.Run(SimpleNamespace(workload="w", seconds=0.0))
    run.traced = False
    run.tracer = spans.Tracer(enabled=False)
    results = iter([1.0, None, 3.0, None, 5.0])

    def step(traced):
        wall = next(results)
        if wall is None:
            run.fail("step failed")
        return wall

    # Attempts count toward the minimum, so a failing step cannot keep the
    # loop going; a failed step's time is not a sample.
    assert run.timed_loop(step) == [(1.0, False), (3.0, False), (5.0, False)]
    assert run.failed == 2


def test_self_time_subtracts_children():
    s = [
        spans.Span("root", 0.0, 10.0),
        spans.Span("a", 1.0, 4.0, parent=0),
        spans.Span("b", 3.0, 6.0, parent=0),  # overlaps a: union 1..6
        spans.Span("a.child", 1.5, 2.0, parent=1),
        spans.Span("late", 9.0, 12.0, parent=0),  # clipped to the parent
    ]
    assert spans.self_times(s) == pytest.approx([10 - 5 - 1, 3 - 0.5, 3, 0.5, 3])
    assert spans.sum_self(s, "a") == pytest.approx(2.5)


def test_covered_union():
    assert spans.covered([], 0, 1) == 0
    assert spans.covered([(0, 1), (0.5, 2), (3, 4)], 0, 10) == pytest.approx(3)
    assert spans.covered([(-1, 0.5), (0.9, 5)], 0, 1) == pytest.approx(0.6)


def test_tracer_off_records_nothing():
    t = spans.Tracer(enabled=False)
    with t.span("x"):
        pass
    t.enabled = True
    with t.span("y"):
        with t.span("z"):
            pass
    assert [s.name for s in t.spans] == ["y", "z"]
    assert t.spans[1].parent == 0


def test_event_log_reduction(tmp_path):
    app = tmp_path / "eventlog_v2_app"
    app.mkdir()
    (app / "appstatus_app").write_text("")
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "w:q:exec"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 100, "Executor CPU Time": 50_000_000,
            "JVM GC Time": 5, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 300, "Executor CPU Time": 150_000_000}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 1, "Completion Time": 1}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2]},
    ]
    (app / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = spans.read_event_log(str(tmp_path))
    g = got["w:q:exec"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 1, 2)
    assert g["run_ms"] == 400 and g["cpu_ns"] == 200_000_000
    assert g["shuffle_write_b"] == 1000 and g["gc_ms"] == 5
    assert got[""]["jobs"] == 1


def _write_outputs(root, day_dir, manifest, flip=None):
    """Routed parquet and repacked archives as a correct run writes them,
    with the entry ``flip`` put on the wrong side."""
    import io
    import tarfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    by_side: dict[tuple[str, str], list[tuple[str, bytes]]] = {}
    for name in sorted(os.listdir(day_dir / "archives")):
        with tarfile.open(day_dir / "archives" / name) as tar:
            for info in tar:
                e = manifest["entries"][info.name]
                side = e["visibility"]
                if info.name == flip:
                    side = "public" if side == "private" else "private"
                body = tar.extractfile(info).read()
                by_side.setdefault((name, side), []).append((info.name, body))
    for side in ("public", "private"):
        rows = [(a, p, b) for (a, s), es in by_side.items() if s == side for p, b in es]
        d = root / "routed" / f"visibility={side}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({
            "archive": [r[0] for r in rows], "path": [r[1] for r in rows],
            "content": [r[2] for r in rows]}), d / "part-0.parquet")
    (root / "blobs").mkdir()
    for (archive, side), es in by_side.items():
        out = archive[: -len(".tgz")] + ("-p.tgz" if side == "public" else "-e.tgz")
        with tarfile.open(root / "blobs" / out, "w:gz") as tar:
            for path, body in es:
                info = tarfile.TarInfo(path)
                info.size = len(body)
                tar.addfile(info, io.BytesIO(body))


def test_embargo_check_catches_a_wrong_side(tmp_path, small_corpus):
    import checks

    m = corpus.generate(str(tmp_path / "day"), seed=4)
    _write_outputs(tmp_path / "good", tmp_path / "day", m)
    problems, counts = checks.check_embargo_day(
        m, str(tmp_path / "good" / "routed"), str(tmp_path / "good" / "blobs"))
    assert problems == []
    assert counts["public"] + counts["private"] == len(m["entries"])

    victim = sorted(m["entries"])[5]
    _write_outputs(tmp_path / "bad", tmp_path / "day", m, flip=victim)
    problems, _ = checks.check_embargo_day(
        m, str(tmp_path / "bad" / "routed"), str(tmp_path / "bad" / "blobs"))
    assert any(p.startswith("routed:") and victim in p for p in problems)
    assert any(p.startswith("blobs:") and victim in p for p in problems)
