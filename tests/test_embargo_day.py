"""The one-pass embargo day (``embargo_pipeline.embargo_day``) on small
archives built here: its per-archive kernel must split every entry as the
Catalyst form of the embargo.go:174 rule does, in both outputs; its routed
output must keep other days across reruns; and blob commits must survive
concurrent attempts."""

from __future__ import annotations

import gzip
import os
import sys
import tarfile
import threading

from pyspark.sql import functions as F

CUTOFF = 20170101
WHITELIST = ["213.244.128.170", "2001:4c08:2003:3f::230", "4.34.58.34"]


def _write_whitelist(path) -> str:
    path.write_text("\n".join(WHITELIST) + "\n")
    return str(path)


def _blob_sides(blob_dir: str) -> dict[str, str]:
    """{entry path: side} over every ``-p``/``-e`` blob; also checks that
    each blob is deterministic (gzip mtime 0, members sorted by path)."""
    sides: dict[str, str] = {}
    for name in sorted(os.listdir(blob_dir)):
        assert name.endswith(("-p.tgz", "-e.tgz")), name
        side = "public" if name.endswith("-p.tgz") else "private"
        path = os.path.join(blob_dir, name)
        with open(path, "rb") as f:
            assert f.read(8)[4:8] == b"\0\0\0\0", f"{name}: gzip mtime is set"
        with gzip.open(path) as gz, tarfile.open(fileobj=gz, mode="r|") as tar:
            members = [info.name for info in tar]
        assert members == sorted(members), name
        for m in members:
            assert m not in sides, f"{m} in two blobs"
            sides[m] = side
    return sides


def _routed_sides(df) -> dict[str, str]:
    rows = df.select("path", "visibility").collect()
    got = {r["path"]: r["visibility"] for r in rows}
    assert len(got) == len(rows), "an entry was written twice"
    return got


def test_kernel_split_matches_catalyst_rule(spark, tmp_path, make_tgz):
    from etl_embargo_spark.functions.filenames import parse_date_int
    from etl_embargo_spark.plans.embargo_pipeline import (
        classify_entries,
        embargo_day,
    )
    from etl_embargo_spark.sources.tar_source import read_tar_entries
    from etl_embargo_spark.sources.text_source import read_whitelist

    day = "2017/03/15/20170315T00:00:0"
    young = [
        (f"{day}1Z_213.244.128.170_00001.web100", b"ipv4 hit"),
        (f"{day}2Z_2001:4c08:2003:3f:::230_00002.web100", b"ipv6 ::: hit"),
        (f"{day}3Z_2001:db8:5:::9_00003.web100", b"ipv6 ::: miss"),
        (f"{day}4Z_10.9.9.9_00004.web100", b"ipv4 miss"),
        (f"{day}5Z_ALL0.web100", b"fewer than two underscores"),
        ("2017/03/15/nounderscore.web100", b"no underscore"),
        (f"{day}6Z_10.9.9.9_00006.paris", b"not web100"),
        (f"{day}7Z_zz:zz:::zz_00007.web100", b"unparseable ipv6"),
        ("2017/03/15/", None),  # directory entry: dropped
    ]
    aged = [
        ("2015/01/01/20150101T00:00:01Z_10.9.9.9_00001.web100", b"aged miss"),
        ("2015/01/01/20150101T00:00:02Z_213.244.128.170_00002.web100", b"aged hit"),
    ]
    archives = tmp_path / "archives"
    archives.mkdir()
    make_tgz(archives / "20170315T000000Z-mlab1-atl06-sidestream-0000.tgz", young)
    make_tgz(archives / "20150101T000000Z-mlab1-atl06-sidestream-0001.tgz", aged)
    # try_cast sends both 8-char prefixes to null; int() would accept the first.
    for k, name in enumerate(["2017_101T000000Z-x.tgz", "abcdefghT000000Z-x.tgz"]):
        make_tgz(
            archives / name,
            [
                (f"x{k}/{k}_10.9.9.9_00001.web100", b"undated miss"),
                (f"x{k}/{k}_4.34.58.34_00002.web100", b"undated hit"),
            ],
        )
    wl = read_whitelist(spark, _write_whitelist(tmp_path / "whitelist"))

    ref = classify_entries(read_tar_entries(spark, str(archives)), wl)
    ref = ref.withColumn(
        "visibility",
        F.when(parse_date_int("archive") < CUTOFF, "public").otherwise(
            F.col("visibility")
        ),
    )
    want = _routed_sides(ref)

    out = str(tmp_path / "routed")
    returned = embargo_day(spark, str(archives), wl, out, CUTOFF, repack=True)

    assert _routed_sides(returned) == want
    assert _routed_sides(spark.read.parquet(out)) == want
    # Blobs default to <out>/_blobs, which Spark's listing skips.
    assert _blob_sides(os.path.join(out, "_blobs")) == want
    # The reference split is not vacuous: every case lands where the rule
    # says, and the directory entry is gone.
    assert len(want) == 8 + 2 + 4
    assert want[f"{day}1Z_213.244.128.170_00001.web100"] == "public"
    assert want[f"{day}2Z_2001:4c08:2003:3f:::230_00002.web100"] == "public"
    assert want[f"{day}6Z_10.9.9.9_00006.paris"] == "public"
    for p in (
        f"{day}3Z_2001:db8:5:::9_00003.web100",
        f"{day}4Z_10.9.9.9_00004.web100",
        f"{day}5Z_ALL0.web100",
        "2017/03/15/nounderscore.web100",
        f"{day}7Z_zz:zz:::zz_00007.web100",
    ):
        assert want[p] == "private", p
    assert {want[p] for p, _ in aged} == {"public"}
    for k in (0, 1):
        assert want[f"x{k}/{k}_10.9.9.9_00001.web100"] == "private"
        assert want[f"x{k}/{k}_4.34.58.34_00002.web100"] == "public"
    dates = {
        r["archive"]: r["archive_date"]
        for r in returned.select("archive", "archive_date").distinct().collect()
    }
    assert dates["20170315T000000Z-mlab1-atl06-sidestream-0000.tgz"] == 20170315
    assert dates["2017_101T000000Z-x.tgz"] is None
    assert dates["abcdefghT000000Z-x.tgz"] is None


def test_routed_output_keeps_other_days_across_reruns(spark, tmp_path, make_tgz):
    from etl_embargo_spark.plans.embargo_pipeline import embargo_day
    from etl_embargo_spark.sources.text_source import read_whitelist

    wl = read_whitelist(spark, _write_whitelist(tmp_path / "whitelist"))
    days = {}
    for d in ("20170315", "20170316"):
        src = tmp_path / d
        src.mkdir()
        entries = [
            (f"{d}/{d}T00:00:01Z_10.9.9.9_00001.web100", b"miss"),
            (f"{d}/{d}T00:00:02Z_10.9.9.9_00002.paris", b"other"),
        ]
        make_tgz(src / f"{d}T000000Z-mlab1-atl06-sidestream-0000.tgz", entries)
        days[d] = (str(src), [p for p, _ in entries])
    out, blobs = str(tmp_path / "routed"), str(tmp_path / "blobs")

    def run(d, cutoff):
        return embargo_day(
            spark, days[d][0], wl, out, cutoff, repack=True, repack_dir=blobs
        )

    split = {
        days["20170315"][1][0]: "private", days["20170315"][1][1]: "public",
        days["20170316"][1][0]: "private", days["20170316"][1][1]: "public",
    }
    run("20170315", CUTOFF)
    run("20170316", CUTOFF)
    assert _routed_sides(spark.read.parquet(out)) == split
    assert _blob_sides(blobs) == split

    # Rerun the first day once it has aged: it turns all public, its
    # private side goes, and the second day is untouched.
    rerun = run("20170315", 20180101)
    aged = {**split, days["20170315"][1][0]: "public"}
    assert _routed_sides(rerun) == {p: aged[p] for p in days["20170315"][1]}
    assert _routed_sides(spark.read.parquet(out)) == aged
    assert _blob_sides(blobs) == aged
    assert sorted(os.listdir(os.path.join(out, "archive_date=20170315"))) == [
        "visibility=public"
    ]


def test_blob_commit_survives_concurrent_writers(tmp_path):
    """Attempts committing one blob at once (a speculative copy, or a retry
    racing a zombie attempt): the target is always one complete blob, and
    no temp file is left behind."""
    from etl_embargo_spark.sinks.routed_write import _make_committer

    commit = _make_committer()
    target = str(tmp_path / "20170315T000000Z-x-e.tgz")
    n = 2 * (os.cpu_count() or 1)
    payloads = [bytes([k]) * (1 << 20) for k in range(1, n + 1)]
    start = threading.Barrier(n, timeout=60)
    errors: list[Exception] = []

    def attempt(data: bytes) -> None:
        try:
            for _ in range(20):
                start.wait()
                commit(target, data)
        except Exception as exc:  # reported below
            errors.append(exc)
            start.abort()

    threads = [threading.Thread(target=attempt, args=(p,)) for p in payloads]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    with open(target, "rb") as f:
        assert f.read() in payloads
    assert os.listdir(tmp_path) == [os.path.basename(target)]
