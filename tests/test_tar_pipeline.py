"""Golden-split parity: the Spark embargo pipeline must reproduce the
reference's crown-jewel test (/root/reference/embargo_test.go:54-90) —
split the testdata archive with the full whitelist and moreThanOneYear=False,
and match the checked-in golden outputs.

Per SURVEY §5, equality is content-set equality (same inner paths + bytes
per side), not byte-identical gzip — compression output is
non-deterministic across implementations and not semantically meaningful.
"""

from __future__ import annotations

import gzip
import io
import os
import tarfile

import pytest
from pyspark.sql import functions as F

REF_TESTDATA = "/root/reference/testdata"
INPUT_TGZ = os.path.join(
    REF_TESTDATA, "20170315T000000Z-mlab3-sea03-sidestream-0000.tgz"
)
GOLDEN_PUBLIC = os.path.join(
    REF_TESTDATA, "20170315T000000Z-mlab3-sea03-sidestream-0000-p.tgz"
)
GOLDEN_EMBARGO = os.path.join(
    REF_TESTDATA, "20170315T000000Z-mlab3-sea03-sidestream-0000-e.tgz"
)
WHITELIST_FULL = os.path.join(REF_TESTDATA, "whitelist_full")

needs_ref = pytest.mark.skipif(
    not os.path.exists(INPUT_TGZ), reason="reference testdata not available"
)


def _content_set(tgz_path: str) -> dict[str, bytes]:
    out: dict[str, bytes] = {}
    with gzip.open(tgz_path) as gz, tarfile.open(fileobj=gz, mode="r|") as tar:
        for info in tar:
            if info.isreg():
                out[info.name] = tar.extractfile(info).read()
    return out


@needs_ref
def test_tar_entry_source(spark):
    from etl_embargo_spark.sources.tar_source import read_tar_entries

    entries = read_tar_entries(spark, INPUT_TGZ).collect()
    golden = _content_set(INPUT_TGZ)
    assert len(entries) == len(golden)
    by_path = {r["path"]: r for r in entries}
    assert set(by_path) == set(golden)
    for path, content in golden.items():
        row = by_path[path]
        assert bytes(row["content"]) == content
        assert row["size"] == len(content)
        assert row["basename"] == path.rsplit("/", 1)[-1]


@needs_ref
def test_tar_udtf_matches_mapinpandas(spark):
    """The SQL-callable UDTF and the mapInPandas source must agree
    entry-for-entry."""
    from etl_embargo_spark.sources.tar_source import (
        read_tar_entries,
        register_tar_udtf,
    )

    register_tar_udtf(spark)
    spark.read.format("binaryFile").load(INPUT_TGZ).createOrReplaceTempView(
        "archives"
    )
    via_sql = spark.sql(
        "SELECT t.path, t.size FROM archives, "
        "LATERAL explode_tar(archives.path, archives.content) t "
        "WHERE t.is_regular"
    ).collect()
    via_df = read_tar_entries(spark, INPUT_TGZ).select("path", "size").collect()
    assert sorted(map(tuple, via_sql)) == sorted(map(tuple, via_df))


@needs_ref
def test_golden_split(spark):
    """The E1 classifier reproduces the reference's golden split exactly."""
    from etl_embargo_spark.plans.embargo_pipeline import classify_entries
    from etl_embargo_spark.sources.tar_source import read_tar_entries
    from etl_embargo_spark.sources.text_source import read_whitelist

    entries = read_tar_entries(spark, INPUT_TGZ)
    wl = read_whitelist(spark, WHITELIST_FULL)
    classified = classify_entries(entries, wl, more_than_one_year=False)
    rows = classified.select("path", "content", "visibility").collect()

    got_public = {r["path"]: bytes(r["content"]) for r in rows if r["visibility"] == "public"}
    got_private = {r["path"]: bytes(r["content"]) for r in rows if r["visibility"] == "private"}

    assert got_public == _content_set(GOLDEN_PUBLIC)
    assert got_private == _content_set(GOLDEN_EMBARGO)


@needs_ref
def test_golden_split_more_than_one_year(spark):
    """moreThanOneYear=True short-circuits everything to public
    (/root/reference/embargo.go:174 first term)."""
    from etl_embargo_spark.plans.embargo_pipeline import classify_entries
    from etl_embargo_spark.sources.tar_source import read_tar_entries
    from etl_embargo_spark.sources.text_source import read_whitelist

    entries = read_tar_entries(spark, INPUT_TGZ)
    wl = read_whitelist(spark, WHITELIST_FULL)
    classified = classify_entries(entries, wl, more_than_one_year=True)
    assert classified.filter("visibility = 'private'").count() == 0


@needs_ref
def test_repack_roundtrip(spark, tmp_path):
    """Repacked .tgz blobs re-read to the same content sets (K1 parity)."""
    from etl_embargo_spark.plans.embargo_pipeline import classify_entries
    from etl_embargo_spark.sinks.routed_write import write_blobs
    from etl_embargo_spark.sources.tar_source import read_tar_entries, repack_archives
    from etl_embargo_spark.sources.text_source import read_whitelist

    entries = read_tar_entries(spark, INPUT_TGZ)
    wl = read_whitelist(spark, WHITELIST_FULL)
    classified = classify_entries(entries, wl, more_than_one_year=False)
    blobs = repack_archives(classified)
    out_dir = str(tmp_path / "blobs")
    write_blobs(blobs, out_dir)

    names = sorted(os.listdir(out_dir))
    assert names == [
        "20170315T000000Z-mlab3-sea03-sidestream-0000-e.tgz",
        "20170315T000000Z-mlab3-sea03-sidestream-0000-p.tgz",
    ]
    assert _content_set(os.path.join(out_dir, names[1])) == _content_set(GOLDEN_PUBLIC)
    assert _content_set(os.path.join(out_dir, names[0])) == _content_set(GOLDEN_EMBARGO)


@needs_ref
def test_whitelist_loader(spark):
    """S4 loader parity with /root/reference/embargo_check_test.go:9-21."""
    from etl_embargo_spark.sources.text_source import read_whitelist

    small = read_whitelist(spark, os.path.join(REF_TESTDATA, "whitelist"))
    ips = {r["ip"] for r in small.collect()}
    assert "213.244.128.170" in ips
    assert len(ips) == 6


@needs_ref
def test_embargo_day_end_to_end(spark, tmp_path):
    """E1 composition: archives → explode → classify → routed partitioned
    write, reading back by visibility partition."""
    from pyspark.sql import functions as F

    from etl_embargo_spark.plans.embargo_pipeline import embargo_day
    from etl_embargo_spark.sources.text_source import read_whitelist

    wl = read_whitelist(spark, WHITELIST_FULL)
    out = str(tmp_path / "routed")
    classified = embargo_day(
        spark,
        INPUT_TGZ,
        wl,
        out,
        cutoff_int=20170101,  # archive is 20170315 => not aged out
    )
    got = spark.read.parquet(out)
    assert got.count() == classified.count()
    # the golden split: both sides non-empty for this archive + whitelist
    sides = {r["visibility"] for r in got.select("visibility").distinct().collect()}
    assert sides == {"public", "private"}
    # per-partition read prunes
    pub = spark.read.parquet(out).filter(F.col("visibility") == "public")
    assert "PartitionFilters" in pub._jdf.queryExecution().executedPlan().toString()


@needs_ref
def test_tar_python_datasource_matches_mapinpandas(spark):
    """The Spark 4 Python Data Source connector and the mapInPandas
    source must agree entry-for-entry, and plan one partition per
    archive (the gzip-unsplittable parallel grain)."""
    from etl_embargo_spark.sources.tar_datasource import (
        make_tar_datasource,
    )
    from etl_embargo_spark.sources.tar_source import read_tar_entries

    spark.dataSource.register(make_tar_datasource())
    ds = spark.read.format("tar_archive").load(INPUT_TGZ)
    assert ds.rdd.getNumPartitions() == 1  # one archive -> one partition

    got = {r["path"]: r for r in ds.filter("is_regular").collect()}
    want = {r["path"]: r for r in read_tar_entries(spark, INPUT_TGZ).collect()}
    assert set(got) == set(want)
    for path, row in want.items():
        g = got[path]
        assert bytes(g["content"] or b"") == bytes(row["content"] or b"")
        assert g["size"] == row["size"]
        assert g["mtime"] == row["mtime"]
        assert g["archive"] == row["archive"]


@needs_ref
def test_tar_python_datasource_glob_and_errors(spark):
    from etl_embargo_spark.sources.tar_datasource import (
        make_tar_datasource,
    )

    spark.dataSource.register(make_tar_datasource())
    # Directory form: every .tgz in the reference testdata dir.
    many = spark.read.format("tar_archive").load(REF_TESTDATA)
    n_archives = many.select("archive").distinct().count()
    assert n_archives >= 3
    assert many.rdd.getNumPartitions() == n_archives
    # No match -> clean error at planning time.
    import pytest as _pytest

    with _pytest.raises(Exception, match="no archives match"):
        spark.read.format("tar_archive").load("/nonexistent/*.tgz").count()


@needs_ref
def test_tar_python_datasource_writer_roundtrip(spark, tmp_path):
    """df.write.format('tar_archive') → re-read → identical content sets
    (K1/K2 as a connector sink); commit is stage-then-rename so no
    .tmp files survive a successful job."""
    import os

    from etl_embargo_spark.sources.tar_datasource import (
        make_tar_datasource,
    )
    from etl_embargo_spark.sources.tar_source import read_tar_entries

    spark.dataSource.register(make_tar_datasource())
    entries = read_tar_entries(spark, INPUT_TGZ).select(
        "path", "content", "mode", "mtime"
    )
    out = str(tmp_path / "packed")
    entries.repartition(3).write.format("tar_archive").mode("append").save(
        out
    )

    archives = [f for f in os.listdir(out) if f.endswith(".tgz")]
    assert 1 <= len(archives) <= 3
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]

    back = (
        spark.read.format("tar_archive")
        .load(out)
        .filter("is_regular")
        .collect()
    )
    want = {r["path"]: r for r in entries.collect()}
    got = {r["path"]: r for r in back}
    assert set(got) == set(want)
    for path, row in want.items():
        assert bytes(got[path]["content"]) == bytes(row["content"])
        assert got[path]["mtime"] == row["mtime"]
        assert got[path]["mode"] == row["mode"]


@pytest.mark.parametrize("scheme", ["plain", "file"])
def test_connectors_accept_uri_schemes(spark, tmp_path, scheme, sidestream_tgz):
    """VERDICT next-round #6: the connectors must not be hardwired to bare
    local paths.  The built-in parquet sink/source takes any Hadoop FS URI
    natively; the Python tar DataSource resolves explicit ``file://`` URIs
    (other schemes would swap in an fsspec handle, same partition plan).
    A real ``hdfs://``/``gs://`` endpoint isn't available in this sandbox,
    so the explicit-scheme form is the provable half of the contract."""
    import os

    from etl_embargo_spark.sources.tar_datasource import make_tar_datasource
    from etl_embargo_spark.sources.tar_source import read_tar_entries

    def u(p):
        return f"file://{p}" if scheme == "file" else str(p)

    spark.dataSource.register(make_tar_datasource())
    entries = read_tar_entries(spark, u(sidestream_tgz)).select("path", "content")
    n = entries.count()
    assert n > 0

    pq = tmp_path / "pq"
    entries.write.parquet(u(pq))
    assert spark.read.parquet(u(pq)).count() == n

    packed = tmp_path / "packed"
    entries.repartition(1).write.format("tar_archive").mode("append").save(
        u(packed)
    )
    assert [f for f in os.listdir(packed) if f.endswith(".tgz")]
    assert spark.read.format("tar_archive").load(u(packed)).count() == n


def test_tar_datasource_append_accumulates(spark, tmp_path, sidestream_tgz):
    """A second append job into the same directory must ADD archives, not
    clobber the first job's (final names carry a per-job token, like
    Spark's FileCommitProtocol jobId)."""
    import os

    from etl_embargo_spark.sources.tar_datasource import make_tar_datasource
    from etl_embargo_spark.sources.tar_source import read_tar_entries

    spark.dataSource.register(make_tar_datasource())
    entries = read_tar_entries(spark, sidestream_tgz).select("path", "content")
    out = str(tmp_path / "packed")
    first = entries.limit(2).withColumn(
        "path", F.concat(F.lit("one/"), F.col("path"))
    )
    second = entries.limit(2).withColumn(
        "path", F.concat(F.lit("two/"), F.col("path"))
    )
    first.repartition(1).write.format("tar_archive").mode("append").save(out)
    second.repartition(1).write.format("tar_archive").mode("append").save(out)

    archives = [f for f in os.listdir(out) if f.endswith(".tgz")]
    assert len(archives) == 2, archives
    back = {
        r["path"]
        for r in spark.read.format("tar_archive").load(out).collect()
    }
    assert any(p.startswith("one/") for p in back)
    assert any(p.startswith("two/") for p in back)


def test_tar_datasource_overwrite_is_staged(spark, tmp_path, sidestream_tgz):
    """mode('overwrite') must keep the old archives until the commit
    point (stage-then-swap), and afterwards only the new job's archives
    remain."""
    import os

    from etl_embargo_spark.sources.tar_datasource import make_tar_datasource
    from etl_embargo_spark.sources.tar_source import read_tar_entries

    spark.dataSource.register(make_tar_datasource())
    entries = read_tar_entries(spark, sidestream_tgz).select("path", "content")
    out = str(tmp_path / "packed")
    entries.repartition(2).write.format("tar_archive").mode("append").save(out)
    n_before = len([f for f in os.listdir(out) if f.endswith(".tgz")])
    assert n_before == 2
    entries.limit(1).repartition(1).write.format("tar_archive").mode(
        "overwrite"
    ).save(out)
    archives = [f for f in os.listdir(out) if f.endswith(".tgz")]
    assert len(archives) == 1, archives
    assert spark.read.format("tar_archive").load(out).count() >= 1


def test_corrupt_archive_quarantine_and_raise(spark, tmp_path, sidestream_tgz):
    """A truncated .tgz among good archives: on_corrupt='quarantine'
    yields the good archives' entries plus ONE error marker row per bad
    archive; the default raise mode fails the job loudly."""
    import shutil
    from pathlib import Path

    import pytest as _pytest

    from etl_embargo_spark.sources.tar_source import read_tar_entries

    d = tmp_path / "mixed"
    d.mkdir()
    shutil.copy(sidestream_tgz, d / "good.tgz")
    # a truncated gzip stream: valid magic, impossible to decode fully
    (d / "bad.tgz").write_bytes(Path(sidestream_tgz).read_bytes()[:100])

    q = read_tar_entries(spark, str(d), on_corrupt="quarantine")
    rows = q.collect()
    bad = [r for r in rows if r["error"] is not None]
    good = [r for r in rows if r["error"] is None]
    assert len(bad) == 1
    assert bad[0]["archive"] == "bad.tgz"
    assert bad[0]["path"] is None
    assert len(good) > 0
    assert all(r["archive"] == "good.tgz" for r in good)
    # good entries match the clean read exactly
    clean = read_tar_entries(spark, sidestream_tgz).collect()
    assert {r["path"] for r in good} == {r["path"] for r in clean}

    with _pytest.raises(Exception):
        read_tar_entries(spark, str(d)).collect()
