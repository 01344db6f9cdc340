"""E1/E2/E3 — the reference's three entry points as DataFrame pipelines.

E1 (embargo a day, /root/reference/deploy/deploy.go:23-71 →
embargo.go:248-293): one pass per archive, as the reference splits each
archive in one loop (embargo.go:149-201).  A ``binaryFile`` scan feeds one
``mapInPandas`` kernel, which walks each archive's tar once, classifies
every regular entry by the embargo.go:174 rule against a broadcast whitelist
set, commits the ``-p.tgz``/``-e.tgz`` blobs, and yields the classified
entry rows to one routed parquet write.  Two actions, the whitelist collect
and the write, and no shuffle of entry content; every archive is gunzipped
once.

E2 (unembargo/publish, unembargo.go:86-140): last-writer-wins merge of the
newly-aged-out private records into the public listing.

E3 (whitelist refresh, embargo_check.go:39-81): re-derive + re-broadcast the
dim each batch — deliberately NOT the reference's stale-singleton behavior
(embargo.go:55-57), which only refreshed on instance recycling (SURVEY §3 E3
flags it as a quirk not to replicate).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_embargo_spark.functions.filenames import filename_local_ip
from etl_embargo_spark.functions.ipv6 import _make_normalizer, normalize_ipv6
from etl_embargo_spark.operators.setops import overwrite_merge
# read_tar_entries, repack_archives and write_blobs are not called by
# embargo_day; they stay bound here because perfbench/layers.py looks the
# archive-path entry points up on this module.
from etl_embargo_spark.sinks.routed_write import (  # noqa: F401
    _make_committer,
    drop_partitions,
    write_blobs,
    write_routed,
)
from etl_embargo_spark.sources.tar_source import (  # noqa: F401
    _make_packer,
    _make_walker,
    list_archives,
    read_tar_entries,
    repack_archives,
)

ROUTED_SCHEMA = (
    "archive string, path string, basename string, local_ip string, "
    "size long, mode long, mtime timestamp, content binary, "
    "visibility string, archive_date int"
)
# The routed output of a day is partitioned by archive date, then side, so
# a rerun replaces that day only.
DAY_PARTITION = ("archive_date", "visibility")
SIDES = ("public", "private")


def classify_entries(
    entries: DataFrame,
    whitelist: DataFrame,
    more_than_one_year: bool = False,
) -> DataFrame:
    """P4 over real sidestream records — the exact reference rule
    (/root/reference/embargo.go:174)::

        public ⇔ moreThanOneYear
                ∨ ¬contains(basename, "web100")
                ∨ CheckInWhiteList(basename)

    where CheckInWhiteList = GetLocalIP (F2: between first/last underscore,
    "" when malformed) → IPv6 normalize (F3) → membership in the whitelist
    set (embargo_check.go:105-110).  Membership is a broadcast LEFT join on
    the normalized IP: dim side tiny (3.5k IPs), fact side never shuffles.

    Null/malformed IPs ("" → no match) fall through to the whitelist-miss
    branch exactly as in the reference (SURVEY §7 risk 3).

    This is the Catalyst form of the rule, used by the streaming pipeline;
    ``embargo_day`` applies the same rule inside its per-archive kernel, and
    the tests check the two against each other.
    """
    raw_ip = filename_local_ip(F.col("basename"))
    with_ip = entries.withColumn(
        "local_ip",
        F.when(raw_ip == "", F.lit(None)).otherwise(normalize_ipv6(raw_ip)),
    )
    wl = whitelist.select(F.col("ip").alias("wl_ip")).distinct()
    flagged = with_ip.join(
        F.broadcast(wl), with_ip["local_ip"] == wl["wl_ip"], "left"
    )
    is_public = (
        F.lit(more_than_one_year)
        | ~F.col("basename").contains("web100")
        | F.col("wl_ip").isNotNull()
    )
    return flagged.withColumn(
        "visibility",
        F.when(is_public, F.lit("public")).otherwise(F.lit("private")),
    ).drop("wl_ip")


def _make_date_parser():
    """F9 in Python (nested for by-value pickling): the archive date as
    ``try_cast(substring(name, 1, 8) AS int)`` computes it.

    Spark trims ASCII spaces and control characters, then accepts an
    optional sign and ASCII digits only; anything else is null.  Bare
    ``int()`` would differ: it accepts ``2017_101`` and non-ASCII digits.
    """
    import re as _re

    number = _re.compile(r"[+-]?[0-9]+")
    trim = "".join(map(chr, range(0x21))) + "\x7f"

    def archive_date(archive: str) -> int | None:
        head = archive[:8].strip(trim)
        return int(head) if number.fullmatch(head) else None

    return archive_date


def _make_union_param():
    """Accumulator param for a set of ``(archive_date, visibility)`` pairs
    (nested so the class pickles by value)."""
    from pyspark.accumulators import AccumulatorParam

    class _Union(AccumulatorParam):
        def zero(self, value):
            return set()

        def addInPlace(self, a, b):
            a |= b
            return a

    return _Union()


def _make_splitter(whitelist, cutoff_int: int, blob_dir: str | None, produced):
    """Build the one-pass ``mapInPandas`` kernel of ``embargo_day``.

    Per archive: walk the tar once (regular files only), classify each entry
    by the embargo.go:174 rule, commit the two repacked blobs when
    ``blob_dir`` is set (a side with no entries removes its stale blob), add
    the ``(archive_date, visibility)`` pairs it produced to ``produced``,
    and yield the entries as ``ROUTED_SCHEMA`` rows.  ``whitelist`` is a
    broadcast set of whitelist IPs.
    """
    walk = _make_walker()
    normalize = _make_normalizer()
    pack = _make_packer()
    commit = _make_committer()
    archive_date = _make_date_parser()
    cols = [f.split(" ")[0] for f in ROUTED_SCHEMA.split(", ")]

    def split(batches):
        import calendar as _calendar
        import os as _os

        import pandas as _pd

        wl = whitelist.value
        if blob_dir is not None:
            _os.makedirs(blob_dir, exist_ok=True)
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                name = path.rsplit("/", 1)[-1]
                date = archive_date(name)
                aged = date is not None and date < cutoff_int
                rows = []
                sides = {side: [] for side in SIDES}
                for archive, p, base, size, mode, mtime, is_reg, data in walk(
                    path, content
                ):
                    if not is_reg:
                        continue
                    # F2 → F3: the normalized IP between the first and the
                    # last underscore, None when the name has fewer than two.
                    first, last = base.find("_"), base.rfind("_")
                    ip = normalize(base[first + 1 : last]) if 0 <= first < last else None
                    side = (
                        "public"
                        if aged or "web100" not in base or ip in wl
                        else "private"
                    )
                    rows.append((archive, p, base, ip, size, mode, mtime, data, side, date))
                    sides[side].append(
                        (p, mode, _calendar.timegm(mtime.timetuple()), data)
                    )
                produced.add({(date, side) for side, got in sides.items() if got})
                if blob_dir is not None:
                    for side, got in sides.items():
                        out_name, blob = pack(name, side, got)
                        target = _os.path.join(blob_dir, out_name)
                        if blob is not None:
                            commit(target, blob)
                        else:
                            try:
                                _os.remove(target)
                            except FileNotFoundError:
                                pass
                if rows:
                    yield _pd.DataFrame(rows, columns=cols)

    return split


def embargo_day(
    spark: SparkSession,
    archive_glob: str,
    whitelist: DataFrame,
    out_dir: str,
    cutoff_int: int,
    repack: bool = False,
    repack_dir: str | None = None,
) -> DataFrame:
    """E1 — the full embargo pipeline for one day-prefix of archives.

    Writes the classified entries to ``out_dir`` partitioned by
    ``archive_date`` and ``visibility`` (dynamic overwrite: a rerun replaces
    its own days and drops a side it no longer produces; other days stay).
    With ``repack``, the kernel also writes each archive's ``-p.tgz`` and
    ``-e.tgz`` blobs to ``repack_dir``, by default ``<out_dir>/_blobs``
    (Spark's listings skip ``_`` names, so the parquet stays readable).
    Returns this run's days read back from ``out_dir``; reading it never
    re-runs the kernel.

    ``more_than_one_year`` is per-archive in the reference (date parsed from
    the archive name, embargo.go:272-277); here the kernel parses each
    archive's date, so one call handles any mix of ages.

    Deviation (deliberate): an archive whose name has no parseable date makes
    the reference error out and skip the archive (embargo.go:272-276); here
    ``archive_date`` is null, the date term drops out of the OR, and
    eligible records classify **private** — conservative (nothing leaks
    public), and the day still processes.
    """
    archives = list_archives(spark, archive_glob)
    archive_date = _make_date_parser()
    dates = {archive_date(f.rsplit("/", 1)[-1]) for f in archives.inputFiles()}
    sc = spark.sparkContext
    wl = sc.broadcast(
        frozenset(r["ip"] for r in whitelist.select("ip").collect() if r["ip"] is not None)
    )
    produced = sc.accumulator(set(), _make_union_param())
    blob_dir = (repack_dir or os.path.join(out_dir, "_blobs")) if repack else None
    try:
        write_routed(
            archives.mapInPandas(
                _make_splitter(wl, cutoff_int, blob_dir, produced),
                schema=ROUTED_SCHEMA,
            ),
            out_dir,
            partition_cols=DAY_PARTITION,
        )
    finally:
        wl.destroy()
    drop_partitions(
        spark,
        out_dir,
        [
            {"archive_date": d, "visibility": side}
            for d in dates
            for side in SIDES
            if (d, side) not in produced.value
        ],
    )
    this_run = F.col("archive_date").isin([d for d in dates if d is not None])
    if None in dates:
        this_run = this_run | F.col("archive_date").isNull()
    return spark.read.schema(ROUTED_SCHEMA).parquet(out_dir).where(this_run)


def unembargo_merge(
    public_listing: DataFrame, aged_out: DataFrame, key: str, payload: list[str]
) -> DataFrame:
    """E2 — publish: aged-out private records overwrite the public listing
    per key (unembargo.go:115-130 delete-then-copy ≡ last-writer-wins)."""
    return overwrite_merge(public_listing, aged_out, key, payload)
