"""S3 — the archive record source: .tgz objects → one row per tar entry.

Reference: /root/reference/embargo.go:125-173 — gzip reader → tar reader →
keep regular files → project header fields + whole content.  The reference
buffers the entire archive AND both output archives in RAM
(embargo.go:135-141), bounding archive size by instance memory; here each
executor task streams entries out of one archive's bytes and hands Spark
Arrow batches, so memory is bounded per entry, spill is Tungsten's problem,
and parallelism is per-archive (gzip is unsplittable, but archives are ~MB
and there are many — the right parallel grain at 100 TB).

``spark.read.format("binaryFile")`` provides distributed listing + the bytes;
``mapInPandas`` does the explode.  No driver-side loops anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ENTRY_SCHEMA = (
    "archive string, path string, basename string, size long, mode long, "
    "mtime timestamp, is_regular boolean, content binary"
)

# NOTE on executor-side closures: every function shipped to executors in this
# package is defined NESTED inside its builder so cloudpickle serializes it
# by value.  A module-level function would pickle as a reference to
# ``etl_embargo_spark...`` and fail with ModuleNotFoundError on any worker
# that doesn't have this repo on PYTHONPATH (driver harness running from a
# different cwd, or a cluster where the package isn't shipped).


def _make_walker():
    """Build the archive walker shared by the mapInPandas exploder and the
    SQL UDTF (nested for by-value pickling): yields one ENTRY_SCHEMA-ordered
    tuple per tar entry, mtime as a naive-UTC datetime."""

    def _walk(path: str, content: bytes):
        import datetime as _dt
        import gzip as _gzip
        import io as _io
        import tarfile as _tarfile

        archive_name = path.rsplit("/", 1)[-1]
        raw = _io.BytesIO(bytes(content))
        # Stream: gzip member → tar entries, entry-at-a-time.
        with _gzip.GzipFile(fileobj=raw) as gz:
            with _tarfile.open(fileobj=gz, mode="r|") as tar:
                for info in tar:
                    is_reg = info.isreg()
                    data = tar.extractfile(info).read() if is_reg else None
                    yield (
                        archive_name,
                        info.name,
                        info.name.rsplit("/", 1)[-1],
                        info.size,
                        info.mode,
                        _dt.datetime.fromtimestamp(
                            info.mtime, _dt.timezone.utc
                        ).replace(tzinfo=None),
                        is_reg,
                        data,
                    )

    return _walk


QUARANTINE_SCHEMA = ENTRY_SCHEMA + ", error string"


def _make_exploder(quarantine: bool = False):
    """Build the mapInPandas generator (self-contained for pickling).

    ``quarantine=False`` (default): a corrupt archive raises and fails the
    task — corruption upstream of a boundary you control means a bug, stop
    (the same doctrine as formats.py's FAILFAST readers).
    ``quarantine=True``: entry rows gain an ``error`` column (null for
    good rows); a corrupt archive yields ONE marker row carrying the
    archive name and the decode error instead of killing the batch — at
    100 TB a 1e-8 archive-corruption rate is still daily occurrences, and
    one bad blob must not wedge the day's partition (the reference's
    skip-vs-error variants, embargo.go:279-299)."""
    walk = _make_walker()
    cols = [f.strip().split(" ")[0] for f in ENTRY_SCHEMA.split(",")]

    def _explode_archives(batches):
        # One input row per archive (binaryFile schema) → N rows per tar
        # entry; one output batch per archive keeps Arrow batch sizes
        # bounded by one archive's decompressed size.
        import pandas as _pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                if quarantine:
                    try:
                        rows = list(walk(row["path"], row["content"]))
                    except Exception as exc:
                        name = str(row["path"]).rsplit("/", 1)[-1]
                        yield _pd.DataFrame(
                            [
                                (name, None, None, None, None, None, None,
                                 None, f"{type(exc).__name__}: {exc}")
                            ],
                            columns=cols + ["error"],
                        )
                        continue
                    if rows:
                        out = _pd.DataFrame(rows, columns=cols)
                        out["error"] = None
                        yield out
                else:
                    rows = list(walk(row["path"], row["content"]))
                    if rows:
                        yield _pd.DataFrame(rows, columns=cols)

    return _explode_archives


def list_archives(spark: SparkSession, path_glob: str) -> DataFrame:
    """The ``.tgz`` objects under ``path_glob`` as ``binaryFile`` rows (path,
    modificationTime, length, content), one per archive.

    ``pathGlobFilter`` keeps the listing pruned at the source (the analog of
    the reference's name filter embargo.go:279-281).
    """
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tgz")
        .load(path_glob)
    )


def read_tar_entries(
    spark: SparkSession,
    path_glob: str,
    regular_only: bool = True,
    on_corrupt: str = "raise",
) -> DataFrame:
    """Load every .tgz under ``path_glob`` as a DataFrame of tar entries
    (SURVEY D3: the atomic record).

    The P2 regular-file filter (embargo.go:158-159) is applied unless
    disabled.

    ``on_corrupt='raise'`` (default) fails the job on a bad archive;
    ``'quarantine'`` adds an ``error`` column and turns each corrupt
    archive into one marker row (filter ``error IS NOT NULL`` for the
    dead-letter relation) — see ``_make_exploder``.
    """
    if on_corrupt not in ("raise", "quarantine"):
        raise ValueError(f"on_corrupt must be raise|quarantine, got {on_corrupt!r}")
    archives = list_archives(spark, path_glob)
    quarantine = on_corrupt == "quarantine"
    entries = archives.mapInPandas(
        _make_exploder(quarantine),
        schema=QUARANTINE_SCHEMA if quarantine else ENTRY_SCHEMA,
    )
    if regular_only:
        keep = F.col("is_regular")
        if quarantine:
            keep = keep | F.col("error").isNotNull()
        entries = entries.filter(keep)
    return entries


def register_tar_udtf(spark: SparkSession, name: str = "explode_tar"):
    """Register the tar exploder as a SQL-callable Python UDTF so the
    custom source is reachable from the SQL front-end too:

        SELECT t.* FROM archives,
               LATERAL explode_tar(archives.path, archives.content) t

    Same semantics as ``read_tar_entries`` (one row per tar entry); the
    mapInPandas path remains the bulk-ingest shape (Arrow-batched), the
    UDTF the ad-hoc SQL shape.
    """
    from pyspark.sql.functions import udtf

    walk = _make_walker()

    @udtf(returnType=ENTRY_SCHEMA)
    class ExplodeTar:
        def eval(self, path: str, content: bytes):  # noqa: D102
            yield from walk(path, content)

    spark.udtf.register(name, ExplodeTar)
    return ExplodeTar


def _make_packer():
    """Build the archive packer shared by ``repack_archives`` and the
    embargo day's archive splitter (nested for by-value pickling).

    ``pack(archive, visibility, entries)`` takes ``(path, mode, mtime,
    data)`` tuples, ``mtime`` in epoch seconds, and returns ``(out_name,
    blob)``, ``blob`` None when there are no entries: the embargoed side is
    named ``-e.tgz`` (embargo.go:105) and the public side ``-p.tgz`` (the
    golden-file convention, embargo_test.go:77,87).  Deterministic output:
    entries are sorted by path and the gzip mtime is zeroed, so reruns are
    byte-stable (SURVEY ST3).
    """

    def pack(archive: str, visibility: str, entries):
        import gzip as _gzip
        import io as _io
        import tarfile as _tarfile

        suffix = "-e.tgz" if visibility == "private" else "-p.tgz"
        stem = archive[: -len(".tgz")] if archive.endswith(".tgz") else archive
        if not entries:
            return stem + suffix, None
        buf = _io.BytesIO()
        with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            with _tarfile.open(fileobj=gz, mode="w") as tar:
                for path, mode, mtime, data in sorted(entries, key=lambda e: e[0]):
                    info = _tarfile.TarInfo(name=path)
                    info.size = len(data)
                    info.mode = int(mode)
                    info.mtime = int(mtime)
                    tar.addfile(info, _io.BytesIO(data))
        return stem + suffix, buf.getvalue()

    return pack


def repack_archives(entries: DataFrame) -> DataFrame:
    """K1 half — regroup classified entries into per-(archive, visibility)
    .tgz blobs, mirroring the reference's two in-memory output archives
    (embargo.go:126-127, tar writers 179-199).

    Returns ``(archive, visibility, out_name, content)``; names and bytes
    come from ``_make_packer``.  ``embargo_day`` packs inside its one-pass
    kernel instead; this grouped form serves entries that are already rows.
    """
    pack = _make_packer()

    def _repack(key, pdf):
        import pandas as _pd

        archive, visibility = key
        out_name, blob = pack(
            archive,
            visibility,
            [
                (
                    r.path,
                    r.mode,
                    _pd.Timestamp(r.mtime).timestamp(),
                    bytes(r.content) if r.content is not None else b"",
                )
                for r in pdf.itertuples(index=False)
            ],
        )
        return _pd.DataFrame(
            {
                "archive": [archive],
                "visibility": [visibility],
                "out_name": [out_name],
                "content": [blob],
            }
        )

    return entries.groupBy("archive", "visibility").applyInPandas(
        _repack,
        schema="archive string, visibility string, out_name string, content binary",
    )
