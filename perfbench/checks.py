"""Output checks, run outside every timed region.

``check_embargo_day`` compares both outputs of one ``embargo_day`` call,
the routed parquet and the repacked ``-p``/``-e`` archives, with the
corpus manifest.  ``compare_with_oracle`` compares a query result with its
DuckDB oracle the way ``parity.compare`` does (row count, column set,
order-insensitive canonical values, using parity's own value
canonicaliser), but walks rows with ``itertuples``: ``parity.compare``'s
``iterrows`` took 98 s on one 600k-row result on a 4-core box.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import tarfile


def _side_of_blob(name: str) -> tuple[str, str] | None:
    for suffix, side in (("-p.tgz", "public"), ("-e.tgz", "private")):
        if name.endswith(suffix):
            return name[: -len(suffix)] + ".tgz", side
    return None


def check_embargo_day(manifest: dict, routed_dir: str, blob_dir: str) -> tuple[list[str], dict]:
    """Return (problems, counts).  ``problems`` is empty when every entry
    of the manifest appears exactly once on its expected side, with its
    content, in both outputs."""
    import pyarrow.dataset as ds

    expected = manifest["entries"]
    problems: list[str] = []

    table = ds.dataset(routed_dir, format="parquet", partitioning="hive").to_table(
        columns=["path", "archive", "content", "visibility"]
    )
    seen: set[str] = set()
    counts = {"public": 0, "private": 0}
    for path, archive, content, side in zip(
        *(table.column(c).to_pylist() for c in ("path", "archive", "content", "visibility"))
    ):
        want = expected.get(path)
        if want is None or path in seen:
            problems.append(f"routed: unexpected or repeated entry {path}")
            continue
        seen.add(path)
        counts[side] = counts.get(side, 0) + 1
        if (side, archive, hashlib.sha1(content).hexdigest()) != (
            want["visibility"], want["archive"], want["sha1"],
        ):
            problems.append(f"routed: {path} differs from the manifest")
    if len(seen) != len(expected):
        problems.append(f"routed: {len(expected) - len(seen)} entries missing")

    seen = set()
    for name in sorted(os.listdir(blob_dir)):
        split = _side_of_blob(name)
        if split is None:
            problems.append(f"blobs: unexpected file {name}")
            continue
        archive, side = split
        with gzip.open(os.path.join(blob_dir, name), "rb") as gz:
            with tarfile.open(fileobj=gz, mode="r|") as tar:
                for info in tar:
                    want = expected.get(info.name)
                    if want is None or info.name in seen:
                        problems.append(f"blobs: unexpected or repeated entry {info.name}")
                        continue
                    seen.add(info.name)
                    body = tar.extractfile(info).read()
                    if (side, archive, hashlib.sha1(body).hexdigest()) != (
                        want["visibility"], want["archive"], want["sha1"],
                    ):
                        problems.append(f"blobs: {info.name} differs from the manifest")
    if len(seen) != len(expected):
        problems.append(f"blobs: {len(expected) - len(seen)} entries missing")
    return problems, counts


def compare_with_oracle(spark_pdf, oracle_pdf) -> str | None:
    """How a query result differs from its oracle, or None when they agree."""
    from etl_embargo_spark.parity import _canon_value

    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        return f"columns spark={s_cols} oracle={o_cols}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows spark={len(spark_pdf)} oracle={len(oracle_pdf)}"

    def canon(pdf):
        return sorted(
            tuple(_canon_value(v) for v in row)
            for row in pdf[s_cols].itertuples(index=False, name=None)
        )

    if canon(spark_pdf) != canon(oracle_pdf):
        return "values differ"
    return None
