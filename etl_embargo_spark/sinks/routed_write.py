"""K1 — the dual-sink routed write, plus blob emission utilities.

Reference: ``WriteResults`` /root/reference/embargo.go:104-122 — public
buffer → public bucket under the original name, embargo buffer → private
bucket under the ``-e.tgz`` name.  Spark-first this is ONE partitioned write:
``partitionBy("visibility")`` routes both sides in a single pass over the
data (the reference's single-scan/two-output structure, embargo.go:149-201),
and downstream consumers mount ``visibility=public/`` and
``visibility=private/`` as the two "buckets".

Idempotency (SURVEY ST3): dynamic partition overwrite replaces the
partitions the write produces and leaves every other partition alone.  A
rerun therefore replaces only what it rewrites when the partition columns
name the unit of work: ``embargo_day`` partitions by archive date as well
as visibility, so rerunning one day keeps every other day, and it drops the
side of a rerun day that the rerun no longer produces
(``drop_partitions``).  Partitioned by visibility alone, a second day
would replace the first.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def write_routed(
    df: DataFrame,
    out_dir: str,
    partition_cols: tuple[str, ...] = ("visibility",),
    mode: str = "overwrite",
) -> None:
    """Single-pass two-way (or N-way) routed write of classified records."""
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(out_dir)
    )


def drop_partitions(
    spark: SparkSession, out_dir: str, partitions: list[dict[str, object]]
) -> None:
    """Delete the given partitions (``{column: value}`` in partition-column
    order, None for the null partition) of a partitioned output, through
    the Hadoop filesystem of ``out_dir`` so any URI scheme works."""
    jvm = spark.sparkContext._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    root = Path(out_dir)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    for spec in partitions:
        sub = "/".join(
            f"{k}={'__HIVE_DEFAULT_PARTITION__' if v is None else v}"
            for k, v in spec.items()
        )
        fs.delete(Path(root, sub), True)


def _make_committer():
    """Build the atomic blob commit shared by ``write_blobs`` and the embargo
    day's archive splitter (nested for by-value pickling).

    ``commit(target, data)`` writes to a temp name unique to the call, then
    renames it over ``target``.  Two attempts of one task (a speculative
    copy, or a retry racing a zombie attempt) never share a temp file, so
    the target is always one attempt's complete blob; a failed write removes
    its own temp file.
    """

    def commit(target: str, data: bytes) -> None:
        import os as _os
        import uuid as _uuid

        tmp = f"{target}.{_uuid.uuid4().hex}.inprogress"
        try:
            with open(tmp, "wb") as f:
                f.write(data)
            _os.replace(tmp, target)
        finally:
            if _os.path.exists(tmp):  # only when the write or rename failed
                _os.remove(tmp)

    return commit


def write_blobs(df: DataFrame, out_dir: str) -> None:
    """Emit ``(out_name, content)`` rows as raw files under ``out_dir`` —
    the K2/K3 upload analog for repacked archives.  Distributed: each
    executor partition writes its own blobs; ``out_dir`` must be shared
    storage on a cluster (it is a local dir on local[*])."""
    commit = _make_committer()

    def _write_partition(rows) -> None:
        os.makedirs(out_dir, exist_ok=True)
        for row in rows:
            target = os.path.join(out_dir, row["out_name"])
            os.makedirs(os.path.dirname(target), exist_ok=True)
            commit(target, bytes(row["content"]))

    df.select("out_name", "content").foreachPartition(_write_partition)
