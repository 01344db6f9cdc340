from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# Keep the test JVM small and deterministic.
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from etl_embargo_spark.session import get_spark

    spark = get_spark("etl_embargo_spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from etl_embargo_spark.parity import duckdb_connection

    con = duckdb_connection(sf_dir)
    yield con
    con.close()


def _write_tgz(path, members: list[tuple[str, bytes | None]], mtime: int = 1489536000) -> str:
    """Write a gzipped tar at ``path``: each member is ``(name, content)``,
    ``content`` None for a directory entry."""
    import gzip
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tar:
        for name, content in members:
            info = tarfile.TarInfo(name=name)
            info.mtime = mtime
            if content is None:
                info.type = tarfile.DIRTYPE
                info.mode = 0o755
                tar.addfile(info)
            else:
                info.size = len(content)
                info.mode = 0o644
                tar.addfile(info, io.BytesIO(content))
    with open(path, "wb") as f:
        f.write(gzip.compress(buf.getvalue(), mtime=0))
    return str(path)


@pytest.fixture(scope="session")
def make_tgz():
    """``make_tgz(path, members)`` writes a gzipped tar of ``(name,
    content)`` members (content None: a directory entry)."""
    return _write_tgz


@pytest.fixture(scope="session")
def sidestream_tgz(tmp_path_factory) -> str:
    """One generated archive in the sidestream grammar: the archive name
    ``YYYYMMDDTHHMMSSZ-<machine>-<site>-sidestream-<seq>.tgz`` and entries
    ``YYYY/MM/DD/YYYYMMDDTHH:MM:SSZ_<localIP>_<seq>.<kind>`` (web100 with
    IPv4 and ``:::`` IPv6 addresses, a malformed ``_ALL0`` name, other
    kinds), plus a directory entry.  Contents are seeded random bytes, so
    the gzip stream is tens of KB and a 100-byte prefix of it is truncated."""
    import random

    rng = random.Random(20170315)
    ips = ["213.244.128.170", "4.34.58.34", "2001:4c08:2003:3f:::230", "10.1.2.3"]
    kinds = ["web100", "web100", "web100", "paris", "snaplog"]
    members: list[tuple[str, bytes | None]] = [("2017/03/15/", None)]
    for i in range(12):
        stamp = f"20170315T{i // 60:02d}:{i % 60:02d}:00Z"
        name = f"{stamp}_{ips[i % len(ips)]}_{i:05d}.{kinds[i % len(kinds)]}"
        members.append((f"2017/03/15/{name}", rng.randbytes(rng.randrange(24, 8192))))
    members.append(("2017/03/15/20170315T00:59:00Z_ALL0.web100", rng.randbytes(512)))
    out = tmp_path_factory.mktemp("sidestream")
    return _write_tgz(out / "20170315T000000Z-mlab3-sea03-sidestream-0000.tgz", members)
