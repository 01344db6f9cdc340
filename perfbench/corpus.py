"""Seeded sidestream archive corpus for the ``embargo_day`` workload, and
the public/private split it must produce.

One day prefix holds ``N_ARCHIVES`` gzipped tar archives named by the
sidestream grammar ``YYYYMMDDTHHMMSSZ-<machine>-<site>-sidestream-<seq>.tgz``.
Each holds ``ENTRIES_PER_ARCHIVE`` regular files named
``YYYYMMDDTHH:MM:SSZ_<localIP>_<seq>.<kind>``.  The seed permutes a fixed
population, so every seed yields the same entry count, the same total
uncompressed bytes and the same public/private shares; only which entry
gets which size, name and IP changes.  That keeps run-to-run spread a
property of the engine, not of the corpus.

The expected split is computed here in plain Python from the embargo rule
(embargo.go:174 in m-lab/etl-embargo)::

    public <=> archive older than the cutoff
               or basename does not contain "web100"
               or the basename's local IP (normalised) is whitelisted

This module imports nothing from the engine, so the manifest is an
independent oracle for the engine's classifier.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import io
import ipaddress
import json
import math
import os
import random
import tarfile
from concurrent.futures import ProcessPoolExecutor

N_ARCHIVES = 12
ENTRIES_PER_ARCHIVE = 90
MIN_ENTRY_BYTES = 24
MAX_ENTRY_BYTES = 308 * 1024
WEB100_SHARE = 0.70
# Of the web100 entries: this share names a whitelisted IP, this share has
# a malformed name (no local IP), the rest name an IP outside the whitelist.
WHITELIST_HIT_SHARE = 0.50
MALFORMED_SHARE = 0.05
OTHER_KINDS = ("paris", "snaplog", "tra", "cputime")
SITES = ("atl06", "lga03", "nuq02", "syd01", "ams05")
# The reference's full whitelist holds 3,473 IPs (testdata/whitelist_full).
WHITELIST_SIZE = 3473


def local_ip(basename: str) -> str:
    """The text strictly between the first and the last underscore, or ""
    when the name has fewer than two underscores (filename_parser.go)."""
    first, last = basename.find("_"), basename.rfind("_")
    if first < 0 or first >= last:
        return ""
    return basename[first + 1 : last]


def normalize_ip(ip: str) -> str | None:
    """Sidestream writes "::" as ":::" inside names; IPv6 is repaired and
    canonicalised, IPv4 passes through, unparseable IPv6 is None."""
    if not ip:
        return None
    if ":" not in ip:
        return ip
    try:
        return str(ipaddress.ip_address(ip.replace(":::", "::")))
    except ValueError:
        return None


def classify(
    basename: str, archive_date: int, cutoff: int, whitelist: frozenset[str]
) -> str:
    """The embargo rule, one entry at a time: "public" or "private"."""
    if archive_date < cutoff or "web100" not in basename:
        return "public"
    ip = normalize_ip(local_ip(basename))
    return "public" if ip is not None and ip in whitelist else "private"


def _ip_pool(rng: random.Random) -> tuple[list[str], list[str]]:
    """(IPs as written in entry names, whitelist IPs in canonical form).
    Half of the named IPs are whitelisted; IPv6 names use the ":::" quirk
    so a hit needs normalisation.  The rest of the ``WHITELIST_SIZE``
    whitelist entries are IPs no entry names, as in a real allowlist."""
    named = [f"10.{rng.randrange(256)}.{rng.randrange(256)}.{i}" for i in range(48)]
    named += [f"2001:db8:{i:x}:::{rng.randrange(1, 65536):x}" for i in range(16)]
    rng.shuffle(named)
    hits = {normalize_ip(ip) for ip in named[: len(named) // 2]}
    unused = rng.sample(range(1 << 16), WHITELIST_SIZE - len(hits))
    whitelist = sorted(hits | {f"192.168.{k >> 8}.{k & 255}" for k in unused})
    return named, whitelist


def _filler(rng: random.Random, n_bytes: int) -> bytes:
    """Word salad that gzip compresses about 3:1, like measurement text."""
    words = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(k))
        for k in (3, 4, 5, 6, 7, 8) * 80
    ]
    out = bytearray()
    while len(out) < n_bytes:
        out += " ".join(rng.choices(words, k=4096)).encode() + b"\n"
    return bytes(out[:n_bytes])


def _gzip(data: bytes) -> bytes:
    return gzip.compress(data, compresslevel=6, mtime=0)


def day_for_seed(seed: int) -> dt.date:
    return dt.date(2017, 1, 1) + dt.timedelta(days=seed % 365)


def generate(out_dir: str, seed: int) -> dict:
    """Write the day's archives under ``out_dir/archives``, the whitelist
    at ``out_dir/whitelist`` and return the manifest (also written to
    ``out_dir/manifest.json``)."""
    rng = random.Random(seed)
    day = day_for_seed(seed)
    day_int = int(day.strftime("%Y%m%d"))
    cutoff = int(day.replace(year=day.year - 1).strftime("%Y%m%d"))
    named_ips, whitelist = _ip_pool(rng)
    wl = frozenset(whitelist)
    hit_ips = [ip for ip in named_ips if normalize_ip(ip) in wl]
    miss_ips = [ip for ip in named_ips if normalize_ip(ip) not in wl]

    # Every archive gets one size from each stratum of the log-uniform
    # distribution and the same count of each kind of entry, so archives
    # weigh the same whatever the seed and no seed makes a straggler task.
    n = N_ARCHIVES * ENTRIES_PER_ARCHIVE
    lo, hi = math.log(MIN_ENTRY_BYTES), math.log(MAX_ENTRY_BYTES)
    sizes = [round(math.exp(lo + (i + 0.5) / n * (hi - lo))) for i in range(n)]
    per = ENTRIES_PER_ARCHIVE
    n_web100 = round(per * WEB100_SHARE)
    n_hit = round(n_web100 * WHITELIST_HIT_SHARE)
    n_bad = round(n_web100 * MALFORMED_SHARE)
    kinds_one = (
        ["hit"] * n_hit
        + ["bad"] * n_bad
        + ["miss"] * (n_web100 - n_hit - n_bad)
        + ["other"] * (per - n_web100)
    )
    plan = []
    for a in range(N_ARCHIVES):
        mine = sizes[a::N_ARCHIVES]
        kinds = list(kinds_one)
        rng.shuffle(mine)
        rng.shuffle(kinds)
        plan.append(list(zip(mine, kinds)))
    filler = _filler(rng, 1 << 20)
    ring = filler + filler  # ring[off:off + n] wraps round the filler

    arch_dir = os.path.join(out_dir, "archives")
    os.makedirs(arch_dir, exist_ok=True)
    mtime = int(dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc).timestamp())
    entries: dict[str, dict] = {}
    archives: dict[str, dict] = {}
    tars: dict[str, bytes] = {}
    for a in range(N_ARCHIVES):
        stamp = f"{day_int}T{a // 4:02d}{(a % 4) * 15:02d}00Z"
        name = f"{stamp}-mlab{a % 4 + 1}-{SITES[a % len(SITES)]}-sidestream-{a:04d}.tgz"
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tar:
            for e in range(ENTRIES_PER_ARCHIVE):
                i = a * ENTRIES_PER_ARCHIVE + e
                t = f"{day_int}T{(i // 3600) % 24:02d}:{(i // 60) % 60:02d}:{i % 60:02d}Z"
                size, kind = plan[a][e]
                if kind == "hit":
                    base = f"{t}_{rng.choice(hit_ips)}_{i:05d}.web100"
                elif kind == "miss":
                    base = f"{t}_{rng.choice(miss_ips)}_{i:05d}.web100"
                elif kind == "bad":
                    base = f"{t}_ALL{i}.web100"
                else:
                    base = f"{t}_{rng.choice(named_ips)}_{i:05d}.{rng.choice(OTHER_KINDS)}"
                path = f"{day.year}/{day.month:02d}/{day.day:02d}/{base}"
                head = f"{path}\n".encode()
                off = rng.randrange(len(filler))
                body = (head + ring[off : off + size])[:size]
                info = tarfile.TarInfo(name=path)
                info.size = len(body)
                info.mode = 0o644
                info.mtime = mtime
                tar.addfile(info, io.BytesIO(body))
                entries[path] = {
                    "archive": name,
                    "sha1": hashlib.sha1(body).hexdigest(),
                    "visibility": classify(base, day_int, cutoff, wl),
                }
        tars[name] = buf.getvalue()

    # Compression is most of the generation time; archives are independent.
    with ProcessPoolExecutor(max_workers=min(4, os.cpu_count() or 1)) as pool:
        blobs = pool.map(_gzip, tars.values())
        for name, blob in zip(tars, blobs):
            with open(os.path.join(arch_dir, name), "wb") as f:
                f.write(blob)
            archives[name] = {"bytes": len(blob)}

    with open(os.path.join(out_dir, "whitelist"), "w") as f:
        f.write("\n".join(whitelist) + "\n")
    manifest = {
        "seed": seed,
        "day": day_int,
        "cutoff": cutoff,
        "archives": archives,
        "entries": entries,
        "input_bytes": sum(v["bytes"] for v in archives.values()),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


def manifest_digest(manifest: dict) -> str:
    """Digest of the expected output: every entry's path, content hash and
    side.  Archive byte counts are left out: they depend on the zlib build."""
    h = hashlib.sha256()
    for path in sorted(manifest["entries"]):
        e = manifest["entries"][path]
        h.update(f"{path}\t{e['sha1']}\t{e['visibility']}\n".encode())
    return h.hexdigest()
