"""Traced-run instrumentation around the engine's public functions.

Nothing here edits the engine.  ``EmbargoProbes`` swaps the names that
``plans.embargo_pipeline`` imports (``read_tar_entries``,
``repack_archives``, ``normalize_ipv6``, ``write_routed``, ``write_blobs``)
for wrappers that open a driver-side span and label the Spark jobs the call
starts.  Where a call only builds a plan, the wrapper also wraps the Python
kernel it hands to Spark, so the kernel's busy time and row/byte counts come
back through accumulators from the worker processes.  Kernel times are
summed over parallel tasks: they are busy time, not wall time.
"""

from __future__ import annotations

import time
from contextlib import ExitStack, contextmanager


def _timed_map_kernel(fn, acc_s, acc_in_b, acc_rows, acc_out_b):
    """Wrap a mapInPandas function: time each produced batch, count the
    archive bytes handed in and the entries and entry bytes handed out."""

    def kernel(batches):
        def counted():
            for pdf in batches:
                acc_in_b.add(int(pdf["length"].sum()))
                yield pdf

        it = iter(fn(counted()))
        while True:
            t = time.perf_counter()
            try:
                out = next(it)
            except StopIteration:
                acc_s.add(time.perf_counter() - t)
                return
            acc_s.add(time.perf_counter() - t)
            acc_rows.add(len(out))
            acc_out_b.add(int(out["size"].sum()))
            yield out

    return kernel


def _timed_group_kernel(fn, acc_s):
    def kernel(key, pdf):
        t = time.perf_counter()
        try:
            return fn(key, pdf)
        finally:
            acc_s.add(time.perf_counter() - t)

    return kernel


def _timed_series_kernel(fn, acc_s, acc_rows):
    def kernel(s):
        t = time.perf_counter()
        try:
            return fn(s)
        finally:
            acc_s.add(time.perf_counter() - t)
            acc_rows.add(len(s))

    return kernel


@contextmanager
def _patched(obj, name: str, value):
    old = getattr(obj, name)
    setattr(obj, name, value)
    try:
        yield
    finally:
        setattr(obj, name, old)


class EmbargoProbes:
    """Per-layer spans and kernel counters for one ``embargo_day`` call."""

    def __init__(self, spark, tracer, workload: str) -> None:
        sc = spark.sparkContext
        self.sc = sc
        self.tracer = tracer
        self.workload = workload
        self.acc = {
            k: sc.accumulator(0.0 if k.endswith("_s") else 0)
            for k in (
                "decode_s", "scan_bytes", "entries", "decoded_bytes",
                "repack_s", "classify_s", "classify_rows",
            )
        }

    def values(self) -> dict[str, float]:
        return {k: a.value for k, a in self.acc.items()}

    def _group(self, name: str) -> None:
        self.sc.setJobGroup(f"{self.workload}:{name}:exec", name)

    @contextmanager
    def installed(self):
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin
        from pyspark.sql.pandas.map_ops import PandasMapOpsMixin
        from pyspark.sql.types import StringType

        from etl_embargo_spark.functions import ipv6
        from etl_embargo_spark.plans import embargo_pipeline as ep

        tr, acc = self.tracer, self.acc
        orig = {
            n: getattr(ep, n)
            for n in (
                "read_tar_entries", "repack_archives", "normalize_ipv6",
                "write_routed", "write_blobs",
            )
        }
        map_in_pandas = PandasMapOpsMixin.mapInPandas
        apply_in_pandas = PandasGroupedOpsMixin.applyInPandas

        def read_tar_entries(*a, **kw):
            def timed_map(df, fn, *ma, **mkw):
                k = _timed_map_kernel(
                    fn, acc["decode_s"], acc["scan_bytes"], acc["entries"],
                    acc["decoded_bytes"],
                )
                return map_in_pandas(df, k, *ma, **mkw)

            with tr.span("tar_source.read_tar_entries"), _patched(
                PandasMapOpsMixin, "mapInPandas", timed_map
            ):
                return orig["read_tar_entries"](*a, **kw)

        def repack_archives(*a, **kw):
            def timed_apply(gd, fn, *ga, **gkw):
                k = _timed_group_kernel(fn, acc["repack_s"])
                return apply_in_pandas(gd, k, *ga, **gkw)

            with tr.span("tar_source.repack_archives"), _patched(
                PandasGroupedOpsMixin, "applyInPandas", timed_apply
            ):
                return orig["repack_archives"](*a, **kw)

        def normalize_ipv6(col):
            # Same kernel as the engine's UDF, re-wrapped with a timer.
            k = _timed_series_kernel(
                ipv6._make_udf().func, acc["classify_s"], acc["classify_rows"]
            )
            return F.pandas_udf(k, StringType())(col)

        def write_routed(*a, **kw):
            self._group("routed_write")
            with tr.span("routed_write.write_routed"):
                return orig["write_routed"](*a, **kw)

        def write_blobs(*a, **kw):
            self._group("write_blobs")
            with tr.span("routed_write.write_blobs"):
                return orig["write_blobs"](*a, **kw)

        wrappers = {
            "read_tar_entries": read_tar_entries,
            "repack_archives": repack_archives,
            "normalize_ipv6": normalize_ipv6,
            "write_routed": write_routed,
            "write_blobs": write_blobs,
        }
        with ExitStack() as stack:
            for n, w in wrappers.items():
                stack.enter_context(_patched(ep, n, w))
            yield
