"""Spans around calls into the program's layers, recorded from outside:
while a ``Tracer`` is installed, selected public functions are replaced by
timing wrappers, and the originals are restored on exit. Spans nest, so a
layer's time is its self time (a sink write inside ``prepare_corpus``
counts as sink, not as plan building).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import time
from collections import defaultdict

PKG = "openstack_billing_from_db_spark"


def _tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


def _parquet_rows(paths: dict) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths.values())


class Tracer:
    def __init__(self):
        self.self_s: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self.windows: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self._stack: list[list[float]] = []

    @contextlib.contextmanager
    def span(self, layer: str):
        """Time one call into ``layer``; epoch-clock windows are kept so
        status-store jobs can be attributed to the layer that started them."""
        t0, w0 = time.perf_counter(), time.time()
        self._stack.append([0.0])
        try:
            yield
        finally:
            children = self._stack.pop()[0]
            dur = time.perf_counter() - t0
            if self._stack:
                self._stack[-1][0] += dur
            self.self_s[layer] += dur - children
            self.windows[layer].append((w0, time.time()))

    def _wrap(self, fn, layer: str | None, count=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer) if layer else contextlib.nullcontext():
                out = fn(*args, **kwargs)
            if count is not None:
                for key, value in count(out, args, kwargs).items():
                    self.counts[key] += value
            return out

        return wrapper

    def _targets(self):
        from pyspark.sql.readwriter import DataFrameWriter

        def dump_rows(out, args, kwargs):
            return {"sources.mysqldump.rows": _parquet_rows(out)}

        def csv_bytes(out, args, kwargs):
            return {"sinks.bytes_written": _tree_bytes(out)}

        def parquet_bytes(out, args, kwargs):
            return {"sinks.bytes_written": _tree_bytes(args[1] if len(args) > 1 else kwargs["path"])}

        def epoch(out, args, kwargs):
            return {"streaming.micro_batches": 1}

        yield f"{PKG}.sources.mysqldump", "mysqldump_to_parquet", "sources.mysqldump.convert_s", dump_rows
        yield f"{PKG}.sinks.csv", "write_single_csv", "sinks.csv.write_s", csv_bytes
        yield DataFrameWriter, "parquet", "sinks.parquet.write_s", parquet_bytes
        for name in ("nova_instance_dim", "nova_invoice", "invoice_csv_rows"):
            yield f"{PKG}.plans.billing", name, "plans.build_s", None
        yield f"{PKG}.plans.corpus_pipeline", "prepare_corpus", "plans.build_s", None
        # admission epochs are counted, not timed: they run inside the query
        # function and their time belongs to its plan building
        for name in ("admit_batch", "admit_image_batch", "admit_audio_batch", "admit_video_batch"):
            yield f"{PKG}.streaming.dedup_stream", name, None, epoch

    @contextlib.contextmanager
    def installed(self):
        saved = []
        try:
            for owner, attr, layer, count in self._targets():
                obj = importlib.import_module(owner) if isinstance(owner, str) else owner
                if hasattr(obj, attr):
                    saved.append((obj, attr, getattr(obj, attr)))
                    setattr(obj, attr, self._wrap(getattr(obj, attr), layer, count))
            yield self
        finally:
            for obj, attr, fn in reversed(saved):
                setattr(obj, attr, fn)
