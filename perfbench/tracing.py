"""Traced mode: spans around the engine's layer entry points.

Each entry point is wrapped at the name its caller looks up (a module
attribute, or a method of the class), so the engine runs unchanged code
and no Spark action is added.  A span is ``(name, start, end, parent,
statement)``; spans stay in memory and are written once, at the end of
the run.  Counters (files in and out, cache hits, entries walked) are
kept next to them, per statement.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counts: dict[tuple, float] = defaultdict(float)
        self.stmt = -1  # statement id; -1 outside statements
        self._stack: list[int] = []
        self._undo: list[tuple] = []
        # location -> active files at the latest walk (for sinks)
        self.active: dict[str, int] = {}

    # -- recording --------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), None, parent, self.stmt))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, s, _e, p, st = self.spans[idx]
            self.spans[idx] = (n, s, time.perf_counter(), p, st)

    def add(self, name: str, value: float = 1.0) -> None:
        self.counts[(self.stmt, name)] += value

    # -- wrapping ---------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, post=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper; ``post(result,
        args, kwargs)`` may add counters."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = fn(*args, **kwargs)
            if post is not None:
                post(result, args, kwargs)
            return result

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    # -- aggregation ------------------------------------------------------

    def totals(self, stmts: set[int]) -> dict[str, float]:
        """Per-name sums over ``stmts``: span time in ms as
        ``<name>_ms`` plus every counter."""
        out: dict[str, float] = defaultdict(float)
        for name, s, e, _p, st in self.spans:
            if st in stmts and e is not None:
                out[name + "_ms"] += (e - s) * 1000.0
        for (st, name), v in self.counts.items():
            if st in stmts:
                out[name] += v
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(
            json.dumps(
                {
                    "spans": [
                        {"name": n, "start": s, "end": e, "parent": p, "stmt": st}
                        for n, s, e, p, st in self.spans
                    ],
                    "counts": [
                        {"stmt": st, "name": n, "value": v}
                        for (st, n), v in sorted(self.counts.items())
                    ],
                }
            )
        )


class CountingStore:
    """A ``MetadataStore`` that times and counts ``get_table``."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self._inner = inner
        self._tracer = tracer

    def get_table(self, database, table):
        self._tracer.add("catalog.get_table_calls")
        with self._tracer.span("catalog.get_table"):
            return self._inner.get_table(database, table)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class CountingFileSystem:
    """A ``FileSystem`` that times listings and counts listed objects."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self._inner = inner
        self._tracer = tracer

    def list_files(self, location):
        self._tracer.add("listing.list_calls")
        with self._tracer.span("listing.list"):
            out = self._inner.list_files(location)
        self._tracer.add("listing.objects_listed", len(out))
        return out

    def list_dir(self, location):
        self._tracer.add("listing.list_calls")
        with self._tracer.span("listing.list"):
            dirs, files = self._inner.list_dir(location)
        self._tracer.add("listing.objects_listed", len(dirs) + len(files))
        return dirs, files

    def __getattr__(self, name):
        return getattr(self._inner, name)


def install(tracer: Tracer, engine) -> None:
    """Wrap the layer entry points of a constructed engine."""
    import glue_table_cache_spark.cache as cache_mod
    import glue_table_cache_spark.dml as dml_mod
    import glue_table_cache_spark.engine as engine_mod
    import glue_table_cache_spark.skipping as skipping_mod
    import glue_table_cache_spark.sources.delta as delta_mod
    import glue_table_cache_spark.sources.hudi as hudi_mod
    import glue_table_cache_spark.sources.iceberg as iceberg_mod
    from pyspark.sql.readwriter import DataFrameReader

    t = tracer
    t.wrap(engine_mod, "get_query_glue_table_refs", "transformer.refs")
    t.wrap(engine_mod, "rewrite_query", "transformer.rewrite")
    t.wrap(dml_mod, "parse_dml", "dml.parse")

    def pruned(result, args, kwargs):
        t.add("pruning.files_in", len(args[0]))
        t.add("pruning.files_out", len(result))

    t.wrap(engine_mod, "prune_files", "pruning.prune", pruned)

    def skipped(result, args, kwargs):
        t.add("skipping.files_in", len(args[0]))
        t.add("skipping.files_out", len(result))

    t.wrap(skipping_mod, "skip_files", "skipping.skip", skipped)

    def walked(kind):
        def post(result, args, kwargs):
            entries = result if kind == "hudi" else result[0]
            t.add("sources.walk_entries", len(entries))
            t.active[str(args[0])] = len(entries)

        return post

    t.wrap(delta_mod, "delta_scan_info", "sources.delta.walk", walked("delta"))
    t.wrap(iceberg_mod, "iceberg_scan_details", "sources.iceberg.walk", walked("iceberg"))
    t.wrap(hudi_mod, "hudi_scan_info", "sources.hudi.walk", walked("hudi"))

    meta_cache = engine._metadata_cache
    get_or_load = cache_mod.LruTtlCache.get_or_load
    peek = cache_mod.LruTtlCache.peek

    def traced_get_or_load(self, key, loader):
        kind = "metadata" if self is meta_cache else "listing"
        ran = []

        def timed_loader():
            ran.append(True)
            with t.span("cache.load"):
                return loader()

        out = get_or_load(self, key, timed_loader)
        t.add(f"cache.{kind}_misses" if ran else f"cache.{kind}_hits")
        return out

    def traced_peek(self, key):
        out = peek(self, key)
        if out is not None:
            t.add("cache.metadata_hits" if self is meta_cache else "cache.listing_hits")
        return out

    for attr, fn, orig in (("get_or_load", traced_get_or_load, get_or_load), ("peek", traced_peek, peek)):
        setattr(cache_mod.LruTtlCache, attr, fn)
        t._undo.append((cache_mod.LruTtlCache, attr, orig))

    depth = [0]
    for attr in ("parquet", "load", "orc", "json", "csv", "table"):
        orig = getattr(DataFrameReader, attr)

        def reader(self, *args, __orig=orig, **kwargs):
            depth[0] += 1
            try:
                if depth[0] > 1:
                    return __orig(self, *args, **kwargs)
                with t.span("engine.read_setup"):
                    return __orig(self, *args, **kwargs)
            finally:
                depth[0] -= 1

        setattr(DataFrameReader, attr, reader)
        t._undo.append((DataFrameReader, attr, orig))


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase times of a DataFrame's query execution, in ms."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
