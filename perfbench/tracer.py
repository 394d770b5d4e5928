"""Spans around the crawler's layers, recorded from outside the program.

While a :class:`Tracer` is active it replaces a fixed set of public functions
and methods of ``crawler_spark`` (the ``TARGETS`` table) with wrappers, and
puts the originals back when it is deactivated.  Nothing under
``crawler_spark/`` is edited.

Each wrapper records a span (name, layer, start, end, parent, thread, rows)
in memory and sets the Spark job description of the calling thread to the
layer, so the event log attributes the jobs started inside the span to it.
Spark's local properties are per thread, which is what labels the snapshot
commits run on the crawl's tail pool threads.

Most layer functions only build a lazy plan; the crawl executes it later in
a few large jobs.  So a wrapper for a lazy function (``lazy=True``) persists
and counts the returned DataFrame inside its span: the layer's work then runs
in a job of its own, labelled with the layer, and the caller reads the cached
result instead of recomputing it.  Because its inputs were cached by the
layer before it, a span's time is the layer's own work.  After such a span
the thread keeps the layer's label, so the caller's next action (which reads
the cached output) is charged to it too.  This changes the plan shape, which
is why end-to-end metrics come from untraced runs and a traced run reports
its overhead.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import os
import sys
import threading
import time
from collections import Counter
from pathlib import Path

DESCRIPTION = "spark.job.description"

# (module, attribute, layer, lazy, patch only in these modules or None=all)
TARGETS = (
    ("crawler_spark.sources.frontier", "frontier_from_range", "frontier", True, None),
    ("crawler_spark.sources.frontier", "frontier_from_ids", "frontier", True, None),
    ("crawler_spark.operators.seen", "filter_not_missing", "seen", True, None),
    ("crawler_spark.operators.seen", "filter_unseen", "seen", True, None),
    ("crawler_spark.operators.politeness", "apply_robots", "politeness", True, None),
    ("crawler_spark.operators.politeness", "hot_host_list", "politeness", True, None),
    ("crawler_spark.operators.politeness", "select_wave_salted", "politeness", True, None),
    # discovery fetches through fetch_wave too; those stay in discovery's span
    ("crawler_spark.operators.fetch", "fetch_wave", "fetch", True,
     ("crawler_spark.plans.crawl_job",)),
    ("crawler_spark.operators.fetch", "fetch_downloaded", "fetch", True, None),
    ("crawler_spark.functions.parse_udfs", "with_parsed_card", "parse", True, None),
    ("crawler_spark.operators.photos", "fanout_photos", "photos", True, None),
    ("crawler_spark.operators.photos", "validate_image", "photos", True, None),
    ("crawler_spark.plans.discovery", "get_new_cards_from_check_api", "discovery", True, None),
    ("crawler_spark.plans.discovery", "newcards_cycle", "newcards", False, None),
)
METHODS = (
    ("crawler_spark.plans.crawl_job", "CrawlJob", "crawl", "crawl_job"),
    ("crawler_spark.plans.crawl_job", "CrawlJob", "run_wave", "crawl_job"),
    ("crawler_spark.sources.store", "SnapshotStore", "commit", "store"),
    ("crawler_spark.sources.store", "SnapshotStore", "read", "store"),
    ("crawler_spark.sources.store", "SnapshotStore", "total_rows", "store"),
    ("crawler_spark.sources.store", "SnapshotStore", "snapshots", "store"),
    ("crawler_spark.operators.seen", "ShardedBloom", "add_many", "seen_filter"),
)


def dir_bytes(path: Path) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.manifest_reads = 0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._cached: list = []
        self._patches: list = []

    # ----------------------------------------------------------------- spans
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _label(self, layer: str | None) -> None:
        self.sc.setLocalProperty(DESCRIPTION, layer)

    @contextlib.contextmanager
    def span(self, layer: str, name: str, sticky: bool = False):
        stack = self._stack()
        sp = {"id": next(self._ids), "layer": layer, "name": name,
              "parent": stack[-1]["id"] if stack else None,
              "thread": threading.get_ident(), "rows": None,
              "start": time.perf_counter(), "end": None}
        stack.append(sp)
        self._label(layer)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            if not sticky:
                self._label(stack[-1]["layer"] if stack else None)
            with self._lock:
                self.spans.append(sp)

    # -------------------------------------------------------------- wrappers
    def _wrap_function(self, fn, layer: str, lazy: bool):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(layer, fn.__name__, sticky=lazy) as sp:
                out = fn(*args, **kwargs)
                if lazy:
                    out = out.persist()
                    tracer._cached.append(out)
                    sp["rows"] = out.count()
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_method(self, cls_name: str, meth_name: str, fn, layer: str):
        tracer = self
        if cls_name == "SnapshotStore" and meth_name == "commit":
            def wrapper(store, table, *args, **kwargs):
                with tracer.span(layer, f"commit:{table}") as sp:
                    snap = fn(store, table, *args, **kwargs)
                    sp["bytes"] = dir_bytes(store.root / table / f"snap-{snap}")
                    sp["table"] = table
                return snap
        elif cls_name == "SnapshotStore" and meth_name == "read":
            def wrapper(store, spark, table, *args, **kwargs):
                with tracer.span(layer, f"read:{table}") as sp:
                    out = fn(store, spark, table, *args, **kwargs)
                    sp["dirs"] = 0 if out is None else _snapshot_dirs(store, table)
                return out
        elif meth_name == "add_many":
            def wrapper(flt, keys):
                with tracer.span(layer, "add_many") as sp:
                    sp["rows"] = len(keys)
                    return fn(flt, keys)
        elif meth_name == "total_rows":
            # run_wave's first frontier row count comes right after its
            # barrier on the previous wave: that is the frontier the wave's
            # seen/missing filters take in
            def wrapper(store, table, *args, **kwargs):
                n = fn(store, table, *args, **kwargs)
                stack = tracer._stack()
                if (table == "frontier" and stack and stack[-1]["name"] == "run_wave"
                        and "frontier_rows" not in stack[-1]):
                    stack[-1]["frontier_rows"] = n or 0
                return n
        elif meth_name == "snapshots":
            def wrapper(store, table):
                with tracer._lock:
                    tracer.manifest_reads += 1
                return fn(store, table)
        else:
            def wrapper(obj, *args, **kwargs):
                with tracer.span(layer, meth_name):
                    return fn(obj, *args, **kwargs)
        wrapper.__wrapped__ = fn
        return wrapper

    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def activate(self) -> None:
        """Install every wrapper; :meth:`deactivate` removes them."""
        for mod_name, attr, layer, lazy, only in TARGETS:
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapped = self._wrap_function(orig, layer, lazy)
            names = only or [m for m in list(sys.modules)
                             if m.startswith("crawler_spark")]
            for m in names:
                owner = importlib.import_module(m)
                if getattr(owner, attr, None) is orig:
                    self._set(owner, attr, wrapped)
        for mod_name, cls_name, meth, layer in METHODS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            self._set(cls, meth, self._wrap_method(cls_name, meth,
                                                   getattr(cls, meth), layer))

    def deactivate(self) -> None:
        """Restore the originals and release every cached layer output."""
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
        for df in self._cached:
            df.unpersist()
        self._cached.clear()
        self._label(None)

    @contextlib.contextmanager
    def active(self):
        self.spans.clear()
        self.manifest_reads = 0
        self.activate()
        try:
            yield self
        finally:
            self.deactivate()

    # -------------------------------------------------------------- summary
    def self_seconds(self) -> dict:
        """{layer: summed self time}: each span's duration minus the part its
        direct children (same thread) cover."""
        child_s: Counter = Counter()
        for sp in self.spans:
            if sp["parent"] is not None:
                child_s[sp["parent"]] += sp["end"] - sp["start"]
        out: Counter = Counter()
        for sp in self.spans:
            out[sp["layer"]] += max(0.0, sp["end"] - sp["start"] - child_s[sp["id"]])
        return out

    def by_name(self, layer: str, name: str | None = None) -> list[dict]:
        return [sp for sp in self.spans if sp["layer"] == layer
                and (name is None or sp["name"] == name
                     or sp["name"].startswith(name + ":"))]


def _original(cls, name: str):
    fn = getattr(cls, name)
    return getattr(fn, "__wrapped__", fn)


def _snapshot_dirs(store, table: str) -> int:
    snaps = _original(type(store), "snapshots")(store, table)
    return len(snaps[-1]["dirs"]) if snaps else 0
