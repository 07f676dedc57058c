"""Span recorder for the traced run.

``Recorder.install()`` wraps the engine's public layer functions at the
name each caller looks up (``cdc.stream.apply_cdc_batch`` is a different
binding from ``cdc.apply.apply_cdc_batch``; ``rolling_maintenance`` and
``refresh_agg_mart`` are looked up in their modules at call time) and the
``LakeTable`` write/read methods.  Spans are kept in memory with parent
ids — one stack per thread, because streaming ``foreachBatch`` callbacks
run on their own thread — and written out as JSON lines at exit.
Nothing is wrapped unless ``install()`` is called, so untraced runs
execute the engine untouched.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import threading
import time
from collections import defaultdict

# (module, attribute, span name); a class attribute is given as "module:Class"
LAYER_FUNCTIONS = [
    ("ton_etl_spark.cdc.apply", "apply_cdc_batch", "cdc.apply"),
    ("ton_etl_spark.cdc.stream", "apply_cdc_batch", "cdc.apply"),
    ("ton_etl_spark.cdc.apply", "merge_lww", "lake.merge"),
    ("ton_etl_spark.lake.incremental", "refresh_agg_mart", "lake.incremental.refresh"),
    ("ton_etl_spark.lake.maintenance", "rolling_maintenance", "lake.maintenance.rolling"),
    ("ton_etl_spark.lake.table:LakeTable", "append", "lake.table.append"),
    ("ton_etl_spark.lake.table:LakeTable", "overwrite_buckets", "lake.table.overwrite"),
    ("ton_etl_spark.lake.table:LakeTable", "read", "lake.table.read"),
]


def _files(table) -> dict[str, int]:
    return {f.path: f.rows for f in table.current().files}


class Recorder:
    def __init__(self, jobs=None):
        """``jobs``: a ``common.JobCounter``; ``cdc.apply`` spans then carry
        the Spark jobs and tasks they ran."""
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0
        self.jobs = jobs

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    # ------------------------------------------------------------ wrapping
    def install(self) -> None:
        for target, attr, name in LAYER_FUNCTIONS:
            mod_name, _, cls_name = target.partition(":")
            owner = importlib.import_module(mod_name)
            if cls_name:
                owner = getattr(owner, cls_name)
            orig = getattr(owner, attr)
            setattr(owner, attr, self._wrap(orig, name))
            self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _wrap(self, fn, name: str):
        writes = name in ("lake.table.append", "lake.table.overwrite")
        maint = name == "lake.maintenance.rolling"
        count_jobs = name == "cdc.apply"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            table = args[0] if (writes or maint) and args else None
            before = _files(table) if table is not None else None
            j0 = self.jobs.mark() if count_jobs and self.jobs else None
            self.bookkeeping_s += time.perf_counter() - t0
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
            t0 = time.perf_counter()
            if j0 is not None:
                sp.attrs["jobs"], sp.attrs["tasks"] = self.jobs.since(j0)
            if table is not None:
                after = _files(table)
                sp.attrs["root"] = table.root
                if writes:
                    new = [p for p in after if p not in before]
                    sp.attrs["rows_written"] = sum(after[p] for p in new)
                    sp.attrs["bytes_written"] = sum(
                        os.path.getsize(os.path.join(table.root, p)) for p in new
                    )
                else:
                    sp.attrs["files_before"] = len(before)
                    sp.attrs["files_after"] = len(after)
            if isinstance(out, dict):
                for k in ("applied", "from", "to"):
                    if k in out and isinstance(out[k], (bool, int)):
                        sp.attrs[k] = out[k]
                if isinstance(out.get("buckets"), list):
                    sp.attrs["buckets"] = len(out["buckets"])
            self.bookkeeping_s += time.perf_counter() - t0
            return out

        return wrapper

    # ------------------------------------------------------------ reports
    def self_by_span(self) -> dict[int, float]:
        """Per span id: its duration minus the part its children cover."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["t1"] - s["t0"]
        return {s["id"]: (s["t1"] - s["t0"]) - child_s[s["id"]] for s in self.spans}

    def self_times(self) -> dict[str, float]:
        """Per span name: the summed self time of its spans."""
        own = self.self_by_span()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += own[s["id"]]
        return dict(out)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


class _Span:
    def __init__(self, rec: Recorder, name: str, attrs: dict):
        self.rec, self.name, self.attrs = rec, name, attrs

    def __enter__(self):
        stack = self.rec._stack()
        self.id = next(self.rec._ids)
        self.parent = stack[-1] if stack else None
        stack.append(self.id)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb):
        t1 = time.perf_counter()
        self.rec._stack().pop()
        rec = {
            "id": self.id, "parent": self.parent, "name": self.name,
            "t0": self.t0, "t1": t1, "thread": threading.get_ident(),
            "attrs": self.attrs, "error": exc_type.__name__ if exc_type else None,
        }
        with self.rec._lock:
            self.rec.spans.append(rec)
        return False
