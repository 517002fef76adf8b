"""Spans recorded from the benchmark's side of the engine's public calls.

``Tracer.install()`` wraps engine functions and methods. A module-level
function is replaced in every engine module that holds it, so a name bound
at import (``plans.pipeline`` binds ``transition`` and ``merge_upsert``; the
catalog operator modules bind ``pin``/``pin_checkpoint``/``pin_cut``) is
wrapped where it is looked up, not only in the module that defines it.

Builders such as ``transition``, ``merge_upsert`` and ``transform_stock_json``
return lazy DataFrames: their spans hold driver plan-build time (plus any
small action the builder runs itself); the execution cost lands in the
``ManagedTable`` write or the ``collect`` that runs the plan.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

ENGINE = "stock_data_etl_pipeline_spark"

# (module, attribute, span name) for module-level functions
FUNCTIONS = [
    ("plans.pipeline", "transform_stock_json", "stock_transform.transform_stock_json"),
    ("plans.stock_transform", "parse_raw", "stock_transform.parse_raw"),
    ("state_machine", "transition", "state_machine.transition"),
    ("operators.merge", "merge_upsert", "merge.merge_upsert"),
    ("operators.merge", "merge_insert_only", "merge.merge_insert_only"),
    ("sources.fetch", "fetch_tickers", "fetch.fetch_tickers"),
    ("plans.queries", "list_runs", "queries.list_runs"),
    ("plans.queries", "stock_detail", "queries.stock_detail"),
    ("plans.queries", "latest_run_for_stock", "queries.latest_run_for_stock"),
    ("operators.filters", "apply_filters", "filters.apply_filters"),
    ("operators.pagination", "keyset_page", "pagination.keyset_page"),
    ("operators.windows", "latest_per_group", "windows.latest_per_group"),
    ("operators.aggregates", "group_count_zerofill", "aggregates.group_count_zerofill"),
    ("plans.bulk", "queue_all_stocks", "bulk.queue_all_stocks"),
    ("plans.bulk", "bulk_run_stats", "bulk.bulk_run_stats"),
    ("operators.pinned", "pin", "pinned.pin"),
    ("operators.pinned", "pin_checkpoint", "pinned.pin_checkpoint"),
    ("operators.pinned", "pin_cut", "pinned.pin_cut"),
    ("operators.pinned", "release_pinned", "pinned.release_pinned"),
]

# (module, class, method, span name)
METHODS = [
    ("plans.pipeline", "StockLake", m, f"pipeline.{m}") for m in (
        "ingest_batch", "fetch_and_ingest", "_ingest_raw", "_active_run_ids",
        "get_or_create_stocks", "get_or_create_dim", "sync_stock_metadata",
        "read_raw_json")
] + [
    ("sources.managed_table", "ManagedTable", m, f"managed_table.{m}")
    for m in ("merge", "overwrite", "create", "read", "read_where",
              "prune_dirs")
] + [
    ("plans.gold", "GoldViews", m, f"gold.{m}") for m in ("get", "notify_write")
]

# every public function of these modules is wrapped (the catalog layers)
OPERATOR_MODULES = ["operators.analytics", "operators.dedup",
                    "operators.similarity", "operators.corpus",
                    "operators.indicators"]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None
    attrs: dict | None = None


class Tracer:
    """In-memory span recorder. ``enabled`` can be flipped between requests
    so a traced run can time some requests untraced (the overhead check)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = True
        self.op_id: int | None = None
        self._stack: list[int] = []

    # -- recording ---------------------------------------------------------
    def _wrap(self, fn, name: str, attrs_fn=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name) as span:
                out = fn(*args, **kwargs)
                if attrs_fn is not None:
                    span.attrs = attrs_fn(args, kwargs, out)
                return out

        return wrapper

    @contextmanager
    def span(self, name: str):
        """Record one span around the body (nothing while disabled)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span = Span(name, time.perf_counter(), 0.0, parent, self.op_id)
        self._stack.append(len(self.spans))
        self.spans.append(span)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()

    # -- installation ------------------------------------------------------
    @staticmethod
    def _replace_everywhere(orig, wrapper) -> None:
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if not (mname.startswith(ENGINE) or mname == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        for mod, attr, name in FUNCTIONS:
            m = importlib.import_module(f"{ENGINE}.{mod}")
            orig = getattr(m, attr)
            self._replace_everywhere(orig, self._wrap(orig, name))
        for mod in OPERATOR_MODULES:
            m = importlib.import_module(f"{ENGINE}.{mod}")
            layer = mod.split(".")[-1]
            for attr, orig in list(vars(m).items()):
                if (inspect.isfunction(orig) and not attr.startswith("_")
                        and orig.__module__ == m.__name__):
                    self._replace_everywhere(
                        orig, self._wrap(orig, f"{layer}.{attr}"))
        for mod, cls_name, meth, name in METHODS:
            cls = getattr(importlib.import_module(f"{ENGINE}.{mod}"), cls_name)
            orig = cls.__dict__[meth]
            attrs_fn = _prune_attrs if meth == "prune_dirs" else None
            setattr(cls, meth, self._wrap(orig, name, attrs_fn))

    # -- analysis ----------------------------------------------------------
    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, total seconds and self seconds (duration
        minus the time covered by direct children)."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0,
                                                    "self_s": 0.0})
        for i, s in enumerate(self.spans):
            d = out[s.name]
            d["calls"] += 1
            d["total_s"] += s.end - s.start
            d["self_s"] += s.end - s.start - child_time[i]
        return dict(out)

    def outermost(self, names: set[str], op_ids: set[int] | None = None) -> list[Span]:
        """Spans named in ``names`` with no ancestor also named in ``names``
        (so nested calls of one layer are not counted twice)."""
        out = []
        for s in self.spans:
            if s.name not in names or (op_ids is not None and s.op_id not in op_ids):
                continue
            p, nested = s.parent, False
            while p is not None:
                if self.spans[p].name in names:
                    nested = True
                    break
                p = self.spans[p].parent
            if not nested:
                out.append(s)
        return out

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        doc = {"spans": [{"name": s.name, "start": round(s.start - t0, 6),
                          "end": round(s.end - t0, 6), "parent": s.parent,
                          "op_id": s.op_id, **({"attrs": s.attrs} if s.attrs else {})}
                         for s in self.spans],
               "self_times": self.self_times(), **extra}
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1, default=str)


def _prune_attrs(args, kwargs, out) -> dict:
    """prune_dirs: how many data dirs the manifest holds and how many the
    min/max skipping kept."""
    table = args[0]
    version = kwargs.get("version") if "version" in kwargs else (
        args[4] if len(args) > 4 else None)
    v = table.latest_version() if version is None else version
    return {"dirs_kept": len(out), "dirs_total": len(table._read_manifest(v))}
