"""catalog_sf01: a fixed set of ``__spark_entry__.queries()`` entries on the
sf0.1 tables, timed the way ``bench.py`` times them.

Per query, in a fixed order: ``release_pinned()``, one cold attempt, then
``WARM_ATTEMPTS`` attempts that may reuse the query's own pinned subtrees (a
traced run adds an untraced one, for the tracing overhead). Each
attempt times the unwrapped builder (``__wrapped__``) plus ``collect()``,
and every attempt's rows are checked against the stored DuckDB oracle
result (``expected_sf01.json``).

The inputs are the benchmark's copy of the sf0.1 tables; they do not depend
on the seed.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

import __spark_entry__ as entry
from stock_data_etl_pipeline_spark.operators import pinned
from tools.check_oracle import hash_rows

from .counters import SparkCounters, SparkWork, catalyst_s

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.1")

# the perf-weak set (ROADMAP open item 2), which holds the graph
# (direction 3), dedup (direction 4) and corpus targets, plus a relational
# control group that bypasses operators.analytics, .dedup and .pinned
QUERIES = (
    "graph_assortativity", "dedup_containment",
    "corpus_heaps_curve", "q3_shipping_priority", "latest_order_per_customer",
    "keyset_page2",
)

WARMUP_QUERY = "q1_pricing_summary"
# a warm attempt's time is bimodal for some queries (graph_assortativity:
# ~1.3 s or ~2.0 s), so the median of three
WARM_ATTEMPTS = 3


@dataclass
class Attempt:
    query: str
    cold: bool
    latency_s: float = 0.0
    collect_s: float = 0.0
    ok: bool = True
    error: str = ""
    traced: bool = False
    work: SparkWork | None = None
    catalyst_s: float = 0.0


@dataclass
class CatalogSf01:
    spark: object
    seed: int
    tracer: object = None
    attempts: list[Attempt] = field(default_factory=list)
    setup_times: dict = field(default_factory=dict)
    setup_failures: list[str] = field(default_factory=list)

    def setup(self) -> None:
        with open(os.path.join(HERE, "expected_sf01.json")) as fh:
            self.expected = json.load(fh)
        self.queries = entry.queries()
        missing = [q for q in (*QUERIES, WARMUP_QUERY)
                   if q not in self.queries] + [q for q in QUERIES if q not in self.expected]
        if missing:
            raise SystemExit(f"catalog_sf01: unknown queries {missing}")
        self.counters = SparkCounters(self.spark) if self.tracer is not None else None
        # cheap, repeatable set-up: open every table and read its footer
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            for f in sorted(os.listdir(DATA_DIR)):
                self.spark.read.parquet(os.path.join(DATA_DIR, f)).schema
            times.append(time.perf_counter() - t0)
        self.setup_times["open_tables_s"] = statistics.median(times)
        # JVM warm-up on a query outside the measured set, so the first
        # measured query does not carry the engine's first-use costs
        t0 = time.perf_counter()
        fn = self.queries[WARMUP_QUERY]
        fn(self.spark, DATA_DIR).collect()
        self.setup_times["warmup_s"] = time.perf_counter() - t0

    def setup_s(self) -> float:
        return self.setup_times["open_tables_s"] + self.setup_times["warmup_s"]

    def run(self) -> None:
        # a fixed order, like bench.py's: a query's cold cost depends on
        # which queries ran before it in the same JVM
        for q in QUERIES:
            pinned.release_pinned()
            fn = getattr(self.queries[q], "__wrapped__", self.queries[q])
            self._attempt(q, fn, True, self.tracer is not None)
            for _ in range(WARM_ATTEMPTS):
                self._attempt(q, fn, False, self.tracer is not None)
            if self.tracer is not None:
                self._attempt(q, fn, False, False)

    def _attempt(self, q: str, fn, cold: bool, traced: bool) -> None:
        a = Attempt(q, cold, traced=traced)
        if self.tracer is not None:
            self.tracer.enabled = traced
            self.tracer.op_id = len(self.attempts)
        try:
            t0 = time.perf_counter()
            if traced:
                with self.tracer.span(f"query.{q}"), self.counters.op(q) as work:
                    df, rows = self._run(q, fn, a)
                a.work = work
            else:
                df, rows = self._run(q, fn, a)
            a.latency_s = time.perf_counter() - t0
            if traced:
                a.catalyst_s = catalyst_s(df)
            want = self.expected[q]
            cols = df.columns
            if sorted(cols) != want["columns"] or len(rows) != want["rows"]:
                raise AssertionError(f"{q}: {len(rows)} rows {sorted(cols)}, "
                                     f"expected {want['rows']} {want['columns']}")
            if hash_rows(cols, [tuple(r) for r in rows]) != want["hash"]:
                raise AssertionError(f"{q}: value hash differs from the oracle")
        except Exception as exc:  # noqa: BLE001 — counted as a failed operation
            a.latency_s = a.latency_s or time.perf_counter() - t0
            a.ok = False
            a.error = f"{q}: {exc!r}"[:500]
        finally:
            if self.tracer is not None:
                self.tracer.enabled = True
                self.tracer.op_id = None
        self.attempts.append(a)

    def _run(self, q: str, fn, a: Attempt):
        df = fn(self.spark, DATA_DIR)
        t0 = time.perf_counter()
        rows = df.collect()
        a.collect_s = time.perf_counter() - t0
        return df, rows

    # -- results -------------------------------------------------------------
    def outcome(self) -> tuple[int, int, list[str]]:
        errors = self.setup_failures + [a.error for a in self.attempts if not a.ok]
        return len(self.attempts), len(errors), errors

    def _warm_by_query(self, traced: bool | None = None) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for a in self.attempts:
            if not a.cold and (traced is None or a.traced == traced):
                out.setdefault(a.query, []).append(a.latency_s)
        return out

    def end_to_end(self) -> dict[str, float]:
        warm = self._warm_by_query()
        return {"cold_s": sum(a.latency_s for a in self.attempts if a.cold),
                "warm_s": sum(statistics.median(xs) for xs in warm.values())}

    def per_layer(self, tracer) -> dict[str, float]:
        out: dict[str, float] = {}
        cold = {a.query: a for a in self.attempts if a.cold}
        plain = self._warm_by_query(traced=False)
        traced = self._warm_by_query(traced=True)
        for q in QUERIES:
            a = cold[q]
            w = a.work or SparkWork()
            out[f"catalog.{q}.cold_s"] = a.latency_s
            out[f"catalog.{q}.warm_s"] = statistics.median(plain[q])
            out[f"spark.{q}.stages"] = float(w.stages)
            out[f"spark.{q}.shuffle_bytes"] = float(w.shuffle_read_bytes
                                                    + w.shuffle_write_bytes)
            out[f"spark.{q}.executor_cpu_s"] = w.cpu_s
            out[f"spark.{q}.catalyst_s"] = a.catalyst_s
        cold_ops = {i for i, a in enumerate(self.attempts) if a.cold}
        pins = {"pinned.pin", "pinned.pin_checkpoint", "pinned.pin_cut"}
        out["pinned.materializations"] = float(sum(
            1 for s in tracer.spans if s.name in pins and s.op_id in cold_ops))
        out["driver.collect_s"] = statistics.mean(a.collect_s for a in self.attempts)
        out["spark.spill_bytes"] = float(sum(a.work.spill_bytes for a in cold.values()
                                             if a.work is not None))
        t_sum = sum(statistics.median(xs) for xs in traced.values())
        p_sum = sum(statistics.median(xs) for xs in plain.values())
        out["trace.overhead_pct"] = 100.0 * (t_sum / p_sum - 1.0) if p_sum else 0.0
        return out
