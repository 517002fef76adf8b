"""Tests of the benchmark itself (no Spark session is started).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import re

import pytest

from perfbench import run
from perfbench.catalog import QUERIES, CatalogSf01
from perfbench.control import (LIST_FILTERS, PASSES, READ_KINDS, READS_PER_KIND,
                               ControlMixed, Mismatch, Request)
from perfbench.counters import percentile
from perfbench.gen import (ALL_NULL_METRIC, EXCLUDED_METRIC, METRICS, Generator,
                           LakeModel, dump_docs)
from perfbench.spans import Span, Tracer
from tools.check_oracle import hash_rows

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def docs_for(seed: int, n: int = 120):
    g = Generator(seed)
    return [g.document(t) for t in g.tickers(n)]


# -- generator -----------------------------------------------------------------

def test_generator_is_byte_identical_for_a_seed():
    assert dump_docs(docs_for(7)) == dump_docs(docs_for(7))
    assert dump_docs(docs_for(7)) != dump_docs(docs_for(8))


def test_generator_covers_every_fixture_variation():
    g = Generator(3)
    tickers = g.tickers(400)
    kinds = {g.kind(t) for t in tickers}
    assert kinds == {"base", "ragged", "ttm_only", "invalid"}
    docs = [g.document(t) for t in tickers]
    payloads = [json.loads(d.json_str) for d in docs if d.valid]
    quarterly = [p["data"]["financials"]["quarterly"] for p in payloads]
    # ragged arrays, sentinels, ints mixed with decimals, all-null column,
    # excluded metric
    assert any(len(q[m]) < len(q["period_end_date"])
               for q in quarterly if q.get("period_end_date") for m in METRICS)
    values = [v for q in quarterly for m in METRICS for v in q.get(m, [])]
    assert any(isinstance(v, str) for v in values)
    assert any(isinstance(v, int) for v in values)
    assert any(isinstance(v, float) for v in values)
    assert all(v.strip().upper() in ("N/A", "NA", "NULL", "NONE", "-")
               for q in quarterly for v in q.get(ALL_NULL_METRIC, []))
    assert any(EXCLUDED_METRIC in q for q in quarterly)
    assert all(EXCLUDED_METRIC not in vals
               for d in docs for vals in d.rows.values())
    # TTM with no quarterly periods: metadata row only
    ttm_only = [d for t, d in zip(tickers, docs) if g.kind(t) == "ttm_only"]
    assert ttm_only and all(set(d.rows) == {("metadata", None)} for d in ttm_only)
    assert any(not d.valid for d in docs)
    assert any(d.submitted != d.ticker for d in docs)


def test_model_counts_runs_as_list_runs_filters_them():
    model = LakeModel()
    model.runs = {"ABC1": ["DONE", "DONE"], "ABD2": ["FAILED", "QUEUED_FOR_FETCH"],
                  "XYZ3": ["DONE", "QUEUED_FOR_FETCH"]}
    assert model.run_count({"state": "FAILED"}) == 1
    assert model.run_count({"ticker__icontains": "ab"}) == 4
    assert model.run_count({"state": "DONE", "ticker__icontains": "ABC"}) == 2
    assert model.run_count({"state": "QUEUED_FOR_FETCH", "ticker__icontains": "xy"}) == 1
    assert model.run_count({"is_terminal": True, "ticker__icontains": "AB"}) == 3
    assert model.run_count({"is_in_progress": True}) == 2


def test_model_keeps_exchanges_upper_and_sectors_cased():
    model = LakeModel()
    model.ingest(docs_for(9, 200))
    assert model.exchanges() <= {"NASDAQ", "NYSE", "AMEX"}
    assert "financials" in model.sectors() or "Energy" in model.sectors()


# -- control_mixed traffic -------------------------------------------------------

def test_control_traffic_is_fixed_and_even():
    c = ControlMixed.__new__(ControlMixed)
    c.rng = random.Random("1:control")
    c.tracer = None
    c._check = lambda fn: None
    c._pick = lambda: ["ABC0001"]
    seen: list[tuple[int, str]] = []
    c._request = lambda kind, pass_no, body: seen.append((pass_no, kind))
    c.run()
    reads = [k for _, k in seen if k in READ_KINDS]
    # an equal share per read type
    assert {k: reads.count(k) for k in READ_KINDS} == \
        {k: PASSES * READS_PER_KIND for k in READ_KINDS}
    # the lake is built first; the small write sits between the two passes
    assert seen[:2] == [(0, "load"), (0, "bulk_queue")]
    assert seen[2 + len(reads) // 2] == (1, "fetch_and_ingest")
    assert len(seen) == len(reads) + 3
    # every list_runs filter is walked once a pass
    assert len(LIST_FILTERS) == READS_PER_KIND


# -- metric names ----------------------------------------------------------------

def fake_control() -> ControlMixed:
    c = ControlMixed.__new__(ControlMixed)
    c.requests = [Request("load", 0, latency_s=10.0),
                  Request("bulk_queue", 0, latency_s=1.0),
                  Request("list_runs", 0, latency_s=0.1),
                  Request("fetch_and_ingest", 1, latency_s=2.0),
                  Request("read_where", 1, latency_s=0.2)]
    c.setup_times = {"generate_s": 0.1}
    c.docs = []
    c.root = os.path.join(ROOT, "does-not-exist")
    c.model = LakeModel()
    c.gold_gets = c.gold_hits = c.gold_builds = 0
    return c


def fake_catalog() -> CatalogSf01:
    from perfbench.catalog import Attempt
    c = CatalogSf01(spark=None, seed=1)
    for q in QUERIES:
        c.attempts += [Attempt(q, True, 1.0, traced=True),
                       Attempt(q, False, 0.5, traced=True),
                       Attempt(q, False, 0.4)]
    return c


def emitted_names() -> tuple[set[str], set[str]]:
    e2e, layers = {"setup_s"}, set(run.BOX_METRICS.values())
    for wl in (fake_control(), fake_catalog()):
        e2e |= set(wl.end_to_end())
        layers |= set(wl.per_layer(Tracer()))
    return e2e, layers


def test_every_emitted_metric_is_declared_and_well_formed():
    s = spec()
    e2e, layers = emitted_names()
    declared_e2e = {m["name"] for m in s["end_to_end"]}
    declared_layers = {m["name"] for m in s["per_layer"]}
    assert e2e == declared_e2e
    assert layers == declared_layers
    for name in e2e | layers:
        assert NAME.match(name), name
    assert len(s["per_layer"]) <= 128


def test_benchmark_json_matches_the_contract():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert {w["name"] for w in s["workloads"]} == set(run.WORKLOADS)
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    assert len(names) == len(set(names))
    setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in s["end_to_end"])
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and m["bound"] <= 0.25
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"]), m


# -- correctness checks fail on corrupted results --------------------------------

def control_with_lake(seed: int = 4) -> tuple[ControlMixed, str]:
    c = fake_control()
    g = Generator(seed)
    docs = [g.document(t) for t in g.tickers(30)]
    c.model.ingest(docs)
    t = next(d.ticker for d in docs if d.valid and len(d.rows) > 3)
    return c, t


def silver_rows(c: ControlMixed, t: str) -> list[dict]:
    return [{"ticker": k[0], "record_type": k[1], "period_end_date": k[2], **v}
            for k, v in c.model.silver.items() if k[0] == t]


def test_silver_check_passes_on_the_model_itself():
    c, t = control_with_lake()
    c._check_cells(t, silver_rows(c, t))


def test_silver_check_fails_on_a_dropped_row():
    c, t = control_with_lake()
    with pytest.raises(Mismatch):
        c._check_cells(t, silver_rows(c, t)[1:])


def test_silver_check_fails_on_a_stale_value():
    c, t = control_with_lake()
    rows = silver_rows(c, t)
    row = next(r for r in rows if r["record_type"] == "financials"
               and r["revenue"] is not None)
    row["revenue"] *= 1.000001
    with pytest.raises(Mismatch):
        c._check_cells(t, rows)


def test_stock_detail_check_fails_on_an_unsynced_name():
    c, t = control_with_lake()
    good = {"name": c.model.names[t], "exchange_name": c.model.exchange_of.get(t),
            "sector_name": c.model.sector_of.get(t)}
    c._check_detail(t, [good])
    with pytest.raises(Mismatch):
        c._check_detail(t, [{**good, "name": "stale name"}])


class FakeFrame:
    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def catalog_with(rows, columns=("a", "b")) -> CatalogSf01:
    c = CatalogSf01(spark=None, seed=1)
    c.expected = {"q": {"columns": sorted(columns), "rows": 2,
                        "hash": hash_rows(list(columns), [(1, "x"), (2, "y")])}}
    c._attempt("q", lambda spark, d: FakeFrame(list(columns), rows), True, False)
    return c


def test_catalog_check_passes_on_the_oracle_result_in_any_order():
    assert catalog_with([(2, "y"), (1, "x")]).outcome()[1] == 0


def test_catalog_check_fails_on_an_altered_row():
    attempted, failed, errors = catalog_with([(1, "x"), (2, "z")]).outcome()
    assert (attempted, failed) == (1, 1) and "hash" in errors[0]


def test_catalog_check_fails_on_a_dropped_row():
    assert catalog_with([(1, "x")]).outcome()[1] == 1


def test_stored_expectations_cover_every_query():
    with open(os.path.join(ROOT, "perfbench", "expected_sf01.json")) as fh:
        expected = json.load(fh)
    assert set(expected) == set(QUERIES)


# -- helpers ---------------------------------------------------------------------

def test_percentile_leaves_ten_samples_beyond_p90_of_a_hundred():
    xs = [float(i) for i in range(100)]
    p90 = percentile(xs, 90)
    assert sum(1 for x in xs if x > p90) == 10
    assert percentile(xs, 50) == 49.0


def test_self_time_subtracts_children():
    t = Tracer()
    t.spans = [Span("a", 0.0, 10.0, None, 1), Span("b", 1.0, 4.0, 0, 1),
               Span("b", 5.0, 6.0, 0, 1), Span("c", 2.0, 3.0, 1, 1)]
    st = t.self_times()
    assert st["a"]["self_s"] == pytest.approx(6.0)
    assert st["b"]["self_s"] == pytest.approx(3.0)
    assert st["b"]["calls"] == 2
    assert [s.name for s in t.outermost({"b", "c"})] == ["b", "b"]
