"""control_mixed: a lake built by its first load, then a closed loop of
control-plane reads and one small write by one client.

The run's first request loads 40 generated tickers in one ``ingest_batch``
(the process's first batch, into an empty lake); the second queues every
stock of one exchange under a bulk run, so those stocks hold an active run.
Two passes of reads follow, each of 12 reads (2 of each kind, in a seeded
order), with one small write between them. Reads are ``list_runs`` (cursor
pages walked), ``stock_detail`` and ``bulk_run_stats`` (both through a
``GoldViews`` registry), ``latest_run_for_stock``, ``read_raw_json`` and
silver ``read_where``. The write is a ``fetch_and_ingest`` of 4 tickers
through a fake transport whose every answer is a seeded 404, 429 or
invalid-JSON error: 3 loaded tickers that hold no active run, and one new
ticker that the failed fetch adds to the stocks table.

Every result is checked against ``gen.LakeModel``, which is kept in plain
Python alongside the lake.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass

from stock_data_etl_pipeline_spark.operators import pagination
from stock_data_etl_pipeline_spark.plans import bulk, gold, pipeline, queries
from stock_data_etl_pipeline_spark.state_machine import IngestionState

from .counters import SparkCounters, SparkWork, dir_bytes, percentile
from .gen import ALL_NULL_METRIC, EXCLUDED_METRIC, METRICS, Doc, Generator, LakeModel
from .transport import FakeTransport

LAKE_TICKERS = 40
READ_KINDS = ("list_runs", "stock_detail", "latest_run", "read_raw_json",
              "bulk_stats", "read_where")
# a pass: READS_PER_KIND reads of every kind in a seeded order (an equal
# share per read type); the small write runs between the two passes
READS_PER_KIND = 2
PASSES = 2
# each pass walks every list_runs filter once; "{p}" is the lake's ticker
# prefix
LIST_FILTERS = ({"state": "FAILED"},
                {"is_in_progress": True, "ticker__icontains": "{p}"})
ORDER = [("created_at", True), ("id", True)]
PAGE_SIZE = 10
MAX_PAGES = 12
# the small write: 3 loaded tickers and one new one, every fetch failing
FETCH_LOADED = 3
FETCH_ERRORS = {"NOT_FOUND": (404, ""), "RATE_LIMITED": (429, ""),
                "INVALID_JSON": (200, '{"data": {"financials": ')}
WRITE_KINDS = ("load", "bulk_queue", "fetch_and_ingest")
TABLES = ("silver", "stocks", "exchanges", "sectors", "runs", "bulk_runs")


class Mismatch(Exception):
    """An engine result disagreed with the expected one."""


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise Mismatch(msg)


def same_number(a, b) -> bool:
    """Exact: the engine and the model parse the same decimal text."""
    if a is None or b is None:
        return a is None and b is None
    return float(a) == float(b)


@dataclass
class Request:
    kind: str
    pass_no: int
    latency_s: float = 0.0
    collect_s: float = 0.0
    ok: bool = True
    error: str = ""
    rows: int = 0
    traced: bool = False
    twin: bool = False  # a traced run's untraced repeat of a read
    work: SparkWork | None = None
    op_id: int = 0
    # write-side accounting
    input_bytes: int = 0
    bytes_written: int = 0
    commits: int = 0
    fetch_errors: int = 0


class ControlMixed:
    def __init__(self, spark, workdir: str, seed: int, tracer=None) -> None:
        self.spark = spark
        self.root = os.path.join(workdir, "lake")
        self.seed = seed
        self.gen = Generator(seed)
        self.model = LakeModel()
        self.rng = random.Random(f"{seed}:control")
        self.tracer = tracer
        self.counters = SparkCounters(spark) if tracer is not None else None
        self.requests: list[Request] = []
        self.setup_times: dict[str, float] = {}
        self.check_failures: list[str] = []
        self.checks = 0  # checks made outside any request
        self.gold_gets = 0
        self.gold_hits = 0
        self.gold_builds = 0
        self._op = 0

    # -- set-up --------------------------------------------------------------
    def setup(self) -> None:
        gen_times = []
        for _ in range(3):  # cheap and deterministic: repeated for a median
            t0 = time.perf_counter()
            self.tickers = self.gen.tickers(LAKE_TICKERS + 1)
            self.docs = [self.gen.document(t) for t in self.tickers[:-1]]
            gen_times.append(time.perf_counter() - t0)
        self.setup_times["generate_s"] = statistics.median(gen_times)
        # the small write's new ticker: generated, never loaded
        self.new_ticker = self.tickers.pop()
        weights = [1.0 / (i + 1) ** 0.8 for i in range(len(self.tickers))]
        order = self.tickers[:]
        random.Random(f"{self.seed}:skew").shuffle(order)
        self.skewed = (order, weights)
        self.lake = pipeline.StockLake(self.spark, self.root)
        self.views = gold.GoldViews()
        self.detail_views: set[str] = set()

    def setup_s(self) -> float:
        return self.setup_times["generate_s"]

    def _check(self, fn) -> None:
        """A check outside any request: a failure counts as a failed
        operation."""
        self.checks += 1
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 — reported as a failed operation
            self.check_failures.append(f"{fn.__name__}: {exc!r}")

    def _check_load(self, out: dict, docs: list[Doc]) -> None:
        expect(out["n_silver_rows"] == self.model.silver_rows(),
               f"silver rows {out['n_silver_rows']} != {self.model.silver_rows()}")
        schema = {f.name: f.dataType.simpleString()
                  for f in self.lake.silver.read().schema.fields}
        for m in METRICS:
            expect(schema.get(m) == "double", f"metric {m} is {schema.get(m)}")
        expect(EXCLUDED_METRIC not in schema, "excluded metric reached silver")
        expect(schema.get(ALL_NULL_METRIC) == "string",
               f"all-null metric is {schema.get(ALL_NULL_METRIC)}")
        runs = {r["ticker"]: (r["state"], r["error_code"]) for r in
                self.lake.read_runs().select("ticker", "state", "error_code")
                .collect()}
        for d in docs:
            want = (("DONE", None) if d.valid
                    else ("FAILED", "INVALID_DATA_FORMAT"))
            expect(runs.get(d.ticker) == want,
                   f"run of {d.ticker}: {runs.get(d.ticker)} != {want}")
        exch = {r["name"] for r in self.lake.exchanges.read().collect()}
        expect(exch == self.model.exchanges(), f"exchanges {exch}")
        sect = {r["name"] for r in self.lake.sectors.read().collect()}
        expect(sect == self.model.sectors(), f"sectors {sect}")
        names = {r["ticker"]: r["name"]
                 for r in self.lake.read_stocks().select("ticker", "name").collect()}
        expect(names == self.model.names, "synced stock names differ")
        # silver cells are compared by every read_where read

    def _check_bulk(self, queued: list[str]) -> None:
        b = self.bulk
        expect(b["total_stocks"] == len(queued) == b["queued_count"]
               and b["skipped_count"] == 0 and b["error_count"] == 0,
               f"bulk counters {b} for {len(queued)} stocks")

    def _check_cells(self, ticker: str, rows) -> None:
        """Every silver row of ``ticker`` against the latest document."""
        want = {k: v for k, v in self.model.silver.items() if k[0] == ticker}
        expect(len(rows) == len(want),
               f"{ticker}: {len(rows)} silver rows, expected {len(want)}")
        for r in rows:
            vals = want.get((ticker, r["record_type"], r["period_end_date"]))
            expect(vals is not None, f"{ticker}: unexpected key "
                   f"{r['record_type']}/{r['period_end_date']}")
            for col, v in vals.items():
                got = r[col]
                ok = same_number(got, v) if r["record_type"] != "metadata" else got == v
                expect(ok, f"{ticker} {r['record_type']} "
                       f"{r['period_end_date']} {col}: {got!r} != {v!r}")

    # -- the loop ------------------------------------------------------------
    def run(self) -> None:
        """A fixed sequence, not a time limit, so every metric holds the same
        requests at any machine speed."""
        self._request("load", 0, self._load)
        self._request("bulk_queue", 0, self._bulk_queue)
        for pass_no in range(PASSES):
            if pass_no:
                self._check(self._check_new_ticker_absent)
                self._request("fetch_and_ingest", pass_no, self._fetch)
            deck = [k for k in READ_KINDS for _ in range(READS_PER_KIND)]
            self.rng.shuffle(deck)
            filters = list(LIST_FILTERS)
            self.rng.shuffle(filters)
            seen: list[str] = []
            for kind in deck:
                t = self._pick()[0]
                f = filters.pop() if kind == "list_runs" else None
                body = lambda kind, req, t=t, f=f: self._read(kind, req, t, f)
                if self.tracer is None or pass_no < PASSES - 1:
                    self._request(kind, pass_no, body)
                    continue
                # the tracing overhead: the last pass repeats each read
                # untraced, first or second by turns within its kind
                seen.append(kind)
                twin_first = seen.count(kind) % 2 == 0
                for twin in (twin_first, not twin_first):
                    self._request(kind, pass_no, body, twin=twin)

    def _pick(self, k: int = 1, idle_only: bool = False) -> list[str]:
        order, weights = self.skewed
        if idle_only:
            pairs = [(t, w) for t, w in zip(order, weights)
                     if not self.model.active(t)]
            order, weights = [p[0] for p in pairs], [p[1] for p in pairs]
        picked: list[str] = []
        while len(picked) < min(k, len(order)):
            t = self.rng.choices(order, weights)[0]
            if t not in picked:
                picked.append(t)
        return picked

    def _request(self, kind: str, pass_no: int, body, twin: bool = False) -> None:
        self._op += 1
        req = Request(kind, pass_no, op_id=self._op, twin=twin)
        req.traced = self.tracer is not None and not twin
        check = None
        if self.tracer is not None:
            self.tracer.enabled = req.traced
            self.tracer.op_id = self._op
        t0 = time.perf_counter()
        try:
            if req.traced:
                with self.tracer.span(f"request.{kind}"), \
                        self.counters.op(kind) as work:
                    check = body(kind, req)
                req.work = work
            else:
                check = body(kind, req)
            req.latency_s = time.perf_counter() - t0
            if check is not None:  # correctness, outside the timed region
                if self.tracer is not None:
                    self.tracer.enabled = False
                check()
        except Exception as exc:  # noqa: BLE001 — counted as a failed operation
            req.latency_s = req.latency_s or time.perf_counter() - t0
            req.ok = False
            req.error = f"{kind}: {exc!r}"[:500]
        finally:
            if self.tracer is not None:
                self.tracer.enabled = True
                self.tracer.op_id = None
        self.requests.append(req)

    def _collect(self, df, req: Request) -> list:
        t0 = time.perf_counter()
        rows = df.collect()
        req.collect_s += time.perf_counter() - t0
        req.rows += len(rows)
        return rows

    def _gold(self, name: str, req: Request, count: bool = True) -> list:
        before = self.views.build_count(name)
        rows = self._collect(self.views.get(name), req)
        built = self.views.build_count(name) - before
        if count:  # correctness re-reads stay out of the cache statistics
            self.gold_gets += 1
            self.gold_hits += built == 0
            self.gold_builds += built
        return rows

    # -- reads ---------------------------------------------------------------
    def _read(self, kind: str, req: Request, t: str, list_filter: dict | None):
        m = self.model
        if kind == "list_runs":
            filters = {k: v.format(p=t[:2].lower()) if isinstance(v, str) else v
                       for k, v in list_filter.items()}
            pages, cursor = [], None
            for _ in range(MAX_PAGES):
                rows = self._collect(queries.list_runs(
                    self.lake, filters, page_size=PAGE_SIZE, cursor=cursor), req)
                pages.append(rows)
                if len(rows) < PAGE_SIZE:
                    break
                cursor = pagination.page_cursor(rows[-1], ORDER)

            def check():
                ids = [r["id"] for p in pages for r in p]
                expect(len(ids) == len(set(ids)), f"pages overlap for {filters}")
                want = m.run_count(filters)
                expect(len(ids) == want, f"{filters}: {len(ids)} runs != {want}")
            return check
        if kind == "stock_detail":
            rows = self._detail(t, req, count=not req.twin)
            return lambda: self._check_detail(t, rows)
        if kind == "latest_run":
            rows = self._collect(queries.latest_run_for_stock(self.lake, t), req)

            def check():
                expect(len(rows) == 1, f"latest run of {t}: {len(rows)} rows")
                expect(rows[0]["state"] == m.runs[t][-1],
                       f"latest run of {t}: {rows[0]['state']} != {m.runs[t][-1]}")
            return check
        if kind == "read_raw_json":
            payload = self.lake.read_raw_json(t)
            req.rows += payload is not None

            def check():
                want = m.latest_doc[t].json_str if t in m.latest_doc else None
                expect(payload == want, f"raw json of {t} differs")
            return check
        if kind == "bulk_stats":
            rows = self._gold("bulk_stats", req, count=not req.twin)

            def check():
                counts = {r["state"]: r["count"] for r in rows}
                expect(set(counts) == set(IngestionState.ALL),
                       f"bulk stats states {sorted(counts)}")
                total = self.bulk["queued_count"]
                expect(sum(counts.values()) == total
                       and counts[IngestionState.QUEUED_FOR_FETCH] == total,
                       f"bulk stats {counts} != total {total}")
            return check
        if kind == "read_where":
            rows = self._collect(self.lake.silver.read_where("ticker", t, t), req)
            return lambda: self._check_cells(t, rows)
        raise ValueError(kind)

    def _detail(self, t: str, req: Request, count: bool = True) -> list:
        name = f"stock_detail:{t}"
        if name not in self.detail_views:
            self.views.register(name, lambda: queries.stock_detail(self.lake, t),
                                {"ticker_views"})
            self.detail_views.add(name)
        return self._gold(name, req, count)

    def _check_detail(self, t: str, rows) -> None:
        m = self.model
        expect(len(rows) == 1, f"stock_detail {t}: {len(rows)} rows")
        r = rows[0]
        got = (r["name"], r["exchange_name"], r["sector_name"])
        want = (m.names.get(t), m.exchange_of.get(t), m.sector_of.get(t))
        expect(got == want, f"stock_detail {t}: {got} != {want}")

    # -- writes --------------------------------------------------------------
    def _versions(self) -> dict[str, int]:
        """Commits per table so far: its creation is version 0."""
        return {n: (tbl.latest_version() + 1 if tbl.exists() else 0)
                for n, tbl in ((n, getattr(self.lake, n)) for n in TABLES)}

    def _measured(self, req: Request, write) -> dict:
        """Run ``write``; on a traced request also count the commits and
        bytes it adds to the lake."""
        if not req.traced:
            return write()
        v0, bytes0 = self._versions(), dir_bytes(self.root)
        out = write()
        v1 = self._versions()
        req.commits = sum(v1[n] - v0[n] for n in TABLES)
        req.bytes_written = dir_bytes(self.root) - bytes0
        return out

    def _load(self, kind: str, req: Request):
        docs = self.docs
        req.input_bytes = sum(len(d.json_str.encode()) for d in docs)
        out = self._measured(req, lambda: self.lake.ingest_batch(
            [(d.submitted, d.json_str) for d in docs]))
        for table in ("stocks", "exchanges", "sectors"):
            self.views.notify_write(table)
        self.model.ingest(docs)
        return lambda: self._check_load(out, docs)

    def _bulk_queue(self, kind: str, req: Request):
        exch = self.rng.choice(sorted(self.model.exchanges()))
        self.bulk = self._measured(req, lambda: bulk.queue_all_stocks(
            self.lake, requested_by="perfbench", exchange_name=f" {exch.lower()} "))
        queued = sorted(t for t, e in self.model.exchange_of.items() if e == exch)
        self.model.queue(queued)
        bulk_id = self.bulk["bulk_queue_run_id"]
        self.views.register("bulk_stats",
                            lambda: bulk.bulk_run_stats(self.lake, bulk_id),
                            {"bulk_views"}, ttl_seconds=300)
        return lambda: self._check_bulk(queued)

    def _check_new_ticker_absent(self) -> None:
        rows = self._detail(self.new_ticker, Request("check", -1), count=False)
        expect(rows == [], f"stock_detail {self.new_ticker} before its write: {rows}")

    def _fetch(self, kind: str, req: Request):
        tickers = self._pick(FETCH_LOADED, idle_only=True) + [self.new_ticker]
        codes = {t: self.rng.choice(sorted(FETCH_ERRORS)) for t in tickers}
        transport = FakeTransport({t: FETCH_ERRORS[c] for t, c in codes.items()})
        out = self._measured(req, lambda: self.lake.fetch_and_ingest(tickers, transport))
        self.views.notify_write("stocks")
        req.fetch_errors = len(codes)
        for t in tickers:
            self.model.fail(t)

        def check():
            expect(out.get("failed") == codes,
                   f"fetch failures {out.get('failed')} != {codes}")
            expect(out["run_ids"] == [] and len(out["failed_run_ids"]) == len(codes),
                   f"runs {out['run_ids']}, failed runs {out['failed_run_ids']}")
            expect(out["n_silver_rows"] == self.model.silver_rows(),
                   f"silver rows {out['n_silver_rows']} != {self.model.silver_rows()}")
            # the new ticker's view was cached empty before the write
            self._check_detail(self.new_ticker, self._detail(
                self.new_ticker, Request("check", -1), count=False))
        return check

    # -- results -------------------------------------------------------------
    def outcome(self) -> tuple[int, int, list[str]]:
        errors = self.check_failures + [r.error for r in self.requests if not r.ok]
        return self.checks + len(self.requests), len(errors), errors

    def end_to_end(self) -> dict[str, float]:
        # the writes, then the reads of the lake they built
        return {"cold_s": sum(r.latency_s for r in self.requests if r.kind in WRITE_KINDS),
                "warm_s": sum(r.latency_s for r in self.requests if r.kind in READ_KINDS)}

    def per_layer(self, tracer) -> dict[str, float]:
        by_kind: dict[str, list[Request]] = {}
        for r in self.requests:
            by_kind.setdefault(r.kind, []).append(r)
        load = by_kind.get("load", [Request("load", 0)])[0]
        fetch = by_kind.get("fetch_and_ingest", [Request("fetch_and_ingest", 1)])[0]
        reads = [r for r in self.requests if r.kind in READ_KINDS and not r.twin]
        traced_reads = [r for r in reads if r.traced and r.work is not None]

        def in_load(names: set[str]) -> float:
            spans = tracer.outermost(names, {load.op_id})
            return sum(s.end - s.start for s in spans)

        fetch_s = 0.0
        for i, s in enumerate(tracer.spans):
            if s.name == "pipeline.fetch_and_ingest" and s.op_id == fetch.op_id:
                kids = tracer.children(i)
                ft = [c for c in kids if c.name == "fetch.fetch_tickers"]
                if ft:
                    after = [c.start for c in kids if c.start > ft[0].start]
                    fetch_s = (min(after) if after else s.end) - ft[0].start
        prune = [s.attrs for s in tracer.spans
                 if s.name == "managed_table.prune_dirs" and s.attrs]
        latency = {k: [r.latency_s for r in reads if r.kind == k] for k in READ_KINDS}
        all_reads = sorted(r.latency_s for r in reads)
        work = load.work or SparkWork()
        rwork = SparkWork()
        for r in traced_reads:
            rwork.add(r.work)
        rows_out = sum(r.rows for r in traced_reads)
        last = [r for r in self.requests if r.pass_no == PASSES - 1 and r.kind in READ_KINDS]
        traced_lat = sum(r.latency_s for r in last if not r.twin)
        plain_lat = sum(r.latency_s for r in last if r.twin)
        spill = sum(r.work.spill_bytes for r in self.requests if r.work is not None)
        return {
            "pipeline.jobs_per_batch": float(work.jobs),
            "pipeline.stages_per_batch": float(work.stages),
            "pipeline.tasks_per_batch": float(work.tasks),
            "pipeline.executor_cpu_s_per_batch": work.cpu_s,
            "pipeline.sync_metadata_s": in_load({"pipeline.sync_stock_metadata"}),
            "pipeline.get_or_create_s": in_load({"pipeline.get_or_create_stocks",
                                                 "pipeline.get_or_create_dim"}),
            "pipeline.load_docs_per_s": _ratio(len(self.docs), load.latency_s),
            "stock_transform.plan_s": in_load({"stock_transform.transform_stock_json",
                                               "stock_transform.parse_raw"}),
            "state_machine.transitions_per_batch": float(sum(
                1 for s in tracer.spans
                if s.name == "state_machine.transition" and s.op_id == load.op_id)),
            "merge.plan_build_s": in_load({"merge.merge_upsert", "merge.merge_insert_only"}),
            "managed_table.merge_s": in_load({"managed_table.merge"}),
            "managed_table.overwrite_s": in_load({"managed_table.overwrite"}),
            "managed_table.commits_per_batch": float(load.commits),
            "managed_table.bytes_written_per_input_byte":
                _ratio(load.bytes_written, load.input_bytes),
            "managed_table.stored_bytes_per_input_byte":
                _ratio(dir_bytes(self.root), self.model.input_bytes),
            "managed_table.dirs_read_ratio":
                _ratio(sum(a["dirs_kept"] for a in prune),
                       sum(a["dirs_total"] for a in prune)),
            "bulk.queue_s": sum(r.latency_s for r in by_kind.get("bulk_queue", [])),
            "fetch.fetch_s": fetch_s,
            "fetch.error_rows": float(fetch.fetch_errors),
            "control.fetch_write_s": fetch.latency_s,
            "control.fetch_write_jobs": float(fetch.work.jobs if fetch.work else 0),
            "control.read_p50_ms": 1000.0 * percentile(all_reads, 50),
            "control.read_p90_ms": 1000.0 * percentile(all_reads, 90),
            "queries.list_runs_ms": _p50_ms(latency["list_runs"]),
            "queries.stock_detail_ms": _p50_ms(latency["stock_detail"]),
            "queries.latest_run_ms": _p50_ms(latency["latest_run"]),
            "pipeline.read_raw_json_ms": _p50_ms(latency["read_raw_json"]),
            "bulk.stats_ms": _p50_ms(latency["bulk_stats"]),
            "managed_table.read_where_ms": _p50_ms(latency["read_where"]),
            "queries.jobs_per_read": _ratio(rwork.jobs, len(traced_reads)),
            "queries.rows_scanned_per_row_returned":
                _ratio(rwork.input_records, rows_out),
            "gold.hit_ratio": _ratio(self.gold_hits, self.gold_gets),
            "gold.rebuilds": float(self.gold_builds),
            "driver.collect_s": _ratio(sum(r.collect_s for r in reads), len(reads)),
            "spark.spill_bytes": float(spill),
            "trace.overhead_pct": 100.0 * (traced_lat / plain_lat - 1.0)
            if traced_lat and plain_lat else 0.0,
        }


def _ratio(a: float, b: float) -> float:
    return float(a) / float(b) if b else 0.0


def _p50_ms(xs: list[float]) -> float:
    return 1000.0 * statistics.median(xs) if xs else 0.0
