"""Seeded generator of raw stock JSON documents (FIXTURES.md section 1) and
the plain-Python model of what the engine must make of them.

Nothing here imports the engine or Spark: the expectations are derived from
the document format alone, so a check against them is independent of the
code under test.

Every variation FIXTURES.md lists is generated:

- ragged quarterly arrays (shorter than ``period_end_date``, null-padded);
- null-string sentinels in any case and padding (``"N/A" "na" " NULL "``...);
- metric values mixing ints and decimals (the column elects double);
- an all-null metric column (``dividend_yield``, elects string);
- TTM present with no quarterly periods (no financials, no ttm row);
- structurally invalid documents (the run fails ``INVALID_DATA_FORMAT``);
- the excluded metric ``roic_5yr_avg`` (never a silver column).
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

METRICS = ("revenue", "cogs", "gross_profit", "ebitda", "fcf", "net_income")
TTM_METRICS = ("revenue", "cogs", "gross_profit", "ebitda", "fcf")
ALL_NULL_METRIC = "dividend_yield"
EXCLUDED_METRIC = "roic_5yr_avg"
SENTINELS = ("N/A", "na", " NULL ", "none", "-", "n/a ", "NA")
# spellings as they arrive; exchanges are stored strip().upper()
EXCHANGE_SPELLINGS = {"NASDAQ": (" nasdaq", "NASDAQ", "Nasdaq "),
                      "NYSE": ("NYSE", "nyse", " Nyse"),
                      "AMEX": ("AMEX", "amex ")}
# sectors keep their case, so each sector arrives with one spelling only
SECTORS = ("Information Technology", "Health Care", "financials", "Energy",
           "Consumer Staples")
COUNTRIES = ("US", "CA", "GB", "N/A")
WORDS = ("Acme", "Globex", "Initech", "Umbrella", "Stark", "Wayne", "Tyrell",
         "Cyberdyne", "Soylent", "Hooli", "Vandelay", "Wonka", "Oscorp")
INVALID_PAYLOADS = (
    '{"meta": {"symbol": "%s"}}',        # no 'data' key
    '[1, 2, 3]',                         # not an object
    '{"data": "unavailable for %s"}',    # 'data' is not an object
    '{"data": {"financials": ',          # truncated JSON
)

KIND_WEIGHTS = (("base", 70), ("ragged", 12), ("ttm_only", 8), ("invalid", 10))
TERMINAL = ("DONE", "FAILED")
# a valid document holds between QUARTERS // 2 and QUARTERS quarters
QUARTERS = 12


@dataclass
class Doc:
    """One generated document and what the engine must derive from it."""

    ticker: str            # normalized key (strip().upper())
    submitted: str         # ticker as submitted (may need normalizing)
    json_str: str
    valid: bool
    # (record_type, period_end_date) -> {column: value}; metrics are float
    # or None, metadata fields str or None
    rows: dict[tuple[str, str | None], dict] = field(default_factory=dict)

    @property
    def exchange(self) -> str | None:
        """The exchange as stored in the dimension: strip().upper()."""
        meta = self.rows.get(("metadata", None))
        return meta and meta.get("exchange") and meta["exchange"].strip().upper()

    @property
    def sector(self) -> str | None:
        meta = self.rows.get(("metadata", None))
        return meta and meta.get("sector")

    @property
    def name(self) -> str | None:
        meta = self.rows.get(("metadata", None))
        return meta and meta.get("name")


def _null(v):
    """The engine's sentinel rule: strip().upper() in the sentinel set -> None."""
    if isinstance(v, str) and v.strip().upper() in ("N/A", "NA", "NULL", "NONE", "-"):
        return None
    return v


def _num(v) -> float | None:
    v = _null(v)
    return None if v is None else float(v)


def _periods(n: int, end_year: int = 2024) -> list[str]:
    out = []
    y, q = end_year, 4
    for _ in range(n):
        out.append(f"{y}-{q * 3:02d}")
        q -= 1
        if q == 0:
            y, q = y - 1, 4
    return out[::-1]


def _value(rng: random.Random, scale: float):
    """A metric value: an int, a decimal, or now and then a sentinel."""
    r = rng.random()
    if r < 0.06:
        return rng.choice(SENTINELS)
    if r < 0.5:
        return int(scale * rng.uniform(0.5, 1.5))
    return round(scale * rng.uniform(0.5, 1.5), 2)


class Generator:
    """Documents for one seed. ``tickers(n)`` is deterministic in the seed,
    ``document(ticker)`` in (seed, ticker)."""

    def __init__(self, seed: int) -> None:
        self.seed = seed

    def tickers(self, n: int) -> list[str]:
        rng = random.Random(f"{self.seed}:tickers")
        letters = [chr(ord("A") + i) for i in range(26)]
        prefix = "".join(rng.choice(letters) for _ in range(2))
        return [f"{prefix}{chr(ord('A') + i % 26)}{i:04d}"
                for i in range(n)]

    def kind(self, ticker: str) -> str:
        rng = random.Random(f"{self.seed}:{ticker}:kind")
        return rng.choices([k for k, _ in KIND_WEIGHTS],
                           [w for _, w in KIND_WEIGHTS])[0]

    def document(self, ticker: str) -> Doc:
        kind = self.kind(ticker)
        # structure (periods, raggedness, exchange, sector) and values come
        # from separate streams
        srng = random.Random(f"{self.seed}:{ticker}:shape")
        vrng = random.Random(f"{self.seed}:{ticker}:values")
        submitted = ticker.lower() if srng.random() < 0.15 else ticker
        if srng.random() < 0.1:
            submitted = f" {submitted} "
        if kind == "invalid":
            body = srng.choice(INVALID_PAYLOADS)
            if "%s" in body:
                body = body % ticker
            return Doc(ticker, submitted, body, valid=False)

        n_q = srng.randint(QUARTERS // 2, QUARTERS)
        periods = _periods(n_q)
        lengths = {m: n_q for m in METRICS}
        if kind == "ragged":
            for m in srng.sample(METRICS, 2):
                lengths[m] = srng.randint(1, n_q - 1) if n_q > 1 else 1
        scale = 10 ** srng.randint(6, 11)
        quarterly: dict = {}
        for m in METRICS:
            vals = [_value(vrng, scale) for _ in range(lengths[m])]
            # every metric keeps one numeric value, so its column elects
            # double in any batch
            vals[0] = int(scale)
            quarterly[m] = vals
        quarterly[ALL_NULL_METRIC] = [vrng.choice(SENTINELS) for _ in periods]
        quarterly[EXCLUDED_METRIC] = [round(vrng.uniform(0, 0.3), 4)
                                      for _ in periods]
        ttm = {"period_end_date": "TTM"}
        for m in TTM_METRICS:
            ttm[m] = _value(vrng, scale * 4)
        ttm[EXCLUDED_METRIC] = round(vrng.uniform(0, 0.3), 4)
        exch_key = srng.choice(sorted(EXCHANGE_SPELLINGS))
        meta = {
            "sector": srng.choice(SECTORS),
            "name": f"{vrng.choice(WORDS)} {vrng.choice(WORDS)} Inc",
            "exchange": srng.choice(EXCHANGE_SPELLINGS[exch_key]),
            "symbol": ticker,
            "country": srng.choice(COUNTRIES),
            "currency": "USD",
        }
        if kind == "ttm_only":
            quarterly = {"period_end_date": [] if srng.random() < 0.5 else None}
            if quarterly["period_end_date"] is None:
                quarterly = {}
        else:
            quarterly = {"period_end_date": periods, **quarterly}
        payload = {"data": {"financials": {"quarterly": quarterly, "ttm": ttm},
                            "metadata": meta}}
        doc = Doc(ticker, submitted,
                  json.dumps(payload, separators=(",", ":")), valid=True)

        qp = quarterly.get("period_end_date") or []
        for i, p in enumerate(qp):
            doc.rows[("financials", p)] = {
                m: _num(quarterly[m][i]) if i < len(quarterly[m]) else None
                for m in METRICS}
        if qp:
            doc.rows[("ttm", qp[-1])] = {m: _num(ttm[m]) for m in TTM_METRICS}
        doc.rows[("metadata", None)] = {k: _null(v) for k, v in meta.items()}
        return doc


def dump_docs(docs: list[Doc]) -> bytes:
    """Canonical byte form of a document list (the determinism check)."""
    return "\n".join(f"{d.submitted}\t{d.json_str}" for d in docs).encode()


class LakeModel:
    """What the lake must hold after a sequence of loads: the union of
    silver keys, the latest document's values per key, and per-ticker run
    history."""

    def __init__(self) -> None:
        self.silver: dict[tuple[str, str, str | None], dict] = {}
        self.latest_doc: dict[str, Doc] = {}       # latest DONE document
        self.runs: dict[str, list[str]] = {}       # ticker -> states, oldest first
        self.names: dict[str, str | None] = {}     # synced stock names
        self.exchange_of: dict[str, str | None] = {}
        self.sector_of: dict[str, str | None] = {}
        self.input_bytes = 0

    def ingest(self, docs: list[Doc]) -> None:
        for d in docs:
            self.input_bytes += len(d.json_str.encode())
            if not d.valid:
                self.runs.setdefault(d.ticker, []).append("FAILED")
                self.names.setdefault(d.ticker, None)
                continue
            self.runs.setdefault(d.ticker, []).append("DONE")
            self.latest_doc[d.ticker] = d
            for (rt, p), vals in d.rows.items():
                self.silver[(d.ticker, rt, p)] = vals
            # changed-fields-only sync: a null never clobbers a value
            if d.name is not None:
                self.names[d.ticker] = d.name
            if d.exchange is not None:
                self.exchange_of[d.ticker] = d.exchange
            if d.sector is not None:
                self.sector_of[d.ticker] = d.sector

    def fail(self, ticker: str) -> None:
        self.runs.setdefault(ticker, []).append("FAILED")

    def queue(self, tickers: list[str]) -> None:
        for t in tickers:
            self.runs.setdefault(t, []).append("QUEUED_FOR_FETCH")

    def active(self, ticker: str) -> bool:
        states = self.runs.get(ticker, [])
        return bool(states) and states[-1] not in TERMINAL

    def silver_rows(self, ticker: str | None = None) -> int:
        if ticker is None:
            return len(self.silver)
        return sum(1 for k in self.silver if k[0] == ticker)

    def run_count(self, filters: dict) -> int:
        """Runs that ``list_runs`` must return for ``filters``: ANDed
        ``state``, ``ticker__icontains``, ``is_terminal`` and
        ``is_in_progress``."""
        prefix = filters.get("ticker__icontains", "").upper()
        n = 0
        for t, states in self.runs.items():
            if prefix not in t:
                continue
            for s in states:
                n += (filters.get("state", s) == s
                      and (not filters.get("is_terminal") or s in TERMINAL)
                      and (not filters.get("is_in_progress") or s not in TERMINAL))
        return n

    def exchanges(self) -> set[str]:
        return {e for e in self.exchange_of.values() if e is not None}

    def sectors(self) -> set[str]:
        return {s for s in self.sector_of.values() if s is not None}
