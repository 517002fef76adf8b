"""Deterministic in-process transport for ``StockLake.fetch_and_ingest``.

The fetch operator calls the transport inside Python workers, so it lives in
an importable module and holds only plain data.
"""

from __future__ import annotations


class FakeTransport:
    """``ticker -> (status_code, body)`` from a fixed table; tickers not in
    the table answer 404."""

    def __init__(self, responses: dict[str, tuple[int, str]]) -> None:
        self.responses = dict(responses)

    def __call__(self, ticker: str) -> tuple[int, str]:
        return self.responses.get(ticker, (404, ""))
