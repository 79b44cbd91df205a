"""Registry-driven HTTP ingestion tier (reference: stock_pipeline/
scripts/fmp_dump_raw.py:81-113 ENDPOINTS registry, :120-190 client,
:197-243 record builder; ingest_fmp_prices.py:124-204 rate-limited
fetch). Network I/O stays driver-side (it's rate-limited API traffic,
not Spark's job — SURVEY.md §2.13). The fetched records cross into
Spark as ONE Arrow table (a local relation: no pickled rows, no Python
workers at execution); everything after the fetch is a single Catalyst
plan.

The transport is injectable so tests never touch the network, and the
retry/backoff sleeper is injectable so tests are instant.
"""

from __future__ import annotations

import hashlib
import json
import time
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# --------------------------------------------------------------------------
# Endpoint registry (the "logical plan" of the ingestion tier)
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Endpoint:
    name: str
    url_template: str
    per_symbol: bool
    path_template: str  # raw-zone layout
    params: dict = field(default_factory=dict)


ENDPOINTS: dict[str, Endpoint] = {
    e.name: e
    for e in [
        Endpoint(
            "prices",
            "historical-price-full/{symbol}",
            True,
            "raw/prices/dt={dt}/prices-{dt}.parquet",
        ),
        Endpoint(
            "owner_earnings",
            "owner-earnings/{symbol}",
            True,
            "raw/statements/owner_earnings/symbol={symbol}/{symbol}-owner_earnings.ndjson.gz",
        ),
        Endpoint(
            "income",
            "income-statement/{symbol}",
            True,
            "raw/statements/income/symbol={symbol}/{symbol}-income.ndjson.gz",
            {"period": "annual"},
        ),
        Endpoint(
            "balance_sheet",
            "balance-sheet-statement/{symbol}",
            True,
            "raw/statements/balance_sheet/symbol={symbol}/{symbol}-balance_sheet.ndjson.gz",
            {"period": "annual"},
        ),
        Endpoint(
            "cash_flow",
            "cash-flow-statement/{symbol}",
            True,
            "raw/statements/cash_flow/symbol={symbol}/{symbol}-cash_flow.ndjson.gz",
            {"period": "annual"},
        ),
        Endpoint(
            "treasury_rates",
            "treasury",
            False,
            "raw/treasury_rates/dt={dt}/treasury-rates-{dt}.ndjson.gz",
        ),
    ]
}


# --------------------------------------------------------------------------
# Rate limiting + retry (driver-side utilities)
# --------------------------------------------------------------------------


class RateLimiter:
    """Minimum-interval limiter (token-bucket degenerate case the
    reference uses: one request per RATE_LIMIT_SECONDS). Thread-safe —
    the bounded fan-out below shares one limiter across workers, exactly
    like the reference's global asyncio lock
    (ingest_fmp_prices.py:124-140)."""

    def __init__(self, min_interval: float, clock=time.monotonic, sleeper=time.sleep):
        import threading

        self.min_interval = min_interval
        self._clock = clock
        self._sleep = sleeper
        self._last = float("-inf")
        self._lock = threading.Lock()

    def acquire(self) -> None:
        with self._lock:
            now = self._clock()
            wait = self._last + self.min_interval - now
            if wait > 0:
                self._sleep(wait)
                now = self._clock()
            self._last = now


def with_retry(
    fn: Callable[[], object],
    attempts: int = 5,
    base_delay: float = 1.0,
    max_delay: float = 60.0,
    sleeper=time.sleep,
):
    """Exponential backoff retry (deterministic — no jitter — so tests and
    reruns behave identically; jitter matters for fleet-vs-API thundering
    herds, which an injectable sleeper can add)."""
    last_exc: Exception | None = None
    for attempt in range(attempts):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - transport decides retryability
            last_exc = exc
            if attempt == attempts - 1:
                break
            sleeper(min(base_delay * (2**attempt), max_delay))
    raise last_exc  # type: ignore[misc]


# --------------------------------------------------------------------------
# Record construction (fmp_dump_raw.py:197-243)
# --------------------------------------------------------------------------

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType(), True),  # null for market-wide
        T.StructField("as_of_date", T.StringType(), False),
        T.StructField("endpoint", T.StringType(), False),
        T.StructField("payload", T.StringType(), False),
        T.StructField("fetched_at", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("http_status", T.IntegerType(), False),
        T.StructField("request_id", T.StringType(), False),
        T.StructField("fiscal_period_end", T.StringType(), True),
        T.StructField("filing_date", T.StringType(), True),
        T.StructField("hash", T.StringType(), False),
    ]
)
_RECORD_ARROW_SCHEMA = to_arrow_schema(RECORD_SCHEMA)


def build_record(
    payload: dict,
    endpoint: str,
    symbol: str | None,
    as_of_date: str,
    fetched_at: str,
    http_status: int = 200,
    request_id: str | None = None,
) -> dict:
    """Wrap one API payload with metadata. The content hash is sha256 of
    the sorted-key JSON — deterministic, key-order independent, sensitive
    to any value change (properties tested at reference
    tests/test_fmp_dump_raw.py:127-175, 358-415)."""
    canon = json.dumps(payload, sort_keys=True, separators=(",", ":"))
    return {
        "symbol": symbol,
        "as_of_date": as_of_date,
        "endpoint": endpoint,
        "payload": canon,
        "fetched_at": fetched_at,
        "source": "FMP",
        "http_status": http_status,
        "request_id": request_id or str(uuid.uuid4()),
        "fiscal_period_end": payload.get("date") or payload.get("fiscalDateEnding"),
        "filing_date": payload.get("fillingDate") or payload.get("filingDate"),
        "hash": hashlib.sha256(canon.encode()).hexdigest(),
    }


# --------------------------------------------------------------------------
# Client + ingestion job
# --------------------------------------------------------------------------


class IngestClient:
    """Fetches an endpoint registry against an injectable transport.

    transport(url, params) -> (list[dict] payloads, http_status).
    """

    def __init__(
        self,
        transport: Callable[[str, dict], tuple[list, int]],
        rate_limiter: RateLimiter | None = None,
        attempts: int = 5,
        sleeper=time.sleep,
    ):
        self._transport = transport
        self._limiter = rate_limiter
        self._attempts = attempts
        self._sleep = sleeper

    def fetch(self, endpoint: Endpoint, symbol: str | None = None) -> tuple[list, int]:
        if self._limiter:
            self._limiter.acquire()
        url = endpoint.url_template.format(symbol=symbol or "")

        def call():
            return self._transport(url, dict(endpoint.params))

        return with_retry(call, attempts=self._attempts, sleeper=self._sleep)


def ingest_endpoint(
    spark: SparkSession,
    client: IngestClient,
    endpoint: Endpoint,
    symbols: Sequence[str],
    as_of_date: str,
    fetched_at: str,
    max_workers: int = 1,
) -> DataFrame:
    """Fetch (per-symbol fan-out or market-wide) and build the records
    DataFrame with the fixed NDJSON schema.

    The records reach Spark as one ``pa.Table`` in fetch order: a local
    relation whose slices keep that order, so
    ``monotonically_increasing_id`` follows record order whether
    Catalyst folds it while planning or each slice numbers its own rows —
    the ordinal keep-last dedup (pipeline/prices.py) relies on it. A
    list of dicts would instead become a pickled-row scan that starts
    Python workers on every action.

    max_workers > 1 gives the reference's bounded concurrent fan-out
    (asyncio.Semaphore(MAX_WORKERS) + gather, ingest_fmp_prices.py:
    541-550) via a thread pool; the shared RateLimiter still serializes
    request starts, so concurrency hides latency without breaking the
    API budget. Records keep symbol order so output is deterministic.
    """
    targets = [s.strip().upper() for s in symbols] if endpoint.per_symbol else [None]

    def fetch_one(sym):
        payloads, status = client.fetch(endpoint, sym)
        return [
            build_record(p, endpoint.name, sym, as_of_date, fetched_at, status)
            for p in payloads
        ]

    if max_workers > 1 and len(targets) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            per_symbol = list(pool.map(fetch_one, targets))
    else:
        per_symbol = [fetch_one(sym) for sym in targets]
    records = [r for batch in per_symbol for r in batch]
    return spark.createDataFrame(pa.Table.from_pylist(records, schema=_RECORD_ARROW_SCHEMA))


def write_ndjson_gz(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Gzip NDJSON sink (K2: fmp_dump_raw.py:259-291)."""
    df.write.mode(mode).option("compression", "gzip").json(path)


def load_tickers(spark: SparkSession, path: str) -> list[str]:
    """CSV ticker-list scan (S3): uppercase, skip header-ish rows. The
    one-column schema is pinned, so the scan is one job (no inference
    pass over the file)."""
    rows = spark.read.csv(path, header=False, schema="_c0 STRING").select(
        F.upper(F.trim(F.col("_c0"))).alias("symbol")
    )
    out = [r.symbol for r in rows.collect() if r.symbol and r.symbol not in ("SYMBOL", "TICKER")]
    return out
