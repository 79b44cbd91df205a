"""Ingestion CLI — the reference's front door re-expressed over the
engine's injectable ingestion tier (reference: stock_pipeline/scripts/
ingest_fmp_prices.py:475-524 date-range resolution + trading-day
default; fmp_dump_raw.py:583-663 --endpoints/--backfill-days flags).

Differences by design:
* date resolution queries the engine's trading-calendar DIMENSION
  (functions/calendar.py) instead of calling a calendar library at
  runtime — holidays are explicit data, reproducible;
* the fetch runs through IngestClient (injectable transport, shared
  rate limiter, bounded thread fan-out), so the CLI is testable
  end-to-end with a mock transport and no network;
* writes land as day-partitioned parquet (prices) / gzip NDJSON
  (statement endpoints) plus a JSON run-metrics file — the same layout
  the reference's two scripts produce;
* the fetched records cross into Spark as one Arrow table, and the
  prices plan (from_json -> normalize -> keep-last -> write) executes
  ONCE per run: its ``rows_fetched`` is counted by the write itself.
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys
from collections.abc import Callable

from pyspark.sql import SparkSession

from .functions.calendar import build_trading_calendar
from .pipeline.metrics import fold_results, write_run_metrics
from .pipeline.prices import normalize_prices, write_partitioned_by_day
from .sources.ingest import (
    ENDPOINTS,
    IngestClient,
    RateLimiter,
    ingest_endpoint,
    load_tickers,
    write_ndjson_gz,
)

# NYSE full-close holidays for the current year band; explicit data, not a
# library call (reference: stock_pipeline/scripts/utils/dates.py:63-112).
DEFAULT_HOLIDAYS = (
    "2026-01-01",
    "2026-01-19",
    "2026-02-16",
    "2026-04-03",
    "2026-05-25",
    "2026-06-19",
    "2026-07-03",
    "2026-09-07",
    "2026-11-26",
    "2026-12-25",
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="e2e-spark-ingest",
        description="Ingest registry endpoints to the raw zone (Spark-native)",
    )
    p.add_argument("--tickers-path", required=True, help="CSV ticker list")
    p.add_argument("--output-dir", required=True, help="raw-zone root directory")
    p.add_argument("--endpoints", default="all", help="comma-separated endpoint names or 'all'")
    p.add_argument("--from-date", help="start date YYYY-MM-DD")
    p.add_argument("--to-date", help="end date YYYY-MM-DD")
    p.add_argument(
        "--backfill-days",
        type=int,
        help="backfill N calendar days ending yesterday (overrides --from/--to)",
    )
    p.add_argument("--rate-limit", type=float, default=0.0, help="seconds between requests")
    p.add_argument("--max-workers", type=int, default=4, help="bounded fetch fan-out")
    p.add_argument("--retry-attempts", type=int, default=5, help="per-request retry budget")
    p.add_argument("--metrics-dir", default=None, help="run-metrics root (default <output>/logs)")
    return p


def resolve_date_range(
    spark: SparkSession,
    args: argparse.Namespace,
    today: dt.date,
    holidays=DEFAULT_HOLIDAYS,
) -> tuple[str, str]:
    """The reference's three-way date policy, driven by the calendar dim:
    --backfill-days N -> [today-N, today-1]; explicit --from/--to; else
    today if a trading day, otherwise the previous trading day."""
    if args.backfill_days is not None:  # 0 is a valid (empty) backfill
        return (
            str(today - dt.timedelta(days=args.backfill_days)),
            str(today - dt.timedelta(days=1)),
        )
    if bool(args.from_date) != bool(args.to_date):
        # a lone flag silently falling through to the single-day default
        # would ingest a different range than the user asked for
        raise SystemExit("--from-date and --to-date must be given together")
    if args.from_date and args.to_date:
        return args.from_date, args.to_date
    cal = build_trading_calendar(
        spark, str(today - dt.timedelta(days=45)), str(today), holidays
    )
    row = cal.filter(cal.cal_date == str(today)).select(
        "is_trading", "prev_trading_day"
    ).first()
    day = today if (row and row.is_trading) else row.prev_trading_day
    return str(day), str(day)


def run(
    argv: list[str],
    spark: SparkSession,
    transport: Callable[[str, dict], tuple[list, int]],
    today: dt.date | None = None,
) -> dict:
    """Drive one ingestion run; returns the metrics dict (also written to
    the metrics sink). Transport is injectable — tests pass a mock."""
    args = build_parser().parse_args(argv)
    today = today or dt.date.today()
    from_date, to_date = resolve_date_range(spark, args, today)
    fetched_at = f"{to_date}T21:00:00+00:00"

    names = (
        list(ENDPOINTS) if args.endpoints == "all" else [e.strip() for e in args.endpoints.split(",")]
    )
    unknown = [n for n in names if n not in ENDPOINTS]
    if unknown:
        raise SystemExit(f"unknown endpoints: {unknown}; known: {list(ENDPOINTS)}")

    symbols = load_tickers(spark, args.tickers_path)
    limiter = RateLimiter(args.rate_limit) if args.rate_limit > 0 else None
    client = IngestClient(transport, rate_limiter=limiter, attempts=args.retry_attempts)

    out = args.output_dir.rstrip("/")
    results = []
    for name in names:
        ep = ENDPOINTS[name]
        try:
            df = ingest_endpoint(
                spark, client, ep, symbols, to_date, fetched_at, max_workers=args.max_workers
            )
            if name == "prices":
                from pyspark.sql import functions as F

                # Payloads are canonical-JSON bar records; unpack them
                # Spark-side (from_json, no driver loop) and run the locked
                # normalize -> validity -> keep-last -> schema-lock plan.
                bar = (
                    "date STRING, open STRING, high STRING, low STRING, "
                    "close STRING, volume STRING"
                )
                payload = df.select(
                    "symbol",
                    "request_id",
                    F.col("fetched_at"),
                    F.from_json("payload", bar).alias("_p"),
                ).select("symbol", "request_id", "fetched_at", "_p.*")
                prices = normalize_prices(payload).filter(
                    (F.col("as_of_date") >= from_date) & (F.col("as_of_date") <= to_date)
                )
                # one execution: the write counts the rows it lands
                n = write_partitioned_by_day(prices, f"{out}/raw/prices")
            else:
                n = df.count()
                write_ndjson_gz(df, f"{out}/raw/{name}")
            results.append({"endpoint": name, "rows_fetched": n})
        except Exception as exc:  # noqa: BLE001 - per-endpoint isolation, folded into metrics
            results.append({"endpoint": name, "rows_fetched": 0, "error": str(exc)})

    metrics = fold_results(results) | {
        "from_date": from_date,
        "to_date": to_date,
        "endpoints": names,
        "n_symbols": len(symbols),
        "per_endpoint": results,
    }
    write_run_metrics(metrics, args.metrics_dir or f"{out}/logs")
    return metrics


def main(argv: list[str] | None = None) -> int:
    """Real entry point: urllib transport against the public FMP API
    (key from FMP_API_KEY, like the reference's Config). Kept thin —
    everything testable lives in run()."""
    import json as _json
    import os
    import urllib.parse
    import urllib.request

    api_key = os.environ.get("FMP_API_KEY")
    if not api_key:
        print("FMP_API_KEY is not set", file=sys.stderr)
        return 2
    base = os.environ.get("FMP_BASE_URL", "https://financialmodelingprep.com/api/v3")

    def transport(url: str, params: dict) -> tuple[list, int]:
        qs = urllib.parse.urlencode(dict(params, apikey=api_key))
        with urllib.request.urlopen(f"{base}/{url}?{qs}") as resp:
            body = _json.loads(resp.read().decode())
            if isinstance(body, dict):
                body = body.get("historical", [body])
            return body, resp.status

    spark = SparkSession.builder.appName("e2e-spark-ingest").getOrCreate()
    metrics = run(argv if argv is not None else sys.argv[1:], spark, transport)
    print(_json.dumps(metrics, sort_keys=True))
    return 0 if metrics.get("tasks_failed", 0) == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
