"""CLI front-door tests (reference: ingest_fmp_prices.py:475-524,
fmp_dump_raw.py:583-663): argparse flags -> date resolution via the
trading-calendar dimension -> mock-transport fetch -> partitioned
parquet + NDJSON + run-metrics JSON, all with zero network."""

from __future__ import annotations

import datetime as dt
import glob
import json

import pytest

from e2e_stock_data_pipeline_spark import cli


def fake_transport(url: str, params: dict):
    if url.startswith("historical-price-full/"):
        sym = url.split("/")[1]
        bars = [
            {"date": "2026-08-10", "open": 10.0, "high": 11.0, "low": 9.5,
             "close": 10.5, "volume": 1000},
            {"date": "2026-08-11", "open": 10.5, "high": 12.0, "low": 10.0,
             "close": 11.5, "volume": 2000},
            # out-of-range bar: must be filtered by the date predicate
            {"date": "2020-01-02", "open": 1.0, "high": 1.0, "low": 1.0,
             "close": 1.0, "volume": 1},
            # invalid date: dropped by the validity filter
            {"date": "not-a-date", "open": 1.0, "high": 1.0, "low": 1.0,
             "close": 1.0, "volume": 1},
        ]
        return bars, 200
    if url.startswith("income-statement/"):
        sym = url.split("/")[1]
        return [{"date": "2025-12-31", "symbol": sym, "revenue": 7}], 200
    raise ValueError(url)


@pytest.fixture()
def tickers(tmp_path):
    p = tmp_path / "tickers.csv"
    p.write_text("symbol\naapl\nmsft\n")
    return str(p)


class TestResolveDateRange:
    def _args(self, **kw):
        ns = cli.build_parser().parse_args(
            ["--tickers-path", "x", "--output-dir", "y"]
        )
        for k, v in kw.items():
            setattr(ns, k, v)
        return ns

    def test_backfill_days(self, spark):
        got = cli.resolve_date_range(
            spark, self._args(backfill_days=7), dt.date(2026, 8, 13)
        )
        assert got == ("2026-08-06", "2026-08-12")

    def test_explicit_range(self, spark):
        got = cli.resolve_date_range(
            spark, self._args(from_date="2026-08-01", to_date="2026-08-05"),
            dt.date(2026, 8, 13),
        )
        assert got == ("2026-08-01", "2026-08-05")

    def test_default_trading_day_passthrough(self, spark):
        # 2026-08-13 is a Thursday, not a holiday -> use it directly
        got = cli.resolve_date_range(spark, self._args(), dt.date(2026, 8, 13))
        assert got == ("2026-08-13", "2026-08-13")

    def test_default_weekend_resolves_to_friday(self, spark):
        # Saturday -> previous trading day (Friday 2026-08-14)
        got = cli.resolve_date_range(spark, self._args(), dt.date(2026, 8, 15))
        assert got == ("2026-08-14", "2026-08-14")

    def test_default_holiday_resolves_back(self, spark):
        # 2026-07-03 (Fri) is a holiday -> previous trading day Thu 07-02
        got = cli.resolve_date_range(spark, self._args(), dt.date(2026, 7, 3))
        assert got == ("2026-07-02", "2026-07-02")

    def test_lone_date_flag_errors(self, spark):
        # a lone --from-date/--to-date must not silently fall back to the
        # single-trading-day default (ADVICE r2)
        for kw in ({"from_date": "2026-08-01"}, {"to_date": "2026-08-05"}):
            with pytest.raises(SystemExit, match="must be given together"):
                cli.resolve_date_range(spark, self._args(**kw), dt.date(2026, 8, 13))

    def test_backfill_days_zero_is_not_unset(self, spark):
        # --backfill-days=0 means "empty range ending yesterday", not the
        # trading-day default (falsy check regression, ADVICE r2)
        got = cli.resolve_date_range(
            spark, self._args(backfill_days=0), dt.date(2026, 8, 13)
        )
        assert got == ("2026-08-13", "2026-08-12")


class TestRunEndToEnd:
    def test_prices_and_income_run(self, spark, tickers, tmp_path):
        out = str(tmp_path / "raw")
        metrics = cli.run(
            [
                "--tickers-path", tickers,
                "--output-dir", out,
                "--endpoints", "prices,income",
                "--from-date", "2026-08-10",
                "--to-date", "2026-08-11",
            ],
            spark,
            fake_transport,
            today=dt.date(2026, 8, 13),
        )
        # prices: day-partitioned parquet, only in-range valid bars
        days = sorted(
            d.split("dt=")[1] for d in glob.glob(f"{out}/raw/prices/dt=*")
        )
        assert days == ["2026-08-10", "2026-08-11"]
        prices = spark.read.parquet(f"{out}/raw/prices")
        assert prices.count() == 4  # 2 symbols x 2 in-range days
        assert set(r.symbol for r in prices.collect()) == {"AAPL", "MSFT"}
        # income: gzip ndjson with record schema
        assert glob.glob(f"{out}/raw/income/*.json.gz")
        back = spark.read.json(f"{out}/raw/income")
        assert back.count() == 2
        assert json.loads(back.collect()[0].payload)["revenue"] == 7
        # metrics json written and folded
        runs = glob.glob(f"{out}/logs/date=*/run-*.json")
        assert len(runs) == 1
        payload = json.loads(open(runs[0]).read())
        assert payload["tasks_ok"] == 2 and payload["tasks_failed"] == 0
        assert payload["from_date"] == "2026-08-10"
        assert metrics["tasks_ok"] == 2
        # rows_fetched counts the rows landed: the 4 prices plus 2 income
        assert metrics["per_endpoint"] == [
            {"endpoint": "prices", "rows_fetched": 4},
            {"endpoint": "income", "rows_fetched": 2},
        ]

    def test_failed_endpoint_isolated(self, spark, tickers, tmp_path):
        def broken(url, params):
            if url.startswith("income-statement/"):
                raise ConnectionError("api down")
            return fake_transport(url, params)

        out = str(tmp_path / "raw2")
        metrics = cli.run(
            [
                "--tickers-path", tickers,
                "--output-dir", out,
                "--endpoints", "prices,income",
                "--from-date", "2026-08-10",
                "--to-date", "2026-08-11",
            ],
            spark,
            broken,
            today=dt.date(2026, 8, 13),
        )
        assert metrics["tasks_ok"] == 1 and metrics["tasks_failed"] == 1
        assert glob.glob(f"{out}/raw/prices/dt=*")  # prices still landed

    @pytest.mark.parametrize(
        "transport",
        [
            pytest.param(lambda url, params: ([], 200), id="empty-response"),
            # the three valid bars, all outside --from-date/--to-date
            pytest.param(
                lambda url, params: (fake_transport(url, params)[0][:3], 200),
                id="all-out-of-range",
            ),
        ],
    )
    def test_prices_empty_run_reports_zero_rows(self, spark, tickers, tmp_path, transport):
        # no row reaches the write: rows_fetched is 0, not a failed endpoint
        out = str(tmp_path / "raw")
        metrics = cli.run(
            [
                "--tickers-path", tickers,
                "--output-dir", out,
                "--endpoints", "prices",
                "--from-date", "2026-09-01",
                "--to-date", "2026-09-04",
            ],
            spark,
            transport,
            today=dt.date(2026, 9, 7),
        )
        assert metrics["rows_fetched"] == 0
        assert metrics["tasks_failed"] == 0 and metrics["tasks_ok"] == 1
        assert metrics["per_endpoint"] == [{"endpoint": "prices", "rows_fetched": 0}]
        assert not glob.glob(f"{out}/raw/prices/dt=*")

    def test_unknown_endpoint_exits(self, spark, tickers, tmp_path):
        with pytest.raises(SystemExit):
            cli.run(
                ["--tickers-path", tickers, "--output-dir", str(tmp_path),
                 "--endpoints", "nope"],
                spark,
                fake_transport,
                today=dt.date(2026, 8, 13),
            )


class TestDemo:
    def test_demo_end_to_end(self, tmp_path, capsys):
        """demo.py walks ingest -> bronze -> silver -> gold -> dedup ->
        metrics offline; every stage must report non-zero output."""
        import sys

        sys.path.insert(0, "/root/repo")
        import demo

        assert demo.main(str(tmp_path / "work")) == 0
        out = capsys.readouterr().out
        for stage in ["1 ingest", "2 normalize", "3 bronze", "4 silver",
                      "5 gold", "6 dedup", "7 metrics"]:
            assert stage in out
        assert "15 rows after two identical merges" in out
