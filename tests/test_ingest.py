"""Ingestion-tier tests — parity with the reference's own suite
(tests/test_fmp_dump_raw.py: hash determinism/key-order independence,
endpoint registry contract, path conventions; tests/test_ingest_local.py
retry behavior), against the mockable transport.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest

from e2e_stock_data_pipeline_spark.sources.ingest import (
    ENDPOINTS,
    RECORD_SCHEMA,
    IngestClient,
    RateLimiter,
    build_record,
    ingest_endpoint,
    load_tickers,
    with_retry,
    write_ndjson_gz,
)


class TestEndpointRegistry:
    def test_contract(self):
        assert set(ENDPOINTS) == {
            "prices", "owner_earnings", "income", "balance_sheet", "cash_flow", "treasury_rates",
        }
        for e in ENDPOINTS.values():
            assert e.url_template and e.path_template
        assert not ENDPOINTS["treasury_rates"].per_symbol
        assert ENDPOINTS["income"].per_symbol

    def test_path_conventions(self):
        assert "symbol={symbol}" in ENDPOINTS["income"].path_template
        assert ENDPOINTS["income"].path_template.endswith(".ndjson.gz")
        assert "dt={dt}" in ENDPOINTS["treasury_rates"].path_template
        assert "dt={dt}" in ENDPOINTS["prices"].path_template


class TestBuildRecord:
    PAYLOAD = {"date": "2023-12-31", "revenue": 1000, "fillingDate": "2024-01-26"}

    def test_hash_deterministic_across_metadata(self):
        a = build_record(self.PAYLOAD, "income", "AAPL", "2024-09-15", "t1", request_id="r1")
        b = build_record(self.PAYLOAD, "income", "AAPL", "2024-09-16", "t2", request_id="r2")
        assert a["hash"] == b["hash"]  # hash covers payload only

    def test_hash_key_order_independent(self):
        shuffled = dict(reversed(list(self.PAYLOAD.items())))
        assert (
            build_record(self.PAYLOAD, "income", "A", "d", "t")["hash"]
            == build_record(shuffled, "income", "A", "d", "t")["hash"]
        )

    def test_hash_changes_on_value_change(self):
        other = dict(self.PAYLOAD, revenue=1001)
        assert (
            build_record(self.PAYLOAD, "income", "A", "d", "t")["hash"]
            != build_record(other, "income", "A", "d", "t")["hash"]
        )

    def test_hash_matches_manual_sha256(self):
        import hashlib

        rec = build_record(self.PAYLOAD, "income", "A", "d", "t")
        manual = hashlib.sha256(
            json.dumps(self.PAYLOAD, sort_keys=True, separators=(",", ":")).encode()
        ).hexdigest()
        assert rec["hash"] == manual

    def test_date_field_fallbacks(self):
        rec = build_record({"fiscalDateEnding": "2023-06-30", "filingDate": "2023-07-15"},
                           "income", "A", "d", "t")
        assert rec["fiscal_period_end"] == "2023-06-30"
        assert rec["filing_date"] == "2023-07-15"
        rec2 = build_record(self.PAYLOAD, "income", "A", "d", "t")
        assert rec2["fiscal_period_end"] == "2023-12-31"
        assert rec2["filing_date"] == "2024-01-26"


class TestRetryAndRateLimit:
    def test_retry_succeeds_after_failures(self):
        calls = {"n": 0}
        sleeps: list[float] = []

        def flaky():
            calls["n"] += 1
            if calls["n"] < 3:
                raise ConnectionError("boom")
            return "ok"

        assert with_retry(flaky, attempts=5, sleeper=sleeps.append) == "ok"
        assert calls["n"] == 3
        assert sleeps == [1.0, 2.0]  # exponential backoff

    def test_retry_exhausts(self):
        def always_fail():
            raise ConnectionError("down")

        with pytest.raises(ConnectionError):
            with_retry(always_fail, attempts=3, sleeper=lambda s: None)

    def test_rate_limiter_min_interval(self):
        clock = {"t": 0.0}
        sleeps: list[float] = []

        def sleeper(s):
            sleeps.append(s)
            clock["t"] += s

        rl = RateLimiter(0.2, clock=lambda: clock["t"], sleeper=sleeper)
        rl.acquire()          # first: free
        rl.acquire()          # must wait 0.2
        clock["t"] += 0.05
        rl.acquire()          # must wait 0.15
        assert [round(s, 10) for s in sleeps] == [0.2, 0.15]


class TestIngestEndpoint:
    def transport(self, url, params):
        if url.startswith("income-statement/"):
            sym = url.split("/")[1]
            return [{"date": "2023-12-31", "symbol": sym, "revenue": 5}], 200
        if url == "treasury":
            return [{"date": "2024-10-25", "month1": 4.5}], 200
        raise ValueError(url)

    def test_per_symbol_fanout(self, spark):
        client = IngestClient(self.transport, sleeper=lambda s: None)
        df = ingest_endpoint(spark, client, ENDPOINTS["income"], ["aapl", "MSFT"],
                             "2024-09-15", "2024-09-15T01:00:00")
        rows = {r.symbol: r for r in df.collect()}
        assert set(rows) == {"AAPL", "MSFT"}  # normalized upper
        assert rows["AAPL"].endpoint == "income"
        assert rows["AAPL"].fiscal_period_end == "2023-12-31"
        assert len(rows["AAPL"].hash) == 64

    def test_market_wide_single_call(self, spark):
        client = IngestClient(self.transport, sleeper=lambda s: None)
        df = ingest_endpoint(spark, client, ENDPOINTS["treasury_rates"], ["IGNORED"],
                             "2024-09-15", "t")
        rows = df.collect()
        assert len(rows) == 1 and rows[0].symbol is None

    def test_ndjson_gz_roundtrip(self, spark, tmp_path):
        client = IngestClient(self.transport, sleeper=lambda s: None)
        df = ingest_endpoint(spark, client, ENDPOINTS["income"], ["AAPL"], "d", "t")
        dest = str(tmp_path / "out")
        write_ndjson_gz(df, dest)
        import glob

        assert glob.glob(f"{dest}/*.json.gz")  # gzip files on disk
        back = spark.read.json(dest)
        assert back.count() == 1
        payload = json.loads(back.collect()[0].payload)
        assert payload["revenue"] == 5


class TestArrowHandOff:
    """ingest_endpoint hands its records to Spark as one Arrow table; the
    frame keeps the record schema and the record order that keep-last
    dedup relies on."""

    def test_schema_matches_record_schema(self, spark):
        for payloads in ([{"date": "2024-01-02", "close": 1}], []):
            client = IngestClient(lambda url, p, b=payloads: (b, 200), sleeper=lambda s: None)
            df = ingest_endpoint(spark, client, ENDPOINTS["prices"], ["AAPL"], "d", "t")
            # StructType equality covers names, types and nullability
            assert df.schema == RECORD_SCHEMA
            assert df.count() == len(payloads)

    @pytest.mark.parametrize("fold_local", [True, False], ids=["folded", "per-slice"])
    def test_keep_last_follows_record_order_across_slices(self, spark, fold_local):
        """Catalyst folds projections over a local relation while planning
        (ConvertToLocalRelation), where the ordinal is the record index;
        with that rule off, each slice numbers its own rows. Keep-last
        must keep the later record either way."""
        from pyspark.sql import functions as F

        from e2e_stock_data_pipeline_spark.pipeline.prices import normalize_prices

        def bar(day, close):
            return {"date": day, "open": 1.0, "high": 9.0, "low": 0.5,
                    "close": close, "volume": 10}

        n_fill = 4 * spark.sparkContext.defaultParallelism
        # the stale bar is the first record, its correction the last
        bars = (
            [bar("2024-06-03", 1.0)]
            + [bar(str(dt.date(2025, 1, 1) + dt.timedelta(days=i)), 3.0) for i in range(n_fill)]
            + [bar("2024-06-03", 2.0)]
        )
        client = IngestClient(lambda url, p: (bars, 200), sleeper=lambda s: None)
        df = ingest_endpoint(spark, client, ENDPOINTS["prices"], ["AAPL"], "d",
                             "2024-06-04T00:00:00")
        slices = df.rdd.mapPartitionsWithIndex(
            lambda i, rows: [(i, json.loads(r.payload)["close"]) for r in rows
                             if json.loads(r.payload)["date"] == "2024-06-03"]
        ).collect()
        assert [c for _, c in slices] == [1.0, 2.0]
        assert slices[0][0] < slices[1][0]  # stale slice before correction slice
        raw = df.select(
            "symbol", "request_id", "fetched_at",
            F.from_json("payload", "date STRING, open STRING, high STRING, low STRING, "
                        "close STRING, volume STRING").alias("_p"),
        ).select("symbol", "request_id", "fetched_at", "_p.*")
        key = "spark.sql.optimizer.excludedRules"
        prior = spark.conf.get(key, None)
        if not fold_local:
            spark.conf.set(key, "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
        try:
            got = normalize_prices(raw).filter(F.col("as_of_date") == "2024-06-03").collect()
        finally:
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)
        assert [r.close for r in got] == [2.0]


class TestLoadTickers:
    def test_skips_header_uppercases(self, spark, tmp_path):
        p = tmp_path / "tickers.csv"
        p.write_text("symbol\naapl\nMsft\n\n")
        assert load_tickers(spark, str(p)) == ["AAPL", "MSFT"]


class TestBoundedFanout:
    def test_concurrent_fetch_same_records_rate_limited(self, spark):
        """Bounded fan-out: results identical to serial; the shared
        rate limiter serializes request starts across worker threads."""
        import threading
        import time as _time

        starts: list[float] = []
        lock = threading.Lock()

        def transport(url, params):
            with lock:
                starts.append(_time.monotonic())
            sym = url.split("/")[1]
            return [{"date": "2023-12-31", "symbol": sym, "revenue": 5}], 200

        rl = RateLimiter(0.05)
        client = IngestClient(transport, rate_limiter=rl, sleeper=lambda s: None)
        syms = [f"S{i}" for i in range(8)]
        par = ingest_endpoint(spark, client, ENDPOINTS["income"], syms, "d", "t", max_workers=4)
        got = sorted(r.symbol for r in par.collect())
        ser = ingest_endpoint(
            spark, IngestClient(transport, sleeper=lambda s: None), ENDPOINTS["income"],
            syms, "d", "t",
        )
        assert got == sorted(r.symbol for r in ser.collect())
        # limiter enforced ~0.05s spacing on the first 8 (parallel) calls
        gaps = [b - a for a, b in zip(starts[:8], starts[1:8])]
        assert all(g >= 0.045 for g in gaps)
