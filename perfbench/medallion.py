"""``medallion_pipeline``: the write path, ingest to gold, closed loop.

A cycle starts from an empty lake. A cold backfill of D trading days
runs the ingestion CLI (``cli.run`` with the seeded feed as its mock
transport), the bronze availableNow stream, the silver foreachBatch
MERGE stream and the gold ``price_features`` table. A nightly increment
follows: it lands one new day plus a re-fetch of the last few days that
carries late corrections, and compacts silver. An operation's time runs
from its ingest trigger to gold queryable. The query layers stay idle.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from e2e_stock_data_pipeline_spark import cli
from e2e_stock_data_pipeline_spark.pipeline import gold, maintenance
from e2e_stock_data_pipeline_spark.streaming import bronze, foreach_batch

import checks
import gen
from common import Ops, Run, host_ticks, steal_share, tail

SETUPS = 3
SETUP_DAYS = 3
NIGHT_WINDOW = 4  # days re-fetched each night, the new day included
CORRECTIONS = 3  # symbols whose close is revised each night
NIGHTS = 1  # nights per cycle; each night also compacts silver
MIN_CYCLES = 2
KEYS = ["symbol", "trade_date"]

_S, _D = T.StringType(), T.DoubleType()
RAW_SCHEMA = T.StructType([
    T.StructField(name, typ) for name, typ in [
        ("symbol", _S), ("as_of_date", T.DateType()), ("open", _D), ("high", _D),
        ("low", _D), ("close", _D), ("volume", T.LongType()),
        ("fetched_at", T.TimestampType()), ("source", _S), ("endpoint", _S),
        ("request_id", _S), ("file_hash", _S),
    ]
])
BRONZE_SCHEMA = T.StructType(
    RAW_SCHEMA.fields
    + [T.StructField("_processing_time", T.TimestampType()),
       T.StructField("_input_file", T.StringType())]
)


class Lake:
    """One lake directory and the feed that fills it."""

    def __init__(self, root: str, tickers: str, feed: gen.PriceFeed):
        self.root, self.tickers, self.feed = root, tickers, feed
        self.raw = f"{root}/raw/prices"
        self.bronze = f"{root}/bronze"
        self.silver = f"{root}/silver"
        self.gold = f"{root}/gold"
        self.fetches = 0
        self.nights = 0
        self.days_ingested: set[str] = set()


def _pipeline(r: Run, lake: Lake, compact: bool) -> dict:
    """One ingest-to-gold operation over the feed's published days."""
    spark, tr, feed = r.spark, r.tracer, lake.feed
    days = feed.published()
    lake.fetches += 1
    feed.begin_fetch(lake.fetches, days[0], days[-1], f"{days[-1]} 21:00:00")
    with tr.span("cli.run"):
        m = cli.run(
            ["--tickers-path", lake.tickers, "--output-dir", lake.root, "--endpoints", "prices",
             "--from-date", days[0], "--to-date", days[-1], "--max-workers", "4"],
            spark, feed,
        )
    if m["tasks_failed"]:
        raise RuntimeError(f"ingest failed: {m['per_endpoint']}")
    lake.days_ingested.update(days)
    with tr.span("streaming.bronze"):
        bronze.run_bronze_stream(
            bronze.read_file_stream(spark, lake.raw, RAW_SCHEMA), lake.bronze,
            f"{lake.root}/_ckpt/bronze",
        )
    with tr.span("streaming.silver"):
        rows = bronze.read_file_stream(spark, lake.bronze, BRONZE_SCHEMA).select(
            "symbol", F.col("as_of_date").alias("trade_date"), "open", "high", "low", "close",
            "volume", F.col("fetched_at").alias("ingest_ts"),
        )
        foreach_batch.stream_merge_upsert(
            rows, lake.silver, f"{lake.root}/_ckpt/silver", KEYS, "ingest_ts"
        ).awaitTermination()
    with tr.span("pipeline.gold"):
        gold.price_features(spark.read.parquet(lake.silver)).write.mode("overwrite").parquet(
            lake.gold
        )
    if compact:
        with tr.span("pipeline.maintenance.compact"):
            maintenance.compact(spark, lake.silver)
    return m


def _files(path: str) -> int:
    return len(glob.glob(f"{path}/**/*.parquet", recursive=True))


def _batches(ckpt: str) -> int:
    return len(glob.glob(f"{ckpt}/commits/[0-9]*"))


def _op(r: Run, lake: Lake, kind: str, compact: bool, ops: Ops, check: bool) -> dict | None:
    """Run and time one operation. When ``check`` is set (not in warm-up),
    snapshot silver and gold for ``_check_ops``, so the checks run after
    the measurement instead of between timed operations."""
    b0 = _batches(f"{lake.root}/_ckpt/bronze")
    req0, log0 = lake.feed.requests, len(lake.feed.log)
    name = f"{os.path.basename(lake.root)}.{kind}.{lake.fetches + 1}"
    ops.attempted += 1
    t0, w0 = time.perf_counter(), time.time()
    try:
        with r.tracer.span(f"bench.{kind}"):
            m = _pipeline(r, lake, compact)
    except Exception as exc:  # noqa: BLE001 - a raising operation is a failed one
        ops.failed += 1
        r.check(name, False, f"raised {type(exc).__name__}: {exc}"[:200])
        return None
    dt, w1 = time.perf_counter() - t0, time.time()
    snap = os.path.join(r.work, "snap", name)
    if check:
        for table in ("silver", "gold"):
            shutil.copytree(getattr(lake, table), os.path.join(snap, table))
    return {
        "name": name, "kind": kind, "lake": lake.root, "s": dt, "window": (w0, w1),
        "compact": compact, "rows_in": m["rows_fetched"], "snap": snap,
        "log": lake.feed.log, "log_n": len(lake.feed.log),
        "bronze_batches": (b0, _batches(f"{lake.root}/_ckpt/bronze")),
        "requests": lake.feed.requests - req0, "records": len(lake.feed.log) - log0,
        "raw_files": _files(lake.raw), "bronze_files": _files(lake.bronze),
    }


def _check_ops(r: Run, res: list[dict], ops: Ops) -> None:
    """Check each operation's silver and gold snapshot against the DuckDB
    replay of the responses served up to that operation."""
    con = checks.duck(r.work)
    for o in res:
        silver = r.spark.read.parquet(os.path.join(o["snap"], "silver"))
        gold_df = r.spark.read.parquet(os.path.join(o["snap"], "gold"))
        ok, detail, (o["silver_rows"], o["gold_rows"]) = checks.medallion_matches(
            con, o["log"][: o["log_n"]], silver, gold_df
        )
        r.check(o["name"], ok, detail)
        ops.failed += not ok
    con.close()


def _lake(r: Run, name: str, symbols: int, days: int) -> Lake:
    """A fresh lake whose feed has published its first ``days`` days."""
    feed = gen.PriceFeed(r.seed, symbols, days + 400)
    feed.advance(days - 1, days)
    return Lake(os.path.join(r.work, name), os.path.join(r.work, "tickers.csv"), feed)


def _night(r: Run, lake: Lake, ops: Ops, check: bool) -> dict | None:
    lake.nights += 1
    lake.feed.advance(lake.feed.last + 1, NIGHT_WINDOW, CORRECTIONS)
    return _op(r, lake, "night", True, ops, check)


def _measure(r: Run, name: str, symbols: int, days: int, seconds: float, ops: Ops,
             min_cycles: int = MIN_CYCLES, defects: bool = False) -> list[dict]:
    """Cycles until ``seconds`` have passed (at least ``min_cycles``):
    each backfills a fresh lake, then runs ``NIGHTS`` nights on it."""
    out, start = [], time.perf_counter()
    while len(out) < min_cycles * (1 + NIGHTS) or time.perf_counter() - start < seconds:
        lake = _lake(r, f"{name}-{len(out)}", symbols, days)
        res = [_op(r, lake, "backfill", False, ops, True)]
        while res[-1] is not None and lake.nights < NIGHTS:
            res.append(_night(r, lake, ops, True))
            if defects and lake.nights == 1:
                ok, detail = checks.raw_zone_retained(lake.raw, len(lake.days_ingested))
                r.defect("raw_zone_retained", ok, detail)
        defects = False
        out += res
        if res[-1] is None:
            break
    return [o for o in out if o is not None]


def run(r: Run, symbols: int, days: int) -> dict:
    ops = Ops()
    with open(os.path.join(r.work, "tickers.csv"), "w") as f:
        f.write("symbol\n" + "".join(f"{s}\n" for s in gen.PriceFeed(r.seed, symbols, 1).symbols))

    # Set-up, three times: backfill a scratch lake of SETUP_DAYS days, the
    # time from an empty lake to a first gold table. The first set-up also
    # launches the JVM and starts the Spark application.
    setups = []
    t0 = time.perf_counter()
    r.start_spark()
    start_s = time.perf_counter() - t0
    for i in range(SETUPS):
        _op(r, _lake(r, f"setup-{i}", symbols, SETUP_DAYS), "backfill", False, Ops(), False)
        setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
    # Warm-up: a full-size backfill and a night on a scratch lake.
    t0 = time.perf_counter()
    warm = _lake(r, "warm", symbols, days)
    _op(r, warm, "backfill", False, Ops(), False)
    _night(r, warm, Ops(), False)
    warmup_s = time.perf_counter() - t0

    if r.trace:
        # one cycle untraced, then one traced
        base = _measure(r, "lake-base", symbols, days, r.seconds / 2, ops, 1)
        r.start_spark(restart=True, traced=True)
        _night(r, warm, Ops(), False)
        r.install_wrappers()
        t_win = time.time()
        res = _measure(r, "lake", symbols, days, r.seconds / 2, ops, 1, defects=True)
        window = (t_win, time.time())
        r.tracer.restore()
    else:
        ticks = host_ticks()
        res = _measure(r, "lake", symbols, days, r.seconds, ops, defects=True)
        r.note(f"host_steal={steal_share(ticks, host_ticks()):.3f} (share of CPU ticks "
               "stolen by the hypervisor while measuring)")
    rss = r.peak_rss_mb()
    _check_ops(r, res + (base if r.trace else []), ops)

    if r.trace:  # a diagnostic probe: traced runs only, to keep runs short
        ok, detail = checks.bronze_compaction_safe(
            r.spark, os.path.join(r.work, "compaction"), bronze, maintenance.compact
        )
        r.defect("bronze_compaction_safe", ok, detail)

    backfill = [o["s"] for o in res if o["kind"] == "backfill"]
    nights = [o["s"] for o in res if o["kind"] == "night"]
    if not backfill or not nights:
        raise RuntimeError("no backfill or night completed")
    p, q = tail(nights)
    e2e = {
        "setup_s": statistics.median(setups),
        "pass_s": statistics.median(backfill),
        "op_p50_s": statistics.median(nights),
        "op_tail_s": q,
        "peak_rss_mb": rss,
    }
    r.note(f"backfill_s={e2e['pass_s']:.4f} nightly_p50_s={e2e['op_p50_s']:.4f} "
           f"nightly_tail_s={q:.4f} (p{p}, n={len(nights)}) "
           f"setups={[round(s, 3) for s in setups]} "
           f"ops={[(o['kind'][0], round(o['s'], 3)) for o in res]}")
    layer = {}
    if r.trace:
        layer = _layers(r, res, window, start_s, warmup_s)
        base_nights = [o["s"] for o in base if o["kind"] == "night"]
        layer["trace.overhead_s"] = statistics.median(nights) - statistics.median(base_nights)
    return {"e2e": e2e, "layer": layer, "ops": ops}


def _bronze_progress(r: Run, lake_root: str, res: list[dict]) -> dict[int, int]:
    """Rows per bronze batch, from the progress listener (events arrive
    asynchronously: wait up to 10 s for every committed batch)."""
    with open(f"{lake_root}/_ckpt/bronze/metadata") as f:
        qid = json.load(f)["id"]
    want = set(range(res[0]["bronze_batches"][0], res[-1]["bronze_batches"][1]))
    deadline = time.time() + 10
    while True:
        got = {p["batch_id"]: p["num_input_rows"] for p in list(r.listener.progress)
               if p["query_id"] == qid}
        if want <= set(got) or time.time() > deadline:
            return got
        time.sleep(0.2)


def _layers(r: Run, res: list[dict], window, start_s, warmup_s) -> dict:
    bf = next(o for o in res if o["kind"] == "backfill")
    nights = [o for o in res if o["kind"] == "night"]
    rows = _bronze_progress(r, bf["lake"], [o for o in res if o["lake"] == bf["lake"]])
    b0, b1 = bf["bronze_batches"]
    fetch_calls = r.tracer.count("sources.ingest.fetch", *bf["window"])
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    out = {
        "session.start_s": start_s,
        "bench.warmup_s": warmup_s,
        "sources.ingest.fetch_s": r.tracer.total("sources.ingest.endpoint", *bf["window"]),
        "sources.ingest.records": bf["records"],
        "sources.ingest.requests": bf["requests"],
        "sources.ingest.retries": bf["requests"] - fetch_calls,
        "pipeline.prices.write_s": r.tracer.total("pipeline.prices.write", *bf["window"]),
        "pipeline.prices.files_written": bf["raw_files"],
        "streaming.bronze.s": r.tracer.total("streaming.bronze", *bf["window"]),
        "streaming.bronze.files": bf["bronze_files"],
        "streaming.bronze.batches": b1 - b0,
        "streaming.bronze.rows": sum(v for k, v in rows.items() if b0 <= k < b1),
        "pipeline.silver.merge_s": med([r.tracer.total("pipeline.silver.merge", *o["window"])
                                        for o in nights]),
        "pipeline.silver.rows_written_per_input_row": med(
            [o["silver_rows"] / max(1, o["rows_in"]) for o in nights]),
        "pipeline.gold.s": med([r.tracer.total("pipeline.gold", *o["window"]) for o in nights]),
        "pipeline.gold.rows_written_per_input_row": med(
            [o["gold_rows"] / max(1, o["rows_in"]) for o in nights]),
        "pipeline.maintenance.compact_s": med(
            [r.tracer.total("pipeline.maintenance.compact", *o["window"])
             for o in nights if o["compact"]]),
        "cli.run_s": med([r.tracer.total("cli.run", *o["window"]) for o in nights]),
    }
    ops_n = len(res)
    out.update(r.exec_layer(r.stage_metrics([window])[0], ops_n))
    out.update(r.self_layers(*window, ops_n))
    return out
