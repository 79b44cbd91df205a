"""Output checks, run outside every timed region.

* Registry queries are compared with their DuckDB oracle SQL on the same
  parquet files, by exact ``repr`` equality of the order-normalised rows.
* Silver and gold are compared with an independent DuckDB replay of the
  raw API responses: validity filter, keep-last per fetch, keep-latest
  MERGE across fetches, then the ``price_features`` view. Only the
  rolling standard deviation is compared within a relative 1e-9, because
  the two engines sum its squares in different orders.
* Known-defect checks probe defects that are present at the parent
  commit. They are printed with their result and never counted as
  failed operations, so ``failed`` still catches new breakage.
"""

from __future__ import annotations

import glob
import math
import os
import shutil

import duckdb
import pandas as pd

from e2e_stock_data_pipeline_spark.sources import tables

# Work for a 4-core box: the oracle must not oversubscribe the cores the
# Spark side is measured on.
DUCKDB_THREADS = 4


def duck(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {DUCKDB_THREADS}")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def _norm(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(r[i]) for i in order) for r in rows)


def register_star(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for t in tables.TABLE_NAMES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {tables.oracle_view_source(sf_dir, t)}")


def query_matches(con: duckdb.DuckDBPyConnection, spec, df) -> tuple[bool, str]:
    """Collect ``df`` (the registry query's DataFrame) and compare it
    with the DuckDB oracle for ``spec``."""
    srows = [tuple(r) for r in df.collect()]
    res = con.execute(spec.oracle)
    orows, ocols = res.fetchall(), [d[0] for d in res.description]
    if _norm(srows, df.columns) == _norm(orows, ocols):
        return True, f"{len(srows)} rows"
    return False, f"spark {len(srows)} rows vs duckdb {len(orows)} rows differ"


# -- medallion ------------------------------------------------------------

_REPLAY = """
WITH v AS (
  SELECT upper(trim(symbol)) AS symbol,
         CAST(try_strptime(date, '%Y-%m-%d') AS DATE) AS trade_date,
         TRY_CAST(open AS DOUBLE) AS open, TRY_CAST(high AS DOUBLE) AS high,
         TRY_CAST(low AS DOUBLE) AS low, TRY_CAST(close AS DOUBLE) AS close,
         TRY_CAST(volume AS BIGINT) AS volume,
         CAST(fetched_at AS TIMESTAMP) AS ingest_ts, fetch_no, pos, from_d, to_d
  FROM responses
), valid AS (
  SELECT * FROM v
  WHERE trade_date IS NOT NULL AND volume >= 0
    AND trade_date BETWEEN CAST(from_d AS DATE) AND CAST(to_d AS DATE)
), per_fetch AS (
  SELECT *, row_number() OVER (PARTITION BY fetch_no, symbol, trade_date ORDER BY pos DESC) AS rn
  FROM valid
), merged AS (
  SELECT *, row_number() OVER (PARTITION BY symbol, trade_date ORDER BY ingest_ts DESC) AS rn2
  FROM per_fetch WHERE rn = 1
)
SELECT symbol, trade_date, open, high, low, close, volume, ingest_ts FROM merged WHERE rn2 = 1
"""

_GOLD = """
SELECT *,
  CAST(SUM(CAST(close AS DECIMAL(18,4))) OVER w20 AS DOUBLE) / COUNT(close) OVER w20 AS ma_20,
  CAST(SUM(CAST(close AS DECIMAL(18,4))) OVER w50 AS DOUBLE) / COUNT(close) OVER w50 AS ma_50,
  CASE WHEN COUNT(close) OVER w20 > 1 THEN stddev_samp(close) OVER w20 END AS volatility_20d,
  CASE WHEN lag(close) OVER w != 0 THEN (close - lag(close) OVER w) / lag(close) OVER w END
    AS daily_return
FROM expected_silver
WINDOW w AS (PARTITION BY symbol ORDER BY trade_date),
  w20 AS (PARTITION BY symbol ORDER BY trade_date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
  w50 AS (PARTITION BY symbol ORDER BY trade_date ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
"""

_RAW_COLS = ["fetch_no", "from_d", "to_d", "fetched_at", "symbol", "pos",
             "date", "open", "high", "low", "close", "volume"]


def _rows(con, sql: str) -> tuple[list[tuple], list[str]]:
    res = con.execute(sql)
    return res.fetchall(), [d[0] for d in res.description]


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def medallion_matches(con, responses: list[tuple], silver_df, gold_df):
    """Compare the silver and gold tables with the DuckDB replay of every
    API response the ingest tier received (``responses`` rows follow
    ``_RAW_COLS``). Returns (ok, detail, (silver rows, gold rows))."""
    con.register("responses", pd.DataFrame(responses, columns=_RAW_COLS))
    con.execute(f"CREATE OR REPLACE TEMP TABLE expected_silver AS {_REPLAY}")
    erows, ecols = _rows(con, "SELECT * FROM expected_silver")
    srows = [tuple(r) for r in silver_df.collect()]
    grows = [tuple(r) for r in gold_df.collect()]
    counts = (len(srows), len(grows))
    if _norm(srows, silver_df.columns) != _norm(erows, ecols):
        return False, f"silver: {len(srows)} rows vs expected {len(erows)}", counts
    grows_e, gcols_e = _rows(con, _GOLD)
    vol = "volatility_20d"
    strip = [c for c in gcols_e if c != vol]
    key = lambda cols: (lambda r: tuple(repr(r[cols.index(c)]) for c in sorted(strip)))  # noqa: E731
    got = sorted(grows, key=key(gold_df.columns))
    exp = sorted(grows_e, key=key(gcols_e))
    if [key(gold_df.columns)(r) for r in got] != [key(gcols_e)(r) for r in exp]:
        return False, f"gold: {len(grows)} rows vs expected {len(grows_e)}", counts
    gi, ei = gold_df.columns.index(vol), gcols_e.index(vol)
    bad = sum(not _close(g[gi], e[ei]) for g, e in zip(got, exp))
    if bad:
        return False, f"gold: {bad} volatility_20d values differ", counts
    return True, f"silver {len(srows)} rows, gold {len(grows)} rows", counts


# -- known defects ----------------------------------------------------------


def raw_zone_retained(raw_prices_dir: str, days_ingested: int) -> tuple[bool, str]:
    """Every day the CLI has ingested keeps its dt= partition in the raw
    zone after a later, narrower run."""
    kept = len(glob.glob(os.path.join(raw_prices_dir, "dt=*")))
    return kept == days_ingested, f"{kept} of {days_ingested} dt= partitions kept"


def tables_cache_isolated(spark, work: str, seed: int) -> tuple[bool, str]:
    """Two datasets whose directories share a basename load their own
    rows. The basename is unique to this process, so no earlier run's
    cache entry can answer; 3000 rows is enough for the loader to rewrite
    the file into its cache."""
    tag = f"pbx-{os.getpid()}-{seed}"
    paths = []
    con = duckdb.connect()
    try:
        for i, side in enumerate(("a", "b")):
            os.makedirs(os.path.join(work, side, tag))
            paths.append(tables.path_for(os.path.join(work, side, tag), "lineitem"))
            con.execute(
                f"COPY (SELECT i AS l_orderkey, CAST(hash(i, {seed}, {i}) % 50 AS DOUBLE) + 1 "
                f"AS l_quantity FROM range(3000) t(i)) TO '{paths[-1]}' (FORMAT PARQUET)"
            )
        want = con.execute(f"SELECT sum(l_quantity) FROM '{paths[0]}'").fetchone()[0]
        # load b, then a: a's load must not be answered by b's cache entry
        tables.load(spark, os.path.dirname(paths[1]), "lineitem").count()
        got = tables.load(spark, os.path.dirname(paths[0]), "lineitem") \
            .selectExpr("sum(l_quantity)").first()[0]
        return got == want, f"spark sum {got!r} vs duckdb {want!r}"
    finally:
        con.close()
        tables.invalidate_cache()
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(os.path.join(tables._CACHE_ROOT, tag), ignore_errors=True)


def bronze_compaction_safe(spark, work: str, bronze_mod, compact) -> tuple[bool, str]:
    """Compacting the bronze streaming sink keeps every row readable
    after the next bronze batch lands."""
    from pyspark.sql import types as T

    src, dest = os.path.join(work, "src"), os.path.join(work, "bronze")
    ckpt = os.path.join(work, "ckpt")
    schema = T.StructType.fromDDL("k bigint, v double")
    try:
        for batch in range(2):
            spark.range(batch * 10, batch * 10 + 10).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v") \
                .coalesce(1).write.mode("append").parquet(src)
            bronze_mod.run_bronze_stream(
                bronze_mod.read_file_stream(spark, src, schema), dest, ckpt, lineage=False
            )
            if batch == 0:
                compact(spark, dest)
        n = spark.read.parquet(dest).count()
        return n == 20, f"{n} of 20 rows readable"
    except Exception as exc:  # noqa: BLE001 - the defect shows as an error
        cause = str(getattr(exc, "java_exception", exc)).splitlines()[0].replace(work, "<probe>")
        return False, f"read failed: {cause[:200]}"
    finally:
        shutil.rmtree(work, ignore_errors=True)
