"""Prices normalization — the locked-schema transform at the heart of
the reference's ingestion tier (reference: stock_pipeline/scripts/
ingest_fmp_prices.py:211-302 `prices_to_polars`), re-expressed as one
Catalyst plan: enrich -> cast -> validity filter -> keep-last dedup ->
schema lock. The 12-column output schema is LOCKED — extra API fields
are dropped, order is fixed (tests/test_ingest_local.py:227-259).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.hashing import canonical_sha256
from ..operators.windows import keep_last

LOCKED_COLUMNS = [
    "symbol",
    "as_of_date",
    "open",
    "high",
    "low",
    "close",
    "volume",
    "fetched_at",
    "source",
    "endpoint",
    "request_id",
    "file_hash",
]


def normalize_prices(
    raw: DataFrame,
    symbol_col: str = "symbol",
    source: str = "FMP",
    endpoint: str = "historical-price-full",
) -> DataFrame:
    """Raw API rows (string date, possibly-invalid values) -> locked table.

    Validity rules (ingest_fmp_prices.py:256-271): unparseable dates ->
    null -> dropped; negative volume dropped. Dedup keeps the LAST row
    per (symbol, as_of_date) in fetch order — Spark has no keep="last",
    so a monotonic ingest ordinal feeds the ROW_NUMBER pattern.
    """
    df = raw.withColumn("_ingest_ord", F.monotonically_increasing_id())
    df = df.select(
        F.upper(F.trim(F.col(symbol_col))).alias("symbol"),
        # try_to_date: invalid strings -> null -> dropped by the validity
        # filter (ANSI mode is on by default in Spark 4; plain to_date throws)
        F.try_to_date(F.col("date"), "yyyy-MM-dd").alias("as_of_date"),
        F.col("open").cast("double"),
        F.col("high").cast("double"),
        F.col("low").cast("double"),
        F.col("close").cast("double"),
        F.col("volume").cast("bigint").alias("volume"),
        F.try_to_timestamp(F.col("fetched_at")).alias("fetched_at"),
        F.lit(source).alias("source"),
        F.lit(endpoint).alias("endpoint"),
        F.col("request_id").cast("string"),
        F.col("_ingest_ord"),
    )
    df = df.filter(F.col("as_of_date").isNotNull() & (F.col("volume") >= 0))
    df = keep_last(df, ["symbol", "as_of_date"], ["_ingest_ord"])
    # file_hash: content hash over the payload columns (C5 analog of the
    # reference's sha256-of-serialized-frame, ingest_fmp_prices.py:281-284)
    df = df.withColumn(
        "file_hash",
        canonical_sha256("symbol", "as_of_date", "open", "high", "low", "close", "volume"),
    )
    return df.select(*LOCKED_COLUMNS).orderBy("symbol", "as_of_date")


def write_partitioned_by_day(df: DataFrame, path: str, mode: str = "overwrite") -> int:
    """Day-partitioned parquet layout: dt=YYYY-MM-DD dirs, all symbols per
    day (reference layout ingest_fmp_prices.py:92-105; the group-by-day
    Python loop :305-330 becomes ONE dynamic partitioned write).

    Returns the number of rows written, counted by an observation on the
    write itself, so the caller needs no second execution of ``df``. The
    observation sits on the root of the written plan: when Spark proves
    the input empty (an empty local relation, or an empty shuffle stage
    under AQE) it replaces that subtree with an empty relation, and an
    observation inside the subtree would go with it and report no row.
    At the root it still reports its count of 0."""
    written = Observation()
    (
        df.withColumn("dt", F.date_format("as_of_date", "yyyy-MM-dd"))
        .repartition("dt")
        .observe(written, F.count(F.lit(1)).alias("rows"))
        .write.mode(mode)
        .partitionBy("dt")
        .parquet(path)
    )
    return written.get["rows"]
