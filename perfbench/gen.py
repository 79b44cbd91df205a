"""Seeded input generators for the benchmark.

Two inputs, both a pure function of ``(seed, size)``:

* ``star_schema``: the ten warehouse tables the registry queries read,
  written as one parquet file each by DuckDB. Schemas and value ranges
  follow the engine's synthetic warehouse (``scripts/gen_sf1.py``);
  every random draw is ``hash(row, seed, stream)``, so a seed fixes the
  bytes and another seed gives another dataset of the same shape.
* ``PriceFeed``: a market-data API stand-in for the ingestion CLI. It
  serves S symbols x D trading days of bars with re-fetched duplicates,
  invalid rows and late corrections, and records the bars it served so
  the silver and gold checks can rebuild the expected tables.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import threading

import duckdb

SEGMENTS = "['BUILDING','MACHINERY','AUTOMOBILE','HOUSEHOLD','FURNITURE']"
PRIORITIES = "['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']"
TYPES = "['STANDARD','SMALL','MEDIUM','LARGE','ECONOMY','PROMO']"
EVENT_TYPES = "['view','click','purchase','signup','error']"
LANGS = "['en','en','en','de','fr','es','pt']"
REGIONS = "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST']"
VOCAB = (
    "['batch','part','spark','line','column','order','small','sort','fast',"
    "'value','scan','a','hash','slow','group','agg','filter','query','big',"
    "'key','window','row','table','stream','merge','data','vector','join',"
    "'plan','shard']"
)


def star_schema(out_dir: str, sf: float, seed: int, threads: int = 4) -> dict[str, int]:
    """Write the ten tables for scale factor ``sf`` (sf1 = 6M lineitem
    rows) under ``out_dir``; returns the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")

    def h(stream: int, row: str = "i") -> str:
        return f"hash({row}, {seed}, {stream})"

    rows: dict[str, int] = {}

    def write(name: str, select: str) -> None:
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({select}) TO '{path}' (FORMAT PARQUET, COMPRESSION SNAPPY)")
        rows[name] = con.execute(f"SELECT COUNT(*) FROM '{path}'").fetchone()[0]

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_vec = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    n_users = max(1, int(15_000 * sf))

    write(
        "region",
        f"SELECT CAST(i AS INTEGER) AS r_regionkey, {REGIONS}[i + 1] AS r_name "
        "FROM (SELECT unnest(range(5)) AS i)",
    )
    write(
        "nation",
        "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
        "CAST(i % 5 AS INTEGER) AS n_regionkey FROM (SELECT unnest(range(25)) AS i)",
    )
    write(
        "customer",
        f"""
        SELECT i AS c_custkey,
               'Customer#' || i AS c_name,
               CAST({h(12)} % 25 AS INTEGER) AS c_nationkey,
               ROUND(CAST({h(13)} % 1100000 AS DOUBLE) / 100 - 1000, 2) AS c_acctbal,
               {SEGMENTS}[CAST({h(14)} % 5 AS INT) + 1] AS c_mktsegment
        FROM (SELECT unnest(range({n_cust})) AS i)
        """,
    )
    write(
        "supplier",
        f"""
        SELECT i AS s_suppkey,
               'Supplier#' || i AS s_name,
               CAST({h(21)} % 25 AS INTEGER) AS s_nationkey,
               ROUND(CAST({h(22)} % 1100000 AS DOUBLE) / 100 - 1000, 2) AS s_acctbal
        FROM (SELECT unnest(range({n_supp})) AS i)
        """,
    )
    write(
        "part",
        f"""
        SELECT i AS p_partkey,
               {VOCAB}[CAST({h(31)} % 30 AS INT) + 1] || ' ' ||
               {VOCAB}[CAST({h(32)} % 30 AS INT) + 1] AS p_name,
               'Brand#' || (CAST({h(33)} % 5 AS INT) + 1)
                        || (CAST({h(34)} % 5 AS INT) + 1) AS p_brand,
               {TYPES}[CAST({h(35)} % 6 AS INT) + 1] AS p_type,
               CAST({h(36)} % 50 AS INTEGER) + 1 AS p_size,
               900.0 + CAST({h(37)} % 1000 AS DOUBLE) / 10 AS p_retailprice
        FROM (SELECT unnest(range({n_part})) AS i)
        """,
    )
    write(
        "orders",
        f"""
        SELECT i AS o_orderkey,
               CAST({h(41)} % {n_cust} AS BIGINT) AS o_custkey,
               CASE WHEN {h(42)} % 100 < 3 THEN 'P'
                    WHEN {h(42)} % 2 = 0 THEN 'O' ELSE 'F' END AS o_orderstatus,
               ROUND(1000 + CAST({h(43)} % 49900000 AS DOUBLE) / 100, 2) AS o_totalprice,
               TIMESTAMP '1995-01-01'
                 + CAST({h(44)} % 2404 AS INT) * INTERVAL 1 DAY AS o_orderdate,
               {PRIORITIES}[CAST({h(45)} % 5 AS INT) + 1] AS o_orderpriority
        FROM (SELECT unnest(range({n_ord})) AS i)
        """,
    )
    write(
        "lineitem",
        f"""
        SELECT CAST(i // 4 AS BIGINT) AS l_orderkey,
               CAST({h(51)} % {n_part} AS BIGINT) AS l_partkey,
               CAST({h(52)} % {n_supp} AS BIGINT) AS l_suppkey,
               CAST(i % 4 AS INTEGER) + 1 AS l_linenumber,
               CAST({h(53)} % 50 AS DOUBLE) + 1 AS l_quantity,
               ROUND(900 + CAST({h(54)} % 10410000 AS DOUBLE) / 100, 2) AS l_extendedprice,
               CAST({h(55)} % 11 AS DOUBLE) / 100 AS l_discount,
               CAST({h(56)} % 9 AS DOUBLE) / 100 AS l_tax,
               ['A','N','R'][CAST({h(57)} % 3 AS INT) + 1] AS l_returnflag,
               ['O','F'][CAST({h(58)} % 2 AS INT) + 1] AS l_linestatus,
               TIMESTAMP '1995-01-02'
                 + CAST({h(59)} % 2494 AS INT) * INTERVAL 1 DAY AS l_shipdate
        FROM (SELECT unnest(range({n_li})) AS i)
        """,
    )
    # events: near-monotone ts over 30 days with ~1 s jitter
    span_us = 30 * 86_400 * 1_000_000
    write(
        "events",
        f"""
        SELECT i AS event_id,
               make_timestamp(epoch_us(TIMESTAMP '2024-01-01')
                 + i * ({span_us} // {n_ev})
                 + CAST({h(61)} % 2000000 AS BIGINT)) AS ts,
               CAST({h(62)} % {n_users} AS BIGINT) AS user_id,
               {EVENT_TYPES}[CAST({h(63)} % 5 AS INT) + 1] AS event_type,
               ROUND(CAST({h(64)} % 56021 AS DOUBLE) / 100, 2) AS value,
               '{{"k": ' || CAST({h(65)} % 100 AS INT) || '}}' AS props
        FROM (SELECT unnest(range({n_ev})) AS i)
        """,
    )
    words = (
        f"list_transform(range(1, 11 + CAST({h(71)} % 51 AS INT)), "
        f"j -> {VOCAB}[CAST({h(70, 'i * 1000 + j')} % 30 AS INT) + 1])"
    )
    write(
        "documents",
        f"""
        SELECT i AS doc_id,
               array_to_string({words}, ' ') AS text,
               {LANGS}[CAST({h(72)} % 7 AS INT) + 1] AS lang,
               'src' || CAST({h(73)} % 20 AS INT) AS source,
               CAST(length(array_to_string({words}, ' ')) AS BIGINT) AS n_chars
        FROM (SELECT unnest(range({n_doc})) AS i)
        """,
    )
    write(
        "embeddings",
        f"""
        SELECT i AS vec_id,
               list_transform(range(64),
                 d -> CAST(CAST({h(80, 'i * 64 + d')} % 2000 AS DOUBLE) / 1000 - 1 AS FLOAT))
                 AS embedding,
               CAST({h(81)} % 10 AS INTEGER) AS label
        FROM (SELECT unnest(range({n_vec})) AS i)
        """,
    )
    con.close()
    return rows


def trading_days(start: dt.date, n: int) -> list[str]:
    """The first ``n`` weekdays from ``start`` (ISO strings)."""
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d.isoformat())
        d += dt.timedelta(days=1)
    return out


class PriceFeed:
    """Seeded end-of-day price API for ``cli.run``'s injectable transport.

    ``advance(day_index)`` publishes bars up to that trading day. Each
    response for a symbol carries the last ``window`` published days.
    Every response also holds noise the ingest tier must remove: a stale
    duplicate bar listed before the current one for a random day (a
    re-fetched record; keep-last must pick the later one), and an
    unparseable date and a negative volume row (the validity filter
    must drop them). A late correction revises the close of an already
    published day, so a later night re-fetches and must win the MERGE.

    The ticker universe is fixed (``SYM0000``...); the seed draws prices,
    noise and corrections, so every seed spreads its keys over the same
    shuffle partitions. ``log`` holds every row served, tagged by
    ``begin_fetch``, for the silver and gold checks to replay.
    """

    def __init__(self, seed: int, n_symbols: int, n_days: int, start=dt.date(2024, 1, 1)):
        self.rng = random.Random(seed)
        self.symbols = [f"SYM{i:04d}" for i in range(n_symbols)]
        self.days = trading_days(start, n_days)
        self.bars: dict[str, dict[str, dict]] = {s: {} for s in self.symbols}
        self.last = -1
        self.window = n_days
        self.requests = 0
        self.fetch: tuple = (0, "", "", "")
        self.log: list[tuple] = []
        self._lock = threading.Lock()
        self._price = {s: 50.0 + self.rng.random() * 100 for s in self.symbols}
        self._noise = {s: random.Random(f"{seed}:{s}") for s in self.symbols}

    def _bar(self, sym: str, day: str) -> dict:
        p = self._price[sym] = max(1.0, self._price[sym] * (1 + self.rng.gauss(0, 0.02)))
        lo, hi = p * (1 - self.rng.random() * 0.02), p * (1 + self.rng.random() * 0.02)
        return {
            "date": day,
            "open": round(p, 2),
            "high": round(hi, 2),
            "low": round(lo, 2),
            "close": round(p * (1 + self.rng.gauss(0, 0.005)), 2),
            "volume": self.rng.randrange(1_000, 5_000_000),
        }

    def advance(self, day_index: int, window: int, corrections: int = 0) -> None:
        """Publish days up to ``day_index``; later responses carry the
        last ``window`` days. ``corrections`` symbols get a revised close
        on a published day inside that window."""
        for i in range(self.last + 1, day_index + 1):
            for s in self.symbols:
                self.bars[s][self.days[i]] = self._bar(s, self.days[i])
        self.last, self.window = day_index, window
        lo = max(0, day_index - window + 1)
        for s in self.rng.sample(self.symbols, min(corrections, len(self.symbols))):
            day = self.days[self.rng.randrange(lo, max(lo + 1, day_index))]
            bar = dict(self.bars[s][day])
            bar["close"] = round(bar["close"] * 1.01 + 0.01, 2)
            self.bars[s][day] = bar

    def begin_fetch(self, fetch_no: int, from_d: str, to_d: str, fetched_at: str) -> None:
        """Tag the responses that follow, for the replay in ``log``."""
        self.fetch = (fetch_no, from_d, to_d, fetched_at)

    def published(self) -> list[str]:
        return self.days[max(0, self.last - self.window + 1) : self.last + 1]

    def __call__(self, url: str, params: dict) -> tuple[list, int]:
        sym = url.rsplit("/", 1)[1]
        with self._lock:
            self.requests += 1
        noise = self._noise[sym]
        out = []
        for day in self.published():
            bar = self.bars[sym][day]
            if noise.random() < 0.05:
                stale = dict(bar, close=round(bar["close"] * 0.9, 2))
                out.append({k: str(v) for k, v in stale.items()})
            out.append({k: str(v) for k, v in bar.items()})
        out.append({"date": "not-a-date", "open": "1", "high": "1", "low": "1",
                    "close": "1", "volume": "1"})
        out.append(dict(out[0], volume="-5"))
        with self._lock:
            self.log.extend(
                (*self.fetch, sym, pos, b["date"], b["open"], b["high"], b["low"], b["close"],
                 b["volume"])
                for pos, b in enumerate(out)
            )
        return out, 200


if __name__ == "__main__":
    import sys

    # python3 gen.py <out_dir> <sf> <seed>: the star schema, in a process
    # of its own so DuckDB's memory stays out of the benchmark's RSS
    star_schema(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
