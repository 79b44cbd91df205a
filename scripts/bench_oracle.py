"""DuckDB side of the bench comparison: times the SAME headline oracles
bench.py times Spark-side, on the same parquet dir (as many DuckDB
threads as Spark cores: SPARK_GRAFT_CPUS, else the machine's CPU count;
one untimed warmup pass, median of N timed passes). Prints ONE JSON line:

    {"metric": "headline_oracle_total", "value": <sec>, ...}

This is the fair baseline the r8s2 re-measurement established (the
oracles carry the same hoisted-CTE fixes as the correctness sweeps);
run it in the same machine condition as bench.py and compare medians.

    python scripts/bench_oracle.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, ".")

import duckdb  # noqa: E402

from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules  # noqa: E402
from e2e_stock_data_pipeline_spark.sources.tables import TABLE_NAMES  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    registry = load_all_query_modules()
    headline = {n: s for n, s in sorted(registry.items()) if s.bench}

    threads = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    for spec in headline.values():  # warmup (buffer cache + JIT-ish)
        con.sql(spec.oracle).fetchall()

    samples: dict[str, list[float]] = {n: [] for n in headline}
    totals: list[float] = []
    for _ in range(runs):
        pass_total = 0.0
        for name, spec in headline.items():
            t0 = time.perf_counter()
            con.sql(spec.oracle).fetchall()
            dt = time.perf_counter() - t0
            samples[name].append(dt)
            pass_total += dt
        totals.append(round(pass_total, 3))

    print(
        json.dumps(
            {
                "metric": "headline_oracle_total",
                "value": round(statistics.median(totals), 3),
                "unit": "sec",
                "queries": {n: round(statistics.median(ts), 3) for n, ts in samples.items()},
                "sf_dir": sf_dir,
                "runs": runs,
                "threads": threads,
                "totals": totals,
                "spread": {"min": min(totals), "max": max(totals)},
            }
        )
    )


if __name__ == "__main__":
    main()
