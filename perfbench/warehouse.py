"""``warehouse_queries``: the registry's headline (``bench=True``) query
mix over a seeded star schema, closed loop, one client.

Each query is forced through the noop sink, in a fixed order. Warm plans
come from the registry's prepared-plan cache, so the timed passes spend
their time in scans, shuffles and operators; the pipeline and streaming
layers stay idle.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time

from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules
from e2e_stock_data_pipeline_spark.sources import tables

import checks
import gen
from common import Ops, Run, host_ticks, steal_share, tail
from spans import plan_counts

SETUPS = 3
# Counted, not timed: every run then measures at the same point of the JIT
# curve. Passes keep getting faster until about the fifth after the check
# pass; a timed warm-up would let a run on a busy host stop earlier on the
# curve and measure slower passes, adding to the host's own effect.
WARM_PASSES = 5


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(r: Run, sf: float) -> dict:
    registry = load_all_query_modules()
    mix = [s for _, s in sorted(registry.items()) if s.bench]
    tr = r.tracer
    ops = Ops()

    t = time.perf_counter()
    src = os.path.join(r.work, "gen")
    subprocess.run([sys.executable, gen.__file__, src, str(sf), str(r.seed)], check=True)
    gen_s = time.perf_counter() - t

    built: dict = {}  # each query's last DataFrame, to count plan-cache hits

    def one_pass(spark, sf_dir, timed: list | None = None, per_query: dict | None = None):
        hits = 0
        t_pass = time.perf_counter()
        with tr.span("bench.pass"):
            for spec in mix:
                try:
                    with tr.span("bench.query", query=spec.name):
                        t0 = time.perf_counter()
                        with tr.span("plans.build", query=spec.name) as b:
                            jobs0 = r.job_count() if b is not None else 0
                            df = spec.spark(spark, sf_dir)
                            if b is not None:
                                b["jobs"] = r.job_count() - jobs0
                        t1 = time.perf_counter()
                        with tr.span("operators.exec", query=spec.name):
                            _force(df)
                        t2 = time.perf_counter()
                except Exception as exc:  # noqa: BLE001 - a raising query is a failed op
                    if timed is None:
                        raise
                    ops.failed += 1
                    r.check(f"run.{spec.name}", False, f"raised {type(exc).__name__}: {exc}"[:200])
                    continue
                hits += built.get(spec.name) is df
                built[spec.name] = df
                if timed is not None:
                    ops.attempted += 1
                    timed.append(t2 - t0)
                    per_query.setdefault(spec.name, []).append((t1 - t0, t2 - t1))
        return time.perf_counter() - t_pass, hits

    # Set-up, three times: start a Spark application (the first also
    # launches the JVM), load a fresh copy of the tables (a fresh basename,
    # so the loader's rewrite runs each time) and build every plan.
    setups, starts, loads = [], [], []
    spark = None
    for i in range(SETUPS):
        sf_dir = os.path.join(r.work, f"wh-s{r.seed}-p{os.getpid()}-{i}")
        shutil.copytree(src, sf_dir)
        r.cache_tags.append(os.path.basename(sf_dir))
        t0 = time.perf_counter()
        spark = r.start_spark(restart=i > 0)
        t1 = time.perf_counter()
        tables.load_all(spark, sf_dir)
        t2 = time.perf_counter()
        for spec in mix:
            spec.spark(spark, sf_dir)
        setups.append(time.perf_counter() - t0)
        starts.append(t1 - t0)
        loads.append(t2 - t1)

    # Warm-up until steady: one pass that collects every query and compares
    # it with its DuckDB oracle, then noop passes (the JIT keeps speeding
    # passes up for a few more).
    t = time.perf_counter()
    wrong, shapes = _check(r, mix, spark, sf_dir)
    for _ in range(WARM_PASSES):
        one_pass(spark, sf_dir)
    warmup_s = time.perf_counter() - t

    def measure(spark, seconds: float):
        samples, per_query, passes, hit_total = [], {}, [], 0
        start = time.perf_counter()
        win0 = time.time()
        while not passes or time.perf_counter() - start < seconds:
            dt, hits = one_pass(spark, sf_dir, samples, per_query)
            passes.append(dt)
            hit_total += hits
        # a query whose output differs from its oracle fails every run of it
        ops.failed += sum(len(per_query.get(name, ())) for name in wrong)
        return samples, per_query, passes, hit_total, (win0, time.time())

    if r.trace:
        # untraced half, then a traced application for the other half
        base = measure(spark, r.seconds / 2)
        spark = r.start_spark(restart=True, traced=True)
        tables.load_all(spark, sf_dir)
        one_pass(spark, sf_dir)
        r.install_wrappers()
        samples, per_query, passes, hit_total, window = measure(spark, r.seconds / 2)
        r.tracer.restore()
    else:
        ticks = host_ticks()
        samples, per_query, passes, hit_total, window = measure(spark, r.seconds)
        r.note(f"host_steal={steal_share(ticks, host_ticks()):.3f} (share of CPU ticks "
               "stolen by the hypervisor while measuring)")
    rss = r.peak_rss_mb()

    ok, detail = checks.tables_cache_isolated(spark, os.path.join(r.work, "iso"), r.seed)
    r.defect("tables_cache_isolated", ok, detail)

    p, q = tail(samples)
    e2e = {
        "setup_s": statistics.median(setups),
        "pass_s": statistics.median(passes),
        "op_p50_s": statistics.median(samples),
        "op_tail_s": q,
        "peak_rss_mb": rss,
    }
    r.note(f"passes={len(passes)} queries={len(samples)} tail=p{p} "
           f"setups={[round(s, 3) for s in setups]} warmup_s={warmup_s:.3f} "
           f"pass_times={[round(p, 3) for p in passes]}")
    layer = {}
    if r.trace:
        layer = _layers(r, mix, per_query, passes, hit_total, window, shapes,
                        starts, loads, gen_s, warmup_s)
        layer["trace.overhead_s"] = statistics.median(passes) - statistics.median(base[2])
    return {"e2e": e2e, "layer": layer, "ops": ops}


def _check(r: Run, mix, spark, sf_dir: str) -> tuple[set[str], dict]:
    """Compare every query with its DuckDB oracle; returns the names that
    differ or raise, and each executed plan's shape counts."""
    con = checks.duck(r.work)
    checks.register_star(con, sf_dir)
    wrong, shapes = set(), {}
    for spec in mix:
        try:
            df = spec.spark(spark, sf_dir)
            ok, detail = checks.query_matches(con, spec, df)
            shapes[spec.name] = plan_counts(df)
        except Exception as exc:  # noqa: BLE001 - a raising query is a failed check
            ok, detail = False, f"raised {type(exc).__name__}: {exc}"[:200]
        r.check(f"oracle.{spec.name}", ok, detail)
        if not ok:
            wrong.add(spec.name)
    con.close()
    return wrong, shapes


def _layers(r: Run, mix, per_query, passes, hit_total, window, shapes, starts, loads,
            gen_s, warmup_s) -> dict:
    tr = r.tracer
    n = len(passes)
    t0, t1 = window
    builds = [s for s in tr.closed(t0, t1) if s["name"] == "plans.build"]
    execs = [s for s in tr.closed(t0, t1) if s["name"] == "operators.exec"]
    per_exec = r.stage_metrics([(s["start"], s["end"]) for s in execs])
    plan_s = [
        (m["first_job"] - s["start"]) if m["first_job"] is not None else (s["end"] - s["start"])
        for s, m in zip(execs, per_exec)
    ]
    whole = r.stage_metrics([window])[0]
    out = {
        "session.start_s": starts[0],
        "sources.tables.load_s": statistics.median(loads),
        "bench.gen_s": gen_s,
        "bench.warmup_s": warmup_s,
        "plans.build_s": sum(s["end"] - s["start"] for s in builds) / n,
        "plans.build_jobs": sum(s.get("jobs", 0) for s in builds) / n,
        "plans.plan_s": sum(plan_s) / n,
        "plans.cache_hit_ratio": hit_total / max(1, len(builds)),
        "plans.exchanges": sum(v["exchanges"] for v in shapes.values()),
        "plans.broadcast_joins": sum(v["broadcast_joins"] for v in shapes.values()),
        "plans.python_nodes": sum(v["python_nodes"] for v in shapes.values()),
    }
    for spec in mix:
        b = [x[0] for x in per_query.get(spec.name, [])]
        e = [x[1] for x in per_query.get(spec.name, [])]
        sh = [m["shuffle_write_bytes"] for s, m in zip(execs, per_exec)
              if s.get("query") == spec.name]
        out[f"query.{spec.name}.build_s"] = statistics.median(b) if b else 0.0
        out[f"query.{spec.name}.exec_s"] = statistics.median(e) if e else 0.0
        out[f"query.{spec.name}.shuffle_bytes"] = statistics.median(sh) if sh else 0
    out.update(r.exec_layer(whole, n))
    out.update(r.self_layers(t0, t1, n))
    return out
