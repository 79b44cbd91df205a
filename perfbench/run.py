"""The repository benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (sizes in ``WORKLOADS``; why each
was chosen in ``BENCHMARK.json`` and ``perfbench/README.md``):

* ``warehouse_queries``: the registry's 11 headline queries over a
  seeded star schema, forced through the noop sink.
* ``medallion_pipeline``: ingest CLI -> bronze stream -> silver MERGE
  stream -> gold features; one cold backfill, then nightly increments.

Every run generates its inputs from ``--seed`` under ``.perfbench_work/``,
sets up three times (``setup_s`` is the median), measures for
``--seconds``, checks every output outside the timed region and prints
the metrics, the checks and the known-defect probes, then one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same workload with an
untraced half and a traced half (event log, streaming progress listener,
spans around the package's layer functions) and reports the per-layer
metrics, each layer's self time and the tracing overhead. Spans are
written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Sizes: small enough that every run, set-up included, stays near a
# minute on 4 cores (the 6M-row sf1 the query mix was first sized at
# needs ~30 s of warm-up per run on its own).
WORKLOADS = {
    "warehouse_queries": {"sf": 0.05},
    "medallion_pipeline": {"symbols": 50, "days": 40},
}

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
             "peak_rss_mb": "MB"}


def _layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _env(work: str) -> None:
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    sys.path.insert(0, ROOT)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    _env(work)
    # imported after _env: the package reads SPARK_GRAFT_CPUS at import
    import medallion
    import warehouse
    from common import Run

    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    r = Run(args.seed, args.seconds, bool(args.trace), work)
    workload = warehouse if args.workload == "warehouse_queries" else medallion
    try:
        res = workload.run(r, **WORKLOADS[args.workload])
    finally:
        r.stop()
        if r.trace:
            r.tracer.dump(os.path.join(
                ROOT, ".perfbench_out", f"spans-{args.workload}-s{args.seed}.json"))
        from e2e_stock_data_pipeline_spark.sources import tables

        for tag in r.cache_tags:
            shutil.rmtree(os.path.join(tables._CACHE_ROOT, tag), ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still be using it
            os.rmdir(os.path.dirname(work))

    if args.trace:
        units = _layer_units()
        unknown = sorted(set(res["layer"]) - set(units))
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        missing = sorted(set(units) - set(res["layer"]))
        values = {k: res["layer"].get(k, 0) for k in units}
        if missing:
            print(f"idle layers (0 on this workload): {' '.join(missing)}")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E_UNITS.items()}

    ops = res["ops"]
    correct = ops.failed == 0 and all(ok for _, ok, _ in r.checks)
    for note in r.notes:
        print(note)
    for name, ok, detail in r.checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    for name, ok, detail in r.defects:
        print(f"known-defect {name}: {'ok' if ok else 'FAILING'} ({detail})")
    print(f"failed_ratio: {ops.failed}/{ops.attempted} = {ops.failed / ops.attempted:.4f}")
    for k, m in metrics.items():
        print(f"{k}: {m['value']} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": ops.attempted, "failed": ops.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    # a terminated run still stops its JVM and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        sys.exit(1)
