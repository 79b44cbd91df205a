"""Run context shared by the workloads: the Spark application, the
tracer, the check ledger and the per-layer helpers."""

from __future__ import annotations

import os
import resource
import statistics
from dataclasses import dataclass

from spans import Tracer, stage_metrics

# Closed loop, one client, on local[4] with 4 shuffle partitions.
CORES = 4
LAYERS = ("bench", "session", "sources", "plans", "operators", "pipeline", "streaming", "cli")


@dataclass
class Ops:
    attempted: int = 0
    failed: int = 0


def host_ticks() -> list[int]:
    """The machine's cumulative CPU tick counters: the ``cpu`` line of
    ``/proc/stat`` (user, nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of the CPU ticks between two ``host_ticks`` readings that the
    hypervisor stole (vCPUs ready to run while the host ran others). Timings
    scale with it, so it is printed beside them to tell host noise from a
    change in the program."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(1, sum(d))


def tail(samples: list[float]) -> tuple[int, float]:
    """The highest nearest-rank percentile with at least ten samples
    above it, and its value. Below 21 samples no percentile above the
    median qualifies, so the median stands in (reported as p50)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 21:
        return 50, statistics.median(xs)
    k = n - 11
    return (100 * (k + 1)) // n, xs[k]


class Run:
    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(False, f"s{seed}-p{os.getpid()}")
        self.spark = None
        self.listener = None
        self.eventlog: str | None = None
        self.cache_tags: list[str] = []
        self.checks: list[tuple[str, bool, str]] = []
        self.defects: list[tuple[str, bool, str]] = []
        self.notes: list[str] = []

    # -- Spark application ---------------------------------------------------

    def start_spark(self, restart: bool = False, traced: bool = False):
        """Start a Spark application; ``restart`` stops the current one
        first (the JVM stays up). ``traced`` turns on the event log and
        the streaming progress listener, and enables span recording."""
        from e2e_stock_data_pipeline_spark.session import get_spark

        if restart and self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            # a fixed-size heap: a growing one resizes with GC timing, which
            # keeps runs speeding up for minutes and scatters peak RSS
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -Xms{os.environ['SPARK_DRIVER_MEMORY']}",
        }
        if traced:
            self.eventlog = os.path.join(self.work, "eventlog")
            os.makedirs(self.eventlog, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
            self.tracer.enabled = True
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
                extra_conf=conf,
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        if traced:
            from e2e_stock_data_pipeline_spark.streaming.listener import ProgressMetricsListener

            self.listener = ProgressMetricsListener()
            self.spark.streams.addListener(self.listener)
        return self.spark

    def stop(self) -> None:
        """Stop the application, then the JVM, and wait for it to exit
        (it exits when its stdin closes)."""
        from pyspark import SparkContext

        if self.spark is not None:
            if self.listener is not None:
                self.spark.streams.removeListener(self.listener)
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def job_count(self) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this process."""
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{jvm_pid}/status") as f:
            hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024

    # -- traced-run helpers ----------------------------------------------------

    def install_wrappers(self) -> None:
        """Span the package's public layer functions, as called between
        its own modules (the names each caller bound at import)."""
        from e2e_stock_data_pipeline_spark import cli
        from e2e_stock_data_pipeline_spark.sources import ingest, tables
        from e2e_stock_data_pipeline_spark.streaming import foreach_batch

        tr = self.tracer
        tr.wrap(tables, "load", "sources.tables.load")
        tr.wrap(cli, "resolve_date_range", "cli.resolve_date_range")
        tr.wrap(cli, "load_tickers", "sources.ingest.load_tickers")
        tr.wrap(cli, "ingest_endpoint", "sources.ingest.endpoint")
        tr.wrap(ingest.IngestClient, "fetch", "sources.ingest.fetch")
        tr.wrap(cli, "normalize_prices", "pipeline.prices.normalize")
        tr.wrap(cli, "write_partitioned_by_day", "pipeline.prices.write")
        tr.wrap(cli, "write_run_metrics", "pipeline.metrics.write")
        tr.wrap(foreach_batch, "merge_upsert", "pipeline.silver.merge")

    def stage_metrics(self, windows: list[tuple[float, float]]) -> list[dict]:
        return stage_metrics(self.eventlog, windows, CORES)

    def exec_layer(self, m: dict, n_ops: int) -> dict:
        """Event-log task totals for the traced window, per operation."""
        out = {f"exec.{k}": m[k] / n_ops for k in (
            "tasks", "task_s", "scheduler_delay_s", "gc_s", "input_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")}
        out["exec.peak_exec_mem_bytes"] = m["peak_exec_mem_bytes"]
        out["exec.core_util"] = m["core_util"]
        return out

    def self_layers(self, t0: float, t1: float, n_ops: int) -> dict:
        st = self.tracer.self_times(t0, t1)
        return {f"{layer}.self_s": st.get(layer, 0.0) / n_ops for layer in LAYERS}

    # -- reporting -------------------------------------------------------------

    def check(self, name: str, ok: bool, detail: str) -> None:
        self.checks.append((name, ok, detail))

    def defect(self, name: str, ok: bool, detail: str) -> None:
        self.defects.append((name, ok, detail))

    def note(self, text: str) -> None:
        self.notes.append(text)
