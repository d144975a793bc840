"""Benchmark of the engine's public entry points, one workload per process.

    python3 perfbench/run.py --workload {weekly_refresh,query_mix}
        --seed N --seconds S --trace {0,1}

Runs from any working directory: the repository root is found from this
file, put on the driver's ``sys.path`` and, through ``PYTHONPATH``, on the
Spark Python workers' path. Inputs are generated from ``--seed`` under
``.perfbench_work/`` at the repository root and removed at exit. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics untraced, the
per-layer metrics with ``--trace 1``; a traced run also writes its full
record to ``.perfbench_work/last_trace_<workload>.json``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("weekly_refresh", "query_mix")
#: task slots of each workload's local[k] master, the same on every run.
#: The refresh is driver-bound (its stages hold a few MB), so two slots
#: run it as fast as four and leave cores to the JIT and GC threads;
#: the query mix and curation kernels use four.
CORES = {"weekly_refresh": 2, "query_mix": 4}
DRIVER_MEMORY = "2g"


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's start stamp
    (so interpreter start-up and imports count toward set-up)."""
    with open("/proc/self/stat") as fh:
        # field 22 (starttime, clock ticks since boot); the command name
        # in field 2 may hold spaces, so split after its closing paren
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_counters(spark) -> dict:
    """The driver JVM's cumulative JIT compile time, GC time and count of
    Spark code-generation compiles (exact counters, read over py4j)."""
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "jit_s": mx.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "gc_s": sum(b.getCollectionTime()
                    for b in mx.getGarbageCollectorMXBeans()) / 1e3,
        "codegen_compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
    }


class Run:
    """One workload run: its scratch directory, its Spark session, its
    set-up and round timings, and (traced) its spans."""

    def __init__(self, args):
        self.seed, self.seconds = args.seed, args.seconds
        self.cores = max(1, min(CORES[args.workload], os.cpu_count() or 1))
        self.traced = bool(args.trace)
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{args.workload}-{os.getpid()}")
        os.makedirs(self.work)
        self.gen_s = 0.0
        self.setup_s = None
        self.session = None
        self.jvm = None  # the driver JVM process the gateway launched
        self.tracer = None
        self.jvm_window = {}  # traced: JVM counters over the timed rounds
        self.event_dir = os.path.join(self.work, "eventlog")

    @contextlib.contextmanager
    def generating(self):
        """Input generation: excluded from set-up time."""
        t0 = time.perf_counter()
        yield
        self.gen_s += time.perf_counter() - t0

    def spark(self):
        """The engine's own session factory on local[cores], fixed driver
        memory, progress bar off, every scratch path under ``work``."""
        local_dir = os.path.join(self.work, "spark-local")
        tmp_dir = os.path.join(self.work, "tmp")
        os.makedirs(local_dir)
        os.makedirs(tmp_dir)
        os.environ["TMPDIR"] = tmp_dir
        # no JVM perf-data file under /tmp (hsperfdata), for the
        # spark-submit launcher JVM and the driver JVM alike
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ.pop("SPARK_GRAFT_MASTER", None)
        os.environ.pop("SPARK_MASTER", None)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local_dir,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # the factory's code-cache flags plus scratch paths
            "spark.driver.extraJavaOptions":
                "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir} "
                f"-Dderby.system.home={self.work}",
        }
        if self.traced:
            import spans
            conf.update(spans.event_log_conf(self.event_dir))
        from eirepolitic_data_pipeline_spark.session import get_spark
        self.session = get_spark("perfbench", cores=self.cores,
                                 extra_conf=conf)
        self.jvm = self.session.sparkContext._gateway.proc
        if self.traced:
            import layers
            import spans
            self.tracer = spans.Tracer(self.session)
            layers.install(self.tracer)
        return self.session

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def setup_done(self) -> None:
        """End of set-up (the session, and the workload's untimed warm-up
        where it has one): set-up time is taken here, and a traced run
        starts its per-round record."""
        self.setup_s = process_age_s() - self.gen_s
        if self.tracer is not None:
            self.tracer.reset()
            self.tracer.window_ms = (int(time.time() * 1000), 0)
            self.jvm_window = jvm_counters(self.session)

    def _end_window(self) -> None:
        if self.tracer is not None:
            self.tracer.window_ms = (self.tracer.window_ms[0],
                                     int(time.time() * 1000))
            end = jvm_counters(self.session)
            self.jvm_window = {k: end[k] - v
                               for k, v in self.jvm_window.items()}

    def time_rounds(self, fn, before=None) -> list:
        """Whole rounds until ``seconds`` of measuring have passed (at
        least one); each round's wall time. ``before`` runs untimed ahead
        of every round."""
        out = []
        t0 = time.perf_counter()
        while not out or time.perf_counter() - t0 < self.seconds:
            if before is not None:
                before()
            t = time.perf_counter()
            fn()
            out.append(time.perf_counter() - t)
        self._end_window()
        return out


def stop_spark(spark, proc) -> None:
    """Stop the session, then end the JVM the gateway launched (it exits
    when its stdin closes) and wait for it, Python workers included."""
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _load_workload(name: str):
    import importlib
    return importlib.import_module({"weekly_refresh": "wl_weekly",
                                    "query_mix": "wl_queries"}[name])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for path in (HERE, ROOT):
        if path not in sys.path:
            sys.path.insert(0, path)
    try:
        import eirepolitic_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from "
              f"{ROOT}: {e}", file=sys.stderr)
        return 2
    # Spark's Python workers inherit the JVM's environment, which the JVM
    # inherits from this process: without this they cannot import the
    # package when the working directory is not the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "")
                        .split(os.pathsep) if p])

    run = Run(args)
    try:
        result = execute(run, args.workload)
    finally:
        if run.jvm is not None and run.jvm.poll() is None:
            stop_spark(run.session, run.jvm)  # a workload raised
        shutil.rmtree(run.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run.work))
    print(json.dumps(result, sort_keys=True))
    return 0


def execute(run: Run, workload: str) -> dict:
    outcome = _load_workload(workload).run(run)
    spark = run.session
    rounds = outcome["rounds"]
    round_s = statistics.median(rounds)
    rss = peak_rss_mb(run.jvm.pid)
    for line in outcome["problems"]:
        print(f"perfbench: {workload}: {line}", file=sys.stderr)
    result = {"correct": not outcome["problems"],
              "attempted": int(outcome["attempted"]),
              "failed": int(outcome["failed"])}
    # peak RSS is not an end-to-end metric: it spread 26% between seeds
    # on query_mix (heap growth follows GC timing), wider than any bound
    print(f"perfbench: {workload} seed={run.seed} cores={run.cores} "
          f"attempted={result['attempted']} failed={result['failed']} "
          f"rounds={len(rounds)} round_s={round_s:.3f} "
          f"setup_s={run.setup_s:.3f} peak_rss_mb={rss:.0f}",
          file=sys.stderr)
    if run.tracer is None:
        stop_spark(spark, run.jvm)
        result["metrics"] = {
            "setup_s": {"value": round(run.setup_s, 4), "unit": "s"},
            "round_s": {"value": round(round_s, 4), "unit": "s"},
        }
        return result

    import layers
    import spans
    run.tracer.restore()
    stop_spark(spark, run.jvm)
    log = spans.summarize(spans.read_event_log(run.event_dir),
                          run.tracer.window_ms)
    outcome["round_s"] = round_s
    outcome["jvm"] = run.jvm_window
    values = layers.metrics(run.tracer, log, outcome)
    units = layers.metric_units()
    result["metrics"] = {k: {"value": round(float(v), 6), "unit": units[k]}
                         for k, v in values.items()}
    record = {"workload": workload, "seed": run.seed,
              "setup_s": run.setup_s, "rounds_s": rounds,
              "peak_rss_mb": rss, "per_layer": values,
              "jobs_by_group": log["jobs_by_group"],
              "detail": outcome.get("record", {})}
    sidecar = os.path.join(ROOT, ".perfbench_work",
                           f"last_trace_{workload}.json")
    with open(sidecar, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True, default=str)
    return result


if __name__ == "__main__":
    sys.exit(main())
