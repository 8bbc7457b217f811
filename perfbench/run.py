#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. NAME is one of graphdb_mixed,
graph_analytics, corpus_ingest (see workloads.py for what each does and
why). The run:

1. starts a Spark session on local[k] (k = min(4, nproc)) through the
   package's ``session.get_spark``, with every temporary file under
   ``.perfbench_work/`` in the repository;
2. generates the workload's inputs from the seed, warms up, then times the
   workload's operation for S seconds and checks every result against an
   independent reference;
3. stops Spark and its JVM, then starts SETUP_SAMPLES - 1 more sessions
   in fresh processes; set-up time is the median over all of them;
4. prints one ``{"detail": ...}`` line (workload-specific figures, input
   properties, host facts) and, as the last line, the result object
   ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones, measured with no
tracing: ``setup_s`` (median over the set-up samples of process start to
the session's first job done), ``p50_ms`` (median latency of the
workload's operation) and ``ops_per_s`` (operations completed per second
of the timed loop's wall time, the benchmark's own state resets
excluded). The detail line adds the untimed warm-up's duration
(``warmup_s``, one cold sample per run) and the peak memory of the process
tree, whose JVM heap growth makes it spread 12-17% (quartile distance over
median) from run to run. With
``--trace 1`` every engine call is wrapped in a span that reads Spark's
status store (spans.py), and the metrics are the per-layer ones: the
median over the run's timed calls of each span field, 0 for spans of the
other workloads, which do not call that layer. The run record, warm-up
spans included, is written to ``.perfbench_out/``. overhead.py measures
traced minus untraced time.

Exit status is non-zero, with no result line, when the engine cannot be
imported or the run cannot finish.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CORES = 4
DRIVER_MEM = "2g"
SETUP_SAMPLES = 2

END_TO_END_UNITS = {
    "setup_s": "s",
    "p50_ms": "ms",
    "ops_per_s": "1/s",
}
FIELD_UNITS = {
    "wall_ms": "ms", "jobs": "count", "stages": "count", "tasks": "count",
    "failed_tasks": "count", "exec_run_ms": "ms", "gc_ms": "ms",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "output_mb": "MB", "busy_share": "ratio", "driver_gap_ms": "ms",
    "files_written": "count", "buckets_touched": "count", "write_amp": "ratio",
    "pairs_out": "count",
}


def process_start_time() -> float:
    """Wall-clock time this process was created (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def configure(workdir: str, cores: int) -> None:
    """Environment for the session: core count, driver heap, and every
    temporary directory (Python, Spark local dirs, JVM) inside workdir."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: the driver JVM and spark-submit's launcher JVM would
    # otherwise write /tmp/hsperfdata_*.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell")
    sys.path[:0] = [ROOT, HERE]


def remove_workdir(workdir: str) -> None:
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(workdir))  # only if no other run uses it
    except OSError:
        pass


def start_session():
    from distributed_graph_database_simulation_spark.session import get_spark

    spark = get_spark()
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, shut its JVM down and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # Python workers exit once the JVM that forked them is gone.
    deadline = time.time() + 60
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.05)


# -- process-tree memory -------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = _children(pid), []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by forked Python workers count
    once across the tree instead of once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class TreeMemory:
    """Peak PSS of this process and all its descendants (driver, JVM,
    Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        self.peak_kb = 0
        self.peak_parts_kb: dict[str, int] = {}
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            parts = {"driver": _pss_kb(me), "jvm": 0, "workers": 0}
            for p in descendants(me):
                parts["jvm" if _comm(p) == "java" else "workers"] += _pss_kb(p)
            total = sum(parts.values())
            if total > self.peak_kb:
                self.peak_kb, self.peak_parts_kb = total, parts
            if self._stop.wait(self._interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -- reporting -----------------------------------------------------------------

def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    return {"value": sorted(values)[n - 11], "percentile": round(100.0 * (n - 10) / n, 1), "n": n}


def host_facts(spark, cores: int, load_before: tuple) -> dict:
    import pyspark

    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {
        "nproc": os.cpu_count(),
        "k": cores,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "cpu_model": model,
        "loadavg_before": list(load_before),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def workload_detail(name: str, run) -> dict:
    from workloads import median

    lat = [s for _, s in run.ops]
    out = {"p50_ms": median(lat) * 1000.0, "ops": len(lat),
           "failed_share": run.failed / max(1, run.attempted)}
    if name == "graphdb_mixed":
        for kind in ("read", "write"):
            ms = [s * 1000.0 for k, s in run.ops if k == kind]
            out[f"{kind}_p50_ms"] = median(ms)
            out[f"{kind}_tail_ms"] = tail(ms)
            out[f"{kind}s"] = len(ms)
    else:
        out.update({k: median(v) for k, v in run.parts.items()})
        if name == "corpus_ingest":
            out["docs_per_s"] = run.properties["batch_docs"] * len(run.parts["batch_s"]) / sum(run.parts["batch_s"])
    return out


def layer_metrics(tracer) -> dict:
    from spans import FIELDS
    from workloads import SPAN_COUNTERS, SPANS, median

    metrics = {}
    for spans in SPANS.values():
        for span in spans:
            recs = [r for r in tracer.spans if r["name"] == span and r["phase"] == "timed"]
            for field in FIELDS + SPAN_COUNTERS.get(span, ()):
                metrics[f"{span}.{field}"] = {
                    "value": median([r[field] for r in recs if field in r]),
                    "unit": FIELD_UNITS[field]}
    metrics["trace.overhead_ms"] = {
        "value": 1000.0 * tracer.overhead_s / max(1, len(tracer.spans)), "unit": "ms"}
    return metrics


def setup_probe() -> float:
    """Set-up time of one fresh process: process start to first job done."""
    proc = subprocess.run([sys.executable, os.path.join(HERE, "setup_probe.py")],
                          cwd=ROOT, env=os.environ, capture_output=True, text=True, timeout=120)
    if proc.returncode != 0:
        raise RuntimeError(f"set-up probe failed: {proc.stderr[-2000:]}")
    return float(json.loads(proc.stdout.strip().splitlines()[-1])["setup_s"])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["graphdb_mixed", "graph_analytics", "corpus_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    t_start = process_start_time()
    load_before = os.getloadavg()
    cores = min(MAX_CORES, os.cpu_count() or 1)
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    configure(workdir, cores)
    try:
        import workloads
        from spans import NullTracer, Tracer
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        remove_workdir(workdir)
        return 2

    try:
        with TreeMemory() as mem:
            spark = start_session()
            try:
                setups = [time.time() - t_start]
                host = host_facts(spark, cores, load_before)
                tracer = Tracer(spark, cores) if args.trace else NullTracer()
                run = workloads.WORKLOADS[args.workload](
                    spark, args.seed, args.seconds, tracer, os.path.join(workdir, "data"))
                for t in spark.catalog.listTables():
                    if t.name.startswith(("dgds_bands_", "dgds_shingles_")):
                        spark.sql(f"DROP TABLE IF EXISTS {t.name}")
            finally:
                stop_session(spark)
        setups += [setup_probe() for _ in range(SETUP_SAMPLES - 1)]
    finally:
        remove_workdir(workdir)
    if not run.ops:
        print("perfbench: no timed operation succeeded:\n" + "\n".join(run.errors[:5]),
              file=sys.stderr)
        return 1
    for err in run.errors[:5]:
        print(f"perfbench: check failed: {err}", file=sys.stderr)

    lat = [s for _, s in run.ops]
    end_to_end = {
        "setup_s": statistics.median(setups),
        "p50_ms": statistics.median(lat) * 1000.0,
        "ops_per_s": len(lat) / run.loop_s,
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "setup_samples_s": setups, "warmup_s": run.warmup_s,
        "loop_s": run.loop_s, "reset_s": run.reset_s,
        "peak_rss_mb": mem.peak_kb / 1024.0, "peak_pss_kb": mem.peak_parts_kb,
        **workload_detail(args.workload, run),
        "properties": run.properties, "host": host,
    }
    if args.trace:
        metrics = layer_metrics(tracer)
        detail["trace_overhead_share"] = tracer.overhead_s / max(1e-9, sum(lat) + run.warmup_s)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in end_to_end.items()}
    detail["end_to_end"] = end_to_end
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"detail": detail, "ops": run.ops, "spans": getattr(tracer, "spans", [])}, f, indent=1)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
