"""The churnspark benchmark of record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run generates its inputs from the
seed, sets the workload up three times (each set-up starts a fresh
Spark session, ``local[<cores>]``) and reports the median as ``setup_s``,
warms up, then runs operations in a closed loop until ``--seconds`` have
passed (finishing the one in flight) and the workload's minimum count of
operations is done, checks every operation's outputs,
and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps every
layer entry point, turns Spark's event log on, and reports the per-layer
metrics instead (see ``layertrace.py``). ``BENCHMARK.json`` lists both sets.
Everything the run writes goes under ``.bench_work/`` in the working
directory and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
MAX_MEASURE_S = 120.0  # hard stop for the closed loop, whatever --seconds says
DRIVER_MEMORY = "1g"
LAYERS = [
    "csv_source",
    "monitor",
    "prep",
    "score",
    "pipeline",
    "quality",
    "drift",
    "metrics",
    "report",
]
SHUFFLE_LAYERS = ["drift", "quality", "metrics"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def peak_rss_mb(pids: list[int]) -> float:
    """Summed high-water RSS (``VmHWM``) of the given live processes."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over cores."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def foreign_jvms() -> int:
    """Java processes already running (ours has not started yet)."""
    n = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    n += f.read().strip() == "java"
            except OSError:
                pass
    return n


class Engine:
    """The Spark sessions of one run, all in one JVM."""

    def __init__(self, work: str, cores: int, trace: bool):
        self.cores = cores
        self.local_dir = os.path.join(work, "spark-local")
        self.event_dir = os.path.join(work, "events")
        os.makedirs(self.local_dir)
        os.makedirs(self.event_dir)
        self.conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": self.local_dir,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # The heap is committed and touched up front, so the RSS peak
            # tracks what the program holds outside the heap and in Python,
            # not when the collector chose to grow the heap.
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            "spark.eventLog.enabled": "true" if trace else "false",
            "spark.eventLog.dir": self.event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        self.spark = None

    def start(self):
        from churn_model_evaluation_platform_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name="churnspark-bench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=self.conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def env(self) -> dict:
        conf = self.spark.sparkContext.getConf()
        return {
            "master": conf.get("spark.master"),
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": conf.get("spark.driver.memory"),
            "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
            "spark_version": self.spark.version,
        }

    @staticmethod
    def jvm_pid() -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # the JVM ignored its closed stdin: kill it
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, os.getcwd())
    try:
        import churn_model_evaluation_platform_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program from {os.getcwd()}: {e}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import layertrace as tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    env = {"load_avg_start": os.getloadavg()[0], "foreign_jvms_at_start": foreign_jvms()}
    steal0 = cpu_steal_s()
    cores = len(os.sched_getaffinity(0))
    work = os.path.abspath(os.path.join(".bench_work", f"{args.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Everything Spark, the JVM and Python spill to disk stays in the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    engine = Engine(work, cores, bool(args.trace))
    try:
        result = run(args, work, engine, env, tracing, workloads)
    finally:
        engine.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(".bench_work")
        except OSError:
            pass
    env["cpu_steal_s"] = cpu_steal_s() - steal0
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def run(args, work, engine, env, tracing, workloads) -> dict:
    wl = workloads.WORKLOADS[args.workload](os.path.join(work, "data"), args.seed)
    os.makedirs(wl.work)
    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t
    log(f"generated inputs in {gen_s:.2f}s")

    setups = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        spark = engine.start()
        wl.prepare(spark, rep)
        setups.append(time.perf_counter() - t)
        log(f"set-up {rep}: {setups[-1]:.2f}s")
    env.update(engine.env())

    tracer = None
    if args.trace:
        tracer = tracing.Tracer(spark.sparkContext, LAYERS)
        tracing.install_layer_wrappers(tracer)
        wl.call = lambda layer, fn, *a, **k: tracer.span(layer, fn)(*a, **k)
    warm = wl.warm_up()
    log(f"warmed up with {len(warm)} operations")

    ops = []
    gc0 = tracing.jvm_gc_seconds(spark)
    if tracer:
        tracer.enabled = True
    t_wall0, t0 = time.time(), time.perf_counter()
    while len(ops) < wl.min_ops or (
        time.perf_counter() - t0 < min(args.seconds, MAX_MEASURE_S) and not wl.exhausted
    ):
        ops.append(wl.run_op())
    measure_s = time.perf_counter() - t0
    t_wall1 = time.time()
    if tracer:
        tracer.enabled = False
    gc_s = tracing.jvm_gc_seconds(spark) - gc0
    wl.finish()
    log(f"measured {len(ops)} operations in {measure_s:.2f}s")

    wl.check(warm + ops)
    log("checked outputs")
    for op in warm + ops:
        log(f"op {op.index}: {op.latency_s:.3f}s")
    failed = sum(bool(op.errors) for op in warm + ops)
    for op in warm + ops:
        for err in op.errors[:5]:
            print(f"check failed: {wl.name} op {op.index}: {err}", file=sys.stderr)

    if not args.trace:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "peak_rss_mb": (peak_rss_mb([os.getpid(), engine.jvm_pid()]), "MB"),
            "op_p50_s": (statistics.median(op.latency_s for op in ops), "s"),
            "rows_per_s": (
                statistics.median(op.rows / op.latency_s for op in ops),
                "rows/s",
            ),
        }
    else:
        app_id = spark.sparkContext.applicationId
        engine.stop()  # flushes the event log
        eng = tracing.charge_event_log(
            tracing.event_log_file(engine.event_dir, app_id),
            t_wall0,
            t_wall1,
            tracer,
            wl.per_layer_default,
        )
        metrics = per_layer_metrics(tracer, eng, wl, ops, measure_s, engine.cores, gc_s)
        metrics["bench.gen_s"] = (gen_s, "s")
    return {
        "correct": failed == 0,
        "attempted": len(warm) + len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def per_layer_metrics(tracer, eng, wl, ops, measure_s, cores, gc_s) -> dict:
    out = {}
    for layer in LAYERS:
        st = tracer.stats[layer]
        out[f"{layer}.calls"] = (st.calls, "count")
        out[f"{layer}.wall_s"] = (st.wall_s, "s")
        out[f"{layer}.self_s"] = (st.self_s, "s")
        out[f"{layer}.jobs"] = (st.jobs, "count")
        out[f"{layer}.job_s"] = (st.job_s, "s")
        if layer in SHUFFLE_LAYERS:
            out[f"{layer}.shuffle_bytes"] = (st.shuffle_bytes, "B")
    counters = {
        "monitor.trigger_wait_s": 0.0,
        "monitor.add_batch_s": 0.0,
        "monitor.wal_commit_s": 0.0,
        "metrics.panel_query_p50_s": 0.0,
        "metrics.append_p50_s": 0.0,
    }
    counters.update(wl.trace_counters(ops))
    for name, value in counters.items():
        out[name] = (value, "s")
    out["drift.prefix_columns"] = (tracer.counters["drift.prefix_columns"], "count")
    out["metrics.store_files"] = (wl.store_files(), "count")
    out["report.rows_collected"] = (wl.rows_collected(ops), "count")
    out["alerts.fired"] = (sum(len(wl.alerts.by_op.get(op.index, ())) for op in ops), "count")
    out["spark.tasks"] = (eng.tasks, "count")
    out["spark.task_run_s"] = (eng.task_run_s, "s")
    out["spark.executor_busy_ratio"] = (eng.task_run_s / (measure_s * cores), "ratio")
    out["spark.shuffle_write_bytes"] = (eng.shuffle_write_bytes, "B")
    out["spark.spill_bytes"] = (eng.spill_bytes, "B")
    out["spark.jvm_gc_s"] = (gc_s, "s")
    out["spark.failed_tasks"] = (eng.failed_tasks, "count")
    out["spark.unattributed_jobs"] = (eng.unattributed_jobs, "count")
    out["tracing_overhead_s"] = (tracer.overhead_s, "s")
    out["bench.wall_s"] = (measure_s, "s")
    out["bench.idle_s"] = (measure_s - tracer.top_level_s, "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
