"""The benchmark's workloads: the paper's monitoring flows driven through
the public functions of each layer by one closed-loop client.

Each workload has four phases, called in order by ``run.py``:

- ``generate()``: write the seeded inputs (benchmark code, numpy only);
- ``prepare(spark, rep)``: the program-side set-up (reference frame,
  store seed), repeated once per set-up repetition;
- ``warm_up()`` then ``run_op()`` until the run's time is used;
- ``finish()`` and ``check()``: stop what was started, then verify every
  operation's outputs against a recompute (``checks.py``).

Calls into the program go through module attributes (``metrics.append_metrics``,
not a name bound at import) so the traced run's wrappers see them.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

import checks
import gen
from churn_model_evaluation_platform_spark.operators import metrics, prep, report, score
from churn_model_evaluation_platform_spark.plans import pipeline
from churn_model_evaluation_platform_spark.schema import RAW_CHURN_SCHEMA
from churn_model_evaluation_platform_spark.sources import csv_source
from churn_model_evaluation_platform_spark.streaming import monitor


@dataclass
class Op:
    """One unit of client work: ``latency_s`` is what the user waits for,
    ``rows`` the input rows it covered."""

    latency_s: float
    rows: int
    index: int
    errors: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


class AlertLog:
    """Alert sink that records each alert under the operation in flight."""

    def __init__(self):
        self._lock = threading.Lock()
        self.current = -1
        self.by_op: dict[int, list[str]] = {}

    def __call__(self, subject: str, message: str) -> None:
        with self._lock:
            self.by_op.setdefault(self.current, []).append(subject)


def _stored_runs(store: str) -> list[dict[str, float]]:
    """The metrics store read back with pyarrow, one dict per run (rows
    sharing a ``created_at``), oldest first."""
    files = sorted(glob.glob(os.path.join(store, "**", "*.parquet"), recursive=True))
    if not files:
        return []
    table = pa.concat_tables(
        [pq.read_table(f, columns=["metric_name", "value", "created_at"]) for f in files]
    )
    runs: dict = {}
    for name, value, ts in zip(
        table["metric_name"].to_pylist(),
        table["value"].to_pylist(),
        table["created_at"].to_pylist(),
    ):
        runs.setdefault(ts, {})[name] = value
    return [runs[ts] for ts in sorted(runs)]


class Workload:
    name = ""
    per_layer_default: str | None = None  # layer charged for unlabelled jobs
    # Operations still get faster for a few after the warm-up. If the
    # host's speed decided how many are measured, the median would sit
    # at a different point of that curve from run to run, so each
    # workload measures at least as many as outlast ``--seconds`` on a
    # 4-core host.
    min_ops = 1

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.alerts = AlertLog()
        self.spark = None
        self.exhausted = False

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def call(self, layer: str, fn, *args, **kwargs):
        """Run ``fn``. A traced run replaces this with a span of ``layer``,
        so the jobs the benchmark's own ``collect`` of a layer's lazy
        result launches are charged to that layer."""
        return fn(*args, **kwargs)

    def warm_up(self) -> list[Op]:
        return []

    def finish(self) -> None:
        pass

    def trace_counters(self, ops: list[Op]) -> dict[str, float]:
        return {}

    def store_files(self) -> int:
        """Data files in the metrics store."""
        return len(glob.glob(os.path.join(self.store, "**", "*.parquet"), recursive=True))

    def rows_collected(self, ops: list[Op]) -> int:
        """Store rows the report render collected."""
        return 0


# --- drop_stream -----------------------------------------------------------


class DropStream(Workload):
    """The reference upload simulation over a long-running
    ``monitoring_stream``: one uploader lands the next CSV drop only
    after the listener reports the previous drop's batch committed."""

    name = "drop_stream"
    per_layer_default = "monitor"
    min_ops = 3
    DROP_ROWS = 2000
    REF_ROWS = 2000
    N_DROPS = 24
    COMMIT_TIMEOUT_S = 120.0

    def generate(self) -> None:
        os.makedirs(self.path("staging"))
        os.makedirs(self.path("input"))
        rng = self.rng(1)
        self.ref = gen.churn_rows(rng, self.REF_ROWS)
        gen.write_churn_csv(self.ref, self.path("reference.csv"))
        # Drop 0 warms the stream up; drop 1 is the planted bad upload
        # (a seeded feature column missing from its header).
        drifted = gen.drifted_drops(rng, self.N_DROPS, skip=2)
        self.bad_index = 1
        self.bad_column = str(rng.choice(gen.FEATURES))
        self.drops = []
        for i in range(self.N_DROPS):
            cols = gen.churn_rows(rng, self.DROP_ROWS, drifted=drifted[i])
            gen.write_churn_csv(
                cols,
                self.path("staging", f"drop_{i:03d}.csv"),
                drop_column=self.bad_column if i == self.bad_index else None,
            )
            self.drops.append(cols)

    def prepare(self, spark, rep: int) -> None:
        self.spark = spark
        self.store = self.path("store")
        read = csv_source.read_validated_csv(
            spark, self.path("reference.csv"), gen.FEATURES, RAW_CHURN_SCHEMA
        )
        self.reference = prep.prepare(read.df, gen.FEATURES).cache()
        self.reference.count()

    def _start_stream(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        commits: list[tuple[float, dict, str]] = []  # (monotonic time, durationMs, batch start)
        cond = threading.Condition()

        class Commits(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                prog = event.progress
                if prog.numInputRows > 0:
                    with cond:
                        commits.append(
                            (
                                time.monotonic(),
                                dict(prog.durationMs),
                                prog.timestamp,
                            )
                        )
                        cond.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with cond:
                    cond.notify_all()

        self.commits, self.cond = commits, cond
        self.listener = Commits()
        self.spark.streams.addListener(self.listener)
        self.query = monitor.monitoring_stream(
            self.spark,
            self.path("input"),
            RAW_CHURN_SCHEMA,
            self.reference,
            gen.FEATURES,
            lambda b: score.score_with_logistic_weights(b, gen.WEIGHTS, gen.INTERCEPT),
            self.store,
            self.path("checkpoint"),
            expected_columns=gen.FEATURES,
            predictions_path=self.path("predictions"),
            errored_dir=self.path("errored"),
            alert_sink=self.alerts,
            available_now=False,
        )
        self.next_drop = 0

    def run_op(self) -> Op:
        i = self.next_drop
        self.next_drop += 1
        self.exhausted = self.next_drop >= self.N_DROPS
        name = f"drop_{i:03d}.csv"
        with self.cond:
            seen = len(self.commits)
        self.alerts.current = i
        t_land = time.monotonic()
        os.rename(self.path("staging", name), self.path("input", name))
        with self.cond:
            ok = self.cond.wait_for(
                lambda: len(self.commits) > seen or not self.query.isActive,
                timeout=self.COMMIT_TIMEOUT_S,
            )
            committed = len(self.commits) > seen
        op = Op(0.0, self.DROP_ROWS, i)
        if not (ok and committed):
            op.latency_s = time.monotonic() - t_land
            op.errors.append(f"{name}: no commit ({self.query.exception()})")
            self.exhausted = True
            return op
        t_commit, durations, ts = self.commits[seen]
        op.latency_s = t_commit - t_land
        op.extra = {
            "durations": durations,
            "batch_ts": ts,
            "landed_wall": time.time() - (time.monotonic() - t_land),
        }
        return op

    def warm_up(self) -> list[Op]:
        self._start_stream()
        return [self.run_op(), self.run_op()]

    def finish(self) -> None:
        self.query.stop()
        self.spark.streams.removeListener(self.listener)

    def trace_counters(self, ops: list[Op]) -> dict[str, float]:
        wait = add = wal = 0.0
        for op in ops:
            durations = op.extra["durations"]
            add += durations.get("addBatch", 0) / 1000.0
            wal += durations.get("walCommit", 0) / 1000.0
            start = dt.datetime.fromisoformat(op.extra["batch_ts"].replace("Z", "+00:00"))
            wait += max(0.0, start.timestamp() - op.extra["landed_wall"])
        return {
            "monitor.trigger_wait_s": wait,
            "monitor.add_batch_s": add,
            "monitor.wal_commit_s": wal,
        }

    def check(self, ops: list[Op]) -> None:
        runs = _stored_runs(self.store)
        valid = [op for op in ops if op.index != self.bad_index and not op.errors]
        if len(runs) != len(valid):
            for op in ops:
                op.errors.append(f"store holds {len(runs)} runs for {len(valid)} drops")
            return
        ref = {c: self.ref[c] for c in gen.FEATURES}
        predicted_total = 0
        for op, stored in zip(valid, runs):
            cur = self.drops[op.index]
            predicted = (gen.logistic_margin(cur) > 0).astype(np.int64)
            predicted_total += int(predicted.sum())
            expected = checks.expected_run_metrics(
                ref, cur, gen.FEATURES, cur["churn"], predicted
            )
            op.errors += checks.compare_run(stored, expected)
            want = checks.expected_alerts(expected)
            got = self.alerts.by_op.get(op.index, [])
            if got != want:
                op.errors.append(f"alerts {got} expected {want}")
        for op in ops:
            if op.index != self.bad_index:
                continue
            got = self.alerts.by_op.get(op.index, [])
            if got != ["Invalid input file"]:
                op.errors.append(f"bad drop alerts {got}")
            errored = pq.read_table(self.path("errored")).num_rows
            if errored != self.DROP_ROWS:
                op.errors.append(f"errored dir holds {errored} rows")
        preds = pq.read_table(self.path("predictions"), columns=["churn_prediction"])
        if preds.num_rows != self.DROP_ROWS * len(valid) or (
            pc.sum(preds["churn_prediction"]).as_py() != predicted_total
        ):
            for op in valid:
                op.errors.append("read-back predictions differ from the recompute")


# --- large_batch -----------------------------------------------------------


class LargeBatch(Workload):
    """Batch monitoring of a large CSV file: read and validate → prepare →
    score → monitoring run → predictions CSV → metrics append. The two
    continuous columns are near-unique, so each column's windowed KS
    sorts about ``BATCH_ROWS`` distinct values on one reducer."""

    name = "large_batch"
    BATCH_ROWS = 200_000
    REF_ROWS = 2000
    min_ops = 2

    def generate(self) -> None:
        rng = self.rng(2)
        self.ref = gen.churn_rows(rng, self.REF_ROWS)
        gen.write_churn_csv(self.ref, self.path("reference.csv"))
        # Drifted, so the drift predicate fires at scale.
        self.batch = gen.churn_rows(rng, self.BATCH_ROWS, drifted=True, continuous=True)
        gen.write_churn_csv(self.batch, self.path("batch.csv"))
        self.next_op = 0

    def prepare(self, spark, rep: int) -> None:
        self.spark = spark
        self.store = self.path("store")
        read = csv_source.read_validated_csv(
            spark, self.path("reference.csv"), gen.FEATURES, RAW_CHURN_SCHEMA
        )
        self.reference = prep.prepare(read.df, gen.FEATURES).cache()
        self.reference.count()

    def run_op(self) -> Op:
        i = self.next_op
        self.next_op += 1
        self.alerts.current = i
        t0 = time.perf_counter()
        read = csv_source.read_validated_csv(
            self.spark, self.path("batch.csv"), gen.FEATURES, RAW_CHURN_SCHEMA
        )
        scored = score.score_with_logistic_weights(
            prep.prepare(read.df, gen.FEATURES), gen.WEIGHTS, gen.INTERCEPT
        ).cache()
        res = pipeline.monitoring_run(
            scored, self.reference, gen.FEATURES, alert_sink=self.alerts
        )
        csv_source.write_csv(scored, self.path(f"predictions_{i}"))
        metrics.append_metrics(res.metrics, self.store)
        # monitoring_run hands back its metrics cached. Release them, as
        # the scored batch: the next run over the same file has the same
        # plan and would otherwise be served this run's cached rows.
        res.metrics.unpersist()
        scored.unpersist()
        return Op(time.perf_counter() - t0, self.BATCH_ROWS, i)

    def warm_up(self) -> list[Op]:
        # The first run in a JVM pays about as much again for planning,
        # code generation and JIT compilation; the second still ~20% more.
        return [self.run_op(), self.run_op()]

    def check(self, ops: list[Op]) -> None:
        runs = _stored_runs(self.store)
        if len(runs) != len(ops):
            for op in ops:
                op.errors.append(f"store holds {len(runs)} runs for {len(ops)} batches")
            return
        ref = {c: self.ref[c] for c in gen.FEATURES}
        for op, stored in zip(ops, runs):
            cur = self.batch
            parts = sorted(glob.glob(self.path(f"predictions_{op.index}", "part-*.csv")))
            back = pa.concat_tables(
                [
                    pacsv.read_csv(
                        f,
                        convert_options=pacsv.ConvertOptions(
                            include_columns=["churn", "churn_prediction"]
                        ),
                    )
                    for f in parts
                ]
            )
            actual = back["churn"].to_numpy()
            predicted = back["churn_prediction"].to_numpy()
            want = (gen.logistic_margin(cur) > 0).astype(np.int64)
            if (
                len(actual) != op.rows
                or int(actual.sum()) != int(cur["churn"].sum())
                or int(predicted.sum()) != int(want.sum())
            ):
                op.errors.append("read-back predictions differ from the recompute")
                continue
            # Scores from the read-back (label, prediction) pairs, drift
            # from the generated batch against the reference.
            expected = checks.expected_run_metrics(ref, cur, gen.FEATURES, actual, predicted)
            op.errors += checks.compare_run(stored, expected)
            want = checks.expected_alerts(expected)
            got = self.alerts.by_op.get(op.index, [])
            if got != want:
                op.errors.append(f"alerts {got} expected {want}")


# --- dashboard_reads -------------------------------------------------------

STAT_PANELS = ["f1score", "precision", "recall", "accuracy"]
SERIES_PANELS = STAT_PANELS + [f"valuedrift_{c}" for c in gen.FEATURES]
HISTORY_END = dt.datetime(2026, 1, 1)
RUN_EVERY_S = 900


class DashboardReads(Workload):
    """A date-partitioned metrics store with a long history; each
    iteration appends one new run, then refreshes the dashboard: view
    registration, latest-per-metric, the 19 panel queries and the HTML
    render."""

    name = "dashboard_reads"
    min_ops = 2
    HISTORY_RUNS = 1000
    NEW_RUNS = 64

    def generate(self) -> None:
        rng = self.rng(3)
        self.history = gen.store_history(rng, self.HISTORY_RUNS, HISTORY_END, RUN_EVERY_S)
        future = gen.store_history(
            rng,
            self.NEW_RUNS,
            HISTORY_END + dt.timedelta(seconds=RUN_EVERY_S * self.NEW_RUNS),
            RUN_EVERY_S,
        )
        k = len(gen.RUN_METRIC_NAMES)
        self.new_runs = [future.slice(i * k, k) for i in range(self.NEW_RUNS)]
        self.panel_s: list[float] = []
        self.append_s: list[float] = []

    def prepare(self, spark, rep: int) -> None:
        self.spark = spark
        self.store = self.path(f"store_{rep}")
        df = spark.createDataFrame(self.history.to_pandas())
        metrics.append_metrics(df, self.store, partition_by_date=True)
        self.rows = self.history.num_rows
        self.next_run = 0

    def _refresh(self, stat_panels=STAT_PANELS, series_panels=SERIES_PANELS) -> dict:
        spark, call = self.spark, self.call
        metrics.register_metrics_view(spark, self.store)
        view = spark.table(metrics.METRICS_TABLE)
        latest = call("metrics", lambda: metrics.latest_per_metric(view).collect())
        stats, series = {}, {}
        for name in stat_panels:
            t = time.perf_counter()
            stats[name] = call(
                "metrics", lambda: metrics.latest_metric_value(spark, name).collect()
            )
            self.panel_s.append(time.perf_counter() - t)
        for name in series_panels:
            t = time.perf_counter()
            series[name] = call(
                "metrics", lambda: metrics.metric_timeseries(spark, name).collect()
            )
            self.panel_s.append(time.perf_counter() - t)
        html = report.render_dashboard_html(view)
        return {"latest": latest, "stats": stats, "series": series, "html": html}

    def warm_up(self) -> list[Op]:
        # One query of each panel shape compiles what every panel reuses.
        self._refresh(STAT_PANELS[:1], SERIES_PANELS[:1])
        self.panel_s.clear()
        return []

    def run_op(self) -> Op:
        i = self.next_run
        self.next_run += 1
        self.exhausted = self.next_run >= self.NEW_RUNS
        t0 = time.perf_counter()
        new = self.spark.createDataFrame(self.new_runs[i].to_pandas())
        metrics.append_metrics(new, self.store, partition_by_date=True)
        t1 = time.perf_counter()
        self.rows += self.new_runs[i].num_rows
        out = self._refresh()
        t2 = time.perf_counter()
        self.append_s.append(t1 - t0)
        return Op(t2 - t1, self.rows, i, extra={"out": out, "rows": self.rows})

    def rows_collected(self, ops: list[Op]) -> int:
        return sum(op.extra["rows"] for op in ops)

    def trace_counters(self, ops: list[Op]) -> dict[str, float]:
        return {
            "metrics.panel_query_p50_s": statistics.median(self.panel_s),
            "metrics.append_p50_s": statistics.median(self.append_s),
        }

    def check(self, ops: list[Op]) -> None:
        for op in ops:
            out = op.extra.pop("out")
            run = self.new_runs[op.index]
            want = dict(zip(run["metric_name"].to_pylist(), run["value"].to_pylist()))
            ts = run["created_at"][0].as_py().timestamp()
            latest = {
                r["metric_name"]: (r["value"], r["created_at"].timestamp())
                for r in out["latest"]
            }
            if latest != {k: (v, ts) for k, v in want.items()}:
                op.errors.append("latest_per_metric is not the run appended last")
            for name, rows in out["stats"].items():
                if [r["value"] for r in rows] != [want[name]]:
                    op.errors.append(f"stat panel {name}: {rows}")
            n_runs = self.HISTORY_RUNS + op.index + 1
            for name, rows in out["series"].items():
                if len(rows) != n_runs or rows[-1]["value"] != want[name]:
                    op.errors.append(f"series panel {name}: {len(rows)} points")
            if out["html"].count("<tr><td>") != op.extra["rows"]:
                op.errors.append("rendered table does not hold every stored row")


WORKLOADS = {w.name: w for w in (DropStream, LargeBatch, DashboardReads)}
