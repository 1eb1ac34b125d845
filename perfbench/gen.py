"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of a ``numpy.random.Generator`` built
from the workload seed, so the same seed writes byte-identical files and
a different seed writes different ones (``test_gen.py`` pins both).

- churn rows in the raw 14-column layout (``RAW_CHURN_SCHEMA``), with a
  per-column cardinality switch (``continuous=True`` gives the two
  continuous columns near-unique values, so they cross the drift
  router's distinct-count threshold), planted drift, and a header that
  drops a feature column;
- a metrics-store history in the long ``(metric_name, value,
  created_at)`` layout, one row per metric per past monitoring run.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

# Raw header names as the reference's upload files carry them; the
# program's ``clean_name`` maps each to the schema's snake_case column.
RAW_HEADER = [
    "Call  Failure",
    "Complains",
    "Subscription  Length",
    "Charge  Amount",
    "Seconds of Use",
    "Frequency of use",
    "Frequency of SMS",
    "Distinct Called Numbers",
    "Age Group",
    "Tariff Plan",
    "Status",
    "Age",
    "Customer Value",
    "Churn",
]
COLUMNS = [
    "call_failure",
    "complains",
    "subscription_length",
    "charge_amount",
    "seconds_of_use",
    "frequency_of_use",
    "frequency_of_sms",
    "distinct_called_numbers",
    "age_group",
    "tariff_plan",
    "status",
    "age",
    "customer_value",
    "churn",
]
FEATURES = [
    "call_failure",
    "complains",
    "subscription_length",
    "charge_amount",
    "seconds_of_use",
    "frequency_of_use",
    "frequency_of_sms",
    "distinct_called_numbers",
    "age_group",
    "status",
    "customer_value",
]
# Pinned logistic weights: the labels are drawn from this model plus
# noise, and the stream scores with it.
WEIGHTS = {
    "call_failure": 0.08,
    "complains": 2.5,
    "subscription_length": -0.03,
    "charge_amount": -0.25,
    "seconds_of_use": -0.0002,
    "frequency_of_use": -0.01,
    "frequency_of_sms": -0.004,
    "distinct_called_numbers": -0.02,
    "age_group": 0.1,
    "status": 1.6,
    "customer_value": -0.002,
}
INTERCEPT = -1.0
_AGE_OF_GROUP = np.array([0, 15, 25, 30, 45, 55])


def logistic_margin(cols: dict[str, np.ndarray]) -> np.ndarray:
    """``intercept + Σ w_i x_i`` added in the same order as
    ``score_with_logistic_weights`` builds its expression, so the sign
    of every row matches the program's bit for bit."""
    m = np.full(len(cols["churn"]), INTERCEPT)
    for c, w in WEIGHTS.items():
        m = m + w * cols[c]
    return m


def churn_rows(
    rng: np.random.Generator,
    n: int,
    drifted: bool = False,
    continuous: bool = False,
) -> dict[str, np.ndarray]:
    """``n`` raw churn rows as float64/int64 arrays keyed by column.

    ``continuous=True`` draws the two continuous columns at full
    precision (about ``n`` distinct values each); otherwise they are
    rounded to a few thousand levels. The other nine features are
    discrete with at most a few hundred levels."""
    shift = 1.0 if drifted else 0.0
    cols: dict[str, np.ndarray] = {}
    cols["call_failure"] = np.minimum(rng.poisson(7.0 + 6.0 * shift, n), 36).astype(float)
    cols["complains"] = (rng.random(n) < 0.08 + 0.2 * shift).astype(float)
    cols["subscription_length"] = rng.integers(3 + 12 * int(shift), 48, n).astype(float)
    cols["charge_amount"] = rng.binomial(10, 0.1, n).astype(float)
    sec = rng.gamma(2.0, 2200.0 * (1.0 + 0.4 * shift), n)
    cols["seconds_of_use"] = np.round(sec, 4) if continuous else np.round(sec, -1)
    cols["frequency_of_use"] = rng.poisson(70.0 + 25.0 * shift, n).astype(float)
    cols["frequency_of_sms"] = rng.poisson(60.0 + 30.0 * shift, n).astype(float)
    cols["distinct_called_numbers"] = rng.poisson(24.0, n).astype(float)
    group = rng.integers(1, 6, n)
    cols["age_group"] = group.astype(float)
    cols["tariff_plan"] = np.where(rng.random(n) < 0.92, 1, 2).astype(np.int64)
    cols["status"] = np.where(rng.random(n) < 0.75, 1.0, 2.0)
    cols["age"] = _AGE_OF_GROUP[group].astype(np.int64)
    val = rng.gamma(1.5, 310.0 * (1.0 - 0.35 * shift), n)
    cols["customer_value"] = np.round(val, 4) if continuous else np.round(val, 0)
    cols["churn"] = np.zeros(n, dtype=np.int64)
    noise = rng.logistic(0.0, 0.6, n)
    cols["churn"] = (logistic_margin(cols) + noise > 0).astype(np.int64)
    return cols


def write_churn_csv(
    cols: dict[str, np.ndarray], path: str, drop_column: str | None = None
) -> None:
    """Write rows under the raw header. ``drop_column`` removes one
    feature column and its header name: the planted bad upload."""
    keep = [i for i, c in enumerate(COLUMNS) if c != drop_column]
    table = pa.table(
        [pa.array(cols[COLUMNS[i]]) for i in keep],
        names=[RAW_HEADER[i] for i in keep],
    )
    # The header goes out unquoted, as pandas writes it: the stream's
    # header check splits the first line on commas without CSV quoting.
    with open(path, "wb") as f:
        f.write((",".join(table.column_names) + "\n").encode())
        pacsv.write_csv(
            table,
            f,
            pacsv.WriteOptions(
                include_header=False, quoting_style="none", batch_size=65536
            ),
        )


def drifted_drops(rng: np.random.Generator, n_drops: int, skip: int) -> list[bool]:
    """A seeded third of the drops after the first ``skip`` is drifted."""
    drifted = np.zeros(n_drops, dtype=bool)
    drifted[skip + rng.choice(n_drops - skip, (n_drops - skip) // 3, replace=False)] = True
    return drifted.tolist()


# --- metrics-store history -------------------------------------------------

SCORE_NAMES = ["accuracy", "precision", "recall", "f1score"]
PER_LABEL_NAMES = [
    f"{m}bylabel_{lab}" for lab in (1, 0) for m in ("precision", "recall", "f1")
]
RUN_METRIC_NAMES = (
    SCORE_NAMES
    + PER_LABEL_NAMES
    + [f"valuedrift_{c}" for c in FEATURES]
    + ["driftedcolumnscount[count]", "driftedcolumnscount[share]"]
)


def store_history(
    rng: np.random.Generator, n_runs: int, end: dt.datetime, every_s: int = 900
) -> pa.Table:
    """``n_runs`` past monitoring runs, one every ``every_s`` seconds up to
    ``end``, each with the 23 metrics a run appends."""
    k = len(RUN_METRIC_NAMES)
    end_us = int(end.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    run_ts = end_us - every_s * 1_000_000 * np.arange(n_runs, 0, -1, dtype=np.int64)
    pvals = rng.beta(0.6, 0.6, (n_runs, len(FEATURES)))
    n_drift = (pvals < 0.05).sum(axis=1).astype(float)
    scores = rng.uniform(0.55, 0.95, (n_runs, 4 + len(PER_LABEL_NAMES)))
    values = np.concatenate(
        [scores, pvals, n_drift[:, None], (n_drift / len(FEATURES))[:, None]], axis=1
    )
    return pa.table(
        {
            "metric_name": pa.array(np.tile(RUN_METRIC_NAMES, n_runs)),
            "value": pa.array(values.reshape(-1)),
            "created_at": pa.array(np.repeat(run_ts, k), pa.timestamp("us", "UTC")),
        }
    )
