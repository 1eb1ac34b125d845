"""The benchmark's inputs are a function of the seed alone.

    python3 -m pytest perfbench/test_gen.py -q     (from the repository root)
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import workloads  # noqa: E402
from churn_model_evaluation_platform_spark.operators.drift import (  # noqa: E402
    WINDOWED_MAX_DISTINCT,
)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _generate(name: str, seed: int, root: str) -> dict[str, str]:
    wl = workloads.WORKLOADS[name](root, seed)
    os.makedirs(root)
    wl.generate()
    files = _digest(root)
    if name == "dashboard_reads":  # its inputs stay in memory until set-up
        tables = [wl.history] + wl.new_runs
        files["tables"] = hashlib.sha256(
            b"".join(str(t.to_pydict()).encode() for t in tables)
        ).hexdigest()
    return files


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_bytes_other_seed_other_bytes(name, tmp_path):
    a = _generate(name, 7, str(tmp_path / "a"))
    b = _generate(name, 7, str(tmp_path / "b"))
    c = _generate(name, 8, str(tmp_path / "c"))
    assert a and a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_large_batch_columns_stay_on_the_windowed_drift_path():
    n = workloads.LargeBatch.BATCH_ROWS
    cols = gen.churn_rows(np.random.default_rng(1), n, continuous=True)
    for c in ("seconds_of_use", "customer_value"):
        assert 0.95 * n < len(np.unique(cols[c])) <= n
        # Pooled with the reference, with room for the estimate's error.
        assert (n + workloads.LargeBatch.REF_ROWS) * 1.15 < WINDOWED_MAX_DISTINCT
    for c in gen.FEATURES:
        if c not in ("seconds_of_use", "customer_value"):
            assert len(np.unique(cols[c])) < 1000


def test_bad_drop_header_misses_one_feature(tmp_path):
    cols = gen.churn_rows(np.random.default_rng(1), 10)
    path = str(tmp_path / "bad.csv")
    gen.write_churn_csv(cols, path, drop_column="complains")
    with open(path) as f:
        header = f.readline().strip().split(",")
    assert "Complains" not in header and len(header) == len(gen.COLUMNS) - 1
