"""Output checks: numpy recomputes of what the program stores.

The program's drift metric is the two-sample KS p-value from the
asymptotic Kolmogorov series (``functions/stats.py``); it is recomputed
here from the generated rows with the same formula, so a wrong KS
statistic shows up as a wrong p-value (exactly, wherever the p-value is
strictly between 0 and 1). Scores come from the confusion matrix of the
read-back predictions.
"""

from __future__ import annotations

import numpy as np

KS_SERIES_TERMS = 100
P_VALUE_DRIFT_THRESHOLD = 0.05
DATASET_DRIFT_SHARE = 0.5
SCORE_THRESHOLD = 0.70
TOL = 1e-9


def ks_stat(ref: np.ndarray, cur: np.ndarray) -> float:
    ref, cur = np.sort(ref), np.sort(cur)
    grid = np.union1d(ref, cur)
    f_ref = np.searchsorted(ref, grid, side="right") / len(ref)
    f_cur = np.searchsorted(cur, grid, side="right") / len(cur)
    return float(np.max(np.abs(f_ref - f_cur)))


def ks_pvalue(d: float, n: int, m: int) -> float:
    en = np.sqrt(n * m / (n + m))
    lam = (en + 0.12 + 0.11 / en) * d
    if lam < 1e-8:
        return 1.0
    k = np.arange(1, KS_SERIES_TERMS + 1, dtype=float)
    series = np.sum((-1.0) ** (k - 1) * np.exp(-2.0 * k * k * lam * lam))
    return float(min(max(2.0 * series, 0.0), 1.0))


def drift_pvalues(ref: dict, cur: dict, columns: list[str]) -> dict[str, float]:
    return {
        c: ks_pvalue(ks_stat(ref[c], cur[c]), len(ref[c]), len(cur[c]))
        for c in columns
    }


def _div(a: float, b: float) -> float:
    return 0.0 if b == 0 else a / b


def scores(actual: np.ndarray, predicted: np.ndarray) -> dict[str, float]:
    """The ten score metrics a monitoring run stores (global + per label)."""
    a, p = actual == 1, predicted == 1
    tp, fp = float(np.sum(a & p)), float(np.sum(~a & p))
    fn, tn = float(np.sum(a & ~p)), float(np.sum(~a & ~p))
    out = {"accuracy": _div(tp + tn, tp + fp + fn + tn)}
    for label, (ltp, lfp, lfn) in ((1, (tp, fp, fn)), (0, (tn, fn, fp))):
        prec = _div(ltp, ltp + lfp)
        rec = _div(ltp, ltp + lfn)
        f1 = _div(2.0 * prec * rec, prec + rec)
        out[f"precisionbylabel_{label}"] = prec
        out[f"recallbylabel_{label}"] = rec
        out[f"f1bylabel_{label}"] = f1
        if label == 1:
            out.update(precision=prec, recall=rec, f1score=f1)
    return out


def expected_run_metrics(
    ref: dict,
    cur: dict,
    features: list[str],
    actual: np.ndarray,
    predicted: np.ndarray,
) -> dict[str, float]:
    """Every metric one monitoring run should append for the batch
    ``cur`` whose (label, prediction) pairs are ``actual``/``predicted``."""
    pv = drift_pvalues(ref, cur, features)
    n_drift = float(sum(v < P_VALUE_DRIFT_THRESHOLD for v in pv.values()))
    out = scores(actual, predicted)
    out.update({f"valuedrift_{c}": v for c, v in pv.items()})
    out["driftedcolumnscount[count]"] = n_drift
    out["driftedcolumnscount[share]"] = n_drift / len(features)
    return out


def expected_alerts(expected: dict[str, float]) -> list[str]:
    """Alert subjects the reference's predicates fire for one run."""
    out = []
    if expected["driftedcolumnscount[share]"] > DATASET_DRIFT_SHARE:
        out.append("Data drift detected")
    if any(
        expected[m] < SCORE_THRESHOLD
        for m in ("f1score", "precision", "recall", "accuracy")
    ):
        out.append("Prediction scores below threshold")
    return out


def compare_run(stored: dict[str, float], expected: dict[str, float]) -> list[str]:
    """Mismatches between one stored run and its recompute."""
    bad = []
    if set(stored) != set(expected):
        bad.append(f"metric names differ: {sorted(set(stored) ^ set(expected))}")
    for name, want in expected.items():
        got = stored.get(name)
        if got is None or abs(got - want) > TOL:
            bad.append(f"{name}: stored {got} expected {want}")
    return bad
