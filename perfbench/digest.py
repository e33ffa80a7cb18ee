"""Order-independent output digests, computed the same way in Spark (the
sink of every operation) and in numpy (the reference).

Per checked column the digest holds the non-null count, the plain sum
and a key-weighted sum, where the weight is a fixed pseudo-random
function of the row key. The weighted sum ties each value to its row,
so a value moved to the wrong row changes the digest even though the
plain sum does not. Sums are compared with a relative tolerance, since
the two engines add in different orders.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

PANEL_CHECKED = [
    "price_rank",
    "prediction_rank",
    "price_lag1",
    "price_lag2",
    "price_ma5",
    "price_ma20",
    "price_logreturn",
    "feat_groupstats_mean",
    "feat_groupstats_std",
    "ols_neutralized",
    "neutralized",
    "neutralized_bin",
]
EXPOSURE_CAP = 0.1
EXPOSURE_SLACK = 0.01
# a penalized prediction keeps its non-feature part: on the generated
# panels its per-era corr with the prediction is about 0.8, an output
# unrelated to the prediction reads about 0
PENALIZED_MIN_CORR = 0.3
REL_TOL = 1e-7

_MULT = 2654435761
_MOD = 1 << 32


def weight(key: Column) -> Column:
    return ((key * F.lit(_MULT)) % F.lit(_MOD)).cast("double") / float(_MOD)


def weight_np(key: np.ndarray) -> np.ndarray:
    return ((key.astype(np.int64) * _MULT) % _MOD).astype(np.float64) / float(_MOD)


def digest_aggs(cols: dict[str, Column], w: Column) -> list[Column]:
    aggs = [F.count(F.lit(1)).alias("rows")]
    for name, c in cols.items():
        aggs += [
            F.count(c).alias(f"n__{name}"),
            F.sum(c).alias(f"s__{name}"),
            F.sum(c * w).alias(f"w__{name}"),
        ]
    return aggs


def fold(rows: list[dict], names: list[str]) -> dict[str, float]:
    """Sum the per-group partials collected from the sink."""
    out = {"rows": float(sum(r["rows"] for r in rows))}
    for name in names:
        for k in ("n", "s", "w"):
            out[f"{k}__{name}"] = float(sum((r[f"{k}__{name}"] or 0.0) for r in rows))
    return out


def digest_np(cols: dict[str, np.ndarray], w: np.ndarray) -> dict[str, float]:
    """The numpy twin of ``digest_aggs`` + ``fold`` (NaN = null)."""
    out = {"rows": float(len(w))}
    for name, v in cols.items():
        v = np.asarray(v, dtype=np.float64)
        ok = ~np.isnan(v)
        out[f"n__{name}"] = float(ok.sum())
        out[f"s__{name}"] = float(v[ok].sum())
        out[f"w__{name}"] = float((v[ok] * w[ok]).sum())
    return out


def mismatches(got: dict[str, float], want: dict[str, float], rel: float = REL_TOL) -> list[str]:
    """Names of digest entries that differ beyond the tolerance."""
    bad = []
    for k, v in want.items():
        g = got.get(k)
        if g is None or not math.isclose(g, v, rel_tol=rel, abs_tol=rel * 10):
            bad.append(f"{k}: got {g!r}, want {v!r}")
    return bad


def penalizer_problems(rows: list[dict], features: list[str]) -> list[str]:
    """The penalizer's invariants, per era: every row has a value, the
    values are not constant, each |corr(feature, penalized)| is defined
    and within the cap plus slack, and the output still follows the
    prediction (corr >= PENALIZED_MIN_CORR), so an all-null, constant or
    unrelated output fails."""
    bad = []
    for r in rows:
        era = r.get("era")
        if r["n_penalized"] != r["rows"]:
            bad.append(f"era {era}: {r['rows'] - r['n_penalized']} null penalized values")
        if not _finite(r["std_penalized"]) or r["std_penalized"] <= 0.0:
            bad.append(f"era {era}: penalized std {r['std_penalized']!r}")
        c = r["corr_prediction"]
        if not _finite(c) or c < PENALIZED_MIN_CORR:
            bad.append(f"era {era}: corr(penalized, prediction) {c!r}")
        for f in features:
            c = r[f"corr_{f}"]
            if not _finite(c) or abs(c) > EXPOSURE_CAP + EXPOSURE_SLACK:
                bad.append(f"era {era}: exposure to {f} {c!r}")
    return bad


def _finite(x) -> bool:
    return x is not None and math.isfinite(x)
