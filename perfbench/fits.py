"""The ``ml_iterative`` fits of the ml_train workload, each next to the
numpy reference it is checked against.

Every fit reads the events table the same way examples/train_models.py
does. A fit's result is reduced to JSON-able numbers (``spark_fit``) so the
measuring process can hand it to the comparison; ``numpy_fit`` computes the
same numbers from the parquet file with the same algorithm and literals.
Results agree within ``RTOL``: Spark and numpy sum in different orders.
"""

from __future__ import annotations

import math

import numpy as np

RTOL = 1e-6
ATOL = 1e-9
LOGREG_LR, LOGREG_ITERS = 0.5, 10
IRLS_ITERS, IRLS_RIDGE = 4, 1e-8
KMEANS_ITERS = 5
GMM_ITERS = 5


def spark_fit(name: str, spark, input_dir: str, params: dict):
    from pyspark.sql import functions as F

    from mapreduce_machine_learning_spark import ml_iterative as mli
    from mapreduce_machine_learning_spark.io import load_table

    ev = load_table(spark, input_dir, "events")
    pts = ev.select("value", F.hour("ts").cast("double").alias("hr"))
    lab = ev.select(
        (F.col("value") / 100.0).alias("x"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
    )
    if name == "linreg_normal":
        return mli.linreg_normal(pts, ["hr"], "value").tolist()
    if name == "logreg_gd":
        return mli.logreg_gd(lab, ["x"], "y", lr=LOGREG_LR, iters=LOGREG_ITERS).tolist()
    if name == "logreg_irls":
        return mli.logreg_irls(lab, ["x"], "y", iters=IRLS_ITERS, ridge=IRLS_RIDGE).tolist()
    if name == "kmeans_fit":
        init = [tuple(c) for c in params["kmeans_init"]]
        cents, sizes = mli.kmeans_fit(pts, ["value", "hr"], init, iters=KMEANS_ITERS)
        return {"centroids": [list(c) for c in cents], "sizes": list(sizes)}
    if name == "gmm_em_1d":
        g = params["gmm_init"]
        out = mli.gmm_em_1d(
            ev, "value", mli.Gmm1D(tuple(g["pi"]), tuple(g["mu"]), tuple(g["sigma"])),
            iters=GMM_ITERS,
        )
        return {"pi": list(out.pi), "mu": list(out.mu), "sigma": list(out.sigma)}
    if name == "gaussian_nb_fit":
        nb = mli.gaussian_nb_fit(ev, "event_type", "value")
        return {k: list(v) for k, v in sorted(nb.items())}
    raise ValueError(f"unknown fit {name!r}")


def _events(input_dir: str):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{input_dir}/events.parquet", columns=["ts", "event_type", "value"])
    df = t.to_pandas()
    value = df["value"].to_numpy(dtype=float)
    hr = df["ts"].dt.hour.to_numpy(dtype=float)  # naive ts; the session is UTC
    return df["event_type"].to_numpy(), value, hr


def numpy_fits(input_dir: str, params: dict) -> dict:
    """Reference results of every fit, keyed by fit name."""
    etype, value, hr = _events(input_dir)
    n = len(value)
    ones = np.ones(n)
    out = {}

    X = np.column_stack([ones, hr])
    out["linreg_normal"] = np.linalg.solve(X.T @ X, X.T @ value).tolist()

    X = np.column_stack([ones, value / 100.0])
    y = (etype == "purchase").astype(float)
    w = np.zeros(2)
    for _ in range(LOGREG_ITERS):
        s = 1.0 / (1.0 + np.exp(-X @ w))
        w = w - LOGREG_LR * X.T @ (s - y) / n
    out["logreg_gd"] = w.tolist()

    w = np.zeros(2)
    for _ in range(IRLS_ITERS):
        s = 1.0 / (1.0 + np.exp(-X @ w))
        H = (X * (s * (1 - s))[:, None]).T @ X
        w = w - np.linalg.solve(H + IRLS_RIDGE * np.eye(2), X.T @ (s - y))
    out["logreg_irls"] = w.tolist()

    P = np.column_stack([value, hr])
    C = np.array(params["kmeans_init"], dtype=float)
    sizes = np.zeros(len(C), dtype=int)
    for _ in range(KMEANS_ITERS):
        a = ((P[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        sizes = np.bincount(a, minlength=len(C))
        for i in range(len(C)):
            if sizes[i]:  # an empty cluster keeps its centroid
                C[i] = P[a == i].mean(axis=0)
    out["kmeans_fit"] = {"centroids": C.tolist(), "sizes": sizes.tolist()}

    g = params["gmm_init"]
    pi, mu, sg = (np.array(g[k], dtype=float) for k in ("pi", "mu", "sigma"))
    for _ in range(GMM_ITERS):
        p = pi * np.exp(-(((value[:, None] - mu) / sg) ** 2) / 2) / (sg * math.sqrt(2 * math.pi))
        r = p / p.sum(axis=1, keepdims=True)
        nk = r.sum(axis=0)
        mu = (r * value[:, None]).sum(axis=0) / nk
        var = np.maximum((r * value[:, None] ** 2).sum(axis=0) / nk - mu**2, 1e-9)
        pi, sg = nk / n, np.sqrt(var)
    out["gmm_em_1d"] = {"pi": pi.tolist(), "mu": mu.tolist(), "sigma": sg.tolist()}

    out["gaussian_nb_fit"] = {
        c: [float((etype == c).sum()) / n, value[etype == c].mean(), value[etype == c].var(ddof=1)]
        for c in sorted(set(etype))
    }
    return out


def close(a, b) -> bool:
    """Structural comparison of two fit results: same shape, integers
    equal, floats within ``RTOL``/``ATOL``."""
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(close(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    if isinstance(a, int) and isinstance(b, int):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=RTOL, abs_tol=ATOL)
    return a == b
