"""Iterative-driver correctness (SURVEY §5.2 item 3): each Spark algorithm is
asserted against a local numpy re-implementation with identical literals on
the same sf0.001 data, and against its MLlib mirror where one exists."""

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from mapreduce_machine_learning_spark import ml_iterative as mli
from mapreduce_machine_learning_spark.io import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_pdf(spark):
    df = load_table(spark, SF_DIR, "events")
    return (
        df.select(
            "value",
            F.hour("ts").cast("double").alias("hr"),
            F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
        )
        .toPandas()
        .astype(float)
    )


def test_linreg_normal_vs_numpy(spark, events_pdf):
    df = load_table(spark, SF_DIR, "events").select(
        "value", F.hour("ts").cast("double").alias("hr")
    )
    w = mli.linreg_normal(df, ["hr"], "value")
    X = np.column_stack([np.ones(len(events_pdf)), events_pdf["hr"]])
    y = events_pdf["value"].to_numpy()
    w_np = np.linalg.solve(X.T @ X, X.T @ y)
    np.testing.assert_allclose(w, w_np, rtol=1e-8)


def test_linreg_matches_mllib(spark):
    df = load_table(spark, SF_DIR, "events").select(
        "value", F.hour("ts").cast("double").alias("hr")
    )
    w = mli.linreg_normal(df, ["hr"], "value")
    w_ml = mli.mllib_linreg(df, ["hr"], "value")
    np.testing.assert_allclose(w, w_ml, rtol=1e-6)


def test_logreg_gd_vs_numpy(spark, events_pdf):
    df = load_table(spark, SF_DIR, "events").select(
        (F.col("value") / 100.0).alias("x"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
    )
    w = mli.logreg_gd(df, ["x"], "y", lr=0.5, iters=8)

    X = np.column_stack(
        [np.ones(len(events_pdf)), events_pdf["value"].to_numpy() / 100.0]
    )
    y = events_pdf["y"].to_numpy()
    w_np = np.zeros(2)
    for _ in range(8):
        s = 1.0 / (1.0 + np.exp(-X @ w_np))
        w_np = w_np - 0.5 * X.T @ (s - y) / len(y)
    np.testing.assert_allclose(w, w_np, rtol=1e-8)


def test_kmeans_vs_numpy(spark, events_pdf):
    init = [(50.0, 6.0), (100.0, 12.0), (150.0, 18.0)]
    df = load_table(spark, SF_DIR, "events").select(
        "value", F.hour("ts").cast("double").alias("hr")
    )
    cents, sizes = mli.kmeans_fit(df, ["value", "hr"], init, iters=5)

    P = events_pdf[["value", "hr"]].to_numpy()
    C, _ = _np_kmeans(P, init, 5)
    np.testing.assert_allclose(np.array(cents), C, rtol=1e-9)
    assert sum(sizes) == len(P)


def _np_kmeans(P, init, iters):
    """Lloyd's algorithm in numpy: ties → lowest id, an empty cluster keeps
    its centroid. Returns (centroids, sizes of the last assignment)."""
    C = np.array(init, dtype=float)
    sizes = np.zeros(len(C), dtype=int)
    for _ in range(iters):
        a = ((P[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        sizes = np.bincount(a, minlength=len(C))
        for i in range(len(C)):
            if sizes[i]:
                C[i] = P[a == i].mean(axis=0)
    return C, sizes


def test_kmeans_k16_vs_numpy(spark, events_pdf):
    """At k=16 the least-of-structs argmin must still pick the clusters
    numpy picks (lowest id on ties)."""
    init = [(10.0 + 12.5 * i, float((7 * i) % 24)) for i in range(16)]
    df = load_table(spark, SF_DIR, "events").select(
        "value", F.hour("ts").cast("double").alias("hr")
    )
    cents, sizes = mli.kmeans_fit(df, ["value", "hr"], init, iters=3)
    C, np_sizes = _np_kmeans(events_pdf[["value", "hr"]].to_numpy(), init, 3)
    np.testing.assert_allclose(np.array(cents), C, rtol=1e-9)
    assert sizes == np_sizes.tolist()


def _plan_nodes(df, col):
    """Expression nodes of ``col`` in the analyzed plan of ``df``."""
    proj = df._jdf.queryExecution().analyzed()
    exprs = [proj.projectList().apply(i) for i in range(proj.projectList().size())]
    (e,) = [e for e in exprs if e.name() == col]
    return len(e.treeString().splitlines())


def test_kmeans_assign_plan_linear_in_k(spark):
    df = spark.createDataFrame([(1.0, 2.0)], "a double, b double")
    cents = [(float(i), float(-i)) for i in range(16)]
    n4 = _plan_nodes(mli.kmeans_assign(df, ["a", "b"], cents[:4]), "cluster")
    n16 = _plan_nodes(mli.kmeans_assign(df, ["a", "b"], cents), "cluster")
    # a plan of a·k + b nodes (b ≥ 0) grows at most 4× from k=4 to k=16; an
    # argmin chain that copies the running minimum per level grows 2^12×
    assert n4 < n16 <= 4 * n4, (n4, n16)


def test_kmeans_assign_null_feature_lands_in_cluster_0(spark):
    df = spark.createDataFrame(
        [(1, None, 12.0), (2, 149.0, 18.0), (3, 101.0, None)],
        "id int, value double, hr double",
    )
    init = [(50.0, 6.0), (100.0, 12.0), (150.0, 18.0)]
    got = {
        r["id"]: r["cluster"]
        for r in mli.kmeans_assign(df, ["value", "hr"], init).collect()
    }
    assert got == {1: 0, 2: 2, 3: 0}
    one = mli.kmeans_assign(df, ["value", "hr"], init[:1]).collect()
    assert [r["cluster"] for r in one] == [0, 0, 0]


def test_gmm_em_vs_numpy(spark, events_pdf):
    init = mli.Gmm1D(pi=(0.5, 0.5), mu=(50.0, 150.0), sigma=(25.0, 25.0))
    df = load_table(spark, SF_DIR, "events")
    out = mli.gmm_em_1d(df, "value", init, iters=4)

    x = events_pdf["value"].to_numpy()
    pi, mu, sg = np.array(init.pi), np.array(init.mu), np.array(init.sigma)
    for _ in range(4):
        p = pi * np.exp(-(((x[:, None] - mu) / sg) ** 2) / 2) / (
            sg * math.sqrt(2 * math.pi)
        )
        r = p / p.sum(axis=1, keepdims=True)
        n = r.sum(axis=0)
        mu = (r * x[:, None]).sum(axis=0) / n
        var = np.maximum((r * x[:, None] ** 2).sum(axis=0) / n - mu**2, 1e-9)
        pi, sg = n / len(x), np.sqrt(var)
    np.testing.assert_allclose(out.mu, mu, rtol=1e-7)
    np.testing.assert_allclose(out.pi, pi, rtol=1e-7)
    np.testing.assert_allclose(out.sigma, sg, rtol=1e-7)


def test_gaussian_nb_vs_numpy(spark, events_pdf):
    df = load_table(spark, SF_DIR, "events")
    params = mli.gaussian_nb_fit(df, "event_type", "value")
    assert abs(sum(p for p, _, _ in params.values()) - 1.0) < 1e-9
    pdf = load_table(spark, SF_DIR, "events").select("event_type", "value").toPandas()
    for cls, (prior, mu, var) in params.items():
        sub = pdf[pdf.event_type == cls]["value"]
        assert abs(prior - len(sub) / len(pdf)) < 1e-12
        np.testing.assert_allclose(mu, sub.mean(), rtol=1e-9)
        np.testing.assert_allclose(var, sub.var(ddof=1), rtol=1e-9)


def test_mllib_tfidf_pipeline(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(100)
    out = mli.mllib_tfidf_top_terms(docs)
    rows = out.collect()
    assert len(rows) == 100
    v = rows[0]["tfidf"]
    assert v.numNonzeros() > 0
    assert all(x >= 0 for x in v.values)


def test_logreg_predict_and_accuracy(spark):
    df = load_table(spark, SF_DIR, "events").select(
        (F.col("value") / 100.0).alias("x"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
    )
    w = mli.logreg_gd(df, ["x"], "y", lr=0.5, iters=5)
    scored = mli.logreg_predict(df, w, ["x"])
    acc = mli.accuracy(scored, "y", "pred")
    base_rate = df.agg(F.avg("y")).collect()[0][0]
    # purchase is ~20% of events; predicting majority class achieves 1-rate,
    # the fitted model must do at least that well
    assert acc >= 1.0 - base_rate - 1e-9
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_gaussian_nb_predict_matches_numpy(spark, events_pdf):
    df = load_table(spark, SF_DIR, "events")
    params = mli.gaussian_nb_fit(df, "event_type", "value")
    scored = mli.gaussian_nb_predict(df.select("event_type", "value"), params, "value")
    got = [(r["value"], r["pred"]) for r in scored.collect()]

    import math as m

    classes = sorted(params)
    def np_pred(x):
        best, best_s = None, None
        for cls in classes:
            prior, mu, var = params[cls]
            s = m.log(prior) - 0.5 * m.log(2 * m.pi * var) - (x - mu) ** 2 / (2 * var)
            if best_s is None or s > best_s:
                best, best_s = cls, s
        return best
    for x, pred in got[:500]:
        assert pred == np_pred(x)


def test_kmeans_assign_partitions_all_rows(spark):
    init = [(50.0, 6.0), (100.0, 12.0), (150.0, 18.0)]
    df = load_table(spark, SF_DIR, "events").select(
        "value", F.hour("ts").cast("double").alias("hr")
    )
    cents, _ = mli.kmeans_fit(df, ["value", "hr"], init, iters=3)
    assigned = mli.kmeans_assign(df, ["value", "hr"], cents)
    counts = {r["cluster"]: r["count"] for r in assigned.groupBy("cluster").count().collect()}
    assert sum(counts.values()) == df.count()
    assert set(counts) <= {0, 1, 2}


def test_model_save_load_roundtrip(tmp_path, spark):
    df = load_table(spark, SF_DIR, "events")
    params = mli.gaussian_nb_fit(df, "event_type", "value")
    p = str(tmp_path / "nb.json")
    mli.save_model(params, p)
    back = mli.load_model(p)
    assert set(back) == set(params)
    for cls in params:
        assert all(
            abs(a - b) < 1e-12 for a, b in zip(params[cls], back[cls])
        )


def test_knn_classify_matches_numpy(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    rows = emb.collect()
    query = list(rows[7]["embedding"])

    pred, neighbours = mli.knn_classify(emb, query, k=10)
    assert len(neighbours) == 10

    # numpy mirror
    import numpy as np
    from collections import Counter

    M = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    labels = np.array([r["label"] for r in rows])
    qv = np.array(query, dtype=np.float64)
    cos = (M @ qv) / (np.linalg.norm(M, axis=1) * np.linalg.norm(qv))
    order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))[:10]
    votes = Counter(labels[i] for i in order)
    want = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))[0]
    assert pred == want
    assert [n[0] for n in neighbours] == [int(ids[i]) for i in order]


def test_pca_power_matches_numpy_eigh(spark):
    import numpy as np

    from mapreduce_machine_learning_spark.io import load_table
    from mapreduce_machine_learning_spark.ml_iterative import pca_power

    li = load_table(spark, SF_DIR, "lineitem")
    cols = ["l_quantity", "l_discount", "l_tax"]
    v, lam, cov = pca_power(li, cols)
    # covariance must equal the numpy covariance of the raw columns
    X = np.array(li.select(*cols).collect(), dtype="float64")
    np.testing.assert_allclose(cov, np.cov(X, rowvar=False), rtol=1e-9)
    # top eigenpair must match eigh (sign-free comparison)
    w_np, v_np = np.linalg.eigh(cov)
    assert abs(lam - w_np[-1]) < 1e-9 * max(1.0, abs(w_np[-1]))
    assert abs(abs(v @ v_np[:, -1]) - 1.0) < 1e-9


def test_logreg_irls_vs_numpy(spark, events_pdf):
    df = load_table(spark, SF_DIR, "events").select(
        (F.col("value") / 100.0).alias("x"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
    )
    w = mli.logreg_irls(df, ["x"], "y", iters=4)

    X = np.column_stack(
        [np.ones(len(events_pdf)), events_pdf["value"].to_numpy() / 100.0]
    )
    y = events_pdf["y"].to_numpy()
    w_np = np.zeros(2)
    for _ in range(4):
        s = 1.0 / (1.0 + np.exp(-X @ w_np))
        g = X.T @ (s - y)
        H = (X * (s * (1.0 - s))[:, None]).T @ X
        w_np = w_np - np.linalg.solve(H + 1e-8 * np.eye(2), g)
    np.testing.assert_allclose(w, w_np, rtol=1e-6)

    # Newton should be (much) closer to the optimum than 4 GD steps:
    # compare mean log-loss on the training data
    def loss(wv):
        z = X @ wv
        return float(np.mean(np.log1p(np.exp(-np.where(y > 0, z, -z)))))

    w_gd = mli.logreg_gd(df, ["x"], "y", lr=0.5, iters=4)
    assert loss(w) <= loss(np.asarray(w_gd)) + 1e-12


def test_bpe_train_matches_python(spark):
    """The distributed BPE trainer must reproduce a sequential pure-python
    BPE (same greedy left-to-right merge, same count-DESC/pair-ASC argmax)
    on the same corpus."""
    from collections import Counter

    from mapreduce_machine_learning_spark.io import load_table
    from mapreduce_machine_learning_spark.ml_iterative import bpe_train

    docs = load_table(spark, SF_DIR, "documents")
    got = bpe_train(docs, n_merges=5)

    toks = [
        list(t)
        for r in docs.select("text").collect()
        for t in r["text"].split(" ")
        if len(t) >= 2
    ]
    expected = []
    for _ in range(5):
        counts = Counter()
        for arr in toks:
            for x, y in zip(arr, arr[1:]):
                counts[(x, y)] += 1
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        expected.append(best)
        a, b = best
        new_toks = []
        for arr in toks:
            res, i = [], 0
            while i < len(arr):
                if i + 1 < len(arr) and arr[i] == a and arr[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(arr[i])
                    i += 1
            if len(res) >= 2:
                new_toks.append(res)
        toks = new_toks
    assert got == expected
    assert len(got) == 5


def test_mllib_gaussian_nb_matches_summation_form(spark):
    """MLlib's gaussian NaiveBayes must agree with the one-pass class-moment
    fit (priors exactly; means/variances to MLlib's internal precision —
    MLlib uses the ML population variance with its own smoothing, so the
    comparison is loose on sigma, tight on prior and mean)."""
    from mapreduce_machine_learning_spark.io import load_table
    from mapreduce_machine_learning_spark.ml_iterative import (
        gaussian_nb_fit,
        mllib_gaussian_nb,
    )

    ev = load_table(spark, SF_DIR, "events")
    ours = gaussian_nb_fit(ev, "event_type", "value")
    theirs = mllib_gaussian_nb(ev, "event_type", "value")
    assert set(ours) == set(theirs)
    for lab in ours:
        prior, mean, var = ours[lab]
        mprior, mmean, mvar = theirs[lab]
        assert abs(prior - mprior) < 1e-6
        assert abs(mean - mmean) < 1e-6
        assert abs(var - mvar) / var < 0.05  # sample-vs-population + smoothing


def test_mllib_gmm_recovers_similar_components(spark):
    """MLlib GaussianMixture and the closed-form EM driver start from
    different initializations, so assert agreement at the distribution
    level: component means bracket the data the same way (sorted means
    within a loose tolerance of the custom EM fit's)."""
    from mapreduce_machine_learning_spark.io import load_table
    from mapreduce_machine_learning_spark.ml_iterative import (
        Gmm1D,
        gmm_em_1d,
        mllib_gmm_1d,
    )

    ev = load_table(spark, SF_DIR, "events")
    ours = gmm_em_1d(
        ev, "value", Gmm1D((0.5, 0.5), (50.0, 150.0), (25.0, 25.0)), 10
    )
    weights, means, stds = mllib_gmm_1d(ev, "value", k=2, iters=30)
    assert abs(sum(weights) - 1.0) < 1e-6
    our_means = sorted(ours.mu)
    for om, mm in zip(our_means, means):
        # same component structure, not bit equality: different inits and
        # different convergence criteria
        assert abs(om - mm) < 0.35 * max(abs(om), 1.0)
    assert all(s > 0 for s in stds)


def test_sums_matches_agg_collect(spark):
    """The observed single-stage action returns what agg().collect() does:
    on the table as loaded, on 8 partitions (the driver merges 8 buffers)
    and on an empty frame (count 0, every other aggregate null)."""
    ev = load_table(spark, SF_DIR, "events")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.avg("value").alias("a"),
        F.var_samp("value").alias("v"),
    ]
    for df in (ev, ev.repartition(8)):
        got = mli._sums(df, *aggs)
        want = df.agg(*aggs).collect()[0].asDict()
        assert got["n"] == want["n"] == 1000
        for k in ("s", "a", "v"):
            assert got[k] == pytest.approx(want[k], rel=1e-12), k
    empty = ev.filter(F.lit(False))
    assert mli._sums(empty, *aggs) == empty.agg(*aggs).collect()[0].asDict()
    assert mli._sums(empty, *aggs) == {"n": 0, "s": None, "a": None, "v": None}


def _fit_calls(spark):
    """(name, call, jobs it may run) for every summation-form fit."""
    ev = load_table(spark, SF_DIR, "events")
    pts = ev.select("value", F.hour("ts").cast("double").alias("hr"))
    lab = ev.select(
        (F.col("value") / 100.0).alias("x"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
    )
    init = [(50.0, 6.0), (100.0, 12.0), (150.0, 18.0)]
    gmm = mli.Gmm1D(pi=(0.5, 0.5), mu=(50.0, 150.0), sigma=(25.0, 25.0))
    w = np.array([-1.0, 0.5])
    return lab, [
        ("linreg_normal", lambda: mli.linreg_normal(pts, ["hr"], "value"), 1),
        ("logreg_gd", lambda: mli.logreg_gd(lab, ["x"], "y", iters=5), 5),
        ("logreg_irls", lambda: mli.logreg_irls(lab, ["x"], "y", iters=3), 3),
        ("kmeans_fit", lambda: mli.kmeans_fit(pts, ["value", "hr"], init, 4), 4),
        ("gmm_em_1d", lambda: mli.gmm_em_1d(ev, "value", gmm, iters=3), 3),
        ("pca_power", lambda: mli.pca_power(pts, ["value", "hr"]), 1),
        (
            "accuracy",
            lambda: mli.accuracy(mli.logreg_predict(lab, w, ["x"]), "y", "pred"),
            1,
        ),
    ]


def test_summation_form_fits_run_one_single_stage_job_per_pass(spark):
    """Each pass over the data is one job of one stage: a per-iteration
    shuffle (agg().collect() under AQE is two jobs) or a separate count
    would fail this loudly. gaussian_nb_fit keeps its groupBy — classes are
    unknown up front — and may run at most 2 jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    _, calls = _fit_calls(spark)
    ev = load_table(spark, SF_DIR, "events")
    calls.append(
        ("gaussian_nb_fit", lambda: mli.gaussian_nb_fit(ev, "event_type", "value"), 2)
    )
    for name, call, want in calls:
        group = f"job-count-{name}"
        sc.setJobGroup(group, name)
        try:
            call()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        jobs = tracker.getJobIdsForGroup(group)
        if name == "gaussian_nb_fit":
            assert 1 <= len(jobs) <= want, (name, len(jobs))
            continue
        assert len(jobs) == want, (name, len(jobs))
        for j in jobs:
            assert len(tracker.getJobInfo(j).stageIds) == 1, (name, j)


def _cached_rdds(spark):
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_fits_release_their_cache_and_keep_the_callers(spark):
    """A fit caches only the projection it owns and unpersists it before
    returning; a frame the caller cached stays cached."""
    lab, calls = _fit_calls(spark)
    before = _cached_rdds(spark)
    for name, call, _ in calls:
        call()
        assert _cached_rdds(spark) == before, name
    lab.cache()
    try:
        lab.count()
        held = _cached_rdds(spark)
        assert len(held) == len(before) + 1
        mli.logreg_gd(lab, ["x"], "y", iters=2)
        mli.logreg_irls(lab, ["x"], "y", iters=2)
        assert _cached_rdds(spark) == held
        assert spark._jsparkSession.sharedState().cacheManager().lookupCachedData(
            lab._jdf
        ).isDefined()
    finally:
        lab.unpersist(blocking=True)
