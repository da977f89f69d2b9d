"""Multi-executor deployment parity (local-cluster mode).

``local-cluster[2,2,2048]`` launches two REAL executor JVMs with
serialized task dispatch, network shuffle fetch, and per-executor
memory — the closest a single box gets to a multi-machine deployment,
and the rig that caught the round-7 ModuleNotFoundError: Arrow UDF
closures that reference package helpers are cloudpickled BY REFERENCE,
so they deserialize on an executor only if the package is importable
there. ``io._ship_package`` (the self-served ``--py-files`` equivalent)
ships a zip of the package over Spark's file server at ``prepare()``
time; this test pins that path by running a by-reference Arrow kernel
query (`q_llm_sim_threshold` — one of the three that failed before the
fix) plus a shuffle-heavy relational query against the DuckDB oracle
under the multi-JVM master, and two ``ml_iterative`` fits on a
4-partition frame against numpy, so the driver merges aggregation
buffers filled on both executor JVMs. Subprocess-isolated: one JVM gateway allows
one SparkContext, and the session fixture already owns it.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import glob
import os
import sys
sys.path.insert(0, {repo!r})
_zips_before = set(glob.glob("/tmp/mrml_spark_pkg_*.zip"))
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local-cluster[2,2,2048]")
    .appName("mrml-localcluster-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
from mapreduce_machine_learning_spark.io import duckdb_connect
from tests.parity import assert_parity
sf = "/root/testdata/sf0.001"
con = duckdb_connect(sf)
qs, oracles = e.queries(), e.oracle_sql()
for name in ("q_llm_sim_threshold", "q_join_multi"):
    assert_parity(spark, name, qs[name], oracles[name], sf, con)
    print("LC_MATCH", name, flush=True)
# summation-form fits on 4 partitions: the driver merges aggregation
# buffers that tasks on BOTH executor JVMs filled
import numpy as np
from pyspark.sql import functions as F
from mapreduce_machine_learning_spark import ml_iterative as mli
from mapreduce_machine_learning_spark.io import load_table
ev = load_table(spark, sf, "events").repartition(4)
lab = ev.select(
    (F.col("value") / 100.0).alias("x"),
    F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
)
pts = ev.select("value", F.hour("ts").cast("double").alias("hr"))
L = lab.toPandas().to_numpy(dtype=float)
X, y = np.column_stack([np.ones(len(L)), L[:, 0]]), L[:, 1]
w_np = np.zeros(2)
for _ in range(8):
    w_np = w_np - 0.5 * X.T @ (1.0 / (1.0 + np.exp(-X @ w_np)) - y) / len(y)
w = mli.logreg_gd(lab, ["x"], "y", lr=0.5, iters=8)
np.testing.assert_allclose(w, w_np, rtol=1e-8)
print("LC_FIT logreg_gd", flush=True)
init = [(50.0, 6.0), (100.0, 12.0), (150.0, 18.0)]
P, C = pts.toPandas().to_numpy(dtype=float), np.array(init)
for _ in range(5):
    a = ((P[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    sizes = np.bincount(a, minlength=len(C))
    for i in range(len(C)):
        if sizes[i]:
            C[i] = P[a == i].mean(axis=0)
cents, got_sizes = mli.kmeans_fit(pts, ["value", "hr"], init, iters=5)
np.testing.assert_allclose(np.array(cents), C, rtol=1e-9)
assert list(got_sizes) == sizes.tolist(), (got_sizes, sizes)
print("LC_FIT kmeans_fit", flush=True)
n_exec = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
print("LC_EXECUTORS", n_exec, flush=True)
# the shipped package zip must exist for the app's whole LIFE (executors
# fetch it from the driver's file server, which serves the original
# path) but be removed at interpreter exit (ADVICE r7: mkstemp zips
# otherwise accumulate in /tmp forever). Report the zips THIS process
# created; the parent asserts they are gone after we exit.
for z in sorted(set(glob.glob("/tmp/mrml_spark_pkg_*.zip")) - _zips_before):
    print("LC_ZIP", z, flush=True)
spark.stop()
"""


def test_localcluster_multi_executor_parity():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO)],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.count("LC_MATCH") == 2, proc.stdout[-2000:]
    assert proc.stdout.count("LC_FIT") == 2, proc.stdout[-2000:]
    # driver + 2 executors registered in the memory status map
    exec_line = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("LC_EXECUTORS")
    ]
    assert exec_line and int(exec_line[0].split()[1]) >= 3, proc.stdout[-500:]
    # zip lifecycle (ADVICE r7): the multi-JVM run must have shipped at
    # least one package zip (it was alive while executors could fetch
    # it — the parity MATCHes above prove the fetch worked), and the
    # atexit cleanup must have removed it once the subprocess exited
    shipped = [
        ln.split(" ", 1)[1]
        for ln in proc.stdout.splitlines()
        if ln.startswith("LC_ZIP ")
    ]
    assert shipped, proc.stdout[-500:]
    leftover = [z for z in shipped if os.path.exists(z)]
    assert not leftover, f"zips not cleaned at exit: {leftover}"
