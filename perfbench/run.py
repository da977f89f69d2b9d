"""Layered benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload ml_train --seed 1 --seconds 15 --trace 0

Run from the repository root. A run:

1. generates the workload's inputs from the seed (``datagen.py``) under
   ``.perfbench/`` in the current directory;
2. computes reference results in a separate process (``reference.py``);
3. starts a fresh measuring process (``measure.py``) that sets up a Spark
   session, runs one cold pass and one warm-up pass of the workload's
   calls and then measured passes for ``--seconds``, at least three;
4. checks every call's output against its reference, outside all timed
   windows, and prints the metrics.

With ``--trace 0`` it prints the end-to-end metrics; with ``--trace 1`` it
alternates untraced and traced measured passes and prints the per-layer
metrics of the traced ones, the tracing overhead, and writes the spans to
``.perfbench/trace-<workload>-<seed>.json``. The last line of standard
output is one JSON object. The exit code is non-zero when any call failed
or differed from its reference.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fits  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PACKAGE = "mapreduce_machine_learning_spark"
DEADLINE_S = 170  # a run must end within 180 s

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}
# per-layer metrics: name -> (unit, how a pass total is formed from calls).
# cold_run_s is here and not end to end: it is one sample per fresh process,
# and its run-to-run spread (20-26% on a 4-core host with CPU steal) is too
# close to the largest bound an end-to-end metric may have.
PER_LAYER = {
    "cold_run_s": ("s", None),
    "build_s": ("s", "sum"),
    "build_jobs": ("count", "sum"),
    "plan_s": ("s", "sum"),
    "execute_s": ("s", "sum"),
    "jobs": ("count", "sum"),
    "stages": ("count", "sum"),
    "idle_s": ("s", "sum"),
    "busy_s": ("s", "sum"),
    "tasks": ("count", "sum"),
    "executor_run_s": ("s", "sum"),
    "executor_cpu_s": ("s", "sum"),
    "gc_s": ("s", "sum"),
    "deser_s": ("s", "sum"),
    "parallelism": ("ratio", None),
    "input_bytes": ("B", "sum"),
    "input_rows": ("count", "sum"),
    "shuffle_write_bytes": ("B", "sum"),
    "shuffle_read_bytes": ("B", "sum"),
    "broadcast_bytes": ("B", "sum"),
    "spill_bytes": ("B", "sum"),
    "peak_exec_mem_bytes": ("B", "max"),
    "python_run_s": ("s", "sum"),
    "python_start_s": ("s", "sum"),
    "python_bytes_sent": ("B", "sum"),
    "python_bytes_returned": ("B", "sum"),
    "memo_entries": ("count", None),
    "memo_reads": ("count", "sum"),
    "cache_resident_bytes": ("B", None),
    "jit_ms": ("ms", "sum"),
    "trace_overhead_s": ("s", None),
}


def _run_s(ps: dict) -> float:
    return sum(c.get("wall_s", 0.0) for c in ps["calls"])


def check_outputs(passes, ref) -> tuple[int, int, list[str]]:
    """``(attempted, failed, messages)`` over every call of every pass."""
    attempted = failed = 0
    msgs = []
    for ps in passes:
        for c in ps["calls"]:
            attempted += 1
            name = c["call"]
            if "error" in c:
                ok, why = False, c["error"].strip().splitlines()[-1]
            elif c["kind"] == "query":
                ok, why = c["output"] == ref["queries"][name], f"got {c['output']}"
            else:
                ok, why = fits.close(c["output"], ref["fits"][name]), f"got {c['output']}"
            if not ok:
                failed += 1
                msgs.append(f"pass {ps['pass']} {name}: {why}")
    return attempted, failed, msgs


# build + plan + execute is read from the wall clock and wall_s from the
# monotonic clock, so they differ by the cost of the clock reads
WALL_TOL_S = 1e-3
# the status store keeps stage times in whole milliseconds, so a stage
# submitted just after the execute phase starts can read up to 1 ms before it
STAGE_TOL_S = 2e-3


def identities_hold(rec: dict) -> bool:
    """build + plan + execute == wall, and busy + idle == execute. The
    second fails when a stage of the execute phase's jobs lies outside the
    execute window (see ``layers.busy_idle``)."""
    return (
        abs(rec["build_s"] + rec["plan_s"] + rec["execute_s"] - rec["wall_s"]) <= WALL_TOL_S
        and abs(rec["busy_s"] + rec["idle_s"] - rec["execute_s"]) <= STAGE_TOL_S
    )


def layer_totals(ps: dict) -> dict:
    """Per-layer metrics of one traced pass."""
    calls = [c for c in ps["calls"] if "error" not in c]
    out = {}
    for name, (_unit, how) in PER_LAYER.items():
        if how == "sum":
            out[name] = sum(c[name] for c in calls)
        elif how == "max":
            out[name] = max((c[name] for c in calls), default=0)
    span = sum(c["stage_span_s"] for c in calls)
    out["parallelism"] = sum(c["executor_run_s"] for c in calls) / span if span else 0.0
    out["memo_entries"] = ps["memo_entries"]
    out["cache_resident_bytes"] = ps["cache_resident_bytes"]
    return out


def _items(input_dir: str, table: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(input_dir, f"{table}.parquet")).metadata.num_rows


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _end_group(pgid: int, grace_s: float) -> None:
    """Wait up to ``grace_s`` for every process of the group (the JVM and
    Python workers the child started) to exit, then kill what is left."""
    end = time.time() + grace_s
    while _group_alive(pgid) and time.time() < end:
        time.sleep(0.1)
    if _group_alive(pgid):
        os.killpg(pgid, signal.SIGKILL)
        end = time.time() + 5.0  # killed processes are gone once reaped
        while _group_alive(pgid) and time.time() < end:
            time.sleep(0.1)


def run_child(argv, env, deadline: float) -> int:
    """Run a child in its own process group and return its exit code once
    the whole group has ended. The group is killed if the child outlives
    the deadline."""
    proc = subprocess.Popen(argv, env=env, start_new_session=True, stdout=sys.stderr)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except BaseException:  # the deadline, or an interrupt: leave nothing running
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        _end_group(proc.pid, 0)
        raise
    _end_group(proc.pid, 10.0)
    return code


def _print_metric(name, value, unit) -> None:
    print(f"{name:24s} {value:14.4f} {unit}")


def _report_trace(passes, spans, path) -> None:
    for ps in passes:
        if not ps["traced"]:
            continue
        print(f"-- traced pass {ps['pass']}: per call")
        for c in ps["calls"]:
            if "error" in c:
                continue
            fields = " ".join(
                f"{k}={c[k]:.4g}" for k in PER_LAYER if k in c
            )
            print(f"{c['call']:26s} wall_s={c['wall_s']:.4f} {fields}")
    by_kind: dict = {}
    for s in spans:
        by_kind[s["kind"]] = by_kind.get(s["kind"], 0.0) + s["self_s"]
    print("-- self time by span kind (s): " + ", ".join(f"{k}={v:.3f}" for k, v in by_kind.items()))
    print(f"-- spans written to {path}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    # a terminated run still stops the processes it started (run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"{PACKAGE}/ not found in {root}: run from the repository root", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        # Python workers import the package from any working directory
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
    )
    input_dir = w.input_dir(work, args.seed)
    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    ref_path = os.path.join(tmp, f"ref-{tag}.json")
    cfg_path = os.path.join(tmp, f"cfg-{tag}.json")
    result_path = os.path.join(tmp, f"result-{tag}.json")
    try:
        code = run_child(
            [sys.executable, os.path.join(HERE, "reference.py"), args.workload,
             input_dir, str(args.seed), ref_path, os.path.join(work, "refs")],
            env, deadline,
        )
        if code != 0:
            print(f"reference computation failed ({code})", file=sys.stderr)
            return 2
        with open(ref_path) as f:
            ref = json.load(f)
        cfg = {
            "input_dir": input_dir,
            "work_dir": work,
            "calls": w.calls(args.seed),
            "params": w.params(args.seed),
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "result_path": result_path,
            "spawn_time": time.time(),
        }
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        code = run_child(
            [sys.executable, os.path.join(HERE, "measure.py"), cfg_path], env, deadline
        )
        if code != 0:
            print(f"measuring process failed ({code})", file=sys.stderr)
            return 2
        with open(result_path) as f:
            res = json.load(f)
    finally:
        for p in (ref_path, cfg_path, result_path):
            if os.path.exists(p):
                os.remove(p)

    passes = res["passes"]
    attempted, failed, msgs = check_outputs(passes, ref)
    for m in msgs:
        print("MISMATCH", m, file=sys.stderr)
    correct = failed == 0
    warm = [ps for ps in passes if ps["measured"] and not ps["traced"]]
    run_s = statistics.median(_run_s(ps) for ps in warm)
    print(f"workload {args.workload} seed {args.seed}: {len(passes)} passes "
          f"(1 cold, 1 warm-up, {len(warm)} measured untraced), "
          f"{len(passes[0]['calls'])} calls each")
    _print_metric("error_rate", failed / attempted, "ratio")
    if args.trace:
        traced = [ps for ps in passes if ps["traced"]]
        calls = [c for ps in traced for c in ps["calls"] if "error" not in c]
        bad = [c["call"] for c in calls if not identities_hold(c)]
        if bad:
            print(f"layer identities do not hold for {bad}", file=sys.stderr)
            correct = False
        totals = [layer_totals(ps) for ps in traced]
        medians = {k: statistics.median(t[k] for t in totals) for k in totals[0]}
        medians["cold_run_s"] = _run_s(passes[0])
        medians["trace_overhead_s"] = statistics.median(_run_s(ps) for ps in traced) - run_s
        values = {k: medians[k] for k in PER_LAYER}
        units = {k: u for k, (u, _how) in PER_LAYER.items()}
        trace_path = os.path.join(work, f"trace-{args.workload}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"passes": passes, "spans": res["spans"]}, f)
        _report_trace(passes, res["spans"], trace_path)
    else:
        items = _items(input_dir, w.items_table)
        values = {
            "setup_s": res["setup_s"],
            "run_s": run_s,
            "items_per_s": items / run_s if run_s else 0.0,  # 0 only if every call failed
            "peak_rss_mb": statistics.median(ps["peak_rss_mb"] for ps in warm),
        }
        units = END_TO_END
    for k, v in values.items():
        _print_metric(k, v, units[k])
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
