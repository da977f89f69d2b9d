"""The measuring process: one fresh Python process per benchmark run, so
that its set-up is the set-up a user of the engine pays.

    python3 perfbench/measure.py CONFIG_JSON

It starts the Spark session, runs a cold pass and then warm passes of the
workload's calls in one client thread (a closed loop), and writes every
call's timings, output digest and, in traced passes, its per-layer record
to the result file named in the config. It compares nothing; run.py does.

A call is timed in three parts: the query-function call (build), forcing
the physical plan (Catalyst) and ``collect()`` (execute). A fit is a driver
loop of its own collects and is timed whole, as execute. The call's wall
time is read from a clock of its own, so that run.py can check that the
three parts add up to it. In a traced pass
every phase runs under its own job group, and after the call the layer
record is read from Spark's status stores: jobs and stages from the
application store, SQL node metrics from the SQL store.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402

MIN_MEASURED = 3


def _heap_mb() -> int:
    """Driver heap: a quarter of physical memory, at most 2 GiB — well below
    RAM on a host whose memory other processes share. It is reserved whole
    at start (-Xms) and its young generation has a fixed quarter of it
    (-Xmn): a heap or a young generation that the collector resizes makes
    the process's resident size depend on when it chose to resize. Pages
    are still touched on demand, so the old generation the engine fills
    shows in the resident size."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return min(2048, phys // 4)


def start_session(work_dir: str):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    heap = _heap_mb()
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap}m")
        .config("spark.driver.extraJavaOptions", f"-Xms{heap}m -Xmn{heap // 4}m -Djava.io.tmpdir={local}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(8, cores)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ------------------------------------------------------- process memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces; fields resume after ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and its descendants: the driver JVM and its Python workers."""
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def reset_peak_rss(pids) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")  # resets VmHWM to the current RSS
        except OSError:
            pass


def peak_rss_kb(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total


# ------------------------------------------------------ status-store reads


class StatusReader:
    """Per-call layer records from Spark's status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.app = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.jit = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        self.q_max = self.sc._gateway.new_array(spark._jvm.double, 1)
        self.q_max[0] = 1.0

    def jit_ms(self) -> int:
        return self.jit.getTotalCompilationTime()

    def sql_watermark(self) -> int:
        return self.sql.executionsCount()

    def drain(self) -> None:
        # status stores are written by listeners, after the action returns
        self.bus.waitUntilEmpty(30000)

    def cache_resident_bytes(self) -> int:
        return sum(
            i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo()
        )

    def _opt_ms(self, opt):
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    def read_call(self, group: str, phases, sql_from: int) -> tuple[dict, list, list]:
        """Layer counters of one call whose phases ran under job groups
        ``{group}-{phase}``; returns ``(counters, jobs, stages)`` where jobs
        and stages are span dicts for the trace."""
        self.drain()
        tracker = self.sc.statusTracker()
        c = dict.fromkeys(
            (
                "build_jobs", "jobs", "stages", "tasks", "executor_run_s",
                "executor_cpu_s", "gc_s", "deser_s", "input_bytes", "input_rows",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "broadcast_bytes", "python_run_s", "python_start_s",
                "python_bytes_sent", "python_bytes_returned", "memo_reads",
            ),
            0,
        )
        c["peak_exec_mem_bytes"] = 0
        jobs, stages, seen = [], [], set()
        for phase in phases:
            for jid in tracker.getJobIdsForGroup(f"{group}-{phase}"):
                jd = self.app.job(jid)
                start, end = self._opt_ms(jd.submissionTime()), self._opt_ms(jd.completionTime())
                jobs.append({"job": jid, "phase": phase, "start": start, "end": end})
                c["jobs"] += 1
                c["build_jobs"] += phase == "build"
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    st = self._stage(sid, jid, phase, start, c)
                    if st:
                        stages.append(st)
        self._sql_metrics(sql_from, c)
        return c, jobs, stages

    def _stage(self, sid: int, jid: int, phase: str, job_start, c: dict):
        try:
            sd = self.app.lastStageAttempt(sid)
        except Exception:  # py4j error: stage evicted or never registered
            return None
        start, end = self._opt_ms(sd.submissionTime()), self._opt_ms(sd.completionTime())
        if start is None or end is None:  # skipped: its shuffle output was reused
            return None
        if job_start is not None and start < job_start:
            return None  # run by an earlier job, whose shuffle output this one reuses
        c["stages"] += 1
        c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        c["executor_run_s"] += sd.executorRunTime() / 1e3
        c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        c["gc_s"] += sd.jvmGcTime() / 1e3
        c["deser_s"] += sd.executorDeserializeTime() / 1e3
        c["input_bytes"] += sd.inputBytes()
        c["input_rows"] += sd.inputRecords()
        c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        c["shuffle_read_bytes"] += sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead()
        c["spill_bytes"] += sd.diskBytesSpilled()
        # the stage's own figure sums its tasks; the largest task is the peak
        dist = self.app.taskSummary(sid, sd.attemptId(), self.q_max)
        if dist.isDefined():
            peak = dist.get().peakExecutionMemory().apply(0)
            c["peak_exec_mem_bytes"] = max(c["peak_exec_mem_bytes"], int(peak))
        return {"stage": sid, "job": jid, "phase": phase, "start": start, "end": end}

    def _sql_metrics(self, sql_from: int, c: dict) -> None:
        """Walk the SQL executions the call started. Every metric is read
        once per accumulator: a ReusedExchange node shares the accumulators
        of the exchange it reuses, and the plan of a cached frame appears
        in every execution that reads it."""
        n = self.sql.executionsCount() - sql_from
        if n <= 0:
            return
        seen = set()
        for ex in _iter(self.sql.executionsList(sql_from, n)):
            eid = ex.executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for node in _iter(nodes):
                name = node.name()
                c["memo_reads"] += name == "InMemoryTableScan"
                for m in _iter(node.metrics()):
                    acc = m.accumulatorId()
                    if acc in seen or not values.contains(acc):
                        continue
                    seen.add(acc)
                    _add_sql_metric(c, name, m.name(), values.apply(acc))


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _add_sql_metric(c: dict, node: str, metric: str, text: str) -> None:
    if metric == "time to run Python workers":
        c["python_run_s"] += layers.parse_duration(text) or 0.0
    elif metric in ("time to start Python workers", "time to initialize Python workers"):
        c["python_start_s"] += layers.parse_duration(text) or 0.0
    elif metric == "data sent to Python workers":
        c["python_bytes_sent"] += layers.parse_size(text) or 0
    elif metric == "data returned from Python workers":
        c["python_bytes_returned"] += layers.parse_size(text) or 0
    elif metric == "data size" and node.startswith("BroadcastExchange"):
        c["broadcast_bytes"] += layers.parse_size(text) or 0


# ----------------------------------------------------------------- passes


class Runner:
    def __init__(self, spark, cfg):
        from mapreduce_machine_learning_spark import registry, runtime

        import fits

        self.spark = spark
        self.cfg = cfg
        self.queries = registry.all_queries()
        self.runtime = runtime
        self.fits = fits
        self.status = StatusReader(spark)
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def run_call(self, p: int, i: int, kind: str, name: str, traced: bool) -> dict:
        sc = self.spark.sparkContext
        group = f"perfbench-{p}-{i}"
        rec = {"call": name, "kind": kind}
        if traced:
            sql_from = self.status.sql_watermark()
            jit0 = self.status.jit_ms()
            sc.setJobGroup(f"{group}-build", name)
        try:
            # the whole call has its own clock reads, on the monotonic clock;
            # the phases use the wall clock the status store's times are on
            w0 = time.perf_counter()
            t0 = time.time()
            if kind == "query":
                df = self.queries[name](self.spark, self.cfg["input_dir"])
                t1 = time.time()
                if traced:
                    sc.setJobGroup(f"{group}-plan", name)
                df._jdf.queryExecution().executedPlan()
                t2 = time.time()
                if traced:
                    sc.setJobGroup(f"{group}-execute", name)
                rows = df.collect()
                t3 = time.time()
                w1 = time.perf_counter()
                rec["output"] = layers.result_digest(df.columns, [tuple(r) for r in rows])
            else:
                if traced:
                    sc.setJobGroup(f"{group}-execute", name)
                t1 = t2 = t0
                value = self.fits.spark_fit(name, self.spark, self.cfg["input_dir"], self.cfg["params"])
                t3 = time.time()
                w1 = time.perf_counter()
                rec["output"] = value
        except Exception:  # one failing call is counted, the run goes on
            rec["error"] = traceback.format_exc(limit=3)
            return rec
        finally:
            if traced:
                sc._jsc.clearJobGroup()
        rec.update(start=t0, build_s=t1 - t0, plan_s=t2 - t1, execute_s=t3 - t2, wall_s=w1 - w0)
        if traced:
            rec["jit_ms"] = self.status.jit_ms() - jit0
            counters, jobs, stages = self.status.read_call(
                group, ("build", "plan", "execute"), sql_from
            )
            rec.update(counters)
            executed = [(s["start"], s["end"]) for s in stages if s["phase"] == "execute"]
            rec["busy_s"], rec["idle_s"] = layers.busy_idle(executed, t2, t3)
            rec["stage_span_s"] = layers.union_length((s["start"], s["end"]) for s in stages)
            rec["_jobs"], rec["_stages"] = jobs, stages
        return rec

    def run_pass(self, p: int, calls, traced: bool, measured: bool) -> dict:
        pids = process_tree(self.jvm_pid)
        reset_peak_rss(pids)
        start = time.time()
        recs = [self.run_call(p, i, k, n, traced) for i, (k, n) in enumerate(calls)]
        end = time.time()
        out = {
            "pass": p,
            "traced": traced,
            "measured": measured,
            "start": start,
            "end": end,
            "calls": recs,
            # workers started during the pass are counted as well
            "peak_rss_mb": peak_rss_kb(set(pids) | set(process_tree(self.jvm_pid))) / 1024,
            "memo_entries": self.runtime.memo_count(),
        }
        if traced:
            out["cache_resident_bytes"] = self.status.cache_resident_bytes()
        # hygiene between passes: ml_iterative caches its inputs and never
        # unpersists them, so without this a later pass would read data an
        # earlier one cached
        self.runtime.release_all()
        self.spark.catalog.clearCache()
        # shuffle files and broadcast blocks of the pass are freed by Spark's
        # ContextCleaner only once the driver JVM collects their handles;
        # without a collection here they pile up and later passes slow down
        self.spark._jvm.System.gc()
        return out


def _trace_spans(passes, run_start: float, run_end: float) -> list[dict]:
    """run → pass → call → build/plan/execute → job → stage spans of the
    traced passes, built from the records after the run."""
    spans: list[dict] = []

    def span(kind, name, start, end, parent) -> int:
        spans.append(
            {"id": len(spans), "kind": kind, "name": name, "start": start, "end": end, "parent": parent}
        )
        return len(spans) - 1

    root = span("run", "run", run_start, run_end, None)
    for ps in passes:
        if not ps["traced"]:
            continue
        pid = span("pass", str(ps["pass"]), ps["start"], ps["end"], root)
        for c in ps["calls"]:
            if "error" in c:
                continue
            t0 = c["start"]
            t1 = t0 + c["build_s"]
            t2 = t1 + c["plan_s"]
            t3 = t2 + c["execute_s"]
            cid = span("call", c["call"], t0, t3, pid)
            phase = {
                "build": span("build", c["call"], t0, t1, cid),
                "plan": span("plan", c["call"], t1, t2, cid),
                "execute": span("execute", c["call"], t2, t3, cid),
            }
            job_span = {}
            for j in c.pop("_jobs"):
                if j["start"] is not None and j["end"] is not None:
                    job_span[j["job"]] = span(
                        "job", str(j["job"]), j["start"], j["end"], phase[j["phase"]]
                    )
            for s in c.pop("_stages"):
                if s["job"] in job_span:
                    span("stage", str(s["stage"]), s["start"], s["end"], job_span[s["job"]])
    return spans


def main(config_path: str) -> None:
    with open(config_path) as f:
        cfg = json.load(f)
    spark = start_session(cfg["work_dir"])
    from mapreduce_machine_learning_spark import registry

    registry.all_queries()  # importing every operator module is set-up
    setup_s = time.time() - cfg["spawn_time"]
    try:
        runner = Runner(spark, cfg)
        calls = [tuple(c) for c in cfg["calls"]]
        run_start = time.time()
        passes = [runner.run_pass(0, calls, traced=False, measured=False)]  # cold
        # the first warm pass is not measured either: JIT compilation still
        # runs through it, and it was the slowest warm pass of every run
        # profiled
        passes.append(runner.run_pass(1, calls, traced=False, measured=False))
        # measured passes for the configured time, and at least MIN_MEASURED
        # untraced ones so that their median sets one outlier aside. A traced
        # run alternates untraced and traced passes, starting and ending
        # untraced, so the tracing overhead is not confounded with a trend
        measured_start = time.time()
        untraced = 0
        while True:
            passes.append(runner.run_pass(len(passes), calls, traced=False, measured=True))
            untraced += 1
            if untraced >= MIN_MEASURED and time.time() - measured_start >= cfg["seconds"]:
                break
            if cfg["trace"]:
                passes.append(runner.run_pass(len(passes), calls, traced=True, measured=True))
        run_end = time.time()
        result = {"setup_s": setup_s, "passes": passes}
        if cfg["trace"]:
            spans = _trace_spans(passes, run_start, run_end)
            selfs = layers.self_times(spans)
            for s in spans:
                s["self_s"] = selfs[s["id"]]
            result["spans"] = spans
        with open(cfg["result_path"], "w") as f:
            json.dump(result, f)
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
