"""Per-layer readings of one query invocation, taken from outside the
program: Spark's status store (jobs, stages), its SQL status store (plan
operator metrics), the action's QueryPlanningTracker and the block
manager's storage info. All of these are populated with
``spark.ui.enabled=false``.

Layer names follow the package's modules: ``plans`` (driver-side build of
a registry ``fn``), ``catalyst`` (planning of the forced action), ``exec``
(executor JVM work), ``sources`` (parquet scans), ``operators``
(Python/Arrow workers and joins), ``memo`` (staged persists) and
``sinks`` (writes).
"""

MB = 1024.0 * 1024.0

_UNITS = {
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": MB,
    "GiB": MB * 1024.0,
    "TiB": MB * MB,
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}

# SQL metric name -> field of the query record (summed per query).
_PY_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_start_s",
    "data sent to Python workers": "py_sent_mb",
    "data returned from Python workers": "py_recv_mb",
}
_SCAN_METRICS = {
    "size of files read": "scan_mb",
    "number of output rows": "scan_rows",
    "scan time": "scan_s",
    "number of files read": "files_read",
}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric, in base units (bytes, seconds):
    ``'1,500'``, ``'347 ms'``, ``'5.0 KiB'``, or the multi-task form
    ``'total (min, med, max ...)\\n8.8 s (2.2 s, ...)'`` (its total)."""
    head = text.split("\n")[-1].split(" (")[0].replace(",", "").split()
    value = float(head[0])
    return value * _UNITS[head[1]] if len(head) > 1 else value


def interval_union(spans: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


class StoreReader:
    """Reads one query's jobs, stages and SQL executions after it ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_execs = self._sql.executionsCount()

    def settle(self) -> None:
        """Wait until listeners have processed every event posted so far,
        so the stores hold the finished query's final numbers."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def skip(self) -> None:
        """Ignore the SQL executions that ran so far (untraced work)."""
        self.settle()
        self._seen_execs = self._sql.executionsCount()

    def group_jobs(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs(self, job_ids) -> list[dict]:
        out = []
        for j in sorted(job_ids):
            jd = self._store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            out.append(
                {
                    "job": j,
                    "start": sub.get().getTime() / 1000.0,
                    "end": done.get().getTime() / 1000.0,
                    "stages": _seq(jd.stageIds()),
                }
            )
        return out

    def stages(self, stage_ids) -> dict:
        r = dict.fromkeys(
            (
                "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
                "shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s",
                "spill_mb", "output_mb", "output_rows",
            ),
            0.0,
        )
        for sid in sorted(set(stage_ids)):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - py4j raises NoSuchElement for unknown stages
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            r["stages"] += 1
            r["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            r["failed_tasks"] += sd.numFailedTasks()
            r["run_s"] += sd.executorRunTime() / 1e3
            r["cpu_s"] += sd.executorCpuTime() / 1e9
            r["gc_s"] += sd.jvmGcTime() / 1e3
            r["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            r["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            r["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
            r["spill_mb"] += sd.diskBytesSpilled() / MB
            r["output_mb"] += sd.outputBytes() / MB
            r["output_rows"] += sd.outputRecords()
        return r

    def sql(self) -> dict:
        """Operator metrics of the SQL executions started since the last
        call, deduplicated by accumulator (AQE re-plans repeat nodes)."""
        r = dict.fromkeys(
            ("py_run_s", "py_start_s", "py_sent_mb", "py_recv_mb", "files_written",
             "max_join_rows", *_SCAN_METRICS.values()),
            0.0,
        )
        count = self._sql.executionsCount()
        execs = _seq(self._sql.executionsList(self._seen_execs, count - self._seen_execs))
        self._seen_execs = count
        for e in execs:
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            seen: set[int] = set()
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                is_scan = name.startswith("Scan parquet")
                is_join = "Join" in name or name == "CartesianProduct"
                for m in _seq(node.metrics()):
                    acc = m.accumulatorId()
                    if acc in seen:
                        continue
                    metric = m.name()
                    field = _PY_METRICS.get(metric) or (_SCAN_METRICS.get(metric) if is_scan else None)
                    if metric == "number of written files":
                        field = "files_written"
                    if not (field or (is_join and metric == "number of output rows")):
                        continue
                    text = values.get(acc)
                    if text.isEmpty():
                        continue
                    seen.add(acc)
                    v = parse_metric(text.get())
                    if field is None:
                        r["max_join_rows"] = max(r["max_join_rows"], v)
                    elif field.endswith("_mb"):
                        r[field] += v / MB
                    else:
                        r[field] += v
        return r

    def staged(self) -> tuple[int, float]:
        """(persisted RDDs holding blocks, their MB) right now."""
        n, size = 0, 0.0
        for info in self._jsc.getRDDStorageInfo():
            if info.numCachedPartitions() > 0:
                n += 1
                size += (info.memSize() + info.diskSize()) / MB
        return n, size


def catalyst_phases(agg_df) -> dict:
    """Seconds per QueryPlanningTracker phase of an executed DataFrame."""
    phases = agg_df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name + "_s"] = p.get().durationMs() / 1e3 if p.isDefined() else 0.0
    return out


# Per-layer metric names printed by a traced run, with units.
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs_s": "s",
    "plans.build_driver_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.cold_s": "s",
    "cpu.driver_s": "s",
    "cpu.jvm_s": "s",
    "cpu.jit_s": "s",
    "cpu.workers_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.fetch_wait_s": "s",
    "exec.spill_mb": "MB",
    "exec.core_util": "ratio",
    "sources.input_mb": "MB",
    "sources.input_rows": "rows",
    "sources.scan_s": "s",
    "sources.files_read": "count",
    "operators.py_run_s": "s",
    "operators.py_start_s": "s",
    "operators.py_sent_mb": "MB",
    "operators.py_recv_mb": "MB",
    "operators.join_yield": "ratio",
    "memo.staged_rdds": "count",
    "memo.staged_mb": "MB",
    "sinks.output_mb": "MB",
    "sinks.output_rows": "rows",
    "sinks.files_written": "count",
    "trace.unattributed_s": "s",
    "trace.overhead_frac": "ratio",
}


def pass_layers(queries: list[dict], cores: int) -> dict:
    """Per-workload sums of one traced pass's query records."""

    def total(key):
        return sum(q[key] for q in queries)

    job_wall = total("build_jobs_s") + total("action_jobs_s")
    joined = [q for q in queries if q["max_join_rows"] > 0]
    joined_max = sum(q["max_join_rows"] for q in joined)
    return {
        "plans.build_s": total("build_s"),
        "plans.build_jobs_s": total("build_jobs_s"),
        "plans.build_driver_s": total("build_s") - total("build_jobs_s"),
        "catalyst.analysis_s": total("analysis_s"),
        "catalyst.optimization_s": total("optimization_s"),
        "catalyst.planning_s": total("planning_s"),
        "exec.jobs": total("jobs"),
        "exec.stages": total("stages"),
        "exec.tasks": total("tasks"),
        "exec.failed_tasks": total("failed_tasks"),
        "exec.run_s": total("run_s"),
        "exec.cpu_s": total("cpu_s"),
        "exec.gc_s": total("gc_s"),
        "exec.shuffle_write_mb": total("shuffle_write_mb"),
        "exec.shuffle_read_mb": total("shuffle_read_mb"),
        "exec.fetch_wait_s": total("fetch_wait_s"),
        "exec.spill_mb": total("spill_mb"),
        "exec.core_util": total("run_s") / (job_wall * cores) if job_wall else 0.0,
        "sources.input_mb": total("scan_mb"),
        "sources.input_rows": total("scan_rows"),
        "sources.scan_s": total("scan_s"),
        "sources.files_read": total("files_read"),
        "operators.py_run_s": total("py_run_s"),
        "operators.py_start_s": total("py_start_s"),
        "operators.py_sent_mb": total("py_sent_mb"),
        "operators.py_recv_mb": total("py_recv_mb"),
        "operators.join_yield": (
            sum(q["rows"] for q in joined) / joined_max if joined_max else 0.0
        ),
        "memo.staged_rdds": total("staged_rdds"),
        "memo.staged_mb": total("staged_mb"),
        "sinks.output_mb": total("output_mb"),
        "sinks.output_rows": total("output_rows"),
        "sinks.files_written": total("files_written"),
        "trace.unattributed_s": total("unattributed_s"),
    }
