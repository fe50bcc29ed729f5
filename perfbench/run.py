#!/usr/bin/env python3
"""Benchmark of the registry queries, one workload per run.

    python3 perfbench/run.py --workload dedup_knn --seed 1 --seconds 5 --trace 0

One closed-loop client: a single driver thread issues the workload's
registry queries one after another on ``local[<cores>]`` and forces each
result with ``bit_xor(xxhash64(*cols))``. A run

1. generates (or reuses) the seed's inputs in a child process
   (``gen.py``) -- untimed;
2. sets up the session and warms the JVM, the parquet footers and the
   Python workers -- ``setup_s`` (CPU seconds) and ``setup_wall_s``;
3. runs one cold pass -- ``cold_cpu_s`` (CPU seconds of the driver, the
   JVM without its JIT compiler threads, and the Python workers) and
   ``cold_s`` (wall);
4. runs ``WARM_PASSES`` warm passes, more if ``--seconds`` have not passed
   by then -- ``warm_cpu_s`` and ``warm_s`` are their medians.
   ``peak_rss_mb`` is the largest memory reading taken after each pass;
5. checks every output. The seed's first run on a given program source
   records first: after the measurements it collects each query's latest
   result once more and compares it with the query's DuckDB oracle, then
   records the row count and forced hash of the timed executions.
   Every timed execution of every run must match that record.

``--trace 1`` additionally reads Spark's status stores after each query of
the cold pass and of alternate warm passes (see ``layers.py``), prints the
per-layer sums and writes the spans to ``.perfbench/trace/``.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Run the program from anywhere; everything it writes goes under
``.perfbench/`` in the checkout.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ai_coach_data_source_orchestrator_spark"
WORK = os.path.join(ROOT, ".perfbench")

sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402


@dataclass(frozen=True)
class Workload:
    sf: float  # scale factor of the generated base
    replicas: int  # seeded copies of the base (gen.py)
    tables: tuple[str, ...]  # tables the queries read: the rows_per_s input
    queries: tuple[str, ...]


WORKLOADS = {
    # Why each workload exists: perfbench/README.md and BENCHMARK.json.
    "relational": Workload(
        sf=0.01,
        replicas=4,
        tables=("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"),
        queries=(
            "j1_star_join_revenue",
            "f3_semi_join_children_in_range",
            "a45_status_priority_cube",
            "o3_latest_order_per_customer",
            "a10_daily_window",
            "sessionize_events",
            "range_join_windows",
            "u3_dedup_by_key",
            "a14_array_set_diff",
            "j_salted_skew_join",
        ),
    ),
    "dedup_knn": Workload(
        sf=0.01,
        replicas=2,
        tables=("documents", "embeddings"),
        queries=(
            "dedup_embedding_cosine_lsh",
            "text_quality_score",
            "multimodal_features",
            "contamination_ngram_overlap",
        ),
    ),
    "report_pipeline": Workload(
        sf=0.001,
        replicas=2,
        tables=("nation", "supplier", "customer", "part", "orders", "lineitem", "events"),
        queries=(
            "x_jira_ticket_render",
            "j7_changelog_attach",
            "x2_wiki_to_markdown",
            "k1_csv_union_header_roundtrip",
            "k2_partitioned_write_roundtrip",
            "k5_json_snapshot_roundtrip",
            "k8_upsert_merge",
        ),
    ),
}

# Metrics of BENCHMARK.json's end_to_end list, CPU seconds but the
# memory. The cold pass's CPU seconds, the wall-clock figures (setup_wall_s,
# cold_s, warm_s, rows_per_s) and failed_frac are printed as lines too.
END_TO_END_UNITS = {
    "setup_s": "s",
    "warm_cpu_s": "s",
    "peak_rss_mb": "MB",
}
# Warm passes per run. The JVM is still warming up over these passes, so
# a run makes the same number of them on any host (see --seconds).
WARM_PASSES = 3


def _process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env(run_tmp: str, cores: int) -> None:
    """Environment the JVM and the Python workers are launched with: the
    repo root on PYTHONPATH (workers import the package by name, whatever
    the working directory) and every scratch directory inside the run's
    own temp dir."""
    os.makedirs(run_tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = run_tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # No hsperfdata files: every JVM would write one to /tmp. The driver
    # JVM keeps its JIT compiler threads for its whole life, so that their
    # CPU time can be told apart from the rest of the JVM's (_jit_cpu_s).
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        (
            f"--conf spark.local.dir={run_tmp}",
            f"--conf spark.sql.warehouse.dir={run_tmp}/warehouse",
            "--conf spark.ui.showConsoleProgress=false",
            f"--driver-java-options '-Djava.io.tmpdir={run_tmp} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads'",
            "pyspark-shell",
        )
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)


def _code_stamp(wl: Workload) -> str:
    """Hash of the program's sources and the workload's query list: a
    verified record is only reused for the code it was verified on."""
    h = hashlib.sha256(repr(wl.queries).encode())
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


# HotSpot's JIT compiler threads, by their thread names (cut to 15 bytes).
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def _cpu_s(pid: int) -> float:
    """User + system CPU seconds of a process and of its reaped children.
    Time the hypervisor stole from the VM is not in it."""
    stat = _read(f"/proc/{pid}/stat")
    if not stat:
        return 0.0
    return sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:15]) / os.sysconf("SC_CLK_TCK")


def _jit_cpu_s(pid: int) -> float:
    """User + system CPU seconds of a JVM's JIT compiler threads."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    ticks = 0
    for tid in tids:
        stat = _read(f"/proc/{pid}/task/{tid}/stat")
        if stat and stat[stat.index("(") + 1 : stat.rindex(")")].startswith(_JIT_THREADS):
            ticks += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])
    return ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class Bench:
    def __init__(self, wl: Workload, sf_dir: str, record_path: str, cores: int, trace: bool):
        self.wl = wl
        self.sf_dir = sf_dir
        self.record_path = record_path
        self.cores = cores
        self.trace = trace
        self.spans: list[dict] = []
        self.executions: list[dict] = []  # every timed query execution
        self.last_df: dict = {}  # each query's latest result, for the output check
        self.verify_s = 0.0
        self.peak_rss = [0.0, 0.0, 0.0, 0]  # MB: driver, JVM, workers; worker count

    # -- spans --------------------------------------------------------
    def span(self, name: str, parent: int | None, start: float, end: float, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "name": name, "start": start, "end": end, **attrs}
        )
        return len(self.spans) - 1

    # -- set-up -------------------------------------------------------
    def setup(self) -> dict:
        t0 = time.perf_counter()
        from ai_coach_data_source_orchestrator_spark.plans import REGISTRY
        from ai_coach_data_source_orchestrator_spark.session import get_spark
        from ai_coach_data_source_orchestrator_spark.sources.tables import load_table

        self.registry = REGISTRY
        self.spark = spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        self.jvm_proc = spark.sparkContext._gateway.proc
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        t1 = time.perf_counter()
        for t in self.wl.tables:
            load_table(spark, self.sf_dir, t)  # footer read, cached plan handle
        # The first job warms the JVM's job path and forks the Python workers.
        (
            spark.range(1000, numPartitions=self.cores)
            .mapInPandas(lambda it: it, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        t2 = time.perf_counter()
        if self.trace:
            self.store = layers.StoreReader(spark)
        return {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1}

    def stop(self) -> None:
        """Stop the session, the JVM and its Python workers; wait for all."""
        procs = _descendants(self.jvm_pid)
        self.spark.stop()
        gateway = self.spark.sparkContext._gateway
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        proc = self.jvm_proc
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 15
        for pid in [self.jvm_pid, *procs]:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass

    def sample_rss(self) -> None:
        """Sum of VmHWM of the driver, the JVM and the live Python workers;
        the largest sum seen so far is ``peak_rss_mb``. Read after every
        pass, because idle workers exit after a minute and take their
        VmHWM with them."""
        workers = _descendants(self.jvm_pid)
        parts = [_vm_hwm_kb(os.getpid()) / 1024, _vm_hwm_kb(self.jvm_pid) / 1024,
                 sum(map(_vm_hwm_kb, workers)) / 1024, len(workers)]
        if sum(parts[:3]) > sum(self.peak_rss[:3]):
            self.peak_rss = parts

    def cpu(self) -> dict:
        """CPU seconds used so far by the Python driver, the JVM (without
        its JIT compiler threads), the JIT compiler threads and each of the
        JVM's live descendants (the Python workers), by pid."""
        jit = _jit_cpu_s(self.jvm_pid)
        workers = {pid: _cpu_s(pid) for pid in _descendants(self.jvm_pid)}
        return {
            "driver": _cpu_s(os.getpid()),
            "jvm": _cpu_s(self.jvm_pid) - jit,
            "jit": jit,
            "workers": {pid: c for pid, c in workers.items() if c},
        }

    @staticmethod
    def cpu_delta(before: dict, after: dict) -> dict:
        """CPU seconds between two ``cpu()`` readings. The PySpark daemon
        does not reap its workers with wait(), so a worker that exits takes
        its CPU time with it: it adds nothing after its last reading, and a
        worker that started in between counts from zero."""
        out = {k: after[k] - before[k] for k in ("driver", "jvm", "jit")}
        out["workers"] = sum(c - before["workers"].get(pid, 0.0) for pid, c in after["workers"].items())
        return out

    # -- one query ----------------------------------------------------
    def run_query(self, name: str, label: str, traced: bool, parent: int) -> dict:
        from pyspark.sql import functions as F

        spark = self.spark
        group = f"q:{name}:{label}"
        spark.sparkContext.setJobGroup(group, group)
        rec = {"query": name, "pass": label, "error": None, "rows": None, "hash": None}
        w0, t0 = time.time(), time.perf_counter()
        t1 = w1 = None
        try:
            df = self.last_df[name] = self.registry[name].fn(spark, self.sf_dir)
            t1, w1 = time.perf_counter(), time.time()
            if traced:
                build_jobs = self.store.group_jobs(group)
            agg = df.select(
                F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
                F.count(F.lit(1)).alias("n"),
            )
            h, n = agg.collect()[0]
            rec["hash"], rec["rows"] = h, n
        except Exception as e:  # noqa: BLE001 - one failing query must not end the run
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        t2, w2 = time.perf_counter(), time.time()
        if t1 is None:
            t1, w1 = t2, w2
        rec.update(wall_s=t2 - t0, build_s=t1 - t0, action_s=t2 - t1)
        rec["span"] = qspan = self.span("query", parent, w0, w2, query=name)
        bspan = self.span("build", qspan, w0, w1)
        aspan = self.span("action", qspan, w1, w2)
        if traced and rec["error"] is None:
            self._trace_query(rec, group, build_jobs, agg, bspan, aspan)
        return rec

    def _trace_query(self, rec, group, build_jobs, agg, bspan, aspan) -> None:
        st = self.store
        st.settle()
        all_jobs = st.jobs(st.group_jobs(group))
        bj = [j for j in all_jobs if j["job"] in build_jobs]
        aj = [j for j in all_jobs if j["job"] not in build_jobs]
        for j in bj:
            self.span("job", bspan, j["start"], j["end"], job=j["job"])
        for j in aj:
            self.span("job", aspan, j["start"], j["end"], job=j["job"])
        rec["jobs"] = len(all_jobs)
        rec["build_jobs_s"] = layers.interval_union([(j["start"], j["end"]) for j in bj])
        rec["action_jobs_s"] = layers.interval_union([(j["start"], j["end"]) for j in aj])
        rec.update(layers.catalyst_phases(agg))
        rec.update(st.stages([s for j in all_jobs for s in j["stages"]]))
        rec.update(st.sql())
        rec["staged_rdds"], rec["staged_mb"] = st.staged()
        rec["catalyst_s"] = rec["analysis_s"] + rec["optimization_s"] + rec["planning_s"]
        rec["unattributed_s"] = rec["wall_s"] - rec["build_s"] - rec["catalyst_s"] - rec["action_jobs_s"]

    def _oracle_ok(self, name: str, rows: int) -> bool:
        """Collect the query's latest result and compare it with the DuckDB
        oracle and with the timed executions' row count."""
        import duckdb
        from tests.test_oracle_parity import _canon

        self.spark.sparkContext.setJobGroup("verify", "verify")
        con = duckdb.connect()
        try:
            df = self.last_df[name]
            srows = [tuple(r) for r in df.collect()]
            for t in gen.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            cur = con.execute(self.registry[name].oracle)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001 - recorded as a failed check
            print(f"perfbench: output check of {name} raised {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
            return False
        finally:
            con.close()
        return (
            sorted(df.columns) == sorted(ocols)
            and len(srows) == len(orows) == rows
            and _canon(srows, df.columns) == _canon(orows, ocols)
        )

    # -- passes -------------------------------------------------------
    def run_pass(self, label: str, traced: bool, parent: int) -> dict:
        w0 = time.time()
        pspan = self.span("pass", parent, w0, w0, label=label, traced=traced)
        if traced:
            self.store.skip()
        cpu0 = self.cpu()
        recs = [self.run_query(q, label, traced, pspan) for q in self.wl.queries]
        cpu = self.cpu_delta(cpu0, self.cpu())
        self.spans[pspan]["end"] = time.time()
        self.executions.extend(recs)
        self.sample_rss()
        return {
            "label": label,
            "traced": traced,
            "wall_s": sum(r["wall_s"] for r in recs),
            # The JIT's share depends on how far compilation got, which
            # depends on the host's speed: counted apart (cpu.jit_s).
            "cpu_s": sum(cpu.values()) - cpu["jit"],
            "cpu": cpu,
            "queries": recs,
        }

    def run(self, seconds: float, boot: float, gen_s: float) -> dict:
        run_span = self.span("run", None, time.time(), 0.0)
        session = self.setup()
        setup_wall_s = time.perf_counter() - boot - gen_s
        # This process's own CPU (not its reaped children: gen.py), the
        # JVM's without the JIT compiler threads, and the Python workers'.
        cpu, own = self.cpu(), os.times()
        setup_s = own.user + own.system + cpu["jvm"] + sum(cpu["workers"].values())
        cold = self.run_pass("cold", self.trace, run_span)
        warm: list[dict] = []
        t0 = time.perf_counter()
        while True:
            # A traced run alternates untraced and traced warm passes,
            # starting and ending untraced, so the untraced median brackets
            # the traced passes and warm-up drift cancels in overhead_frac.
            traced = self.trace and len(warm) % 2 == 1
            warm.append(self.run_pass(f"warm{len(warm)}", traced, run_span))
            done = len(warm) >= WARM_PASSES and not traced
            if done and time.perf_counter() - t0 >= seconds:
                break
        self.spans[run_span]["end"] = time.time()
        failed, rows_only = self.check()
        untraced = [p for p in warm if not p["traced"]]
        return {
            "setup_s": setup_s,
            "setup_wall_s": setup_wall_s,
            "session": session,
            "cold": cold,
            "warm": warm,
            "warm_s": statistics.median(p["wall_s"] for p in untraced),
            "warm_cpu_s": statistics.median(p["cpu_s"] for p in untraced),
            "warm_cpu": {
                k: statistics.median(p["cpu"][k] for p in untraced) for k in untraced[0]["cpu"]
            },
            "peak_rss_mb": sum(self.peak_rss[:3]),
            "failed": failed,
            "rows_only": rows_only,
        }

    # -- output check -------------------------------------------------
    def check(self) -> tuple[int, list[str]]:
        """Count failed executions against the seed's verified record,
        writing the record on the seed's first run. Called after every
        measurement, so the oracle step adds to no metric."""
        record = None
        if os.path.exists(self.record_path):
            with open(self.record_path) as f:
                record = json.load(f)
        elif all(r["error"] is None for r in self.executions):
            v0 = time.perf_counter()
            record = {}
            for q in self.wl.queries:
                runs = [r for r in self.executions if r["query"] == q]
                record[q] = {
                    "oracle_ok": self._oracle_ok(q, runs[0]["rows"]),
                    "rows": runs[0]["rows"],
                    "hash": runs[0]["hash"],
                    "stable": len({r["hash"] for r in runs}) == 1,
                }
            self.verify_s = time.perf_counter() - v0
            os.makedirs(os.path.dirname(self.record_path), exist_ok=True)
            tmp = f"{self.record_path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(record, f, indent=1, sort_keys=True)
            os.replace(tmp, self.record_path)
        failed = 0
        for r in self.executions:
            want = (record or {}).get(r["query"])
            ok = (
                r["error"] is None
                and want is not None
                and want["oracle_ok"]
                and r["rows"] == want["rows"]
                and (r["hash"] == want["hash"] or not want["stable"])
            )
            if not ok:
                failed += 1
                print(f"perfbench: FAILED {r['query']} ({r['pass']}): {r['error'] or 'output mismatch'}", file=sys.stderr)
        rows_only = sorted(q for q, v in (record or {}).items() if not v["stable"])
        return failed, rows_only


def _layer_metrics(res: dict, cores: int) -> dict:
    traced = [p for p in res["warm"] if p["traced"]]
    m = dict(res["session"])
    m.update(layers.pass_layers(traced[-1]["queries"], cores))
    m["catalyst.cold_s"] = sum(q.get("catalyst_s", 0.0) for q in res["cold"]["queries"])
    for k, v in res["warm_cpu"].items():
        m[f"cpu.{k}_s"] = v
    m["trace.overhead_frac"] = (
        statistics.median(p["wall_s"] for p in traced) / res["warm_s"] - 1.0
    )
    return m


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="warm-pass measuring time")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    boot = time.perf_counter() - _process_age()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the program ({PACKAGE}/) is not next to perfbench/", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cores = _cores()

    # A child process generates the inputs, so their memory stays out of
    # this process's peak RSS.
    t0 = time.perf_counter()
    sf_dir = os.path.join(WORK, "data", gen.cache_key(args.seed, wl.sf, wl.replicas))
    if not os.path.isdir(sf_dir):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), os.path.join(WORK, "data"),
             str(args.seed), repr(wl.sf), str(wl.replicas)],
            check=True,
        )
    gen_s = time.perf_counter() - t0
    input_rows = sum(
        gen.pq.read_metadata(os.path.join(sf_dir, f"{t}.parquet")).num_rows for t in wl.tables
    )
    record_path = os.path.join(
        WORK, "verified", f"{args.workload}-{os.path.basename(sf_dir)}-{_code_stamp(wl)}.json"
    )
    run_tmp = os.path.join(WORK, "tmp", f"run-{os.getpid()}")
    _configure_env(run_tmp, cores)
    bench = Bench(wl, sf_dir, record_path, cores, bool(args.trace))
    try:
        res = bench.run(args.seconds, boot, gen_s)
    finally:
        t_stop = time.perf_counter()
        if hasattr(bench, "spark"):
            bench.stop()
        shutil.rmtree(run_tmp, ignore_errors=True)
    print(
        f"# untimed: inputs {gen_s:.1f} s, output check {bench.verify_s:.1f} s, "
        f"shutdown {time.perf_counter() - t_stop:.1f} s, run total {time.perf_counter() - boot:.1f} s",
        file=sys.stderr,
    )

    print(
        "# peak RSS MB: driver {:.0f}, JVM {:.0f}, Python workers {:.0f} ({} processes)".format(*bench.peak_rss),
        file=sys.stderr,
    )
    attempted = len(bench.executions)
    for q in wl.queries:
        walls = {r["pass"]: r["wall_s"] for r in bench.executions if r["query"] == q}
        warm = statistics.median(v for k, v in walls.items() if k != "cold")
        print(f"# {q}: cold {walls['cold']:.3f} s, warm {warm:.3f} s", file=sys.stderr)
    print(
        "# passes (wall s / CPU s / JIT CPU s): "
        + " ".join(
            f"{p['label']} {p['wall_s']:.2f}/{p['cpu_s']:.2f}/{p['cpu']['jit']:.2f}"
            for p in (res["cold"], *res["warm"])
        ),
        file=sys.stderr,
    )
    print(
        f"# workload={args.workload} seed={args.seed} cores={cores} sf={wl.sf:g} x{wl.replicas} "
        f"input_rows={input_rows} queries={len(wl.queries)} warm_passes={len(res['warm'])} "
        + " ".join(f"{k}={v:.3f}" for k, v in res["session"].items()),
    )
    if res["rows_only"]:
        print(f"# row-count check only (hash not repeatable): {', '.join(res['rows_only'])}")
    print(f"failed_frac = {res['failed'] / attempted:.4f} ratio ({res['failed']}/{attempted})")
    print(f"setup_wall_s = {res['setup_wall_s']:.6g} s")
    print(f"cold_cpu_s = {res['cold']['cpu_s']:.6g} s")
    print(f"cold_s = {res['cold']['wall_s']:.6g} s")
    print(f"warm_s = {res['warm_s']:.6g} s")
    print(f"rows_per_s = {input_rows / res['warm_s']:.6g} rows/s")
    if args.trace:
        values = _layer_metrics(res, cores)
        units = layers.LAYER_UNITS
        trace_path = os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            json.dump(
                {"workload": args.workload, "seed": args.seed, "cores": cores,
                 "spans": bench.spans, "queries": bench.executions},
                f,
            )
        print(f"# spans: {os.path.relpath(trace_path, ROOT)}")
    else:
        values = {
            "setup_s": res["setup_s"],
            "warm_cpu_s": res["warm_cpu_s"],
            "peak_rss_mb": res["peak_rss_mb"],
        }
        units = END_TO_END_UNITS
    for k, v in values.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": attempted,
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
