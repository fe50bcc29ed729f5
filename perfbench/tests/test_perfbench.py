"""Self-test of the benchmark with one seed.

    python3 -m pytest perfbench/tests -q      # about three minutes on 4 cores

Each Spark-backed test launches ``perfbench/run.py`` as a separate process
from the checkout root, the way the benchmark is run. It runs ``dedup_knn``
at its own size: 500 base documents and embeddings, two replicas, which is
also their size at sf0.001.
"""

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import layers  # noqa: E402

SEED = 424242
WORKLOAD = "dedup_knn"
RECORDS = os.path.join(ROOT, ".perfbench", "verified", f"{WORKLOAD}-seed{SEED}-*.json")
TOL = 2e-3  # seconds


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable, os.path.join(cwd, "perfbench", "run.py"),
        "--workload", WORKLOAD, "--seed", str(SEED), "--seconds", "1", *args,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def fresh_record():
    """Start from no verified record for the test seed; leave none behind."""
    for path in glob.glob(RECORDS):
        os.remove(path)
    yield
    for path in glob.glob(RECORDS):
        os.remove(path)


# -- no Spark ---------------------------------------------------------------


def test_inputs_depend_only_on_the_seed(tmp_path):
    dirs = {}
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        dirs[name] = tmp_path / name
        dirs[name].mkdir()
        gen.generate(str(dirs[name]), seed, 0.001, 2)
    for t in gen.TABLES:
        a, b, c = (pq.read_table(dirs[n] / f"{t}.parquet") for n in "abc")
        assert a.equals(b), t
        assert a.num_rows == c.num_rows, t
    docs_a = pq.read_table(dirs["a"] / "documents.parquet").column("text").to_pylist()
    docs_c = pq.read_table(dirs["c"] / "documents.parquet").column("text").to_pylist()
    assert docs_a != docs_c
    assert [len(x) for x in docs_a] == [len(x) for x in docs_c]
    keys_a = pq.read_table(dirs["a"] / "orders.parquet").column("o_orderkey").to_numpy()
    keys_c = pq.read_table(dirs["c"] / "orders.parquet").column("o_orderkey").to_numpy()
    assert (keys_a != keys_c).all() and ((keys_a - keys_c) % gen.KEY_LCM == 0).all()


def test_metric_parsing():
    assert layers.parse_metric("1,500") == 1500
    assert layers.parse_metric("347 ms") == pytest.approx(0.347)
    assert layers.parse_metric("5.0 KiB") == 5120
    multi = "total (min, med, max (stageId: taskId))\n8.8 s (2.2 s, 2.2 s, 2.2 s (stage 11.0: task 10))"
    assert layers.parse_metric(multi) == pytest.approx(8.8)
    assert layers.interval_union([(0, 2), (1, 3), (5, 6)]) == 4


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()


# -- Spark ------------------------------------------------------------------


def test_every_end_to_end_metric_is_printed_with_its_unit(spec, fresh_record):
    proc = _run("--trace", "0")
    res = _result(proc)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for name, unit in want.items():
        assert res["metrics"][name]["value"] > 0
        assert any(line.startswith(f"{name} = ") and line.endswith(f" {unit}") for line in proc.stdout.splitlines())
    assert "failed_frac = 0.0000 ratio" in proc.stdout
    # The cold pass's CPU and the wall-clock figures are printed as lines,
    # outside the JSON result.
    for name, unit in (("cold_cpu_s", "s"), ("setup_wall_s", "s"), ("cold_s", "s"), ("warm_s", "s"),
                       ("rows_per_s", "rows/s")):
        assert any(line.startswith(f"{name} = ") and line.endswith(f" {unit}") for line in proc.stdout.splitlines())
    assert glob.glob(RECORDS), "the seed's first run writes its verified record"


def test_trace_layers_add_up_to_the_query_wall(spec, fresh_record):
    res = _result(_run("--trace", "1"))
    assert res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec["per_layer"]
    }
    with open(os.path.join(ROOT, ".perfbench", "trace", f"{WORKLOAD}-seed{SEED}.json")) as f:
        trace = json.load(f)
    spans = {s["id"]: s for s in trace["spans"]}
    children: dict[int, list[dict]] = {}
    for s in spans.values():
        children.setdefault(s["parent"], []).append(s)
    traced = [q for q in trace["queries"] if "unattributed_s" in q]
    assert traced
    for q in traced:
        # The layers are measured apart, so they must not overlap: the
        # remainder of the query wall is never negative.
        assert q["unattributed_s"] >= -TOL, q["query"]
        assert q["build_jobs_s"] <= q["build_s"] + TOL, q["query"]
        # Rebuilt from the spans alone, build + catalyst + action jobs +
        # unattributed is the query span's wall.
        qspan = spans[q["span"]]
        build, action = children[q["span"]]
        jobs = [(j["start"], j["end"]) for j in children.get(action["id"], [])]
        from_spans = (build["end"] - build["start"]) + q["catalyst_s"] + layers.interval_union(jobs)
        assert from_spans + q["unattributed_s"] == pytest.approx(qspan["end"] - qspan["start"], abs=TOL)
    parents = {"pass": {"run"}, "query": {"pass"}, "build": {"query"}, "action": {"query"},
               "job": {"build", "action"}}
    assert {s["name"] for s in spans.values()} == {"run", *parents}
    for s in spans.values():
        assert s["start"] <= s["end"]
        if s["name"] == "run":
            assert s["parent"] is None
            continue
        parent = spans[s["parent"]]
        assert parent["name"] in parents[s["name"]]
        # Job times come from Spark's status store in whole milliseconds.
        assert parent["start"] - TOL <= s["start"] and s["end"] <= parent["end"] + TOL, s


def test_a_corrupted_expected_hash_counts_as_failed(fresh_record):
    if not glob.glob(RECORDS):
        _result(_run("--trace", "0"))
    (path,) = glob.glob(RECORDS)
    with open(path) as f:
        record = json.load(f)
    first = sorted(record)[0]
    record[first]["hash"] = (record[first]["hash"] or 0) ^ 1
    record[first]["stable"] = True
    with open(path, "w") as f:
        json.dump(record, f)
    proc = _run("--trace", "0")
    res = _result(proc)
    assert res["failed"] > 0 and not res["correct"]
    assert "failed_frac = 0.0000" not in proc.stdout
