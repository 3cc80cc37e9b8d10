"""Tests of the benchmark itself, at a tiny input size.

    python3 -m pytest perfbench/tests -q

The end-to-end tests start one Spark driver per run (about half a
minute each), from the repository root, exactly as the benchmark is
invoked; the rest run without Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
TESTED = sorted(WORKLOADS)
LAYER_NAMES = [m["name"] for m in SPEC["per_layer"]]
SEED = 7

#: an operation's direct child spans must cover its end-to-end time up
#: to this share of it, or this many seconds if that is larger (the
#: rest is Python glue between the calls)
SPAN_TOLERANCE = (0.05, 0.010)


def _run(workload: str, trace: int, *extra: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    return proc.returncode, proc.stdout.strip().splitlines()


@pytest.fixture(scope="module")
def runs():
    return {(w, t): _run(w, t) for w in TESTED for t in (0, 1)}


def test_spec_names_known_workloads():
    assert set(WORKLOADS) <= set(workloads.WORKLOADS)
    assert any(m["name"] == "setup_s" for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", TESTED)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(runs, workload, trace):
    code, lines = runs[(workload, trace)]
    assert code == 0, lines[-2:]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    record = json.loads(lines[-2])
    not_applicable = set(record.get("not_applicable", []))
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]
        elif m["name"] not in not_applicable and m["name"].endswith("_s") \
                and m["name"] != "exec.gc_s":  # no collection at all is possible
            assert got["value"] > 0, m["name"]


def test_every_layer_metric_applies_to_a_workload(runs):
    """No per-layer metric is printed as 'not applicable' on every
    workload: each one can move on at least one of them."""
    applies = set()
    for w in TESTED:
        record = json.loads(runs[(w, 1)][1][-2])
        applies |= set(LAYER_NAMES) - set(record["not_applicable"])
    assert set(LAYER_NAMES) <= applies, sorted(set(LAYER_NAMES) - applies)


def test_builder_jobs_by_design(runs):
    """The wordcount builder launches no jobs; the star builders infer
    schemas, one job per table read."""
    wc = json.loads(runs[("wordcount_corpus", 1)][1][-1])["metrics"]
    assert wc["plans.build_jobs"]["value"] == 0
    star = json.loads(runs[("star_queries", 1)][1][-1])["metrics"]
    assert star["sources.tables.load_jobs"]["value"] == 1
    assert star["plans.build_jobs"]["value"] >= 1


@pytest.mark.parametrize("workload", TESTED)
def test_child_spans_cover_each_operation(runs, workload):
    assert runs[(workload, 1)][0] == 0
    with open(os.path.join(ROOT, ".perfbench", f"spans-{workload}-{SEED}.json")) as fh:
        spans = json.load(fh)
    ops = [s for s in spans if s["name"] == "op"]
    assert ops
    for op in ops:
        dur = op["end"] - op["start"]
        kids = sum(s["end"] - s["start"] for s in spans if s["parent"] == op["id"])
        assert kids <= dur + 1e-6
        assert dur - kids <= max(SPAN_TOLERANCE[0] * dur, SPAN_TOLERANCE[1]), \
            (op["op_name"], dur, kids)


@pytest.mark.parametrize("workload", TESTED)
def test_corrupted_expected_answer_fails(workload):
    code, lines = _run(workload, 0, "--corrupt-expected")
    assert code == 1
    result = json.loads(lines[-1])
    assert result["correct"] is False
    assert result["failed"] >= 1


def test_runs_nowhere_without_the_engine(tmp_path):
    """Outside a checkout of the repository the command fails and
    prints no result."""
    import shutil
    shutil.copytree(BENCH, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_python_workers_import_the_engine_from_any_directory(tmp_path):
    """mr4ver reads run Python on Spark's workers, which must find the
    engine package even when the command starts elsewhere."""
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "versioned_rw",
         "--seed", "1", "--seconds", "1", "--trace", "0", "--tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stdout[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["correct"] is True


# ---------------------------------------------------------------- no Spark

def test_reference_tokenizer_rules():
    assert inputs.reference_tokens("Café, (x) A\tB  --  it's\n") == \
        ["café", "x", "a\tb", "its"]


def test_diff_results_catches_a_missing_row():
    import duckdb
    import pyarrow as pa
    con = duckdb.connect()
    got = pa.table({"a": [1, 2, 2], "b": [0.1, 0.2, 0.2]})
    sql = "SELECT * FROM (VALUES (2, 0.2), (1, 0.1), (2, 0.2)) t(a, b)"
    assert workloads.diff_results(con, got, sql) is None
    assert workloads.diff_results(con, got, sql + " LIMIT 2") is not None
    assert "columns" in workloads.diff_results(con, got, "SELECT 1 AS a")


def _run_module():
    import importlib.util
    spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(BENCH, "run.py"))
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    return run


def test_tail_percentile_keeps_ten_samples_beyond():
    run = _run_module()
    assert run.tail_percentile([float(i) for i in range(10)]) == ("max", 9.0)
    assert run.tail_percentile([float(i) for i in range(30)]) == ("max", 29.0)
    assert run.tail_percentile([float(i) for i in range(40)])[0] == "p75"
    name, v = run.tail_percentile([float(i) for i in range(100)])
    assert name == "p90" and 88.0 < v < 91.0
    assert run.tail_percentile([float(i) for i in range(1000)])[0] == "p99"


def test_geomean_weighs_each_operation_once():
    """Each operation's median counts once, however often it ran."""
    records = [{"name": "a", "latency_s": x} for x in (1.0, 1.0, 9.0)] \
        + [{"name": "b", "latency_s": 4.0}]
    assert abs(_run_module().op_geomean(records) - 2.0) < 1e-12
