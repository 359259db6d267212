"""The measurement tools: bench.py's timing loop (failure isolation,
spread, exit status), tools/plan_audit.py's named-query dump,
bench_scaling.py's cluster-shape helpers, and tools/check_oracle.py's
missing-input SKIP rule, which plan_audit.py and bench.py share."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SF = "/root/testdata/sf0.001"
# one small driver heap per subprocess: the test session's JVM is up too
ENV = dict(os.environ, SPARK_DRIVER_MEM="2g")

# every key bench.py printed before it took query names and error isolation
BENCH_KEYS = {
    "metric", "value", "unit", "queries", "sf", "n_docs",
    "flagship_docs_per_sec", "cpus", "reps", "rep1_total", "rep1_queries",
    "wall_clock_total",
}


def test_bench_isolates_a_failing_query_and_fails_the_run():
    env = dict(ENV, SPARK_GRAFT_SF_DIR=SF, SPARK_GRAFT_BENCH_REPS="2",
               SPARK_GRAFT_CPUS="2")
    r = subprocess.run(
        [sys.executable, str(REPO / "bench.py"),
         "doc_quality", "mentions", "no_such_query"],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert r.returncode == 1, r.stderr[-2000:]
    assert "ERROR no_such_query" in r.stderr
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert BENCH_KEYS <= set(out)
    assert set(out["errors"]) == {"no_such_query"}
    assert set(out["queries"]) == {"doc_quality", "mentions"}
    assert {n: len(v) for n, v in out["per_rep"].items()} == {
        "doc_quality": 2, "mentions": 2,
    }
    assert out["value"] == round(sum(out["queries"].values()), 3)
    assert out["rep1_queries"] == {n: v[0] for n, v in out["per_rep"].items()}
    assert set(out["spread"]) == {"doc_quality", "mentions"}
    assert out["flagship_docs_per_sec"] is None  # triples was not timed
    assert (out["reps"], out["cpus"], out["sf"]) == (2, 2, "0.001")


def test_plan_audit_writes_named_queries_to_the_given_path(tmp_path):
    out = tmp_path / "plans.md"
    r = subprocess.run(
        [sys.executable, str(REPO / "tools/plan_audit.py"),
         "--sf", SF, "--out", str(out), "triples"],
        capture_output=True, text=True, timeout=600, env=ENV,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rows = [l for l in out.read_text().splitlines() if l.startswith("| triples |")]
    assert len(rows) == 1 and "ERROR" not in rows[0]
    assert "## triples" in out.read_text()


def test_plan_audit_skips_a_query_with_missing_inputs(tmp_path):
    from glirel_spark import config

    if os.path.exists(config.DOCRED_DEV):
        pytest.skip(f"{config.DOCRED_DEV} exists, so nothing is missing")
    out = tmp_path / "plans.md"
    r = subprocess.run(
        [sys.executable, str(REPO / "tools/plan_audit.py"),
         "--sf", SF, "--out", str(out), "docred_distant_mentions"],
        capture_output=True, text=True, timeout=600, env=ENV,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert f"SKIP docred_distant_mentions: missing {config.DOCRED_DEV}" in r.stdout
    rows = [
        l for l in out.read_text().splitlines()
        if l.startswith("| docred_distant_mentions |")
    ]
    assert rows == ["| docred_distant_mentions | SKIP |" + " |" * 7]


def test_scaling_cluster_shape_fits_the_usable_cpus():
    import bench_scaling as bs

    # 4 CPUs: 1 vs 4 single-core executors; the 4-executor level's
    # cpuset is capped at the box, so it shares cores with the driver
    assert bs.cores_per_executor(1, 4) == 1
    assert bs.cpuset(1, 1, [0, 1, 2, 3]) == "0-1"
    assert bs.cpuset(4, 1, [0, 1, 2, 3]) == "0-3"
    # 32 CPUs: 4 cores per executor, one driver core per executor
    assert bs.cores_per_executor(1, 32) == 4
    assert bs.cpuset(1, 4, list(range(32))) == "0-4"
    assert bs.cpuset(4, 4, list(range(32))) == "0-19"
    # never below one core; an affinity mask with holes stays a list
    assert bs.cores_per_executor(1, 2) == 1
    assert bs.cpuset(1, 1, [2, 5, 6, 7]) == "2,5"
    assert bs.cpuset(4, 1, [0, 1, 4, 5, 6, 9]) == "0-1,4-6,9"


def test_check_oracle_skips_only_errors_naming_a_missing_file(tmp_path):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracle", REPO / "tools" / "check_oracle.py"
    )
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)

    gone = tmp_path / "absent" / "dev_revised.json"
    here = tmp_path / "present.json"
    here.write_text("{}")
    spark_msg = f"[PATH_NOT_FOUND] Path does not exist: file:{gone}. SQLSTATE: 42K03"
    duck_msg = f'IO Error: No files found that match the pattern "{gone}"'
    py_msg = f"[Errno 2] No such file or directory: '{gone}'"
    for msg in (spark_msg, duck_msg, py_msg):
        assert co.missing_path(Exception(msg)) == str(gone), msg
    # an existing file, a ratio and no path at all are ERRORs, not SKIPs
    for msg in (f"Path exists: file:{here}.", "bad ratio a/b", "division by zero"):
        assert co.missing_path(Exception(msg)) is None, msg
