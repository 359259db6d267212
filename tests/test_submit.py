"""spark-submit launch-path regressions: the submitted --master must
win (get_spark silently overrode it until the PYSPARK_GATEWAY_PORT
check), the default driver heap must fit the box, and the --py-files
artifact must build deterministically."""

from __future__ import annotations

import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_submitted_master_is_respected(tmp_path):
    script = tmp_path / "master_check.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "from glirel_spark.session import get_spark\n"
        "s = get_spark('master-check', cores=2)\n"
        "print('MASTER:', s.sparkContext.master)\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        ["spark-submit", "--master", "local-cluster[2,2,2048]", str(script)],
        capture_output=True, text=True, timeout=240,
    )
    assert "MASTER: local-cluster[2,2,2048]" in out.stdout, out.stderr[-2000:]


def test_driver_heap_fits_the_box(spark):
    """The default driver heap is at most 16g and at most half the
    box's physical memory; SPARK_DRIVER_MEM, when set, wins."""
    import os

    got = spark.sparkContext.getConf().get("spark.driver.memory")
    if "SPARK_DRIVER_MEM" in os.environ:
        assert got == os.environ["SPARK_DRIVER_MEM"]
        return
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    units = {"m": 1, "g": 1024}
    got_mb = int(got[:-1]) * units[got[-1].lower()]
    assert 0 < got_mb <= min(16 * 1024, phys_mb // 2), got


def test_dist_zip_is_deterministic_and_importable(tmp_path):
    sys.path.insert(0, str(REPO / "tools"))
    import make_dist

    a = make_dist.build(tmp_path / "a.zip")
    b = make_dist.build(tmp_path / "b.zip")
    assert a.read_bytes() == b.read_bytes()
    probe = subprocess.run(
        [sys.executable, "-c",
         f"import sys; sys.path.insert(0, {str(a)!r}); "
         "import glirel_spark.config as c; print(len(c.TABLES))"],
        capture_output=True, text=True, timeout=60,
    )
    assert probe.stdout.strip() == "10", probe.stderr


def test_export_weights_fails_cleanly_without_torch(tmp_path):
    sys.path.insert(0, str(REPO / "tools"))
    import export_weights

    try:
        import torch  # noqa: F401
        pytest.skip("torch present; export path is live")
    except ImportError:
        pass
    with pytest.raises(SystemExit, match="torch is not available"):
        export_weights.export("nonexistent.bin", str(tmp_path / "w.npz"))


def test_run_refeval_job_end_to_end(tmp_path):
    """The refeval CLI: spark-submit shape, real fixture in, counts
    parquet + metrics JSON out, one JSON line on stdout."""
    import json

    repo = Path(__file__).resolve().parents[1]
    out = tmp_path / "out"
    r = subprocess.run(
        [sys.executable, str(repo / "jobs/run_refeval.py"),
         "--input", str(repo / "fixtures/wikizsl_dev.jsonl"),
         "--output", str(out), "--cores", "4"],
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = [l for l in r.stdout.strip().splitlines() if l.startswith("{")][-1]
    row = json.loads(line)
    assert set(row) == {
        "micro_precision", "micro_recall", "micro_f1",
        "macro_precision", "macro_recall", "macro_f1",
    }
    assert (out / "refeval_metrics.json").exists()
    import pandas as pd

    counts = pd.read_parquet(out / "refeval_counts.parquet")
    golden = pd.read_parquet(repo / "goldens/refeval_counts.parquet")
    key = ["label", "tp", "pred_n", "true_n"]
    assert (
        counts[key].sort_values("label").reset_index(drop=True)
        .equals(golden[key].sort_values("label").reset_index(drop=True))
    )


def test_run_pipeline_eval_report_matches_oracle_and_query(spark, tmp_path):
    """The spark-submit job end to end at sf0.001: the written graph
    hashes equal to the DuckDB graph oracle, and the eval report's
    metrics equal the threshold_search query row for row."""
    import duckdb

    from glirel_spark import oracle
    from glirel_spark.plans import pipeline
    from glirel_spark.sources import tables

    sys.path.insert(0, str(REPO / "tools"))
    from check_oracle import norm_hash

    # the sf0.001 corpus beside the default sf0.1 one
    sf = str(Path(tables.DEFAULT_SF_DIR).parent / "sf0.001")
    out = tmp_path / "out"
    r = subprocess.run(
        [sys.executable, str(REPO / "jobs/run_pipeline.py"),
         "--input", sf, "--output", str(out),
         "--buckets", "2", "--cores", "2", "--eval-report"],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    want = con.execute(oracle.q_graph()).fetchdf()
    got = spark.read.parquet(str(out / "graph")).toPandas()
    assert len(got) == len(want) > 0
    assert norm_hash(got) == norm_hash(want)

    def rows(df):
        cols = sorted(df.columns)
        return sorted(tuple(x[c] for c in cols) for x in df.collect())

    metrics = spark.read.parquet(str(out / "eval/metrics.parquet"))
    assert rows(metrics) == rows(pipeline.threshold_search(spark, sf))
    assert (out / "eval/submission").is_dir()
