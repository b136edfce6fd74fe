"""The production invocation path: package the library, run one job
via ``spark-submit --py-files`` in a fresh JVM, verify the committed
tables from the outside (no shared session state with the suite)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)
def test_spark_submit_pyfiles(tmp_path, sf_dir):
    out_root = str(tmp_path / "out")
    cfg = {
        "input": {"events_dir": sf_dir},
        "out_root": out_root,
        "run_id": "submit-test",
        "spark": {"master": "local[4]", "shuffle_partitions": 8},
    }
    cfg_path = str(tmp_path / "job.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)

    p = subprocess.run(
        [os.path.join(REPO, "scripts", "submit_job.sh"), cfg_path],
        capture_output=True, text=True, timeout=480,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(
        next(ln for ln in p.stdout.splitlines() if ln.startswith('{"run_id"'))
    )
    assert res["committed"] == ["fanout", "lineage", "metrics"]

    from conftest import table_parquet_globs

    con = duckdb.connect()
    rows = con.execute(
        "select count(*) from read_parquet(?, hive_partitioning=true)",
        [table_parquet_globs(out_root, "sequenced_events")],
    ).fetchone()[0]
    rej = con.execute(
        "select count(*) from read_parquet(?, hive_partitioning=true)",
        [table_parquet_globs(out_root, "rejects")],
    ).fetchone()[0]
    n_input = con.execute(
        f"select count(*) from read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()[0]
    assert rows == res["rows"]
    assert rows + rej == n_input
