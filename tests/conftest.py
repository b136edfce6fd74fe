from __future__ import annotations

import contextlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from otel2pv_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="otel2pv_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def read_table(spark, root, tbl):
    """Read a catalog table (data lives in staged dirs named by the
    manifest, never under ``root/tbl``)."""
    from otel2pv_spark.sources.catalog import Catalog

    return Catalog(spark, str(root)).read(tbl)


def table_mtime_fingerprint(spark, root, tbl):
    """Data-file mtimes of a committed table — the 'was this table
    rewritten?' probe for resume tests."""
    from otel2pv_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(root))
    man = cat._load_manifest(tbl)
    out = {}
    for e in man["entries"]:
        # entries store root-RELATIVE paths (portable catalog); walking
        # them raw resolves against the process CWD and silently yields
        # {} — which made every "not rewritten" assertion vacuous
        # (ADVICE r3).
        for dp, _dirs, fs in os.walk(cat._abs(e["path"])):
            for f in fs:
                p = os.path.join(dp, f)
                out[p] = os.path.getmtime(p)
    assert out, f"empty mtime fingerprint for committed table {tbl!r}"
    return out


def table_parquet_globs(root, tbl):
    """Physical parquet globs of a committed table resolved WITHOUT
    Spark (for independent DuckDB verification): the pointer + manifest
    JSON, exactly as a non-Spark consumer of the table format would."""
    import json

    root = str(root)
    meta = os.path.join(root, "_meta", tbl)
    with open(os.path.join(meta, "VERSION")) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(meta, f"v{v}.json")) as fh:
        man = json.load(fh)
    # manifest entries are root-relative (portable catalog)
    return [
        os.path.join(
            e["path"] if os.path.isabs(e["path"]) else os.path.join(root, e["path"]),
            "**",
            "*.parquet",
        )
        for e in man["entries"]
    ]


@contextlib.contextmanager
def spark_jobs(spark):
    """Yield a list that holds, once the block exits, the ids of the
    Spark jobs the block ran (one fresh job group on this thread)."""
    sc = spark.sparkContext
    group = "jobs-" + uuid.uuid4().hex[:8]
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
