"""Job-config entrypoint (RunApp --config analog) and HTTP sink (K3):
config validation errors, end-to-end run from a JSON config, delivery
of every row over HTTP, and retry-after-failure behavior.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from conftest import read_table
from otel2pv_spark import job
from otel2pv_spark.sources.http_sink import HTTPSendError, write_http

SF = "/root/testdata/sf0.001"


# ----------------------------------------------------------- job config
def _write_cfg(tmp_path, **over):
    cfg = {
        "input": {"events_dir": SF},
        "out_root": str(tmp_path / "out"),
        "run_id": "jobtest",
        "sequence": {"hot_block_size": 64},
        "group_applies": [["job_name", "event_type", "error"]],
        "spark": {"master": "local[4]", "shuffle_partitions": 8},
    }
    cfg.update(over)
    p = tmp_path / "job.json"
    p.write_text(json.dumps(cfg))
    return str(p)


def test_job_end_to_end(spark, tmp_path):
    res = job.main(["--config", _write_cfg(tmp_path)])
    assert res["rows"] == 989
    assert sorted(res["committed"]) == ["fanout", "lineage", "metrics", "rejects"]
    out = read_table(spark, tmp_path / "out", "sequenced_events")
    assert out.count() == 989


def test_job_config_validation(tmp_path):
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"out_root": "/tmp/x"}))
    with pytest.raises(job.ConfigError, match="input"):
        job.load_config(str(bad))
    bad.write_text(json.dumps({"input": {"events_dir": SF}}))
    with pytest.raises(job.ConfigError, match="out_root"):
        job.load_config(str(bad))
    bad.write_text(json.dumps({
        "input": {"events_dir": SF}, "out_root": "/tmp/x",
        "group_applies": [["only_two", "fields"]],
    }))
    with pytest.raises(job.ConfigError, match="group_applies"):
        job.load_config(str(bad))
    # the parse stage has one implementation: the removed pandas switch
    # fails loudly instead of being silently ignored
    bad.write_text(json.dumps({
        "input": {"events_dir": SF}, "out_root": "/tmp/x",
        "parse": {"use_pandas": True},
    }))
    with pytest.raises(job.ConfigError, match="parse.use_pandas"):
        job.load_config(str(bad))


# ------------------------------------------------------------ http sink
class _Collector(BaseHTTPRequestHandler):
    bodies: list[bytes] = []
    fail_first = 0
    respond_status = None
    hits = 0

    def do_POST(self):
        body = self.rfile.read(int(self.headers["Content-Length"]))
        cls = type(self)
        cls.hits += 1
        if cls.respond_status is not None:
            self.send_response(cls.respond_status)
            self.end_headers()
            return
        if cls.fail_first > 0:
            cls.fail_first -= 1
            self.send_response(503)
            self.end_headers()
            return
        cls.bodies.append(body)
        self.send_response(200)
        self.end_headers()

    def log_message(self, *a):  # quiet
        pass


@pytest.fixture()
def http_server():
    _Collector.bodies = []
    _Collector.fail_first = 0
    _Collector.respond_status = None
    _Collector.hits = 0
    srv = HTTPServer(("127.0.0.1", 0), _Collector)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}/sink", _Collector
    srv.shutdown()


def test_http_sink_delivers_all_rows(spark, http_server):
    url, coll = http_server
    df = spark.range(0, 123).selectExpr("id", "concat('v', id) AS val").coalesce(2)
    write_http(df, url, batch_size=50)
    rows = []
    for b in coll.bodies:
        rows.extend(json.loads(b))
    assert sorted(r["id"] for r in rows) == list(range(123))
    # batching respected: no request carried more than batch_size rows
    assert max(len(json.loads(b)) for b in coll.bodies) <= 50


def test_http_sink_retries_then_succeeds(spark, http_server):
    url, coll = http_server
    coll.fail_first = 2  # first two attempts 503, then accept
    df = spark.range(0, 5).coalesce(1)
    write_http(df, url, batch_size=10, backoff_s=0.05)
    rows = [r for b in coll.bodies for r in json.loads(b)]
    assert sorted(r["id"] for r in rows) == list(range(5))


def test_http_sink_raises_after_exhausted_retries(spark):
    df = spark.range(0, 3).coalesce(1)
    with pytest.raises(Exception) as ei:
        # unroutable port, 0 retries, tiny timeout
        write_http(df, "http://127.0.0.1:1/sink", retries=0,
                   timeout_s=0.2, backoff_s=0.01)
    assert "HTTPSendError" in str(ei.value) or isinstance(ei.value, HTTPSendError)


def test_config_tree_mode_mapping():
    raw = {
        "input": {"events_dir": "x"},
        "out_root": "/tmp/x",
        "sequence": {"tree_mode": True},
    }
    assert job.to_pipeline_config(job.validate_config(raw)).tree_mode is True
    raw["sequence"]["tree_buckets"] = 64
    with pytest.raises(job.ConfigError, match="sequence.tree_buckets"):
        job.validate_config(raw)


def test_job_incremental_end_to_end(spark, sf_dir, tmp_path):
    """job.main with an incremental config routes through
    run_incremental (late-data merge)."""
    import json

    from otel2pv_spark import datagen, job
    from otel2pv_spark.plans import pipeline

    out = str(tmp_path / "out")
    pipeline.run_from_events(
        spark, sf_dir, pipeline.PipelineConfig(out_root=out, run_id="base")
    )
    tr = datagen.transcripts_from_events(spark, sf_dir)
    convs = [r.conv_id for r in tr.select("conv_id").distinct().limit(2).collect()]
    cfg_path = tmp_path / "job.json"
    cfg_path.write_text(json.dumps({
        "input": {"events_dir": sf_dir},
        "out_root": out,
        "run_id": "delta",
        "incremental": {"changed_convs": convs},
        "spark": {"master": "local[4]", "shuffle_partitions": 8},
    }))
    res = job.main(["--config", str(cfg_path)])
    assert res["recomputed_convs"] == 2 and res["rows"] > 0


def test_job_config_rejects_bad_incremental(tmp_path):
    import json

    import pytest

    from otel2pv_spark import job

    cfg_path = tmp_path / "bad.json"
    cfg_path.write_text(json.dumps({
        "input": {"events_dir": "x"}, "out_root": "/tmp/x",
        "incremental": {},
    }))
    with pytest.raises(job.ConfigError):
        job.load_config(str(cfg_path))


def test_curation_job_end_to_end(spark, tmp_path):
    docs_path = str(tmp_path / "docs.parquet")
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text", "source"
    ).write.parquet(docs_path)
    eval_path = str(tmp_path / "eval.parquet")
    spark.read.parquet(docs_path).filter("doc_id % 50 = 0").select(
        "doc_id", "text"
    ).write.parquet(eval_path)

    cfgp = tmp_path / "cur.json"
    cfgp.write_text(json.dumps({
        "job": "curation",
        "input": {"documents_path": docs_path},
        "eval": {"documents_path": eval_path},
        "out_root": str(tmp_path / "out"),
        "run_id": "cj1",
        "curation": {"strata_col": "source", "temperature_alpha": 0.5,
                     "target_frac": 0.5},
        "spark": {"master": "local[4]", "shuffle_partitions": 8},
    }))
    res = job.main(["--config", str(cfgp)])
    assert res["committed"] == ["audit", "clean", "stats"]
    assert res["n_in"] == 500 and 0 < res["n_kept"] < 500
    assert read_table(spark, tmp_path / "out", "clean_docs").count() == res["n_kept"]


def test_curation_job_config_validation(tmp_path):
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"job": "curation", "input": {}, "out_root": "x"}))
    with pytest.raises(job.ConfigError, match="documents_path"):
        job.load_curation_config(str(bad))
    bad.write_text(json.dumps({
        "job": "curation", "input": {"documents_path": "d"}, "out_root": "x",
        "curation": {"temperature_alpha": 0.5},
    }))
    with pytest.raises(job.ConfigError, match="strata_col"):
        job.load_curation_config(str(bad))
    bad.write_text(json.dumps({
        "job": "curation", "input": {"documents_path": "d"}, "out_root": "x",
        "curation": {"temperature_alpha": 0.5, "sample_rates": {"a": 1.0},
                     "strata_col": "s"},
    }))
    with pytest.raises(job.ConfigError, match="not both"):
        job.load_curation_config(str(bad))


def test_http_sink_no_retry_on_permanent_4xx(http_server):
    """A 400 can never succeed on retry: fail immediately (one attempt),
    don't burn the backoff schedule. Direct _post_with_retry call so the
    attempt count is observable via the server's hit counter."""
    from otel2pv_spark.sources.http_sink import HTTPSendError, _post_with_retry

    url, coll = http_server
    coll.respond_status = 400
    with pytest.raises(HTTPSendError, match="rejected permanently"):
        _post_with_retry(url, b"[]", retries=3, timeout_s=2.0,
                         backoff_s=0.05, multiplier=1.0)
    assert coll.hits == 1  # exactly one attempt, no retries


def test_observability_job_end_to_end(spark, tmp_path):
    cfgp = tmp_path / "obs.json"
    cfgp.write_text(json.dumps({
        "job": "observability",
        "input": {"events_path": "/root/testdata/sf0.001/events.parquet"},
        "out_root": str(tmp_path / "obs_out"),
        "run_id": "oj1",
        "observability": {"burst_len": 2},
        "spark": {"master": "local[4]", "shuffle_partitions": 8},
    }))
    res = job.main(["--config", str(cfgp)])
    assert set(res["committed"]) == {
        "layout", "rollup", "anomalies", "sessions", "funnel", "bursts",
    }
    assert res["n_events"] > 0 and res["n_sessions"] > 0
    out = tmp_path / "obs_out"
    for t in ("obs_rollup", "obs_anomalies", "obs_sessions",
              "obs_funnel", "obs_bursts"):
        assert read_table(spark, out, t).count() >= 0


def test_observability_job_config_validation(tmp_path):
    with pytest.raises(job.ConfigError, match="events_path"):
        job.validate_observability_config(
            {"job": "observability", "input": {}, "out_root": "x"})
    with pytest.raises(job.ConfigError, match="funnel_steps"):
        job.validate_observability_config({
            "job": "observability", "input": {"events_path": "e"},
            "out_root": "x", "observability": {"funnel_steps": []},
        })
    with pytest.raises(job.ConfigError, match="n_buckets was removed"):
        job.validate_observability_config({
            "job": "observability", "input": {"events_path": "e"},
            "out_root": "x", "observability": {"n_buckets": 8},
        })


def test_stream_job_drains_and_matches_batch_counts(spark, tmp_path):
    """job='stream' with available_now drains the directory through the
    streaming pipeline; row counts match the batch DAG."""
    from otel2pv_spark import datagen

    src = str(tmp_path / "stream_in")
    tr = datagen.transcripts_from_events(spark, "/root/testdata/sf0.001")
    tr.coalesce(1).write.parquet(src)

    cfgp = tmp_path / "st.json"
    cfgp.write_text(json.dumps({
        "job": "stream",
        "input": {"transcripts_dir": src},
        "out_root": str(tmp_path / "st_out"),
        "checkpoint": str(tmp_path / "st_ckpt"),
        "stream": {"available_now": True},
        "spark": {"master": "local[4]", "shuffle_partitions": 8},
    }))
    res = job.main(["--config", str(cfgp)])
    assert res["stopped"]
    # mode-1 streaming appends RAW parquet dirs (not Catalog tables),
    # and a Catalog read of them says so
    seq = spark.read.parquet(str(tmp_path / "st_out" / "sequenced_events"))
    rej = spark.read.parquet(str(tmp_path / "st_out" / "rejects"))
    assert seq.count() + rej.count() == tr.count()
    from otel2pv_spark.sources.catalog import Catalog

    with pytest.raises(ValueError, match="plain parquet directory"):
        Catalog(spark, str(tmp_path / "st_out")).read("sequenced_events")


def test_stream_job_config_validation(tmp_path):
    with pytest.raises(job.ConfigError, match="transcripts_dir"):
        job.validate_stream_config(
            {"job": "stream", "input": {}, "out_root": "x", "checkpoint": "c"})
    with pytest.raises(job.ConfigError, match="checkpoint"):
        job.validate_stream_config(
            {"job": "stream", "input": {"transcripts_dir": "d"},
             "out_root": "x"})


def test_observability_int_knobs_validated():
    with pytest.raises(job.ConfigError, match="nsigma"):
        job.to_observability_config({
            "out_root": "x", "observability": {"nsigma": 2.5}})
    with pytest.raises(job.ConfigError, match="trail"):
        job.to_observability_config({
            "out_root": "x", "observability": {"trail": "four"}})
    cfg = job.to_observability_config({"out_root": "x", "observability": {}})
    assert cfg.width_sec is None and cfg.nsigma == 3


def test_stream_job_keyed_mode(spark, tmp_path):
    """job='stream' with stream.keyed=true runs the cross-batch keyed
    pipeline: Catalog sink tables, batch-equal even though this config
    path is exercised over one whole file."""
    from otel2pv_spark import datagen

    tr = datagen.transcripts_from_events(spark, SF)
    src = tmp_path / "kj_src"
    src.mkdir()
    tr.toPandas().to_parquet(str(src / "all.parquet"), index=False,
                             coerce_timestamps="us",
                             allow_truncated_timestamps=True)
    cfgp = tmp_path / "kj.json"
    cfgp.write_text(json.dumps({
        "job": "stream",
        "input": {"transcripts_dir": str(src)},
        "out_root": str(tmp_path / "kj_out"),
        "checkpoint": str(tmp_path / "kj_ckpt"),
        "stream": {"available_now": True, "keyed": True},
        "spark": {"master": "local[4]", "shuffle_partitions": 8},
    }))
    res = job.main(["--config", str(cfgp)])
    assert res["stopped"] and res["mode"] == "keyed"
    seq = read_table(spark, tmp_path / "kj_out", "sequenced_events")
    rej = read_table(spark, tmp_path / "kj_out", "rejects")
    assert seq.count() + rej.count() == tr.count()


def test_maintenance_job_compacts_and_expires(spark, tmp_path):
    """job='maintenance': per-table compaction + snapshot expiry — the
    Iceberg maintenance-actions analog as one scheduled job."""
    from pyspark.sql import functions as F

    from otel2pv_spark.sources.catalog import Catalog

    root = str(tmp_path / "mroot")
    cat = Catalog(spark, root, keep_snapshots=5)
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("sink")
    )
    for _ in range(3):                      # builds version history
        cat.write(df.repartition(16), "t")
    assert len(cat.snapshots("t")) == 2

    cfgp = tmp_path / "m.json"
    cfgp.write_text(json.dumps({
        "job": "maintenance",
        "root": root,
        "tables": [
            {"name": "t", "compact": {"target_file_mb": 256},
             "expire_snapshots": 0},
            {"name": "ghost", "compact": {}},
        ],
        "spark": {"master": "local[4]", "shuffle_partitions": 8},
    }))
    res = job.main(["--config", str(cfgp)])
    by = {t["table"]: t for t in res["tables"]}
    assert by["t"]["compact"]["files_before"] == 16
    assert by["t"]["n_files"] == 1
    assert by["ghost"]["skipped"] == "absent"
    # expiry happened (compaction itself added one more version first)
    cat2 = Catalog(spark, root, keep_snapshots=5)
    assert cat2.snapshots("t") == []
    assert cat2.read("t").count() == 2000


def test_maintenance_config_validation(tmp_path):
    for bad in (
        {"job": "maintenance"},                                # no root
        {"job": "maintenance", "root": "/x", "tables": []},    # empty
        {"job": "maintenance", "root": "/x", "tables": [{}]},  # no name
        {"job": "maintenance", "root": "/x",
         "tables": [{"name": "t", "expire_snapshots": -1}]},
    ):
        with pytest.raises(job.ConfigError):
            job.validate_maintenance_config(bad)


def test_catalog_metadata_tables(spark, tmp_path):
    """history()/files() — the Iceberg metadata-table analog."""
    from otel2pv_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "meta"), keep_snapshots=3)
    cat.write(spark.range(10).repartition(2), "t")
    cat.write(spark.range(20).repartition(3), "t")
    h = {r.version: r for r in cat.history("t").collect()}
    assert len(h) == 2
    cur = [r for r in h.values() if r.is_current]
    assert len(cur) == 1 and cur[0].n_files == 3
    prev = [r for r in h.values() if not r.is_current][0]
    assert prev.n_files == 2
    f = cat.files("t").collect()
    assert len(f) == 3 and all(r.bytes > 0 for r in f)
    assert len(cat.files("t", version=prev.version).collect()) == 2


def test_maintenance_preserves_history_by_default(spark, tmp_path):
    """A compact-only maintenance run must NOT destroy retained
    snapshot history (second review pass): the maintenance catalog
    handle defaults to preserving at least the current retention."""
    from otel2pv_spark.sources.catalog import Catalog

    root = str(tmp_path / "mh")
    cat = Catalog(spark, root, keep_snapshots=3)
    for tag in ("a", "b", "c"):
        cat.write(
            spark.range(100).selectExpr("id", f"'{tag}' as tag"), "t"
        )
    assert len(cat.snapshots("t")) == 2

    cfgp = tmp_path / "mh.json"
    cfgp.write_text(json.dumps({
        "job": "maintenance",
        "root": root,
        "tables": [{"name": "t", "compact": {}}],   # NO expiry requested
        "spark": {"master": "local[4]", "shuffle_partitions": 8},
    }))
    job.main(["--config", str(cfgp)])
    cat2 = Catalog(spark, root, keep_snapshots=3)
    # the two retained versions survive, plus the pre-compaction state
    assert len(cat2.snapshots("t")) == 3
    assert {r.tag for r in cat2.read("t").collect()} == {"c"}


def test_maintenance_rejects_bool_counts(tmp_path):
    with pytest.raises(job.ConfigError, match="bool"):
        job.validate_maintenance_config({
            "job": "maintenance", "root": "/x",
            "tables": [{"name": "t", "expire_snapshots": True}],
        })
    with pytest.raises(job.ConfigError, match="bool"):
        job.validate_maintenance_config({
            "job": "maintenance", "root": "/x", "keep_snapshots": False,
            "tables": [{"name": "t"}],
        })
    with pytest.raises(job.ConfigError, match="boolean"):
        job.validate_stream_config({
            "job": "stream", "input": {"transcripts_dir": "/i"},
            "out_root": "/o", "checkpoint": "/c",
            "stream": {"keyed": "false"},
        })
