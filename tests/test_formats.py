"""Multi-format source gate: decode failures and missing keys route to
the DLQ with the raw record; good rows arrive schema-enforced."""

from __future__ import annotations

from conftest import read_table
from otel2pv_spark.sources import formats


def test_jsonl_dlq_split(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "a"}\n'
        "this is not json at all\n"
        '{"doc_id": 2, "text": "more text", "lang": "en", "source": "b"}\n'
        '{"text": "no id here", "lang": "en", "source": "c"}\n'
    )
    good, rej = formats.read_with_dlq(
        spark, str(p), fmt="jsonl", key_col="doc_id"
    )
    g = {r["doc_id"]: r for r in good.collect()}
    assert set(g) == {1, 2}
    assert g[1]["text"] == "hello world"
    assert good.columns == ["doc_id", "text", "lang", "source"]
    reasons = {(r["reject_reason"]) for r in rej.collect()}
    assert reasons == {"decode_error", "missing_key"}
    raw = [r["raw_record"] for r in rej.collect() if r["reject_reason"] == "decode_error"]
    assert raw == ["this is not json at all"]


def test_csv_dlq_split(spark, tmp_path):
    p = tmp_path / "docs.csv"
    p.write_text(
        "doc_id,text,lang,source\n"
        "1,hello,en,a\n"
        "not_a_number,broken,en,b\n"
        "2,world,en,c\n"
    )
    good, rej = formats.read_with_dlq(spark, str(p), fmt="csv", key_col="doc_id")
    assert {r["doc_id"] for r in good.collect()} == {1, 2}
    rr = rej.collect()
    assert len(rr) == 1 and rr[0]["reject_reason"] in ("decode_error", "missing_key")


def test_parquet_passthrough(spark, tmp_path, sf_dir):
    good, rej = formats.read_with_dlq(
        spark, f"{sf_dir}/documents.parquet", fmt="parquet", key_col="doc_id"
    )
    assert good.count() > 0 and rej.count() == 0


def test_unknown_format_raises(spark):
    import pytest

    with pytest.raises(ValueError, match="unsupported format"):
        formats.read_with_dlq(spark, "/tmp/x", fmt="avro")


def test_pipeline_job_reads_jsonl_source(spark, tmp_path):
    """job config with input.format=jsonl: corrupt lines land in
    source_rejects, decoded rows run the full DAG."""
    import json as _json

    from otel2pv_spark import datagen, job

    tr = datagen.transcripts_from_events(spark, "/root/testdata/sf0.001")
    src = tmp_path / "turns.jsonl"
    lines = [
        _json.dumps(
            {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"], "role": r["role"],
             "text": r["text"], "tool": r["tool"], "ts": str(r["ts"])}
        )
        for r in tr.collect()
    ]
    lines.insert(3, "garbled non-json line")
    src.write_text("\n".join(lines) + "\n")

    cfgp = tmp_path / "job.json"
    cfgp.write_text(_json.dumps({
        "input": {"transcripts_path": str(src), "format": "jsonl"},
        "out_root": str(tmp_path / "out"), "run_id": "fmt1",
        "spark": {"master": "local[4]", "shuffle_partitions": 8},
    }))
    res = job.main(["--config", str(cfgp)])
    assert res["rows"] > 0
    rej = read_table(spark, tmp_path / "out", "source_rejects").collect()
    assert len(rej) == 1 and rej[0]["reject_reason"] == "decode_error"
    assert rej[0]["raw_record"] == "garbled non-json line"
