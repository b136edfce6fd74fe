"""Job entrypoint — the RunApp/--config analog.

The reference boots from ``main --config config.json`` through
``Server.RunApp`` → ``ReadConfigJSON`` → ``SetupAndRunApp``
(Server/runApp.go:32-44, Server/utils.go:64-70,
Server/setupServers.go:367-394), with typed config structs and
required-field validation (setupServers.go:80-139). This module is the
Spark equivalent: a JSON job config ingested into ``PipelineConfig``
(+ session settings), validated with the same spirit of explicit
errors, then one driver run — submitted as

    spark-submit --py-files otel2pv_spark.zip -m otel2pv_spark.job \
        --config job.json

or locally ``python -m otel2pv_spark.job --config job.json``.

Config schema (all optional except input/out_root)::

    {
      "input":   {"events_dir": ".../sf0.01"} | {"transcripts_path": "..."},
      "out_root": "/data/otel2pv_out",
      "run_id":  "2026-08-17-a",
      "sequence": {"out_col": "previous_event_ids", "array_mode": true,
                   "id_map_col": null, "gap_reset": true,
                   "hot_block_size": null,
                   "tree_mode": false},
      "group_applies": [["job_name", "event_type", "error"], ...],
      "spark":   {"master": "local[16]", "shuffle_partitions": 32,
                  "extra": {"spark.foo": "bar"}},
      "incremental": {"changed_convs": ["conv-0001-000002", ...]}
                  // or {"changed_convs_path": ".../keys.parquet"} —
                  // when present, run_incremental merges instead of a
                  // full run (late/changed-data re-processing)
    }
"""

from __future__ import annotations

import argparse
import json
import sys

from .plans.pipeline import PipelineConfig


class ConfigError(ValueError):
    """Invalid job config — the Config.IngestConfig error analog
    (Server/setupServers.go:99-139)."""


def load_config(path: str) -> dict:
    with open(path) as f:
        return validate_config(json.load(f))


def validate_config(raw) -> dict:
    if not isinstance(raw, dict):
        raise ConfigError("config root must be a JSON object")
    inp = raw.get("input")
    if not isinstance(inp, dict) or not (
        "events_dir" in inp or "transcripts_path" in inp
    ):
        raise ConfigError(
            "input must set events_dir (driver tables) or transcripts_path (parquet)"
        )
    if not raw.get("out_root"):
        raise ConfigError("out_root is required")
    if raw.get("parse"):
        # the parse stage has one implementation (native, JVM-side);
        # fail loudly on the removed parse.use_pandas switch instead of
        # silently ignoring it
        raise ConfigError(
            f"parse has no settable keys (got {raw['parse']!r});"
            " parse.use_pandas was removed"
        )
    if "tree_buckets" in raw.get("sequence", {}):
        raise ConfigError(
            "sequence.tree_buckets was removed: the tree kernel uses 8"
            " buckets per shuffle partition"
        )
    ga = raw.get("group_applies", [])
    if not all(isinstance(g, (list, tuple)) and len(g) == 3 for g in ga):
        raise ConfigError(
            "group_applies entries must be [share_col, identifying_col, value]"
        )
    inc = raw.get("incremental")
    if inc is not None and (
        not isinstance(inc, dict)
        or not ("changed_convs" in inc or "changed_convs_path" in inc)
    ):
        raise ConfigError(
            "incremental must set changed_convs (list) or changed_convs_path"
        )
    return raw


def load_curation_config(path: str) -> dict:
    """Validate the ``"job": "curation"`` variant::

        {
          "job": "curation",
          "input": {"documents_path": ".../docs.parquet"},
          "eval":  {"documents_path": ".../eval.parquet"},   // optional
          "out_root": "/data/curation_out",
          "run_id": "...",
          "curation": {"quality_threshold": 0.3, "lang": "en",
                       "decontaminate_n": 8,
                       "strata_col": null, "temperature_alpha": null,
                       "target_frac": 1.0, "sample_rates": {},
                       "pack_budget": 512, "pack_shards": 8},
          "spark": {...}
        }
    """
    with open(path) as f:
        return validate_curation_config(json.load(f))


def validate_curation_config(raw) -> dict:
    if not isinstance(raw, dict) or raw.get("job") != "curation":
        raise ConfigError("curation config must set job = 'curation'")
    inp = raw.get("input")
    if not isinstance(inp, dict) or "documents_path" not in inp:
        raise ConfigError("input must set documents_path")
    if not raw.get("out_root"):
        raise ConfigError("out_root is required")
    cur = raw.get("curation", {})
    if cur.get("temperature_alpha") is not None and cur.get("sample_rates"):
        raise ConfigError("set temperature_alpha OR sample_rates, not both")
    if (cur.get("temperature_alpha") is not None or cur.get("sample_rates")) and not cur.get("strata_col"):
        raise ConfigError("sampling requires strata_col")
    return raw


def validate_observability_config(raw) -> dict:
    """Validate the ``"job": "observability"`` variant::

        {
          "job": "observability",
          "input": {"events_path": ".../events.parquet"},
          "out_root": "/data/obs_out",
          "run_id": "...",
          "observability": {"rollup_width": "1 hour", "width_sec": 3600,
                            "trail": 4, "nsigma": 3, "gap_sec": 7200,
                            "funnel_steps": ["view","click","purchase"],
                            "burst_type": "error", "burst_len": 3},
          "spark": {...}
        }
    """
    if not isinstance(raw, dict) or raw.get("job") != "observability":
        raise ConfigError("observability config must set job = 'observability'")
    inp = raw.get("input")
    if not isinstance(inp, dict) or "events_path" not in inp:
        raise ConfigError("input must set events_path")
    if not raw.get("out_root"):
        raise ConfigError("out_root is required")
    o = raw.get("observability", {})
    if "n_buckets" in o:
        # events commit as a plain Catalog table; fail loudly on the
        # removed bucketed-layout key instead of silently ignoring it
        raise ConfigError(
            "observability.n_buckets was removed (the events layout is a"
            " plain Catalog table)"
        )
    steps = o.get("funnel_steps")
    if steps is not None and (
        not isinstance(steps, (list, tuple)) or not steps
        or not all(isinstance(s, str) for s in steps)
    ):
        raise ConfigError("funnel_steps must be a non-empty list of strings")
    return raw


def _cfg_int(o: dict, name: str, default):
    """Integer config knob: exact integers only — a float like
    nsigma=2.5 must not silently truncate to 2 (that would LOWER the
    alert threshold), and a non-numeric value must fail as ConfigError
    with the knob's name, like every other validation error."""
    v = o.get(name, default)
    if v is None:
        return None
    if isinstance(v, bool) or not isinstance(v, (int, float)) or v != int(v):
        raise ConfigError(f"observability.{name} must be an integer, got {v!r}")
    return int(v)


def to_observability_config(raw: dict):
    from .plans.observability import ObsConfig

    o = raw.get("observability", {})
    return ObsConfig(
        out_root=raw["out_root"],
        run_id=raw.get("run_id"),
        rollup_width=o.get("rollup_width", "1 hour"),
        # None (default) derives the anomaly grid width from the
        # rollup itself — an explicit width_sec that disagrees with
        # rollup_width would misalign the fill grid
        width_sec=_cfg_int(o, "width_sec", None),
        trail=_cfg_int(o, "trail", 4),
        nsigma=_cfg_int(o, "nsigma", 3),
        gap_sec=_cfg_int(o, "gap_sec", 7200),
        funnel_steps=tuple(o.get("funnel_steps", ("view", "click", "purchase"))),
        burst_type=o.get("burst_type", "error"),
        burst_len=_cfg_int(o, "burst_len", 3),
    )


def _run_observability_job(raw: dict) -> dict:
    from .plans import observability
    from .session import get_spark

    cfg = to_observability_config(raw)
    sp = raw.get("spark", {})
    spark = get_spark(
        master=sp.get("master"),
        shuffle_partitions=sp.get("shuffle_partitions"),
        extra=sp.get("extra"),
        app_name=f"otel2pv-obs-{cfg.run_id or 'job'}",
    )
    events = spark.read.parquet(raw["input"]["events_path"])
    res = observability.run_observability(spark, events, cfg)
    print(json.dumps(res))
    return res


def validate_stream_config(raw) -> dict:
    """Validate the ``"job": "stream"`` variant — the live-queue mode::

        {
          "job": "stream",
          "input": {"transcripts_dir": "/data/incoming"},
          "out_root": "/data/stream_out",
          "checkpoint": "/data/stream_ckpt",
          "stream": {"max_files_per_trigger": 1, "available_now": false},
          "spark": {...}
        }

    available_now=true drains what exists and stops (backfill /
    catch-up); false runs until terminated (the service mode —
    consumer loop analog, Server/consumers.go:618-654).

    ``"stream": {"keyed": true}`` selects the cross-batch keyed mode
    (``run_stream_pipeline_keyed``): conversations may split
    mid-conversation across micro-batches; the sinks are Catalog
    tables kept row-for-row equal to the batch ``run()`` by per-batch
    keyed recompute + merge. Default (keyed=false) is the append-only
    mode, which assumes whole conversations per file.
    """
    if not isinstance(raw, dict) or raw.get("job") != "stream":
        raise ConfigError("stream config must set job = 'stream'")
    inp = raw.get("input")
    if not isinstance(inp, dict) or "transcripts_dir" not in inp:
        raise ConfigError("input must set transcripts_dir")
    if not raw.get("out_root"):
        raise ConfigError("out_root is required")
    if not raw.get("checkpoint"):
        raise ConfigError("checkpoint is required (exactly-once offsets)")
    st = raw.get("stream", {})
    if "keyed" in st and not isinstance(st["keyed"], bool):
        raise ConfigError(
            "stream.keyed must be a JSON boolean (a string would be truthy)"
        )
    return raw


def _run_stream_job(raw: dict):
    from . import datagen
    from .session import get_spark
    from .streaming import (
        read_transcripts_stream,
        run_stream_pipeline,
        run_stream_pipeline_keyed,
    )

    sp = raw.get("spark", {})
    spark = get_spark(
        master=sp.get("master"),
        shuffle_partitions=sp.get("shuffle_partitions"),
        extra=sp.get("extra"),
        app_name=f"otel2pv-stream-{raw.get('run_id', 'job')}",
    )
    st = raw.get("stream", {})
    stream = read_transcripts_stream(
        spark,
        raw["input"]["transcripts_dir"],
        max_files_per_trigger=st.get("max_files_per_trigger"),
    )
    runner = (
        run_stream_pipeline_keyed if st.get("keyed") else run_stream_pipeline
    )
    q = runner(
        stream,
        datagen.tool_meta(spark),
        datagen.role_meta(spark),
        raw["out_root"],
        raw["checkpoint"],
        available_now=bool(st.get("available_now", False)),
    )
    q.awaitTermination()
    res = {
        "out_root": raw["out_root"],
        "stopped": True,
        "mode": "keyed" if st.get("keyed") else "append",
    }
    print(json.dumps(res))
    return res


def validate_maintenance_config(raw) -> dict:
    """Validate the ``"job": "maintenance"`` variant — the Iceberg
    maintenance-actions analog (rewrite_data_files + expire_snapshots
    as one scheduled job)::

        {
          "job": "maintenance",
          "root": "/data/otel2pv_out",
          "tables": [
            {"name": "sequenced_events",
             "compact": {"target_file_mb": 256, "partition_by": ["sink"]},
             "expire_snapshots": 2},
            {"name": "rejects", "compact": {}}
          ],
          "spark": {...}
        }

    Per table: optional compaction (bin-pack small files), optional
    snapshot expiry (keep newest N previous versions; the manifest
    strategy also GCs unreferenced staged dirs). Works under either
    catalog strategy.

    History preservation: maintenance PRESERVES existing snapshot
    history by default — each table's catalog handle is given a
    retention at least as large as its current retained count (+1 for
    the version compaction itself creates), so a compact-only run can
    never silently destroy time-travel history. Pass top-level
    ``keep_snapshots`` to pin a different retention, or per-table
    ``expire_snapshots`` to trim explicitly."""
    if not isinstance(raw, dict) or raw.get("job") != "maintenance":
        raise ConfigError("maintenance config must set job = 'maintenance'")
    if not raw.get("root"):
        raise ConfigError("root is required")
    tables = raw.get("tables")
    if not isinstance(tables, list) or not tables:
        raise ConfigError("tables must be a non-empty list")
    def _is_count(v) -> bool:
        # bool is an int subclass: "expire_snapshots": true would
        # silently mean keep=1 — reject the type confusion loudly
        return isinstance(v, int) and not isinstance(v, bool) and v >= 0

    if "keep_snapshots" in raw and not _is_count(raw["keep_snapshots"]):
        raise ConfigError("keep_snapshots must be an int >= 0 (not a bool)")
    for t in tables:
        if not isinstance(t, dict) or not t.get("name"):
            raise ConfigError("each tables[] entry needs a name")
        if "compact" in t and not isinstance(t["compact"], dict):
            raise ConfigError("tables[].compact must be an object")
        if "expire_snapshots" in t and not _is_count(t["expire_snapshots"]):
            raise ConfigError(
                "tables[].expire_snapshots must be an int >= 0 (not a bool)"
            )
    return raw


def _run_maintenance_job(raw: dict):
    from .session import get_spark
    from .sources.catalog import Catalog

    sp = raw.get("spark", {})
    spark = get_spark(
        master=sp.get("master"),
        shuffle_partitions=sp.get("shuffle_partitions"),
        extra=sp.get("extra"),
        app_name="otel2pv-maintenance",
    )
    cat = Catalog(spark, raw["root"])
    keep_cfg = raw.get("keep_snapshots")
    report = []
    for t in raw["tables"]:
        name = t["name"]
        entry: dict = {"table": name}
        if not cat.exists(name):
            entry["skipped"] = "absent"
            report.append(entry)
            continue
        # preserve-by-default: the commit inside compact() expires with
        # the HANDLE's retention, and this handle knows nothing of the
        # writer's policy — so pin it to at least the currently
        # retained history (+1 for the compaction's own version)
        cat.keep_snapshots = (
            keep_cfg if keep_cfg is not None else len(cat.snapshots(name)) + 1
        )
        if "compact" in t:
            c = t["compact"]
            entry["compact"] = cat.compact(
                name,
                target_file_mb=int(c.get("target_file_mb", 256)),
                partition_by=c.get("partition_by"),
            )
        if "expire_snapshots" in t:
            entry["expired"] = cat.expire_snapshots(
                name, keep=t["expire_snapshots"]
            )
        f, b = cat._table_file_stats(name)
        entry["n_files"], entry["bytes"] = f, b
        report.append(entry)
    res = {"root": raw["root"], "tables": report}
    print(json.dumps(res))
    return res


def to_pipeline_config(raw: dict) -> PipelineConfig:
    seq = raw.get("sequence", {})
    return PipelineConfig(
        out_root=raw["out_root"],
        seq_array_mode=bool(seq.get("array_mode", True)),
        seq_out_col=seq.get("out_col", "previous_event_ids"),
        seq_id_map_col=seq.get("id_map_col"),
        gap_reset=bool(seq.get("gap_reset", True)),
        group_applies=[tuple(g) for g in raw.get("group_applies", [])],
        hot_block_size=seq.get("hot_block_size"),
        tree_mode=bool(seq.get("tree_mode", False)),
        run_id=raw.get("run_id"),
    )


def to_curation_config(raw: dict):
    from .plans.curation import CurationConfig

    cur = raw.get("curation", {})
    return CurationConfig(
        out_root=raw["out_root"],
        run_id=raw.get("run_id"),
        quality_threshold=float(cur.get("quality_threshold", 0.3)),
        lang=cur.get("lang", "en"),
        dedup_n=int(cur.get("dedup_n", 3)),
        num_hashes=int(cur.get("num_hashes", 12)),
        bands=int(cur.get("bands", 3)),
        decontaminate_n=int(cur.get("decontaminate_n", 8)),
        strata_col=cur.get("strata_col"),
        temperature_alpha=cur.get("temperature_alpha"),
        target_frac=float(cur.get("target_frac", 1.0)),
        sample_rates=cur.get("sample_rates", {}),
        pack_budget=int(cur.get("pack_budget", 512)),
        pack_shards=int(cur.get("pack_shards", 8)),
    )


def _run_curation_job(raw: dict) -> dict:
    from .plans import curation
    from .session import get_spark

    cfg = to_curation_config(raw)
    sp = raw.get("spark", {})
    spark = get_spark(
        master=sp.get("master"),
        shuffle_partitions=sp.get("shuffle_partitions"),
        extra=sp.get("extra"),
        app_name=f"otel2pv-curation-{cfg.run_id or 'job'}",
    )
    docs = spark.read.parquet(raw["input"]["documents_path"])
    ev = raw.get("eval")
    if ev and "documents_path" in ev:
        eval_df = spark.read.parquet(ev["documents_path"])
    else:
        # no eval set configured: the contamination gate never fires
        eval_df = spark.createDataFrame([], "doc_id long, text string")
    res = curation.run_curation(spark, docs, eval_df, cfg)
    print(json.dumps(res))
    return res


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--config", required=True)
    args = ap.parse_args(argv)

    with open(args.config) as f:
        head = json.load(f)
    kind = head.get("job", "pipeline") if isinstance(head, dict) else "pipeline"
    if kind == "curation":
        return _run_curation_job(validate_curation_config(head))
    if kind == "observability":
        return _run_observability_job(validate_observability_config(head))
    if kind == "stream":
        return _run_stream_job(validate_stream_config(head))
    if kind == "maintenance":
        return _run_maintenance_job(validate_maintenance_config(head))

    raw = validate_config(head)
    cfg = to_pipeline_config(raw)

    from . import datagen
    from .plans import pipeline
    from .session import get_spark

    sp = raw.get("spark", {})
    spark = get_spark(
        master=sp.get("master"),
        shuffle_partitions=sp.get("shuffle_partitions"),
        extra=sp.get("extra"),
        app_name=f"otel2pv-{cfg.run_id or 'job'}",
    )
    inp = raw["input"]
    if "events_dir" in inp:
        transcripts = datagen.transcripts_from_events(spark, inp["events_dir"])
    elif inp.get("format", "parquet") != "parquet":
        # jsonl/csv arrive through the decode gate: undecodable rows
        # land in the source_rejects Catalog table with the raw record,
        # the decoded remainder feeds the normal DAG
        from .sources import formats
        from .sources.catalog import Catalog

        transcripts, src_rejects = formats.read_with_dlq(
            spark,
            inp["transcripts_path"],
            fmt=inp["format"],
            schema=formats.TRANSCRIPT_SCHEMA,
            key_col="conv_id",
        )
        Catalog(spark, raw["out_root"]).write(src_rejects, "source_rejects")
    else:
        transcripts = spark.read.parquet(inp["transcripts_path"])
    incr = raw.get("incremental")
    if incr:
        if "changed_convs_path" in incr:
            keys = spark.read.parquet(incr["changed_convs_path"])
        else:
            keys = incr.get("changed_convs", [])
        res = pipeline.run_incremental(spark, transcripts, cfg, keys)
    else:
        res = pipeline.run(spark, transcripts, cfg)
    print(json.dumps(res))
    return res


if __name__ == "__main__":
    try:
        main()
    except ConfigError as e:
        print(f"config error: {e}", file=sys.stderr)
        sys.exit(2)
