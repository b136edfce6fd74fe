#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation, closed loop,
on ``local[nproc]`` from a single driver process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Set-up (session start, seeded inputs,
the reference the outputs are compared with and, for ``late_merge``,
the base commit) is untimed by the loop and reported as ``setup_s``.
The timed phase then repeats the workload's operation, each followed by
an untimed output check, until ``--seconds`` have passed and at least
the workload's ``MIN_OPS`` times.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces every
operation and prints the per-layer metrics, plus the tracing overhead. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}.
Lines before it give the environment record and every metric by name
with its unit. Spans of a traced run are written to
``.perfbench/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

import spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")
# BENCH/BASELINE.md measured a 78%-full disk costing 15%: refuse to
# measure with less free space than this on the work disk.
MIN_FREE_BYTES = 2 * 2**30

END_TO_END = {
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "setup_s": "s",
}

_SPAN_LAYERS = [
    "catalog.commit_fanout_split.wall_s",
    "catalog.commit_fanout_split.jobs",
    "catalog.commit_fanout_split.executor_run_s",
    "catalog.commit_fanout_split.shuffle_write_bytes",
    "catalog.commit_fanout_split.spill_bytes",
    "catalog.commit_fanout_split.output_bytes",
    "catalog.replace_keys.calls",
    "catalog.replace_keys.wall_s",
    "catalog.replace_keys.jobs",
    "catalog.replace_keys.output_bytes",
    "catalog.append.wall_s",
    "catalog.commit_fanout_split.calls",
    "catalog.append.calls",
    "catalog.write.calls",
    "catalog.read.calls",
    *(
        f"catalog.write.{t}.wall_s"
        for t in ("sequenced_events", "rejects", "_metrics", "_lineage", "turns",
                  "audit", "clean_docs", "_corpus_stats")
    ),
    "manifest.commit.calls",
    "manifest.commit.wall_s",
    "datagen.tool_meta.calls",
    "datagen.role_meta.calls",
    "pipeline.run.wall_s",
    "pipeline.run.self_s",
    "pipeline.run_incremental.wall_s",
    "pipeline.run_incremental.self_s",
    "curation.run_curation.wall_s",
    "curation.build_audit.wall_s",
    "dedup.connected_components.wall_s",
    "dedup.connected_components.jobs",
    "spark.jobs",
    "spark.stages",
    "spark.driver_idle_s",
    "sql.scan.bytes_read",
    "sql.scan.time_ms",
    "sql.exchange.shuffle_write_bytes",
    "sql.exchange.fetch_wait_ms",
    "sql.sort.time_ms",
    "sql.sort.spill_bytes",
    "sql.broadcast.collect_ms",
    "sql.broadcast.build_ms",
    "sql.python.bytes_to_worker",
    "sql.python.bytes_from_worker",
    "sql.python.run_ms",
]
_STREAM = {
    "stream.add_batch_s": "addBatch",
    "stream.query_planning_s": "queryPlanning",
    "stream.wal_commit_s": "walCommit",
    "stream.latest_offset_s": "latestOffset",
}
_OTHER_LAYERS = [
    "late_merge.rewrite_amp",
    *_STREAM,
    "session.get_spark_s",
    "setup.inputs_s",
    "setup.prepare_s",
    "trace.overhead_frac",
    "peak_pss_mb",
]


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MiB"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_amp", "_frac")):
        return "ratio"
    return "count"


PER_LAYER = {n: layer_unit(n) for n in _SPAN_LAYERS + _OTHER_LAYERS}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["batch_window", "batch_tree", "late_merge", "curation"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


# ------------------------------------------------------------- memory
def _tree_pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid`` and all its descendants (the
    driver JVM and the Python workers it forks). PSS splits pages shared
    after fork among the sharers; summed RSS would count each forked
    worker's inherited pages again."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
        todo += children.get(p, [])
    return total


class MemSampler(threading.Thread):
    def __init__(self, pid: int, period: float = 0.5):
        super().__init__(daemon=True)
        self.pid, self.period, self.peak = pid, period, 0
        self._halt = threading.Event()

    def run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_pss_bytes(self.pid))
            if self._halt.wait(self.period):
                return

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak


# -------------------------------------------------------- environment
def _git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True, timeout=30)
    return r.stdout.strip() or None


def _source_sha256() -> str:
    """Digest of the package sources, the commit stand-in for checkouts
    that are not git repositories."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "otel2pv_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def environment(spark, args, nproc: int) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "catalog": os.environ.get("SPARK_GRAFT_CATALOG", "posix"),
        "git_commit": _git_commit(),
        "source_sha256": _source_sha256(),
        "disk_free_gb": round(shutil.disk_usage(ROOT).free / 2**30, 1),
    }


# ------------------------------------------------------------ tracing
def traced_targets():
    """(owner, attribute, namer) for every public entry point the
    tracer wraps."""
    from otel2pv_spark import datagen, session
    from otel2pv_spark.functions import dedup
    from otel2pv_spark.plans import curation, pipeline
    from otel2pv_spark.sources import catalog, manifest
    from otel2pv_spark.streaming import stream_pipeline

    def fixed(name):
        return lambda args, kwargs: name

    out = [
        (session, "get_spark", fixed("session.get_spark")),
        (datagen, "synth_transcripts", fixed("datagen.synth_transcripts")),
        (datagen, "tool_meta", fixed("datagen.tool_meta")),
        (datagen, "role_meta", fixed("datagen.role_meta")),
        (pipeline, "run", fixed("pipeline.run")),
        (pipeline, "run_incremental", fixed("pipeline.run_incremental")),
        (curation, "run_curation", fixed("curation.run_curation")),
        (curation, "build_audit", fixed("curation.build_audit")),
        (dedup, "connected_components", fixed("dedup.connected_components")),
        (manifest.RunManifest, "commit", fixed("manifest.commit")),
        (stream_pipeline, "run_stream_pipeline_keyed", fixed("stream.run_stream_pipeline_keyed")),
        (stream_pipeline, "read_transcripts_stream", fixed("stream.read_transcripts_stream")),
    ]
    for cls in (catalog._CatalogBase, catalog.PosixCatalog, catalog.ManifestCatalog):
        for meth in ("commit_fanout_split", "replace_keys", "append", "read", "drop"):
            if meth in cls.__dict__:
                out.append((cls, meth, fixed(f"catalog.{meth}")))
        if "write" in cls.__dict__:
            out.append((cls, "write", lambda a, k: f"catalog.write.{a[2] if len(a) > 2 else k['table']}"))
    return out


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def op_layers(op_trace, res: dict) -> dict[str, float]:
    m = spans.layer_metrics(op_trace)
    if "triggers" in res:
        for name, key in _STREAM.items():
            m[name] = _median([t.get(key, 0) / 1e3 for t in res["triggers"]])
        m["late_merge.rewrite_amp"] = m.get("catalog.replace_keys.output_records", 0.0) / res["items"]
    return m


# --------------------------------------------------------------- main
def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, "otel2pv_spark")):
        print(f"no otel2pv_spark package under {ROOT}", file=sys.stderr)
        return 2
    free = shutil.disk_usage(ROOT).free
    if free < MIN_FREE_BYTES:
        print(f"refusing to measure: {free / 2**30:.1f} GiB free on the work disk "
              f"(< {MIN_FREE_BYTES / 2**30:.0f} GiB)", file=sys.stderr)
        return 3

    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    # Python workers import the package themselves; all scratch stays
    # inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM started here, the spark-submit launcher's too
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    sys.path.insert(0, ROOT)

    from otel2pv_spark import session
    from workloads import WORKLOADS

    tracer = spans.Tracer(run_id=f"{args.workload}-s{args.seed}") if args.trace else None
    targets = traced_targets() if tracer else []
    if tracer:
        tracer.install(targets)

    nproc = len(os.sched_getaffinity(0))
    spark = wl = None
    try:
        t0 = time.perf_counter()
        spark = session.get_spark(
            master=f"local[{nproc}]",
            app_name=f"perfbench-{args.workload}",
            extra={
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        sc = spark.sparkContext
        session_s = time.perf_counter() - t0

        wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed)
        t = time.perf_counter()
        wl.make_inputs()
        inputs_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        setup_s = session_s + inputs_s + prepare_s
        if tracer:
            tracer.uninstall()

        env = environment(spark, args, nproc)
        print("env " + json.dumps(env), flush=True)
        print(f"setup session {session_s:.2f} s, inputs {inputs_s:.2f} s, "
              f"prepare {prepare_s:.2f} s", flush=True)

        ops = []
        # memory is a per-layer metric: /proc walks stay out of the
        # untraced runs' timings
        sampler = MemSampler(sc._gateway.proc.pid) if tracer else None
        if sampler:
            sampler.start()
        deadline = time.perf_counter() + args.seconds
        while True:
            wl.reset()
            if tracer:
                tracer.install(targets)
                tracer.begin_op(sc, f"op{len(ops)}")
            res, err = None, None
            t = time.perf_counter()
            try:
                res = wl.op()
            except Exception:  # a failed operation is counted, not fatal
                err = traceback.format_exc()
            wall = time.perf_counter() - t
            rec = {"wall_s": wall}
            if tracer:
                tracer.uninstall()
                rec["trace"] = tracer.end_op(sc)
            if err is None:
                try:
                    err = wl.check(res)
                except Exception:
                    err = traceback.format_exc()
            if err:
                print(f"operation {len(ops)} failed: {err}", file=sys.stderr, flush=True)
            rec.update(res=res, error=err)
            ops.append(rec)
            if wl.done() or (time.perf_counter() >= deadline and len(ops) >= wl.MIN_OPS):
                break
        peak_mem = sampler.stop() if sampler else 0
    finally:
        if tracer:
            tracer.uninstall()
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    good = [o for o in ops if not o["error"]]
    failed = len(ops) - len(good)
    print("operation walls " + " ".join(f"{o['wall_s']:.3f}" for o in ops) + " s")
    print(f"fail_frac {failed / len(ops):.6g} (of {len(ops)} operations)")
    if tracer:
        metrics = per_layer_result(tracer, good, session_s, inputs_s, prepare_s, peak_mem)
        units = PER_LAYER
        write_trace(args, env, tracer, ops)
    else:
        metrics = end_to_end_result(args.workload, good, setup_s)
        units = END_TO_END
    for name in units:
        print(f"{name} {metrics[name]:.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units},
    }))
    return 0


def end_to_end_result(workload: str, good: list, setup_s: float) -> dict:
    latencies = [x for o in good for x in o["res"]["latencies_s"]]
    print("latencies " + " ".join(f"{x:.3f}" for x in latencies) + " s")
    rates = [o["res"]["items"] / o["wall_s"] for o in good]
    m = {
        "items_per_s": _median(rates),
        "op_p50_s": _median(latencies),
        "setup_s": setup_s,
    }
    # the same numbers under the names a user of each workload knows
    named = {
        "batch_window": [("turns_per_s", m["items_per_s"], "1/s")],
        "batch_tree": [("turns_per_s", m["items_per_s"], "1/s")],
        "late_merge": [
            ("trigger_p50_s", m["op_p50_s"], f"s (n={len(latencies)} triggers)"),
            ("drain_s", sum(o["wall_s"] for o in good), f"s ({len(good)} late files, one at a time)"),
            ("late_turns_per_s", m["items_per_s"], "1/s"),
        ],
        "curation": [("docs_per_s", m["items_per_s"], "1/s")],
    }[workload]
    for name, value, unit in named:
        print(f"{name} {value:.6g} {unit}")
    return m


def per_layer_result(tracer, good, session_s, inputs_s, prepare_s, peak_mem) -> dict:
    per_op = [op_layers(o["trace"], o["res"]) for o in good]
    m = {n: _median([d.get(n, 0.0) for d in per_op]) for n in PER_LAYER}
    # a count that differs between operations is a median, not an exact count
    for n, unit in PER_LAYER.items():
        vals = [d.get(n, 0.0) for d in per_op]
        if unit == "count" and len(set(vals)) > 1:
            print(f"{n} varies: {min(vals):g}..{max(vals):g} over {len(vals)} traced operations")
    spark_spans = [s.dur for s in tracer.spans if s.name == "session.get_spark"]
    m["session.get_spark_s"] = spark_spans[0] if spark_spans else session_s
    m["setup.inputs_s"] = inputs_s
    m["setup.prepare_s"] = prepare_s
    m["peak_pss_mb"] = peak_mem / 2**20
    # the tracer's own time inside the timed wall: opening and closing
    # spans and setting job groups (status-store reads come after it)
    m["trace.overhead_frac"] = _median(
        [sum(s.own for s in o["trace"].spans) / o["wall_s"] for o in good]
    )
    return m


def write_trace(args, env: dict, tracer, ops: list) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"trace-{args.workload}-s{args.seed}.json")
    doc = {
        "env": env,
        "spans": [vars(s) for s in tracer.spans],
        "ops": [
            {
                "wall_s": o["wall_s"],
                "error": o["error"],
                "jobs": [vars(j) for j in o["trace"].jobs],
                "sql": o["trace"].sql,
            }
            for o in ops
        ],
    }
    with open(path, "w") as f:
        json.dump(doc, f)
    print(f"trace written to {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
