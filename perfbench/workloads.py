"""The benchmark's workloads: seeded inputs, one timed operation each,
and the check that its output is right.

Every workload runs closed-loop with one client: an operation starts
only after the previous one (and its check) has finished. Inputs come
from the seed alone (curation's are fixed); each operation starts from
the same output state, restored untimed by ``reset``.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otel2pv_spark import datagen
from otel2pv_spark.plans import curation, pipeline
from otel2pv_spark.sources import catalog
from otel2pv_spark.streaming import stream_pipeline

FINGERPRINT_COLS = ("conv_id", "turn_idx", "sink", "previous_event_ids", "verified")


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """Order-independent (rows, sum of row hashes) over the columns that
    carry the sequencing result."""
    r = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*FINGERPRINT_COLS).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"] or 0)


class Workload:
    MIN_OPS = 1  # operations per run, however short --seconds is

    def __init__(self, spark: SparkSession, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.n_ops = 0
        os.makedirs(work, exist_ok=True)

    def make_inputs(self) -> None:
        """Materialize the seeded inputs."""

    def prepare(self) -> None:
        """The rest of set-up, after the inputs exist."""

    def reset(self) -> None:
        """Untimed: bring the outputs back to the state an operation starts from."""

    def op(self) -> dict:
        """Timed: returns {"items": n, "latencies_s": [...], ...}."""
        raise NotImplementedError

    def check(self, res: dict) -> str | None:
        """None when the operation's outputs are right, else why not."""
        raise NotImplementedError

    def done(self) -> bool:
        """True when the inputs allow no further operation."""
        return False

    def close(self) -> None:
        """Stop whatever set-up started."""


class Batch(Workload):
    """``pipeline.run`` over a seeded ``synth_transcripts`` table that is
    materialized to parquet at set-up; window or tree sequencing."""

    N_CONVS = 3000

    def __init__(self, spark, work, seed, tree_mode: bool):
        super().__init__(spark, work, seed)
        self.tree_mode = tree_mode
        self.inp = os.path.join(work, "transcripts")
        self.out = os.path.join(work, "out")

    def make_inputs(self) -> None:
        datagen.synth_transcripts(
            self.spark, n_convs=self.N_CONVS, seed=self.seed
        ).write.mode("overwrite").parquet(self.inp)

    def prepare(self) -> None:
        self.tr = self.spark.read.parquet(self.inp)
        self.n_in = self.tr.count()
        # the window plan's rows are the reference for both modes
        # (tree == window)
        routable, _ = pipeline.build_sequenced(
            self.tr, datagen.tool_meta(self.spark), datagen.role_meta(self.spark),
            pipeline.PipelineConfig(),
        )
        self.ref = fingerprint(routable)

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def op(self) -> dict:
        self.n_ops += 1
        cfg = pipeline.PipelineConfig(
            out_root=self.out, run_id=f"op{self.n_ops}", tree_mode=self.tree_mode
        )
        t = time.perf_counter()
        res = pipeline.run(self.spark, self.tr, cfg)
        return {"items": self.n_in, "latencies_s": [time.perf_counter() - t], "run": res}

    def check(self, res: dict) -> str | None:
        cat = catalog.Catalog(self.spark, self.out)
        fp = fingerprint(cat.read("sequenced_events"))
        n_rej = cat.read("rejects").count()
        run_id = res["run"]["run_id"]
        metric_rows = (
            cat.read("_metrics").filter(F.col("run_id") == run_id).agg(F.sum("rows")).first()[0]
        )
        if fp[0] + n_rej != self.n_in:
            return f"sink {fp[0]} + rejects {n_rej} != input {self.n_in}"
        if metric_rows != fp[0]:
            return f"_metrics sum {metric_rows} != sequenced_events rows {fp[0]}"
        if fp != self.ref:
            return f"fingerprint {fp} != window plan {self.ref}"
        return None


class LateMerge(Workload):
    """Late turns merged into committed sink tables by the keyed stream.

    Set-up computes the reference, starts one ``run_stream_pipeline_keyed``
    query over a source directory (``maxFilesPerTrigger=1``, default
    trigger), commits the base table through it and merges ``WARMUP``
    late files. Each operation drops the next late file into the source
    directory and waits until the query has committed it: one trigger.
    Late file ``i`` holds the last ``HELD_OUT`` turns of every
    conversation in slice ``i``: ``SLICE`` conversations (1%) chosen by
    the seed and disjoint from every other slice, so an operation needs
    no state restored, and every seed ingests the same number of late
    turns per trigger."""

    N_CONVS = 1000
    SLICE = N_CONVS // 100
    HELD_OUT = 2  # every conversation has at least 3 turns
    WARMUP = 1  # the first merge after the base commit is the slowest
    MIN_OPS = 3  # triggers timed per run, however short --seconds is
    N_LATE = 8  # late files made; a run ends when they are used up

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        self.inputs = os.path.join(work, "inputs")
        self.src = os.path.join(work, "src")
        self.out = os.path.join(work, "out")
        self.ckpt = os.path.join(work, "ckpt")
        self.query = None
        self.n_late = 0  # late files dropped so far
        self.last_batch = -1

    def _late_path(self, i: int) -> str:
        return os.path.join(self.inputs, f"late_{i}.parquet")

    def make_inputs(self) -> None:
        full = datagen.synth_transcripts(self.spark, n_convs=self.N_CONVS, seed=self.seed).toArrow()
        last = full.group_by("conv_id").aggregate([("turn_idx", "max")])
        last = dict(zip(last["conv_id"].to_pylist(), last["turn_idx_max"].to_pylist()))
        picked = random.Random(self.seed).sample(sorted(last), self.N_LATE * self.SLICE)
        self.slices = [picked[i:i + self.SLICE] for i in range(0, len(picked), self.SLICE)]
        slice_of = {c: i // self.SLICE for i, c in enumerate(picked)}
        part = pa.array([
            slice_of.get(c, -1) if last[c] - t < self.HELD_OUT else -1
            for c, t in zip(full["conv_id"].to_pylist(), full["turn_idx"].to_pylist())
        ])
        os.makedirs(self.inputs, exist_ok=True)
        pq.write_table(full.filter(pc.equal(part, -1)), os.path.join(self.inputs, "base.parquet"))
        # every late turn in one file too, for the reference
        pq.write_table(full.filter(pc.not_equal(part, -1)), os.path.join(self.inputs, "late.parquet"))
        self.late_rows = []
        for i in range(self.N_LATE):
            late = full.filter(pc.equal(part, i))
            pq.write_table(late, self._late_path(i))
            self.late_rows.append(late.num_rows)
        if min(self.late_rows) == 0:
            raise RuntimeError(f"empty late slice: {self.late_rows}")

    def _per_conv(self, df: DataFrame) -> dict:
        """conv_id -> fingerprint of that conversation's rows."""
        rows = df.groupBy("conv_id").agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64(*FINGERPRINT_COLS).cast("decimal(38,0)")).alias("h"),
        ).collect()
        return {r["conv_id"]: (int(r["n"]), int(r["h"] or 0)) for r in rows}

    def prepare(self) -> None:
        # stream == batch: per conversation, the batch plan's rows over
        # the base and every late turn
        spark = self.spark
        every = spark.read.parquet(*(os.path.join(self.inputs, f) for f in ("base.parquet", "late.parquet")))
        tm, rm = datagen.tool_meta(spark), datagen.role_meta(spark)
        self.ref = self._per_conv(pipeline.build_sequenced(every, tm, rm, pipeline.PipelineConfig())[0])

        os.makedirs(self.src)
        sp = stream_pipeline
        self.query = sp.run_stream_pipeline_keyed(
            sp.read_transcripts_stream(spark, self.src, max_files_per_trigger=1),
            tm, rm, self.out, self.ckpt,
        )
        if len(self._ingest("base.parquet")) != 1:
            raise RuntimeError("the base was not committed in one trigger")
        for _ in range(self.WARMUP):
            self.op()

    def _ingest(self, name: str) -> list:
        """Publish one input file to the source directory and wait until
        the query has committed it; the progress of the triggers that
        read rows."""
        staged = os.path.join(self.work, name)
        shutil.copy(os.path.join(self.inputs, name), staged)
        # one rename: the file source never lists a partly written file
        os.rename(staged, os.path.join(self.src, name))
        self.query.processAllAvailable()
        if self.query.exception() is not None:
            raise RuntimeError(f"stream failed: {self.query.exception()}")
        # progress is published just after the commit; reports of idle
        # triggers carry the next batch's id, so only a report that read
        # rows marks its batch as seen
        deadline = time.monotonic() + 30
        while True:
            data = [
                p for p in self.query.recentProgress
                if p["numInputRows"] > 0 and p["batchId"] > self.last_batch
            ]
            if data or time.monotonic() > deadline:
                break
            time.sleep(0.01)
        if data:
            self.last_batch = data[-1]["batchId"]
        return data

    def op(self) -> dict:
        i = self.n_late
        self.n_late += 1
        progress = self._ingest(f"late_{i}.parquet")
        return {
            "items": self.late_rows[i],
            "latencies_s": [p["durationMs"]["triggerExecution"] / 1e3 for p in progress],
            "triggers": [dict(p["durationMs"]) for p in progress],
        }

    def check(self, res: dict) -> str | None:
        if len(res["triggers"]) != 1:
            return f"{len(res['triggers'])} data triggers, expected 1"
        # a conversation whose late turns have not arrived yet is not
        # compared; every other one holds the batch plan's rows
        pending = {c for sl in self.slices[self.n_late:] for c in sl}
        want = {c: v for c, v in self.ref.items() if c not in pending}
        got = self._per_conv(
            catalog.Catalog(self.spark, self.out).read("sequenced_events")
            .filter(~F.col("conv_id").isin(*pending))
        )
        if got != want:
            bad = sorted(c for c in want.keys() | got.keys() if got.get(c) != want.get(c))
            return f"{len(bad)} conversations differ from the batch plan, e.g. {bad[:3]}"
        return None

    def done(self) -> bool:
        return self.n_late == self.N_LATE

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()


# Generated documents for the curation DAG. The vocabulary mirrors the
# project's sf* documents; exact copies, near copies, short and
# foreign-language documents make every curation gate fire.
_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query a big key window row table stream merge data "
    "join customer vector the and of to in is that with"
).split()
_DE = "der die das und ist nicht mit ein".split()


def make_documents(n_docs: int, seed: int) -> pa.Table:
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 20 and r < 0.03:  # exact copy of an earlier document
            texts.append(texts[rng.randrange(i)])
        elif i > 20 and r < 0.08:  # near copy: one word replaced
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = rng.choice(_WORDS)
            texts.append(" ".join(words))
        elif r < 0.12:  # too short and repetitive for the quality gate
            texts.append(" ".join([rng.choice(_WORDS)] * rng.randint(2, 5)))
        elif r < 0.15:  # not English
            texts.append(" ".join(rng.choice(_DE + _WORDS) for _ in range(rng.randint(20, 60))))
        else:
            texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(15, 70))))
    return pa.table({"doc_id": pa.array(range(n_docs), pa.int64()), "text": texts})


class Curation(Workload):
    """``curation.run_curation`` over a fixed document set; the held-out
    'benchmark' set is every 50th document, as in ``eval_fixture``.

    Like the project's testdata, the documents do not follow the run's
    seed: the near-duplicate graph sets the number of connected-components
    rounds, and with it the job count, so a seed must not change it. The
    fixed set has a known outcome, so no reference run is needed and the
    one operation runs in a JVM that has done nothing but set-up, as a
    submitted curation job would."""

    N_DOCS = 1000
    DOC_SEED = 1
    # the fixed documents' decisions: run_curation's by_reason, equal to
    # build_audit's decisions aggregated straight from the plan
    EXPECTED = {
        "kept": 865, "near_dup": 46, "quality": 32, "duplicate": 26,
        "contaminated": 20, "lang": 11,
    }

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        self.inp = os.path.join(work, "documents.parquet")
        self.out = os.path.join(work, "out")

    def make_inputs(self) -> None:
        pq.write_table(make_documents(self.N_DOCS, self.DOC_SEED), self.inp)

    def prepare(self) -> None:
        self.docs = self.spark.read.parquet(self.inp)
        self.eval_df = self.docs.filter(F.col("doc_id") % 50 == 0)

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def op(self) -> dict:
        self.n_ops += 1
        t = time.perf_counter()
        res = curation.run_curation(
            self.spark, self.docs, self.eval_df,
            curation.CurationConfig(out_root=self.out, run_id=f"op{self.n_ops}"),
        )
        return {"items": self.N_DOCS, "latencies_s": [time.perf_counter() - t], "run": res}

    def check(self, res: dict) -> str | None:
        got = res["run"]["by_reason"]
        if got != self.EXPECTED:
            return f"by_reason {got} != expected {self.EXPECTED}"
        return None


WORKLOADS = {
    "batch_window": lambda spark, work, seed: Batch(spark, work, seed, tree_mode=False),
    "batch_tree": lambda spark, work, seed: Batch(spark, work, seed, tree_mode=True),
    "late_merge": LateMerge,
    "curation": Curation,
}
