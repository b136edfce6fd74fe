"""Committed observability DAG over the raw event log — the ops-side
counterpart of ``plans/pipeline.py`` (transcripts) and
``plans/curation.py`` (documents):

    committed event layout → hourly rollup → gap-filled spike flags →
    gap-closed sessions → first-reach funnel → error-burst runs →
    committed tables + manifest resume.

The layout stage commits the input events once as the ``obs_events``
Catalog table, through the same atomic commit as every other step, and
every later stage reads that snapshot: a resumed run computes from the
events the first attempt committed, not from a re-read of a source
that may have moved on. The per-user stages (sessionization, funnel,
burst detection) each shuffle on user_id; the rollup keys on (window,
event_type) and its map-side partial aggregation means that shuffle
carries only aggregated buckets. The anomaly stage never touches
events at all — it runs over the COMMITTED rollup table (aggregate
grain), gap-filled so sparse keys are z-tested against their silent
hours (``rollup_fill_gaps``).

Each stage commits atomically through ``Catalog``/``RunManifest`` and a
re-run with the same run_id skips committed steps (the pipeline's
crash-resume contract; groupandverify.go:981-1032 analog). The
individual operators are oracle-checked by their own driver queries
(events_rollup_hourly, rollup_anomalies_filled, sessionize,
funnel_reach, error_bursts); this module is the job-level composition,
covered by pytest like pipeline.run / run_curation.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import aggregate as agg_op
from ..operators import pattern as pat_op
from ..operators import profile as prof_op
from ..operators import sessionize as session_op
from ..sources.catalog import Catalog
from ..sources.manifest import RunManifest


@dataclass
class ObsConfig:
    out_root: str = "/tmp/otel2pv_obs"
    run_id: str | None = None
    rollup_width: str = "1 hour"
    # None = derive the grid width from the rollup itself (safe default)
    width_sec: int | None = None
    trail: int = 4
    nsigma: int = 3
    gap_sec: int = 7200
    funnel_steps: tuple[str, ...] = ("view", "click", "purchase")
    burst_type: str = "error"
    burst_len: int = 3


def run_observability(
    spark: SparkSession, events: DataFrame, cfg: ObsConfig
) -> dict:
    """Execute + persist: `obs_events` (the committed input snapshot),
    `obs_rollup` (hourly counts/users/value),
    `obs_anomalies` (gap-filled trailing z-test flags), `obs_sessions`
    (per-session rollup), `obs_funnel` (per-user first-reach orders),
    `obs_bursts` (>= burst_len consecutive burst_type events per user).
    Resumable by step via the run manifest."""
    run_id = cfg.run_id or uuid.uuid4().hex[:12]
    cat = Catalog(spark, cfg.out_root)
    man = RunManifest(cfg.out_root, run_id)
    t0 = time.time()

    if not man.is_committed("layout"):
        cat.write(events, "obs_events")
        man.commit("layout", {"path": cat.path("obs_events")})
    ev = cat.read("obs_events")

    if not man.is_committed("rollup"):
        cat.write(
            agg_op.rollup_time_windows(ev, width=cfg.rollup_width),
            "obs_rollup",
        )
        man.commit("rollup", {"path": cat.path("obs_rollup")})

    if not man.is_committed("anomalies"):
        filled = agg_op.rollup_fill_gaps(
            cat.read("obs_rollup"), width_sec=cfg.width_sec
        ).select("event_type", "window_start_us", "n_events")
        cat.write(
            prof_op.anomaly_flags(
                filled, "n_events", by="event_type",
                order_col="window_start_us",
                trail=cfg.trail, nsigma=cfg.nsigma,
            ),
            "obs_anomalies",
        )
        man.commit("anomalies", {"path": cat.path("obs_anomalies")})

    if not man.is_committed("sessions"):
        cat.write(
            session_op.session_stats(
                session_op.sessionize(ev, gap_sec=cfg.gap_sec)
            ),
            "obs_sessions",
        )
        man.commit("sessions", {"path": cat.path("obs_sessions")})

    if not man.is_committed("funnel"):
        steps = [F.col("event_type") == s for s in cfg.funnel_steps]
        cat.write(
            pat_op.funnel(ev, steps, by="user_id", order_col="ts"),
            "obs_funnel",
        )
        man.commit("funnel", {"path": cat.path("obs_funnel")})

    if not man.is_committed("bursts"):
        cat.write(
            pat_op.match_runs(
                ev,
                F.col("event_type") == cfg.burst_type,
                min_len=cfg.burst_len,
                by="user_id",
                order_col="ts",
            ),
            "obs_bursts",
        )
        man.commit("bursts", {"path": cat.path("obs_bursts")})

    return {
        "run_id": run_id,
        "n_events": ev.count(),
        "n_anomalies": cat.read("obs_anomalies").filter("anomaly").count(),
        "n_sessions": cat.read("obs_sessions").count(),
        "n_bursts": cat.read("obs_bursts").count(),
        "wall_sec": time.time() - t0,
        "committed": man.committed_steps(),
    }
