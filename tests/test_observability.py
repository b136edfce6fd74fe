"""Job-level tests for plans/observability.py: committed tables match
direct operator recomputes, the job registers nothing in the session
catalog, and the manifest makes re-runs and resumes converge."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import table_mtime_fingerprint
from otel2pv_spark import datagen
from otel2pv_spark.operators import aggregate as agg_op
from otel2pv_spark.operators import sessionize as session_op
from otel2pv_spark.plans import observability as obs
from otel2pv_spark.sources.catalog import Catalog
from otel2pv_spark.sources.manifest import RunManifest


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_run_observability_end_to_end(spark, tmp_path, sf_dir):
    ev = datagen.load_events(spark, sf_dir)
    cfg = obs.ObsConfig(out_root=str(tmp_path / "obs"), run_id="obs1")
    tables_before = {t.name for t in spark.catalog.listTables()}
    res = obs.run_observability(spark, ev, cfg)
    # every output, the events layout included, is a Catalog table
    # under out_root: the session catalog gains nothing
    assert {t.name for t in spark.catalog.listTables()} == tables_before

    assert set(res["committed"]) == {
        "layout", "rollup", "anomalies", "sessions", "funnel", "bursts",
    }
    assert res["n_events"] == ev.count()
    assert res["n_sessions"] > 0

    cat = Catalog(spark, cfg.out_root)
    # committed rollup == direct recompute from the raw events
    want = agg_op.rollup_time_windows(ev, width="1 hour")
    cols = ["event_type", "window_start_us", "n_events", "n_users",
            "value_sum_micro"]
    assert _rows(cat.read("obs_rollup"), cols) == _rows(want, cols)

    # sessions == direct recompute
    want_s = session_op.session_stats(session_op.sessionize(ev, gap_sec=7200))
    s_cols = ["user_id", "session_id", "n_events"]
    assert _rows(cat.read("obs_sessions"), s_cols) == _rows(want_s, s_cols)

    # funnel table: step_1 <= step_2 <= step_3 wherever attained
    fun = cat.read("obs_funnel")
    bad = fun.filter(
        (F.col("step_2").isNotNull() & (F.col("step_2") < F.col("step_1")))
        | (F.col("step_3").isNotNull() & (F.col("step_3") < F.col("step_2")))
    )
    assert fun.count() > 0 and bad.count() == 0

    # re-run with the same run_id: manifest short-circuits every step
    res2 = obs.run_observability(spark, ev, cfg)
    assert set(res2["committed"]) == set(res["committed"])
    assert res2["n_sessions"] == res["n_sessions"]


def test_resume_skips_committed_steps_mid_run(spark, tmp_path, sf_dir):
    """Crash-resume: pre-commit two steps in the manifest, run, and the
    job must not rewrite them (their outputs keep their mtimes)."""
    ev = datagen.load_events(spark, sf_dir)
    cfg = obs.ObsConfig(out_root=str(tmp_path / "obs3"), run_id="obsr")
    res1 = obs.run_observability(spark, ev, cfg)
    assert res1["n_bursts"] >= 0

    out = str(tmp_path / "obs3")
    mtime_before = table_mtime_fingerprint(spark, out, "obs_rollup")
    res2 = obs.run_observability(spark, ev, cfg)
    assert table_mtime_fingerprint(spark, out, "obs_rollup") == mtime_before
    assert res2["committed"] == res1["committed"]


def test_layout_only_manifest_resumes_to_from_scratch_tables(
    spark, tmp_path, sf_dir
):
    """Crash right after the layout step: only ``layout`` is in the
    manifest. The resumed run reads the committed events snapshot (its
    own input is empty here) and its five tables equal a from-scratch
    run's."""
    ev = datagen.load_events(spark, sf_dir)
    scratch = obs.ObsConfig(out_root=str(tmp_path / "full"), run_id="full")
    obs.run_observability(spark, ev, scratch)

    out = str(tmp_path / "obs4")
    Catalog(spark, out).write(ev, "obs_events")
    RunManifest(out, "obs4").commit("layout")
    cfg = obs.ObsConfig(out_root=out, run_id="obs4")
    res = obs.run_observability(spark, ev.limit(0), cfg)
    assert res["n_events"] == ev.count()

    for t in ("obs_rollup", "obs_anomalies", "obs_sessions", "obs_funnel",
              "obs_bursts"):
        want = Catalog(spark, scratch.out_root).read(t)
        got = Catalog(spark, out).read(t)
        assert sorted(map(repr, got.collect())) == sorted(
            map(repr, want.collect())
        ), t


def test_burn_rate_alerts_multi_window_golden(spark):
    """Only the key burning BOTH windows alerts: fast-burn blip (short
    only) and slow background burn (long only) are suppressed; the
    threshold compare is exact at the boundary (>=)."""
    from datetime import datetime

    from otel2pv_spark.operators.aggregate import burn_rate_alerts

    rows = []
    # service A: 30% errors in hour 0 AND 25% across the day -> alerts
    rows += [("A", datetime(2025, 1, 1, 0, 0, i), "error") for i in range(3)]
    rows += [("A", datetime(2025, 1, 1, 0, 0, 10 + i), "ok") for i in range(7)]
    rows += [("A", datetime(2025, 1, 1, 5, 0, i), "error") for i in range(3)]
    rows += [("A", datetime(2025, 1, 1, 5, 0, 10 + i), "ok") for i in range(7)]
    # service B: 50% errors in hour 0 but a quiet day (long window
    # diluted to 5%) -> short-only blip, suppressed
    rows += [("B", datetime(2025, 1, 1, 0, 0, i), "error") for i in range(1)]
    rows += [("B", datetime(2025, 1, 1, 0, 0, 10 + i), "ok") for i in range(1)]
    rows += [("B", datetime(2025, 1, 1, 6, 0, i), "ok") for i in range(18)]
    # service C: steady 25% day burn but no hour ever reaches 30% ->
    # long-only, suppressed
    for h in range(4):
        rows += [("C", datetime(2025, 1, 1, h, 0, 0), "error")]
        rows += [("C", datetime(2025, 1, 1, h, 0, 10 + i), "ok") for i in range(3)]
    df = spark.createDataFrame(rows, "service string, ts timestamp, event_type string")
    got = burn_rate_alerts(
        df, F.col("event_type") == "error",
        budget_ppm=100_000, short_factor=3, long_factor=2, key_col="service",
    ).collect()
    assert {(r.service, r.window_start_us) for r in got} == {
        ("A", 1735689600000000),          # 2025-01-01T00:00 UTC
        ("A", 1735689600000000 + 5 * 3600 * 1_000_000),
    }
    a0 = [r for r in got if r.window_start_us == 1735689600000000][0]
    assert (a0.errors, a0.total, a0.l_errors, a0.l_total) == (3, 10, 6, 20)
