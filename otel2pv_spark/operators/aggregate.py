"""Aggregate stage — metrics + per-partition lineage (A4 in SURVEY §2.7).

The reference logs per-message producer success (producers.go:882-884);
at batch scale that becomes materialized metrics tables:

- ``_metrics``: per-sink row counts for the run (correctness anchor);
- ``_lineage``: per input-partition provenance (run_id, stage,
  partition_id, rows) via ``spark_partition_id()`` — zero-shuffle
  (partial agg per partition is the whole agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def metrics(routed: DataFrame, run_id: str) -> DataFrame:
    return (
        routed.groupBy("sink")
        .agg(F.count("*").alias("rows"))
        .select(F.lit(run_id).alias("run_id"), "sink", "rows")
    )


def lineage(df: DataFrame, run_id: str, stage: str) -> DataFrame:
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("rows"),
            F.min("conv_id").alias("min_conv_id"),
            F.max("conv_id").alias("max_conv_id"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            "partition_id",
            "rows",
            "min_conv_id",
            "max_conv_id",
        )
    )


def rollup_time_windows(
    df: DataFrame,
    width: str = "1 hour",
    slide: str | None = None,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    user_col: str = "user_id",
) -> DataFrame:
    """Tumbling / hopping event-time rollup over the raw event log —
    the batch form of a hypertable continuous aggregate. The
    ``F.window`` groupBy shape is the one Structured Streaming runs
    under a watermark, with ONE exception: ``n_users`` uses an exact
    ``count_distinct``, which streaming rejects — a readStream port
    must swap it for ``approx_count_distinct`` (or pre-dedup
    (window, user) in a first stage); count/sum port as-is.

    Returns one row per (window, keys) with the event count, exact
    distinct-user count, and the value sum quantized row-locally to
    integer micro-units (round(value*1e6) BEFORE the sum) so the
    cross-row double sum is order-independent.

    Scale shape: ONE map-side-combined groupBy on (window, keys). A
    hopping window (slide < width) replicates each row into
    width/slide windows *before* the partial agg, so the shuffle still
    carries only aggregated buckets — never the replicated event rows.
    At 100 TB the output cardinality is bounded by
    (time range / slide) × |keys|, independent of input size.
    """
    out = df.groupBy(
        _win(ts_col, width, slide).alias("_w"), *[F.col(c) for c in keys]
    ).agg(
        F.count("*").alias("n_events"),
        F.count_distinct(F.col(user_col)).alias("n_users"),
        F.sum(_value_micro(value_col)).alias("value_sum_micro"),
    )
    return out.select(
        *_win_us(),
        *keys,
        "n_events",
        "n_users",
        "value_sum_micro",
    )


def _win(ts_col, width: str, slide: str | None):
    """The event-time window expression — SHARED by the one-shot
    rollup, the seen-pairs state, the merge delta, AND the streaming
    port so they can never drift apart (the merge's equals-recompute
    invariant depends on all of them bucketing identically).

    Accepts a column NAME (cast to timestamp inline — the batch paths)
    or a ready Column (the streaming path must pass its watermarked
    column un-wrapped: re-casting it would detach the watermark and
    fail append-mode aggregation)."""
    from pyspark.sql import Column

    ts = ts_col if isinstance(ts_col, Column) else F.col(ts_col).cast("timestamp")
    return F.window(ts, width, slide or width)


def _value_micro(value_col: str):
    """Row-local micro-unit quantization (shared for the same reason)."""
    return F.round(F.col(value_col) * 1e6).cast("bigint")


def _win_us():
    """Project the struct window to the (start_us, end_us) grain."""
    return [
        F.unix_micros(F.col("_w.start")).alias("window_start_us"),
        F.unix_micros(F.col("_w.end")).alias("window_end_us"),
    ]


def rollup_user_pairs(
    df: DataFrame,
    width: str = "1 hour",
    slide: str | None = None,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    user_col: str = "user_id",
) -> DataFrame:
    """Distinct (window, keys, user) pairs — the exact-distinct state
    a maintained continuous aggregate has to keep so ``n_users`` stays
    EXACT under appends (sums/counts merge trivially; an exact
    distinct is only mergeable through its dedup state). One
    map-side-combined distinct, same shuffle key as the rollup.

    NULL users are excluded — ``count_distinct`` ignores them, so a
    NULL pair in the state would let the merge path count a user the
    recompute path doesn't."""
    return (
        df.filter(F.col(user_col).isNotNull())
        .select(
            _win(ts_col, width, slide).alias("_w"),
            *[F.col(c) for c in keys],
            F.col(user_col),
        )
        .select(*_win_us(), *keys, user_col)
        .distinct()
    )


def rollup_users_hll(
    df: DataFrame,
    width: str = "1 hour",
    slide: str | None = None,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    user_col: str = "user_id",
    p: int = 8,
) -> DataFrame:
    """HLL register state per rollup grain — the SKETCH form of
    ``rollup_user_pairs`` for when even the exact-distinct state is
    too big (10^12 turns: the (window, keys, user) pair table grows
    with user cardinality; this state is bounded by grains x 2^p rows
    no matter how many users exist). Merge append batches with
    ``functions.sketch.hll_merge`` (per-register MAX — idempotent, so
    replays don't corrupt it, unlike the count/sum merge) and read
    ``n_users`` off it with ``hll_estimate``. Same window helper as
    the rollup so the grains can never drift."""
    from ..functions import sketch

    src = df.select(
        _win(ts_col, width, slide).alias("_w"),
        *[F.col(c) for c in keys],
        F.col(user_col),
    ).select(*_win_us(), *keys, user_col)
    return sketch.hll_state(
        src, ("window_start_us", "window_end_us", *keys), user_col, p=p
    )


def rollup_merge(
    old_rollup: DataFrame,
    old_seen: DataFrame,
    new_events: DataFrame,
    width: str = "1 hour",
    slide: str | None = None,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    user_col: str = "user_id",
) -> tuple[DataFrame, DataFrame]:
    """Incrementally maintain a ``rollup_time_windows`` table under an
    APPEND batch (the hypertable continuous-aggregate refresh: merge
    the new batch's partial aggregates instead of recomputing history).

    ``old_rollup``/``old_seen`` are the persisted outputs of a prior
    ``rollup_time_windows`` + ``rollup_user_pairs`` over events A;
    ``new_events`` is a DISJOINT append batch B (events are counted
    per occurrence — replaying a batch double-counts, exactly like any
    sum-maintained materialized view). Returns (rollup, seen) equal to
    recomputing both over A ∪ B.

    Scale shape: the new batch aggregates map-side to window-bounded
    partials; history is touched ONLY through equi-joins on the
    (window, keys[, user]) grain — the old EVENTS are never re-read.
    The n_users delta is the left_anti of the batch's pairs against
    ``old_seen`` (co-partitioned equi-join, AQE skew-splittable); all
    merge joins run on aggregate-grain tables bounded by
    (time range / slide) x |keys| (x users for seen), independent of
    total event count.
    """
    grain = ["window_start_us", "window_end_us", *keys]
    delta = (
        new_events.groupBy(
            _win(ts_col, width, slide).alias("_w"), *[F.col(c) for c in keys]
        )
        .agg(
            F.count("*").alias("_d_events"),
            F.sum(_value_micro(value_col)).alias("_d_sum"),
        )
        .select(*_win_us(), *keys, "_d_events", "_d_sum")
    )
    new_pairs = rollup_user_pairs(
        new_events, width, slide, ts_col, keys, user_col
    )

    # NULL-SAFE grain joins throughout: a NULL key value (NULL
    # event_type, or a NULL ts bucketing to a NULL window) is a
    # legitimate grain cell in the recompute's groupBy, but plain
    # equi-joins never match NULL = NULL — the merge would fracture
    # that cell into phantom rows instead of accumulating it.
    def nsjoin(left, lname, right, rname, cols, how):
        # alias-qualified references: the inputs routinely share
        # lineage (state and batch both derive from the same source in
        # tests), so bare attribute refs are ambiguous self-joins
        l, r = left.alias(lname), right.alias(rname)
        cond = None
        for c in cols:
            eq = F.col(f"{lname}.{c}").eqNullSafe(F.col(f"{rname}.{c}"))
            cond = eq if cond is None else cond & eq
        return l.join(r, cond, how)

    novel = nsjoin(
        new_pairs, "np", old_seen, "os", [*grain, user_col], "left_anti"
    )
    novel_counts = novel.groupBy(*grain).agg(
        F.count("*").alias("_d_users")
    )
    zero = F.lit(0).cast("bigint")
    step1 = nsjoin(old_rollup, "o", delta, "d", grain, "full_outer").select(
        *[
            F.coalesce(F.col(f"o.{c}"), F.col(f"d.{c}")).alias(c)
            for c in grain
        ],
        "n_events",
        "n_users",
        "value_sum_micro",
        "_d_events",
        "_d_sum",
    )
    merged = nsjoin(step1, "s", novel_counts, "u", grain, "full_outer").select(
        *[
            F.coalesce(F.col(f"s.{c}"), F.col(f"u.{c}")).alias(c)
            for c in grain
        ],
        (
            F.coalesce("n_events", zero) + F.coalesce("_d_events", zero)
        ).alias("n_events"),
        (
            F.coalesce("n_users", zero) + F.coalesce("_d_users", zero)
        ).alias("n_users"),
        (
            F.coalesce("value_sum_micro", zero) + F.coalesce("_d_sum", zero)
        ).alias("value_sum_micro"),
    )
    return merged, old_seen.unionByName(novel)


def latency_stats(
    df: DataFrame,
    by: str = "tool",
    key: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-``by`` inter-turn latency distribution — the span-duration
    metric of a trace pipeline (time from the previous turn to this
    one, attributed to this turn's tool/role).

    lag(ts) over the (key, order) window → delta in exact epoch
    microseconds (BIGINT; the window reuses the same key exchange as
    every sequencing window) → ONE groupBy(by) emitting count, min,
    max, the exact mean in micro-units (sum/count computed as rounded
    double), and exact linear-interpolation percentiles
    (matches DuckDB quantile_cont). First turns have no predecessor
    and are excluded.

    Scale shape: the groupBy input is one BIGINT per turn; percentiles
    are exact sort-based per group — at 10^12 turns swap F.percentile
    for percentile_approx (t-digest, same plan shape, bounded memory)
    or feed the deltas to the mergeable fixed-bin histogram in
    functions/sketch.py.
    """
    from pyspark.sql import Window

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(key).orderBy(order_col)
    delta = (us - F.lag(us).over(w)).alias("_delta_us")
    d = df.select(F.col(by), delta).filter(F.col("_delta_us").isNotNull())
    return d.groupBy(by).agg(
        F.count("*").alias("n_spans"),
        F.min("_delta_us").alias("min_us"),
        F.max("_delta_us").alias("max_us"),
        F.round(F.avg("_delta_us"), 6).alias("avg_us"),
        *[
            F.round(F.percentile("_delta_us", F.lit(p)), 6).alias(
                f"p{int(p * 100)}_us"
            )
            for p in ps
        ],
    )


def rollup_fill_gaps(
    roll: DataFrame,
    width_sec: int | None = None,
    keys: tuple[str, ...] = ("event_type",),
    fill_cols: tuple[str, ...] = ("n_events", "n_users", "value_sum_micro"),
    global_range: bool = False,
) -> DataFrame:
    """Densify a TUMBLING rollup: emit an explicit zero row for every
    missing (key, window) slot so downstream time-series consumers see
    a gapless grid — most importantly ``profile.anomaly_flags``, whose
    trailing baseline is row-ordered: on a sparse key a quiet period
    otherwise VANISHES and a new window is z-tested against activity
    from arbitrarily long ago (and a burst-after-silence can never be
    flagged because the silence contributed no rows). Filled rows make
    the row-ordered window time-correct.

    ``global_range=False`` (default) fills each key between ITS OWN
    first and last observed window; ``True`` fills every key over the
    whole table's span (cross-key comparability — keys absent early
    read as zero, not as missing).

    ``width_sec=None`` (default) DERIVES the width from the rollup's
    own ``window_end_us - window_start_us`` (one aggregate over the
    already-aggregate-grain input) — the safe choice, since a width
    that disagrees with the rollup's would silently misalign the grid.
    An explicit ``width_sec`` is for inputs without end columns; to
    guard the misalignment case the fill join is FULL outer, so an
    observed window off the grid is preserved with its values rather
    than dropped.

    Scale shape: the span aggregate reduces the rollup to one row per
    key (or one row total), the grid explodes from THAT — (time range
    / width) x |keys| rows, never corpus-scale — and the fill is one
    aggregate-grain join on (keys, window_start_us). Corpus rows
    are never touched; tumbling only (a hopping grid would need the
    slide, and gap semantics differ).
    """
    if width_sec is None:
        if "window_end_us" not in roll.columns:
            raise ValueError(
                "rollup_fill_gaps: pass width_sec explicitly — the "
                "input has no window_end_us to derive it from"
            )
        w_us = roll.agg(
            F.min(F.col("window_end_us") - F.col("window_start_us"))
        ).first()[0]
        if w_us is None:
            return roll  # empty rollup: nothing to fill
    else:
        w_us = int(width_sec) * 1_000_000
    if global_range:
        span = roll.agg(
            F.min("window_start_us").alias("_lo"),
            F.max("window_start_us").alias("_hi"),
        )
        spans = roll.select(*keys).distinct().crossJoin(F.broadcast(span))
    else:
        spans = roll.groupBy(*keys).agg(
            F.min("window_start_us").alias("_lo"),
            F.max("window_start_us").alias("_hi"),
        )
    grid = spans.select(
        *keys,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.lit(w_us))
        ).alias("window_start_us"),
    )
    # FULL outer: a misconfigured explicit width must not silently
    # drop observed off-grid windows — they pass through with values
    out = grid.join(roll, [*keys, "window_start_us"], "full_outer")
    if "window_end_us" in roll.columns:
        out = out.withColumn(
            "window_end_us",
            F.coalesce(
                F.col("window_end_us"), F.col("window_start_us") + w_us
            ),
        )
    for c in fill_cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    return out


def counter_rate(
    df: DataFrame,
    series_cols: tuple[str, ...] = ("user_id", "event_type"),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    width: str = "1 hour",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Counter-reset-aware rate rollup — the PromQL increase()/rate()
    semantics over a telemetry table (public contract:
    prometheus/prometheus docs, increase = sum of per-series deltas
    with a reset detected whenever a cumulative counter goes DOWN; on
    a reset the new sample's whole value is the delta, since the
    counter restarted from zero).

    Two stages, one series-keyed exchange:
    1. per series (``series_cols``) ordered by (ts, tiebreak):
       ``lag`` the micro-quantized value; delta = cur - prev, or cur
       on a reset (cur < prev), or no contribution for a series' first
       sample. Quantization happens row-locally BEFORE the subtraction
       so deltas are exact BIGINTs (the repo's integer doctrine — a
       float subtraction would make window sums partitioning-
       dependent in the last bit).
    2. rollup to (``keys``, event-time window): map-side-combined sum
       of deltas + sample counts. The rollup's shuffle carries only
       pre-aggregated rows; the window grain matches
       rollup_time_windows so rates can sit next to the other
       continuous aggregates.

    Skew note: the per-series window partitions on the full series
    key (user x type here), whose cardinality scales with the corpus —
    not on the rollup key — so a hot event_type never lands in one
    task.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*series_cols).orderBy(
        F.col(ts_col), F.col(tiebreak_col)
    )
    cur = _value_micro(value_col)
    prev = F.lag(cur).over(w)
    inc = F.when(prev.isNull(), F.lit(None).cast("bigint")).otherwise(
        F.when(cur < prev, cur).otherwise(cur - prev)
    )
    deltas = df.select(
        *[F.col(c) for c in series_cols],
        F.col(ts_col),
        inc.alias("_inc"),
    ).filter(F.col("_inc").isNotNull())
    out_keys = [k for k in keys]
    out = deltas.groupBy(
        _win(ts_col, width, None).alias("_w"),
        *[F.col(k) for k in out_keys],
    ).agg(
        F.sum("_inc").alias("increase_micro"),
        F.count("*").alias("n_deltas"),
    )
    return out.select(*_win_us(), *out_keys, "increase_micro", "n_deltas")


def cube_rollup(
    df: DataFrame,
    dim1: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Multi-dimensional CUBE rollup over (dim1, day) — the one
    grouping construct (GROUPING SETS family) the corpus-stats ROLLUP
    doesn't exercise: all four grouping sets — (dim, day), (dim),
    (day), () — out of ONE pass.

    Scale shape: CUBE is an Expand x4 BEFORE the aggregate — 4x the
    scan rows enter the hash aggregate, but the map-side partial
    combine collapses them to <= 4 x (|dims| x |days|) rows per task
    before the exchange, so the shuffle carries aggregate-grain rows
    only (same reasoning as the plain rollup; asserted in
    tests/test_plans.py-style plan checks). Output is config-sized:
    |dims| x |days| + |dims| + |days| + 1.

    Rolled-up dimensions surface as the '(all)' sentinel rather than
    NULL (the driver canonicalizer and downstream consumers treat NULL
    as missing data, not as a subtotal marker); grouping_id carries
    the exact set id (bit 1 = dim1 rolled, bit 0 = day rolled — Spark
    and DuckDB agree on first-arg-MSB). The sentinel is driven by the
    GROUPING BIT, not by null-ness: a row whose dim value is genuinely
    NULL keeps its NULL at the detail grain instead of colliding with
    the subtotal marker, and a non-string dim casts cleanly (coalesce
    of bigint with a string literal would fail ANSI coercion)."""
    day = F.date_format(F.col(ts_col), "yyyy-MM-dd")
    gid = F.grouping_id().cast("bigint")
    return (
        df.select(
            F.col(dim1).alias("_d1"),
            day.alias("_day"),
            _value_micro(value_col).alias("_v"),
        )
        .cube("_d1", "_day")
        .agg(
            gid.alias("grouping_id"),
            F.count("*").alias("n"),
            F.sum("_v").alias("value_micro_sum"),
        )
        .select(
            F.when(
                F.col("grouping_id").bitwiseAND(2) != 0, F.lit("(all)")
            ).otherwise(F.col("_d1").cast("string")).alias(dim1),
            F.when(
                F.col("grouping_id").bitwiseAND(1) != 0, F.lit("(all)")
            ).otherwise(F.col("_day")).alias("day"),
            "grouping_id",
            "n",
            "value_micro_sum",
        )
    )


_WIDTH_UNITS_US = {
    "second": 1_000_000, "seconds": 1_000_000,
    "minute": 60_000_000, "minutes": 60_000_000,
    "hour": 3_600_000_000, "hours": 3_600_000_000,
    "day": 86_400_000_000, "days": 86_400_000_000,
    "week": 604_800_000_000, "weeks": 604_800_000_000,
}


def _width_us(width: str) -> int:
    """Parse '<n> <unit>' to microseconds; non-positive and
    unparseable widths raise (fail-loudly doctrine)."""
    try:
        n, unit = width.strip().split()
        out = int(n) * _WIDTH_UNITS_US[unit.lower()]
    except (ValueError, KeyError):
        raise ValueError(
            f"unparseable window width {width!r}; expected '<n> <unit>'"
            f" with unit in {sorted(set(_WIDTH_UNITS_US))}"
        ) from None
    if out <= 0:
        raise ValueError(f"window width must be positive, got {width!r}")
    return out


def _validate_aligned_widths(short_width: str, long_width: str) -> int:
    """Fail loudly when the long grain is not a whole multiple of the
    short grain: burn_rate_from_short assigns a short window's counts
    to the long window containing its START, so a straddling short
    window (e.g. 1 hour into 90 minutes) would silently misattribute
    errors and fire/suppress on wrong ratios. Returns long_width in
    microseconds (the retention arithmetic reuses it)."""
    s_us, l_us = _width_us(short_width), _width_us(long_width)
    if l_us <= s_us or l_us % s_us != 0:
        raise ValueError(
            f"long_width {long_width!r} must be a whole multiple of"
            f" short_width {short_width!r}"
        )
    return l_us


def burn_rate_alerts(
    events: DataFrame,
    error_pred,
    budget_ppm: int = 1000,
    short_width: str = "1 hour",
    long_width: str = "1 day",
    short_factor: int = 14,
    long_factor: int = 3,
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Multi-window SLO burn-rate alerting (the Google SRE-workbook
    construction): alert on a key iff BOTH the short and the long
    error-ratio windows burn the error budget faster than their
    factor — the short window gives fast detection, the long window
    suppresses blips.

    burn(w) = error_ratio(w) / budget, alert iff
    burn(short) >= short_factor AND burn(long) >= long_factor.
    Every compare is an exact integer cross-multiplication

        errors * 1e6 >= factor * budget_ppm * total

    — no float ratio, no boundary row that flips between engines.
    (A zero-traffic window has no row, hence no alert — no 0/0.)

    Scale shape: ONE pass over the fact builds both rollups via a
    tumbling groupBy each (map-side combined; the long window re-reads
    the SHORT rollup at its own grain — long = sum of shorts — so the
    corpus is scanned once and the second aggregate's input is
    aggregate-grain); the final alert join is (key, long-window)
    aligned and aggregate-sized on both sides."""
    _validate_aligned_widths(short_width, long_width)
    err = F.when(error_pred, F.lit(1)).otherwise(F.lit(0))
    short = (
        events.groupBy(
            _win(ts_col, short_width, None).alias("_w"),
            F.col(key_col),
        )
        .agg(F.sum(err).alias("errors"), F.count("*").alias("total"))
        .select(
            F.col("_w.start").alias("_ws"),
            key_col,
            "errors",
            "total",
        )
    )
    return burn_rate_from_short(
        short, budget_ppm, long_width, short_factor, long_factor, key_col
    )


def burn_rate_from_short(
    short: DataFrame,
    budget_ppm: int,
    long_width: str,
    short_factor: int,
    long_factor: int,
    key_col: str,
) -> DataFrame:
    """The alert core over a prepared SHORT rollup
    (``_ws`` timestamp, key, errors, total) — SHARED VERBATIM by the
    batch operator and the streaming twin
    (streaming.run_stream_burn_rate): what counts as a burn (grains,
    integer cross-multiplications) can never drift between live and
    backfill. NB the shared core does not make the alert SETS equal:
    the stream hands this function long windows made of the shorts
    finalized SO FAR (live paging semantics — see
    run_stream_burn_rate's docstring), the batch hands it complete
    ones. Precondition (validated by both callers): the short grain
    divides long_width — counts attach to the long window containing
    the short START."""
    # long windows aggregate the short rollup (aligned widths: the
    # short width must divide the long width, true for 1h/1d)
    long = (
        short.groupBy(
            _win("_ws", long_width, None).alias("_lw"), F.col(key_col)
        )
        .agg(F.sum("errors").alias("l_errors"), F.sum("total").alias("l_total"))
        .select(
            F.col("_lw.start").alias("_ls"),
            F.col(key_col).alias("_lk"),
            "l_errors",
            "l_total",
        )
    )
    s_burn = (
        F.col("errors") * 1_000_000
        >= F.lit(short_factor) * F.lit(budget_ppm) * F.col("total")
    )
    l_burn = (
        F.col("l_errors") * 1_000_000
        >= F.lit(long_factor) * F.lit(budget_ppm) * F.col("l_total")
    )
    joined = short.withColumn(
        "_ls_of_s", _win("_ws", long_width, None).start
    ).join(
        long,
        (F.col("_ls_of_s") == F.col("_ls")) & (F.col(key_col) == F.col("_lk")),
    )
    return (
        joined.filter(s_burn & l_burn)
        .select(
            F.unix_micros(F.col("_ws")).alias("window_start_us"),
            key_col,
            "errors",
            "total",
            "l_errors",
            "l_total",
        )
    )
