"""Driver contract: entry / queries / oracle_sql.

Every pipeline operator from SURVEY.md §2 gets a queries() entry whose
input is the ``transcripts`` table derived deterministically from the
driver's ``events`` parquet via the dialect-portable SQL in
``otel2pv_spark.portable_sql`` — so the DuckDB oracle reproduces the
exact same input and the comparison checks the OPERATOR, not the data.

Spark side = DataFrame operators (otel2pv_spark.operators.*);
oracle side = independently-written DuckDB SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from otel2pv_spark import datagen  # noqa: E402
from otel2pv_spark.operators import enrich as enrich_op  # noqa: E402
from otel2pv_spark.operators import grok as grok_op  # noqa: E402
from otel2pv_spark.operators import parse as parse_op  # noqa: E402
from otel2pv_spark.operators import sequence as seq_op  # noqa: E402
from otel2pv_spark.operators import validate as validate_op  # noqa: E402
from otel2pv_spark.operators import verify as verify_op  # noqa: E402
from otel2pv_spark.plans import analytics  # noqa: E402
from otel2pv_spark.plans import pipeline  # noqa: E402
from otel2pv_spark.operators import sessionize as session_op  # noqa: E402
from otel2pv_spark.operators import aggregate as agg_op  # noqa: E402
from otel2pv_spark.functions import sketch as sketch_fn  # noqa: E402
from otel2pv_spark.portable_sql import (  # noqa: E402
    MAINT_CTE,
    PARSED_CTE,
    ROLE_META_CTE,
    TOOL_META_CTE,
    TOOL_VERSIONS_CTE,
    with_transcripts,
)

PARSE_COLS = [
    "conv_id", "turn_idx", "event_type", "event_id", "parent_event_id",
    "job_name", "application_name", "body",
]


# ---------------------------------------------------------------- helpers
def _tr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return datagen.transcripts_from_events(spark, sf_dir)


def _parsed_good(spark: SparkSession, sf_dir: str) -> DataFrame:
    good, _ = parse_op.split_rejects(parse_op.parse(_tr(spark, sf_dir)))
    return good


def _enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return enrich_op.enrich(
        _parsed_good(spark, sf_dir), datagen.tool_meta(spark), datagen.role_meta(spark)
    )


# ---------------------------------------------------------------- queries
def q_parse_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P5: fused multi-rule grok extraction (native path)."""
    return _parsed_good(spark, sf_dir).select(*PARSE_COLS)


def _json_rules() -> list:
    return parse_op.default_rules() + [
        parse_op.ExtractionRule("body_k", "$.k", kind="json", source="body")
    ]


def q_parse_extract_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 json-kind rule: JSON-path navigation out of the regex-extracted
    ``body`` field — the JQ-navigation core (jqTransformer.go:304-327),
    fused into the same single projection (native get_json_object)."""
    df = parse_op.parse(_tr(spark, sf_dir), rules=_json_rules())
    return df.filter(F.col("parse_ok")).select("conv_id", "turn_idx", "body", "body_k")


# Grok expression over the transcript line format (FIXTURES.md §1):
# the %{PATTERN:field} composition syntax compiled to ONE combined
# regex (operators/grok.py), incl. a typed %{INT:..:int} capture.
GROK_EXPR = (
    "event=%{TOKEN:event_type} id=%{IDENT:event_id}"
    " parent=%{IDENT:parent_event_id} job=job-%{INT:job_num:int}"
    " app=%{NOTSPACE:application_name} :: %{GREEDYDATA:body}"
)
GROK_COLS = [
    "conv_id", "turn_idx", "event_type", "event_id", "parent_event_id",
    "job_num", "application_name", "body",
]


def _grok_rule_set() -> list:
    return grok_op.grok_rules(
        GROK_EXPR,
        required=("event_type", "event_id", "job_num"),
        null_sentinels={"parent_event_id": ("-",)},
    )


def q_parse_extract_grok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 via grok syntax: %{NAME:field} references compiled into one
    fused native projection — the log-pipeline grok idiom (analog of the
    reference's fused JQ program, jqTransformer.go:116-143)."""
    df = parse_op.parse(_tr(spark, sf_dir), rules=_grok_rule_set())
    return df.filter(F.col("parse_ok")).select(*GROK_COLS)


EXPR_COLS = ["conv_id", "turn_idx", "parent_ref", "evt_label", "job_x2"]


def _expr_rules() -> list:
    """default captures + computed/conditional expr rules: the last JQ
    expressiveness tier (jqTransformer.go:116-143) — a //-alternative,
    an if/else with string interpolation, and a two-capture arithmetic
    value."""
    return parse_op.default_rules() + [
        parse_op.ExtractionRule(
            "parent_ref",
            "coalesce(nullif(parent_event_id, ''), event_id)",
            kind="expr",
        ),
        parse_op.ExtractionRule(
            "evt_label",
            "CASE WHEN parent_event_id = '' THEN concat('root:', event_type)"
            " ELSE concat('child:', event_type) END",
            kind="expr",
        ),
        parse_op.ExtractionRule(
            "job_x2",
            "try_cast(regexp_extract(job_name, '([0-9]+)', 1) AS bigint)"
            " * 2 + length(event_id)",
            kind="expr",
            dtype="long",
        ),
    ]


def q_parse_extract_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 expr-kind rules (native): computed/conditional values over
    earlier captures, fused into the same single projection."""
    df = parse_op.parse(_tr(spark, sf_dir), rules=_expr_rules())
    return df.filter(F.col("parse_ok")).select(*EXPR_COLS)


# Deterministic NESTED json payload built from the parsed captures —
# identical string construction on both engines (portable || concat),
# with arithmetic-selected violations so every error class is
# non-vacuous at sf0.01: k%7==3 wrong inner type, k%11==5 wrong array
# element type, k%13==6 missing required key, k>90 over maximum.
PAYLOAD_SQL = """
  '{"meta": {"job": "' || job_name || '", "n": ' ||
  CASE WHEN CAST(k AS BIGINT) % 7 = 3 THEN '"' || k || '"' ELSE k END ||
  '}, "tags": ["' || event_type || '"' ||
  CASE WHEN CAST(k AS BIGINT) % 11 = 5 THEN ', 17' ELSE ', "' || role || '"' END ||
  ']' ||
  CASE WHEN CAST(k AS BIGINT) % 13 = 6 THEN '' ELSE ', "v": ' || k END ||
  '}'
"""

NESTED_SCHEMA = {
    "type": "object",
    "required": ["meta", "tags", "v"],
    "properties": {
        "meta": {
            "type": "object",
            "required": ["job", "n"],
            "properties": {
                "job": {"type": "string", "pattern": "job-[0-9]+"},
                "n": {"type": "integer"},
            },
        },
        "tags": {"type": "array", "minItems": 1, "items": {"type": "string"}},
        "v": {"type": "integer", "maximum": 90},
    },
}


def q_validate_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 FULL: nested JSON-Schema validation (object/array depth) of a
    constructed payload — variant-compiled, first failing path:keyword
    recorded, NULL when valid (operators/validate.py validate_json;
    reference jqTransformer.go:89-114)."""
    df = _parsed_good(spark, sf_dir)
    df = df.withColumn("k", F.regexp_extract("body", '"k": ([0-9]+)', 1))
    df = df.withColumn("payload", F.expr(PAYLOAD_SQL))
    out = validate_op.validate_json(df, "payload", NESTED_SCHEMA)
    return out.select("conv_id", "turn_idx", "schema_error")


def q_parse_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/P4: invalid rows → rejects (DLQ analog)."""
    _, bad = parse_op.split_rejects(parse_op.parse(_tr(spark, sf_dir)))
    return bad.select("conv_id", "turn_idx", "text", "reject_reason")


def q_enrich_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 + K4 routing column via broadcast joins."""
    return _enriched(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "tool",
        "tool_category", "owner", "role_kind", "sink",
    )


def q_enrich_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward, inclusive) against the versioned tool-config
    dim — the SCD-2 enrichment Spark has no operator for; union+window
    construction, one shuffle, no range explosion. Turns before the
    first version (and non-tool turns) get nulls."""
    out = enrich_op.asof_join(
        _tr(spark, sf_dir),
        datagen.tool_versions(spark),
        key_col="tool",
        left_ts="ts",
        right_ts="valid_from",
    )
    return out.select("conv_id", "turn_idx", "tool", "version", "config_rev")


def q_enrich_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join against the maintenance-window dim (a row
    can match several overlapping windows) via the binned equi-join
    rewrite — see enrich.interval_join."""
    out = enrich_op.interval_join(
        _tr(spark, sf_dir),
        datagen.maintenance_windows(spark),
        key_col="tool",
        ts_col="ts",
    )
    return out.select("conv_id", "turn_idx", "tool", "window_id", "reason")


def q_tpch_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-shape full-scan aggregate over lineitem: one map-side-combined
    hash agg, money math in exact BIGINT micro-units (see
    plans/analytics.py)."""
    t = analytics.load_tpch(spark, sf_dir, "lineitem")
    return analytics.pricing_summary(t["lineitem"])


def q_tpch_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-shape dim->fact broadcast chain + two-level global top-10."""
    t = analytics.load_tpch(spark, sf_dir, "customer", "orders", "lineitem")
    return analytics.shipping_priority(t["customer"], t["orders"], t["lineitem"])


def q_tpch_revenue_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shape star join: region->nation->supplier/customer broadcast
    chain, ONE fact scan, zero fact-sized shuffles before the agg."""
    t = analytics.load_tpch(
        spark, sf_dir,
        "lineitem", "orders", "customer", "supplier", "nation", "region",
    )
    return analytics.revenue_by_nation(t)


def q_tpch_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15-shape aggregate-then-argmax via a one-row broadcast max."""
    t = analytics.load_tpch(spark, sf_dir, "lineitem", "supplier")
    return analytics.top_suppliers(t["lineitem"], t["supplier"])


def q_tpch_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shape EXISTS -> LeftSemi join with a non-equi residual
    (ship > order date); never dedup-then-join."""
    t = analytics.load_tpch(spark, sf_dir, "orders", "lineitem")
    return analytics.order_priority_counts(t["orders"], t["lineitem"])


def q_tpch_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13-shape LEFT OUTER join + double aggregation; orderless
    customers land in the 0 bucket (the null path is the point)."""
    t = analytics.load_tpch(spark, sf_dir, "customer", "orders")
    return analytics.customer_order_distribution(t["customer"], t["orders"])


def q_tpch_parts_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16-shape NOT IN -> LeftAnti join + two-phase count(DISTINCT)."""
    t = analytics.load_tpch(spark, sf_dir, "part", "supplier", "lineitem")
    return analytics.parts_supplier_counts(
        t["part"], t["supplier"], t["lineitem"]
    )


def q_tpch_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-shape HAVING-subquery as aggregate-then-join-back: one fact
    scan, the quantity filter applied on the aggregate before any
    join."""
    t = analytics.load_tpch(spark, sf_dir, "customer", "orders", "lineitem")
    return analytics.large_volume_customers(
        t["customer"], t["orders"], t["lineitem"]
    )


def q_tpch_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-shape double correlation collapsed to one grouped pass (the
    oracle keeps the EXISTS/NOT-EXISTS form — different algorithm,
    same result)."""
    t = analytics.load_tpch(spark, sf_dir, "lineitem", "supplier")
    return analytics.waiting_suppliers(t["lineitem"], t["supplier"])


def q_tpch_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-shape scalar subquery as a one-row broadcast (exact integer
    cross-multiplied average cut) + LeftAnti NOT EXISTS."""
    t = analytics.load_tpch(spark, sf_dir, "customer", "orders")
    return analytics.idle_high_balance_customers(t["customer"], t["orders"])


def q_tpch_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6-shape pure scan-and-aggregate: three pushed range predicates,
    zero joins, one row out."""
    t = analytics.load_tpch(spark, sf_dir, "lineitem")
    return analytics.forecast_revenue(t["lineitem"])


def q_tpch_min_cost_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-shape correlated MIN decorrelated as per-part aggregate
    joined back on its own key (scales with |part| — never broadcast)."""
    t = analytics.load_tpch(
        spark, sf_dir, "part", "supplier", "lineitem", "nation", "region"
    )
    return analytics.min_cost_suppliers(t)


def q_tpch_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-shape: one fact scan feeding two independent dim paths with
    the cross-nation pair filter where they meet."""
    t = analytics.load_tpch(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    return analytics.volume_shipping(t)


def q_tpch_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8-shape conditional-share aggregate; share emitted as an exact
    (numerator, denominator) BIGINT pair."""
    t = analytics.load_tpch(
        spark, sf_dir,
        "lineitem", "orders", "customer", "supplier", "part", "nation", "region",
    )
    return analytics.market_share(t)


def q_tpch_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-shape multi-dim profit rollup; cost stand-in p_retailprice x
    quantity keeps profit in exact BIGINT micros."""
    t = analytics.load_tpch(
        spark, sf_dir, "lineitem", "orders", "supplier", "part", "nation"
    )
    return analytics.product_profit(t)


def q_tpch_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-shape group-then-top-k with dims joined AFTER the cut (the
    dims see k rows, not |customer|)."""
    t = analytics.load_tpch(
        spark, sf_dir, "lineitem", "orders", "customer", "nation"
    )
    return analytics.returned_item_customers(t)


def q_tpch_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11-shape group value vs fraction-of-global-total HAVING via a
    one-row broadcast + integer cross-multiplication."""
    t = analytics.load_tpch(spark, sf_dir, "lineitem", "supplier", "nation")
    return analytics.important_parts(t)


def q_tpch_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-shape join with a non-equi lateness residual + split
    conditional counts out of one aggregate."""
    t = analytics.load_tpch(spark, sf_dir, "orders", "lineitem")
    return analytics.late_shipment_priority(t["orders"], t["lineitem"])


def q_tpch_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-shape conditional-numerator ratio per ship month, exact
    num/den micro pair."""
    t = analytics.load_tpch(spark, sf_dir, "part", "lineitem")
    return analytics.promo_revenue_share(t["part"], t["lineitem"])


def q_tpch_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-shape correlated per-group AVG as aggregate-then-join-back
    with an integer cross-multiplied cut; one fact scan."""
    t = analytics.load_tpch(spark, sf_dir, "part", "lineitem")
    return analytics.small_quantity_revenue(t["part"], t["lineitem"])


def q_tpch_banded_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-shape OR-of-ANDs disjunction in ONE join pass (never three
    unioned scans)."""
    t = analytics.load_tpch(spark, sf_dir, "part", "lineitem")
    return analytics.banded_revenue(t["part"], t["lineitem"])


def q_tpch_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20-shape nested-IN semi-join chain with a correlated-aggregate
    share threshold; one fact pass."""
    t = analytics.load_tpch(
        spark, sf_dir, "part", "supplier", "lineitem", "nation"
    )
    return analytics.dominant_part_suppliers(t)


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed CDC between two synthesized states of the events table
    (deletes = id%13, value updates = id%7, inserts = id%11): one
    full-outer key join + codegen null-safe column compare — the
    Iceberg changelog-scan stand-in. See operators.diff.snapshot_diff."""
    from otel2pv_spark.operators import diff as diff_op

    ev = datagen.load_events(spark, sf_dir)
    old = ev.filter(F.col("event_id") % 11 != 0).select(
        "event_id", "event_type", "value"
    )
    new = ev.filter(F.col("event_id") % 13 != 0).select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.col("value") + 1)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return diff_op.snapshot_diff(old, new, ["event_id"])


def q_correlate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Request/response correlation: every purchase within 2 h of a
    same-user click, with exact BIGINT latency — via the binned
    (key, bin) equi-join (each 2 h request interval lands in <= 2 bins;
    never a per-user cross product). See enrich.request_response_join;
    streaming.stream_correlate is the live twin."""
    ev = datagen.load_events(spark, sf_dir)
    return enrich_op.request_response_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon_sec=7200,
    )


def q_correlate_timeouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The leftOuter half: clicks with NO purchase inside the horizon
    (timed-out requests), emitted via the left-anti on matched request
    ids. Live twin: stream_correlate(how='leftOuter') emits these as
    the watermark passes each request's horizon."""
    ev = datagen.load_events(spark, sf_dir)
    out = enrich_op.request_response_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon_sec=7200,
        how="leftOuter",
    )
    return out.filter(F.col("resp_event_id").isNull()).select(
        "user_id", "req_event_id", "req_ts_us"
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the raw event log (2 h inactivity
    closes a session) — the batch analog of the reference's per-tree
    verification timeout (groupandverify.go:873-919)."""
    ev = datagen.load_events(spark, sf_dir)
    out = session_op.sessionize(ev, gap_sec=7200)
    return out.select("event_id", "user_id", "session_n", "session_id")


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rollup over sessionize output; the groupBy reuses the
    window's hash partitioning (subset rule) — no second shuffle.
    Boundaries emitted as epoch micros: raw timestamps round-trip as
    datetime64[ns] from Spark but datetime64[us] from DuckDB, and the
    driver's value hash is type-sensitive."""
    ev = datagen.load_events(spark, sf_dir)
    out = session_op.session_stats(session_op.sessionize(ev, gap_sec=7200))
    return out.select(
        "user_id", "session_id", "n_events",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
        "duration_sec", "n_event_types",
    )


def q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE session_window aggregation (the
    Structured-Streaming-compatible form — the same expression works
    under readStream with a watermark). Independent implementation of
    the same gap rule as sessionize (probe-verified: an event exactly
    ``gap`` after the previous one merges; > gap starts a new session),
    checked against the same oracle construction."""
    ev = datagen.load_events(spark, sf_dir)
    out = ev.groupBy(
        "user_id", F.session_window(F.col("ts").cast("timestamp"), "2 hours")
    ).agg(F.count("*").alias("n_events"))
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("start_us"),
        F.unix_micros(F.col("session_window.end")).alias("end_us"),
        "n_events",
    )


def q_events_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time rollup (hypertable continuous-
    aggregate shape; same expression is streaming-valid under a
    watermark)."""
    ev = datagen.load_events(spark, sf_dir)
    return agg_op.rollup_time_windows(ev, width="1 hour")


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day): all four grouping sets in one pass
    (Expand x4 -> map-side-combined aggregate); rolled dims surface as
    '(all)', grouping_id carries the exact set id."""
    ev = datagen.load_events(spark, sf_dir)
    return agg_op.cube_rollup(ev)


def q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style increase(): per-(user, type) counter deltas with
    reset detection (a value drop restarts the counter), rolled up to
    hourly per-type sums — exact BIGINT micro deltas. See
    operators.aggregate.counter_rate."""
    ev = datagen.load_events(spark, sf_dir)
    return agg_op.counter_rate(ev, width="1 hour")


def q_log_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain-style log-template mining over the transcript text — the
    rule-discovery pass that precedes parse.ExtractionRule authoring.
    Group by (token count, first token), mask disagreeing positions.
    See operators.templates.mine_templates."""
    from otel2pv_spark.operators import templates as tmpl_op

    return tmpl_op.mine_templates(_tr(spark, sf_dir))


def q_log_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline event reassembly: garbled (non-grammar) lines fold
    into the preceding event instead of dying in the DLQ — gaps-and-
    islands running head count + one same-exchange groupBy. See
    operators.templates.reassemble_multiline."""
    from otel2pv_spark.operators import templates as tmpl_op

    return tmpl_op.reassemble_multiline(_tr(spark, sf_dir))


def q_burn_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alerts per synthetic service shard
    (user_id % 10): hourly window >= 3x budget AND daily window >= 2x
    budget, both as exact integer cross-multiplications. See
    operators.aggregate.burn_rate_alerts."""
    ev = datagen.load_events(spark, sf_dir).withColumn(
        "service", (F.col("user_id") % 10).cast("bigint")
    )
    return agg_op.burn_rate_alerts(
        ev,
        F.col("event_type") == "error",
        budget_ppm=100_000,
        short_factor=3,
        long_factor=2,
        key_col="service",
    )


def q_log_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, hour) deterministic rate cap (first 5 by
    (ts, id)) via the skew-safe two-level cut. See
    operators.templates.rate_limit."""
    from otel2pv_spark.operators import templates as tmpl_op

    ev = datagen.load_events(spark, sf_dir)
    kept, _ = tmpl_op.rate_limit(ev, max_per_window=5)
    return kept.select("event_id", "event_type", "window_start_us", "sample_rank")


def q_log_rate_limit_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact dropped census of the same cap: n_kept + n_dropped ==
    n_total per grain, no silent drops."""
    from otel2pv_spark.operators import templates as tmpl_op

    ev = datagen.load_events(spark, sf_dir)
    _, census = tmpl_op.rate_limit(ev, max_per_window=5)
    return census


def q_events_rollup_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping 2-hour/1-hour rollup — every event lands in exactly two
    overlapping windows; replication happens before the partial agg."""
    ev = datagen.load_events(spark, sf_dir)
    return agg_op.rollup_time_windows(ev, width="2 hours", slide="1 hour")


def q_conv_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation feature table (training-data stratification
    over the transcript carrier): exact integer counts/lengths/
    duration, one map-side-combined groupBy(conv_id)."""
    from otel2pv_spark.functions import prep as prep_fn

    return prep_fn.conv_features(_tr(spark, sf_dir))


def q_prep_sft_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT pair construction over the transcript carrier: one example
    per assistant turn, context = previous 4 turns as 'role: text'
    lines (bounded window frame — per-row state never exceeds the
    context length, whatever the conversation length)."""
    from otel2pv_spark.functions import prep as prep_fn

    return prep_fn.sft_examples(_tr(spark, sf_dir), context_turns=4)


def q_dedup_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHOLE-conversation near-dup candidates (templated / replayed
    sessions) via MERGEABLE per-turn MinHash: per-turn shingle hashes
    with a bounded n-1-turn carry for boundary shingles, conversation
    signature = per-hash MIN in one map-side-combined groupBy(conv_id)
    — a 10^7-turn hot conversation never materializes as one row (the
    whole-conversation concat formulation remains the DuckDB oracle;
    functions/dedup.py conv_minhash_wide proves the equivalence)."""
    from otel2pv_spark.functions import dedup as dd

    return dd.conv_minhash_lsh_candidates(_tr(spark, sf_dir)).select(
        F.col("doc_a").alias("conv_a"), F.col("doc_b").alias("conv_b")
    )


def q_dedup_conv_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDED terminal artifact of conversation dedup: candidate
    pairs are superlinear by design on dup-heavy corpora (41x at 10x
    input on the templated fixture), so the pipeline terminates on the
    transitive CLUSTER labeling instead — one row per conversation,
    large-star/small-star CC over the LSH pairs, singletons included
    (functions/dedup.conv_dedup_clusters)."""
    from otel2pv_spark.functions import dedup as dd

    return dd.conv_dedup_clusters(_tr(spark, sf_dir))


def q_dedup_conv_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor per conversation cluster: keep the
    longest conversation (chars_total, exact integer), ties broken by
    lowest conv_id — cluster argmax via map-side-combined groupBys
    over MAX(struct), never a per-cluster sort (a viral template's million
    near-copies stay distributed)."""
    from otel2pv_spark.functions import dedup as dd

    tr = _tr(spark, sf_dir)
    clusters = dd.conv_dedup_clusters(tr)
    qual = tr.groupBy("conv_id").agg(
        F.sum(F.length("text")).cast("bigint").alias("quality")
    )
    return dd.cluster_survivors(
        clusters, qual, id_col="conv_id", cluster_col="cluster_id"
    )


def q_events_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance: rollup + distinct-user state
    built from the even-event_id half, then the odd half MERGED in
    (old events never re-read) — must equal the full recompute, so it
    shares the events_rollup_hourly oracle."""
    ev = datagen.load_events(spark, sf_dir)
    old_ev = ev.filter(F.pmod("event_id", F.lit(2)) == 0)
    new_ev = ev.filter(F.pmod("event_id", F.lit(2)) == 1)
    old_roll = agg_op.rollup_time_windows(old_ev, width="1 hour")
    old_seen = agg_op.rollup_user_pairs(old_ev, width="1 hour")
    merged, _seen = agg_op.rollup_merge(old_roll, old_seen, new_ev, width="1 hour")
    return merged


def q_events_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-user sketch per hour: register states
    built on the even/odd event_id halves SEPARATELY, merged with a
    per-register MAX, then estimated. At 10^12 turns the exact
    (hour, user) dedup state is itself a big table; this state is
    bounded by hours x 256 rows regardless of user cardinality. The
    oracle recomputes single-pass from scratch, so the green row
    proves the split/merge is lossless — and the emitted
    registers_present / z_scaled are exact integers, so the driver's
    type-sensitive hash checks the sketch STATE, not just the rounded
    estimate."""
    ev = datagen.load_events(spark, sf_dir).withColumn(
        "hour_us",
        F.unix_micros(F.date_trunc("hour", F.col("ts").cast("timestamp"))),
    )
    states = [
        sketch_fn.hll_state(
            ev.filter(F.pmod("event_id", F.lit(2)) == i), ("hour_us",), "user_id", p=8
        )
        for i in (0, 1)
    ]
    merged = sketch_fn.hll_merge(states, ("hour_us",))
    return sketch_fn.hll_estimate(
        merged, ("hour_us",), p=8, estimate_col="n_users_hll"
    )


def q_rollup_gaps_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup: explicit zero rows for every silent
    (event_type, hour) slot between each key's first and last activity
    — what makes the row-ordered anomaly baseline time-correct on
    sparse keys. Grid explodes from the per-key span aggregate, never
    from events (aggregate.rollup_fill_gaps)."""
    ev = datagen.load_events(spark, sf_dir)
    roll = agg_op.rollup_time_windows(ev, width="1 hour")
    return agg_op.rollup_fill_gaps(roll, width_sec=3600)


def q_rollup_anomalies_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed time-correct anomaly path: hourly rollup -> gap
    filling -> exact-integer trailing z-test, so a burst after silence
    is judged against the zeros of the quiet hours instead of activity
    from arbitrarily long ago (rollup_anomalies judges only observed
    windows; this is the honest variant for sparse keys)."""
    from otel2pv_spark.operators import profile as prof_op

    ev = datagen.load_events(spark, sf_dir)
    roll = agg_op.rollup_time_windows(ev, width="1 hour")
    filled = agg_op.rollup_fill_gaps(roll, width_sec=3600).select(
        "event_type", "window_start_us", "n_events"
    )
    return prof_op.anomaly_flags(
        filled, "n_events", by="event_type", order_col="window_start_us",
        trail=4, nsigma=3,
    )


def q_events_kmv_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k rank sketch: per-event-type value quantiles read
    off a 64-row-per-grain sample state built on the even/odd event_id
    halves SEPARATELY and merged (bottom-k of unioned bottom-ks is
    EXACTLY the global bottom-k, so the oracle recomputes single-pass
    from scratch and the green row proves the merge lossless — the
    same split/merge proof shape as events_hll_users). Values
    pre-quantized to micro BIGINT; ranks by integer ceil — no float
    anywhere."""
    ev = datagen.load_events(spark, sf_dir).withColumn(
        "value_micro", F.round(F.col("value") * 1e6).cast("bigint")
    )
    states = [
        sketch_fn.kmv_state(
            ev.filter(F.pmod("event_id", F.lit(2)) == i),
            ("event_type",), "event_id", "value_micro", k=64,
        )
        for i in (0, 1)
    ]
    merged = sketch_fn.kmv_merge(states, ("event_type",), k=64)
    return sketch_fn.kmv_quantiles(merged, ("event_type",))


def q_events_rollup_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained continuous aggregate with SKETCHED distinct
    users: counts/sums merge through rollup_merge (old events never
    re-read) and n_users_hll reads off merged per-grain HLL register
    states — the full 10^12-turn maintenance shape where both the raw
    history AND the exact dedup state are too big to touch per batch.
    The oracle recomputes counts and sketch from scratch."""
    ev = datagen.load_events(spark, sf_dir)
    old_ev = ev.filter(F.pmod("event_id", F.lit(2)) == 0)
    new_ev = ev.filter(F.pmod("event_id", F.lit(2)) == 1)
    old_roll = agg_op.rollup_time_windows(old_ev, width="1 hour")
    old_seen = agg_op.rollup_user_pairs(old_ev, width="1 hour")
    merged, _seen = agg_op.rollup_merge(old_roll, old_seen, new_ev, width="1 hour")
    grain = ("window_start_us", "window_end_us", "event_type")
    states = [
        agg_op.rollup_users_hll(h, width="1 hour") for h in (old_ev, new_ev)
    ]
    est = sketch_fn.hll_estimate(
        sketch_fn.hll_merge(states, grain), grain, p=8, estimate_col="n_users_hll"
    )
    return merged.drop("n_users").join(
        est.select(*grain, "n_users_hll"), list(grain)
    ).select(
        *grain, "n_events", "value_sum_micro", "n_users_hll"
    )


def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-values over the (user_id, event-minute) key pair — the
    clustering key a z-order table-maintenance rewrite range-writes on
    so parquet/Iceberg min-max stats prune scans on EITHER dimension
    (sources/layout.py; the rewrite itself is exercised in
    tests/test_layout.py with measured row-group skipping). Pure
    integer bit math; the oracle recomputes the interleave by a
    DIFFERENT algorithm (per-bit summation vs magic-mask doubling)."""
    from otel2pv_spark.sources import layout

    ev = datagen.load_events(spark, sf_dir)
    minute = (
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(60_000_000)
    ).cast("long")
    return ev.select(
        "event_id", layout.zvalue("user_id", minute, bits=12).alias("zval")
    )


def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-sink aggregate counts — the primary correctness anchor."""
    return (
        _enriched(spark, sf_dir)
        .groupBy("sink")
        .agg(F.count("*").alias("rows"), F.count_distinct("conv_id").alias("convs"))
    )


def q_sequence_prev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7(a)/Q9/Q10/Q8: window sequencer, string mode, gap reset."""
    df = seq_op.sequence_window(
        _parsed_good(spark, sf_dir), out_col="prev_event_id", array_mode=False
    )
    return df.select("conv_id", "turn_idx", "event_id", "prev_event_id", "sequenceable")


def q_sequence_prev_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7(a) via the hot-conversation skew path (block-salted window +
    carry-in join) — must agree with the same oracle as sequence_prev."""
    df = seq_op.sequence_window_salted(
        _parsed_good(spark, sf_dir), block_size=5,
        out_col="prev_event_id", array_mode=False,
    )
    return df.select("conv_id", "turn_idx", "event_id", "prev_event_id", "sequenceable")


def q_sequence_prev_idmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 on the window path: prev value comes from the mapped column
    (outputAppFieldSequenceIdMap, sequencer.go:685-731) with fallback to
    the node id when the mapped value is empty."""
    df = seq_op.sequence_window(
        _parsed_good(spark, sf_dir),
        seq_id_map_col="job_name",
        out_col="prev_ref",
        array_mode=False,
    )
    return df.select("conv_id", "turn_idx", "event_id", "prev_ref")


def q_sequence_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2/Q1/Q11: equal duplicates — canonical chain preserved, dup rows
    flagged and inheriting the same prev."""
    tr = _tr(spark, sf_dir)
    tr = tr.unionByName(tr.filter(F.col("turn_idx") == 5))
    good, _ = parse_op.split_rejects(parse_op.parse(tr))
    df = seq_op.sequence_window(
        good, out_col="prev_event_id", array_mode=False,
        dup_compare_cols=("role", "text", "tool"),
    )
    return df.select(
        "conv_id", "turn_idx", "event_id", "prev_event_id", "is_duplicate", "sequenceable"
    )


def q_chain_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/G3 straight-line specialization: per-conversation verified flag."""
    return verify_op.chain_verify(parse_op.parse(_tr(spark, sf_dir)))


def q_chain_verify_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/G3 via the hot-conversation skew path (block windows +
    carry-in join) — must agree with the same oracle as chain_verify."""
    return verify_op.chain_verify_salted(
        parse_op.parse(_tr(spark, sf_dir)), block_size=5
    )


def q_group_applies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 groupApplies: first 'error'-typed turn donates job_name to the
    whole conversation."""
    df = seq_op.group_applies(
        _parsed_good(spark, sf_dir), "job_name", "event_type", "error"
    )
    return df.select("conv_id", "turn_idx", "event_id", "job_name")


_FANOUT_KEYS = [
    "event_type", "event_id", "parent_event_id",
    "job_name", "application_name", "body",
]


def q_extract_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 + P2: one output row per extracted (key, value) — the
    reference emits each JQ key's each value as its own message with
    routingKey=key (jqTransformer.go:241-265); empty extractions emit
    nothing (//empty, :314). explode(map) is the UDTF-like one-to-many."""
    good = _parsed_good(spark, sf_dir)
    kv = F.create_map(
        *[x for k in _FANOUT_KEYS for x in (F.lit(k), F.col(k))]
    )
    return good.select(
        "conv_id",
        "turn_idx",
        F.explode(F.map_filter(kv, lambda k, v: v != "")).alias("key", "value"),
    ).withColumn("sink", F.col("key"))


def q_validate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: config-driven column constraints (the JSON-Schema-per-key
    analog) over the parsed fields — first failing rule per row."""
    df = validate_op.validate(
        parse_op.parse(_tr(spark, sf_dir)), validate_op.default_event_rules()
    )
    return df.select("conv_id", "turn_idx", "validation_error")


def q_pipeline_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-DAG end-to-end: per-sink counts of the routed+sequenced
    output (what _metrics materializes)."""
    routable, _ = pipeline.build_sequenced(
        _tr(spark, sf_dir), datagen.tool_meta(spark), datagen.role_meta(spark),
        pipeline.PipelineConfig(),
    )
    return routable.groupBy("sink").agg(F.count("*").alias("rows"))


def q_pipeline_hot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DAG in hot-skew mode (block-salted sequence + verify with
    carry-in joins): per-sink counts must match the default plan's
    oracle exactly."""
    routable, _ = pipeline.build_sequenced(
        _tr(spark, sf_dir), datagen.tool_meta(spark), datagen.role_meta(spark),
        pipeline.PipelineConfig(hot_block_size=5),
    )
    return routable.groupBy("sink").agg(F.count("*").alias("rows"))


def q_pipeline_tree_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DAG in tree mode (applyInPandas DFS kernel reachable from
    PipelineConfig): per-sink counts plus how many rows carry a prev
    link and how many sit in verified conversations — the tree path
    must reproduce the window path's linkage exactly on the chain
    carrier (see _apply_tree_sequence orientation note)."""
    routable, _ = pipeline.build_sequenced(
        _tr(spark, sf_dir), datagen.tool_meta(spark), datagen.role_meta(spark),
        pipeline.PipelineConfig(tree_mode=True, seq_array_mode=False),
    )
    return routable.groupBy("sink").agg(
        F.count("*").alias("rows"),
        F.sum(
            F.when(F.col("previous_event_ids").isNotNull(), 1).otherwise(0)
        ).alias("n_linked"),
        F.sum(F.when(F.col("verified"), 1).otherwise(0)).alias("n_verified"),
    )


def q_pipeline_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over the transcript table in ONE
    aggregation pass (operators/checks.py): key uniqueness, domain
    membership, FK coverage, regex conformance, row-count floor. Two
    checks are deliberately non-vacuous failures on this corpus: the
    garbled rows break the grok-prefix regex, and non-tool turns carry
    tool='' which has no tool_meta row."""
    from otel2pv_spark.operators import checks as checks_op

    suite = [
        checks_op.Check("conv_id_not_null", "not_null", column="conv_id"),
        checks_op.Check(
            "conv_key_unique", "unique", columns=("conv_id", "turn_idx")
        ),
        checks_op.Check(
            "role_domain",
            "accepted_values",
            column="role",
            values=("user", "assistant", "tool"),
        ),
        checks_op.Check("turn_idx_min", "min", column="turn_idx", limit=0),
        checks_op.Check(
            "text_grok_prefix", "matches", column="text", pattern="^event="
        ),
        checks_op.Check(
            "tool_fk", "ref_integrity", column="tool", ref="tool_meta"
        ),
        checks_op.Check("row_floor", "row_count_min", limit=1),
    ]
    return checks_op.run_checks(
        _tr(spark, sf_dir), suite, refs={"tool_meta": datagen.tool_meta(spark)}
    )


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profile of the transcript table
    (operators/profile.py): null/distinct counts, typed min/max,
    string avg length — one column-pruned scan, one scalar-row
    shuffle, #columns output rows."""
    from otel2pv_spark.operators import profile as prof_op

    return prof_op.profile_table(_tr(spark, sf_dir))


def q_table_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile drift between this batch (all turns) and a reference
    batch (turns 0-5 of every conversation): exact-integer ppm
    thresholds; turn_idx/ts range drift and the conv_id distinct-rate
    shift are deliberately non-vacuous on this split."""
    from otel2pv_spark.operators import profile as prof_op

    tr = _tr(spark, sf_dir)
    cur = prof_op.profile_table(tr)
    ref = prof_op.profile_table(tr.filter(F.col("turn_idx") < 6))
    return prof_op.profile_drift(cur, ref, distinct_drift_ppm=50_000)


def q_rollup_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-spike detection: exact-integer trailing z-test (3σ over the
    previous 4 observed windows) on the daily per-event_type rollup —
    the window runs over aggregated buckets, never corpus rows."""
    from otel2pv_spark.operators import profile as prof_op

    ev = datagen.load_events(spark, sf_dir)
    roll = agg_op.rollup_time_windows(ev, width="1 day").select(
        "event_type", "window_start_us", "n_events"
    )
    return prof_op.anomaly_flags(
        roll, "n_events", by="event_type", order_col="window_start_us",
        trail=4, nsigma=3,
    )


def q_match_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous CEP pattern over the sequenced stream: a 'view' turn
    immediately followed by a 'click' turn within the conversation —
    lead() windows on the same conv_id exchange the sequencer uses."""
    from otel2pv_spark.operators import pattern as pat_op

    return pat_op.match_steps(
        _parsed_good(spark, sf_dir),
        ["event_type = 'view'", "event_type = 'click'"],
    )


def q_funnel_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-reach funnel view → click → purchase per conversation:
    staged filtered min-joins on the conv_id key — no per-key arrays,
    no per-key sort, hot conversations cost the same per row."""
    from otel2pv_spark.operators import pattern as pat_op

    return pat_op.funnel(
        _parsed_good(spark, sf_dir),
        [
            "event_type = 'view'",
            "event_type = 'click'",
            "event_type = 'purchase'",
        ],
    )


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key census: top-5 tool values with exact corpus share — the
    pre-flight diagnostic for choosing the skew path (map-side-combined
    count, broadcast total, shared two-level top-k; the '' pseudo-tool
    holding ~2/3 of rows is exactly the hot key it exists to expose)."""
    from otel2pv_spark.operators import profile as prof_op

    return prof_op.key_skew(_tr(spark, sf_dir), key="tool", k=5)


def q_suggested_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suggestion from the table profile (the bootstrap half
    of the quality gate): profile a known-good batch once, enforce the
    suggested suite on every future batch."""
    from otel2pv_spark.operators import profile as prof_op

    return prof_op.suggest_checks(prof_op.profile_table(_tr(spark, sf_dir)))


def q_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleene-plus CEP: maximal runs of >= 2 CONSECUTIVE error turns
    per conversation (gaps-and-islands over the conv_id exchange) —
    the error-burst alert a log pipeline pages on."""
    from otel2pv_spark.operators import pattern as pat_op

    return pat_op.match_runs(
        _parsed_good(spark, sf_dir), "event_type = 'error'", min_len=2
    )


def q_events_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention overlap from sketches: per event_type, distinct users
    active in the first half of the month AND the second, by HLL
    inclusion-exclusion — the register-level union is exact (per-
    register MAX), only the three estimates are approximate; both
    inputs stay bounded register states at any user cardinality."""
    ev = datagen.load_events(spark, sf_dir).withColumn(
        "u", F.col("user_id").cast("string")
    )
    cut = "2024-01-16"
    a = sketch_fn.hll_state(
        ev.filter(F.col("ts") < cut), ("event_type",), "u"
    )
    b = sketch_fn.hll_state(
        ev.filter(F.col("ts") >= cut), ("event_type",), "u"
    )
    return sketch_fn.hll_intersect_estimate(a, b, ("event_type",))


def q_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool inter-turn latency distribution (span durations): lag
    on the conv_id window → exact micro deltas → one groupBy with
    exact percentiles (percentile_approx at 10^12 turns, same plan)."""
    return agg_op.latency_stats(_tr(spark, sf_dir), by="tool")


# ------------------------------------------------------------- oracle SQL
_W = "WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)"

ORACLES: dict[str, str] = {}

ORACLES["pipeline_checks"] = with_transcripts(
    """SELECT 'conv_id_not_null' AS check_name, 'not_null' AS kind,
       'conv_id' AS "column",
       CAST((SELECT count(*) FROM transcripts) AS BIGINT) AS "rows",
       CAST((SELECT count(*) FROM transcripts WHERE conv_id IS NULL) AS BIGINT)
         AS violations,
       (SELECT count(*) FROM transcripts WHERE conv_id IS NULL) = 0 AS passed
UNION ALL
SELECT 'conv_key_unique', 'unique', 'conv_id,turn_idx',
       CAST((SELECT count(*) FROM transcripts
             WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL) AS BIGINT),
       CAST((SELECT count(*) - count(DISTINCT (conv_id, turn_idx))
             FROM transcripts
             WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL) AS BIGINT),
       (SELECT count(*) - count(DISTINCT (conv_id, turn_idx))
        FROM transcripts
        WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL) = 0
UNION ALL
SELECT 'role_domain', 'accepted_values', 'role',
       CAST((SELECT count(*) FROM transcripts) AS BIGINT),
       CAST((SELECT count(*) FROM transcripts
             WHERE role IS NULL
                OR role NOT IN ('user', 'assistant', 'tool')) AS BIGINT),
       (SELECT count(*) FROM transcripts
        WHERE role IS NULL OR role NOT IN ('user', 'assistant', 'tool')) = 0
UNION ALL
SELECT 'turn_idx_min', 'min', 'turn_idx',
       CAST((SELECT count(*) FROM transcripts) AS BIGINT),
       CAST((SELECT count(*) FROM transcripts WHERE turn_idx < 0) AS BIGINT),
       (SELECT count(*) FROM transcripts WHERE turn_idx < 0) = 0
UNION ALL
SELECT 'text_grok_prefix', 'matches', 'text',
       CAST((SELECT count(*) FROM transcripts) AS BIGINT),
       CAST((SELECT count(*) FROM transcripts
             WHERE text IS NULL
                OR NOT regexp_matches(text, '^event=')) AS BIGINT),
       (SELECT count(*) FROM transcripts
        WHERE text IS NULL OR NOT regexp_matches(text, '^event=')) = 0
UNION ALL
SELECT 'tool_fk', 'ref_integrity', 'tool',
       CAST((SELECT count(*) FROM transcripts) AS BIGINT),
       CAST((SELECT count(*) FROM transcripts
             WHERE tool IS NOT NULL
               AND tool NOT IN (SELECT tool FROM tool_meta)) AS BIGINT),
       (SELECT count(*) FROM transcripts
        WHERE tool IS NOT NULL
          AND tool NOT IN (SELECT tool FROM tool_meta)) = 0
UNION ALL
SELECT 'row_floor', 'row_count_min', '',
       CAST((SELECT count(*) FROM transcripts) AS BIGINT),
       CAST(CASE WHEN (SELECT count(*) FROM transcripts) < 1
            THEN 1 ELSE 0 END AS BIGINT),
       (SELECT count(*) FROM transcripts) >= 1""",
    [TOOL_META_CTE],
)

# profile oracle: one aggregate CTE over the table, one UNION ALL arm
# per column. Independently-written DuckDB rendering of the profile
# semantics (HUGEINT sums cast; timestamps via strftime %f = 6-digit
# micros, the DuckDB spelling of date_format SSSSSS).
_PROF_COLS = [
    ("conv_id", "string", "str"),
    ("turn_idx", "int", "num"),
    ("role", "string", "str"),
    ("text", "string", "str"),
    ("tool", "string", "str"),
    ("ts", "timestamp_ntz", "ts"),
]


def _profile_sql(src: str, with_len: bool = True) -> tuple[str, str]:
    """(aggregate-CTE body, per-column UNION ALL arms over ``_prof``)."""
    aggs = ["CAST(count(*) AS BIGINT) AS n_rows"]
    arms = []
    for c, dt, kind in _PROF_COLS:
        aggs.append(
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS nn_{c}"
        )
        aggs.append(f"CAST(count(DISTINCT {c}) AS BIGINT) AS nd_{c}")
        if kind == "num":
            aggs.append(f"CAST(min({c}) AS DOUBLE) AS mn_{c}")
            aggs.append(f"CAST(max({c}) AS DOUBLE) AS mx_{c}")
            mn, mx = f"mn_{c}", f"mx_{c}"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        elif kind == "ts":
            aggs.append(
                f"strftime(min({c}), '%Y-%m-%d %H:%M:%S.%f') AS mn_{c}"
            )
            aggs.append(
                f"strftime(max({c}), '%Y-%m-%d %H:%M:%S.%f') AS mx_{c}"
            )
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ms, xs = f"mn_{c}", f"mx_{c}"
        else:
            aggs.append(f"min({c}) AS mn_{c}")
            aggs.append(f"max({c}) AS mx_{c}")
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ms, xs = f"mn_{c}", f"mx_{c}"
        if kind == "str":
            aggs.append(f"round(avg(length({c})), 6) AS ln_{c}")
            ln = f"ln_{c}"
        else:
            ln = "CAST(NULL AS DOUBLE)"
        arm = (
            f"SELECT '{c}' AS \"column\", '{dt}' AS dtype, n_rows,"
            f" nn_{c} AS n_null, nd_{c} AS n_distinct,"
            f" {mn} AS min_num, {mx} AS max_num,"
            f" {ms} AS min_str, {xs} AS max_str"
        )
        if with_len:
            arm += f", {ln} AS avg_len"
        arm += " FROM _prof"
        arms.append(arm)
    return (
        f"(SELECT {', '.join(aggs)} FROM {src})",
        "\nUNION ALL\n".join(arms),
    )


_PROF_AGG, _PROF_ARMS = _profile_sql("transcripts")
ORACLES["table_profile"] = with_transcripts(
    f"SELECT * FROM (\n{_PROF_ARMS}\n)",
    [f"_prof AS {_PROF_AGG}"],
)

_PA_C, _AR_C = _profile_sql("transcripts", with_len=False)
_PA_R, _AR_R = _profile_sql(
    "(SELECT * FROM transcripts WHERE turn_idx < 6)", with_len=False
)
ORACLES["table_profile_drift"] = with_transcripts(
    """SELECT
  COALESCE(c."column", r."column") AS "column",
  CASE WHEN c."column" IS NOT NULL AND r."column" IS NOT NULL THEN 'both'
       WHEN c."column" IS NOT NULL THEN 'added' ELSE 'removed' END AS status,
  COALESCE(c.dtype <> r.dtype, FALSE) AS dtype_drift,
  CASE WHEN c."column" IS NOT NULL AND r."column" IS NOT NULL
       THEN abs(c.n_null * r.n_rows - r.n_null * c.n_rows) * 1000000
            > 10000 * c.n_rows * r.n_rows
       ELSE FALSE END AS null_drift,
  CASE WHEN c."column" IS NOT NULL AND r."column" IS NOT NULL
       THEN abs(c.n_distinct * r.n_rows - r.n_distinct * c.n_rows) * 1000000
            > 50000 * c.n_rows * r.n_rows
       ELSE FALSE END AS distinct_drift,
  CASE WHEN c."column" IS NOT NULL AND r."column" IS NOT NULL
       THEN COALESCE((c.min_num < r.min_num) OR (c.max_num > r.max_num),
                     (c.min_str < r.min_str) OR (c.max_str > r.max_str),
                     FALSE)
       ELSE FALSE END AS range_drift
FROM cur c FULL OUTER JOIN ref r ON c."column" = r."column\"""",
    [
        f"_prof AS {_PA_C}",
        f"cur AS (\n{_AR_C}\n)",
        f"_prof2 AS {_PA_R}",
        f"ref AS (\n{_AR_R.replace('_prof', '_prof2')}\n)",
    ],
)

ORACLES["rollup_anomalies"] = """WITH r AS (
  SELECT event_type,
         epoch_us(date_trunc('day', ts)) AS window_start_us,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), w AS (
  SELECT event_type, window_start_us, n_events,
         CAST(count(n_events) OVER tw AS BIGINT) AS k,
         CAST(sum(n_events) OVER tw AS BIGINT) AS s,
         CAST(sum(n_events * n_events) OVER tw AS BIGINT) AS q
  FROM r
  WINDOW tw AS (PARTITION BY event_type ORDER BY window_start_us
                ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, window_start_us, n_events, k AS trail_n,
       CASE WHEN k = 4 AND (4 * q - s * s) > 0
            THEN round((4 * n_events - s)
                 / sqrt(CAST(4 * (4 * q - s * s) AS DOUBLE) / 3), 6)
       END AS zscore,
       CASE WHEN k = 4
            THEN CASE WHEN (4 * q - s * s) > 0
                 THEN (4 * n_events - s) * (4 * n_events - s) * 3
                      > 9 * 4 * (4 * q - s * s)
                 ELSE 4 * n_events <> s END
            ELSE FALSE END AS anomaly
FROM w"""

ORACLES["rollup_anomalies_filled"] = """WITH roll AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) AS window_start_us,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT event_type, min(window_start_us) AS lo, max(window_start_us) AS hi
  FROM roll GROUP BY event_type
), grid AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, CAST(3600 AS BIGINT) * 1000000))
           AS window_start_us
  FROM spans
), f AS (
  SELECT g.event_type, g.window_start_us,
         COALESCE(r.n_events, CAST(0 AS BIGINT)) AS n_events
  FROM grid g LEFT JOIN roll r
    ON g.event_type = r.event_type
   AND g.window_start_us = r.window_start_us
), w AS (
  SELECT event_type, window_start_us, n_events,
         CAST(count(n_events) OVER tw AS BIGINT) AS k,
         CAST(sum(n_events) OVER tw AS BIGINT) AS s,
         CAST(sum(n_events * n_events) OVER tw AS BIGINT) AS q
  FROM f
  WINDOW tw AS (PARTITION BY event_type ORDER BY window_start_us
                ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, window_start_us, n_events, k AS trail_n,
       CASE WHEN k = 4 AND (4 * q - s * s) > 0
            THEN round((4 * n_events - s)
                 / sqrt(CAST(4 * (4 * q - s * s) AS DOUBLE) / 3), 6)
       END AS zscore,
       CASE WHEN k = 4
            THEN CASE WHEN (4 * q - s * s) > 0
                 THEN (4 * n_events - s) * (4 * n_events - s) * 3
                      > 9 * 4 * (4 * q - s * s)
                 ELSE 4 * n_events <> s END
            ELSE FALSE END AS anomaly
FROM w"""

ORACLES["match_steps"] = with_transcripts(
    """SELECT conv_id, turn_idx AS match_start, ti1 AS match_end
FROM (
  SELECT conv_id, turn_idx, event_type,
         lead(event_type) OVER w AS et1,
         lead(turn_idx) OVER w AS ti1
  FROM (SELECT conv_id, turn_idx, event_type FROM parsed WHERE parse_ok)
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
WHERE event_type = 'view' AND et1 = 'click'""",
    [PARSED_CTE],
)

ORACLES["funnel_reach"] = with_transcripts(
    """SELECT s1.conv_id, s1.step_1, s2.step_2, s3.step_3,
       CAST(CASE WHEN s1.step_1 IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN s2.step_2 IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN s3.step_3 IS NOT NULL THEN 1 ELSE 0 END AS INT)
         AS reached
FROM s1 LEFT JOIN s2 ON s1.conv_id = s2.conv_id
        LEFT JOIN s3 ON s1.conv_id = s3.conv_id""",
    [
        PARSED_CTE,
        "g AS (SELECT conv_id, turn_idx, event_type FROM parsed"
        " WHERE parse_ok)",
        "s1 AS (SELECT conv_id, min(turn_idx) AS step_1 FROM g"
        " WHERE event_type = 'view' GROUP BY conv_id)",
        "s2 AS (SELECT g.conv_id, min(g.turn_idx) AS step_2 FROM g"
        " JOIN s1 ON g.conv_id = s1.conv_id"
        " WHERE g.event_type = 'click' AND g.turn_idx > s1.step_1"
        " GROUP BY g.conv_id)",
        "s3 AS (SELECT g.conv_id, min(g.turn_idx) AS step_3 FROM g"
        " JOIN s2 ON g.conv_id = s2.conv_id"
        " WHERE g.event_type = 'purchase' AND g.turn_idx > s2.step_2"
        " GROUP BY g.conv_id)",
    ],
)

ORACLES["key_skew"] = with_transcripts(
    """SELECT tool, n, share_ppm, CAST(rank AS INT) AS rank
FROM (
  SELECT tool, n,
         CAST(floor(n * 1000000 / total) AS BIGINT) AS share_ppm,
         row_number() OVER (ORDER BY n DESC, tool ASC) AS rank
  FROM c, t
)
WHERE rank <= 5""",
    [
        "c AS (SELECT tool, CAST(count(*) AS BIGINT) AS n"
        " FROM transcripts GROUP BY tool)",
        "t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)",
    ],
)

ORACLES["suggested_checks"] = with_transcripts(
    """SELECT * FROM (
  SELECT "column", 'not_null' AS kind, '' AS param FROM prof
  WHERE n_null = 0 AND n_rows > 0
  UNION ALL
  SELECT "column", 'unique', '' FROM prof
  WHERE n_distinct = n_rows - n_null AND n_rows > 0
  UNION ALL
  SELECT "column", 'accepted_values', 'n=' || CAST(n_distinct AS VARCHAR)
  FROM prof
  WHERE dtype = 'string' AND n_distinct <= 20 AND n_distinct > 0
  UNION ALL
  SELECT "column", 'min', CAST(min_num AS VARCHAR) FROM prof
  WHERE min_num IS NOT NULL
)""",
    [f"_prof AS {_PROF_AGG}", f"prof AS (\n{_PROF_ARMS}\n)"],
)

ORACLES["error_bursts"] = with_transcripts(
    """SELECT conv_id, min(turn_idx) AS run_start, max(turn_idx) AS run_end,
       CAST(count(*) AS BIGINT) AS run_len
FROM (
  SELECT conv_id, turn_idx, _rn,
         _rn - row_number() OVER (PARTITION BY conv_id ORDER BY _rn)
           AS _island
  FROM (
    SELECT conv_id, turn_idx, event_type,
           row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS _rn
    FROM parsed WHERE parse_ok
  )
  WHERE event_type = 'error'
)
GROUP BY conv_id, _island
HAVING count(*) >= 2""",
    [PARSED_CTE],
)

# STATIC hand-auditable HLL oracle text (p=8, salt hll-v1). Previously
# generated at import time by the engine module; now committed as
# reviewable SQL — tests/test_sketch.py re-generates from the engine
# constants and asserts equality, so drift is caught WITHOUT the
# shipped oracle depending on engine code.
ORACLES["events_hll_intersect"] = """\

WITH _srca AS (SELECT event_type, CAST(user_id AS VARCHAR) AS u FROM events WHERE ts < TIMESTAMP '2024-01-16'),
_srcb AS (SELECT event_type, CAST(user_id AS VARCHAR) AS u FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
_ha AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(u || '#hll-v1'), 1, 8))::BIGINT % 256 AS INT) AS register,
         substr(md5(u || '#hll-v1'), 9, 8) AS _whex
  FROM _srca WHERE u IS NOT NULL
),
_ra AS (
  SELECT event_type, register,
         MAX(CAST(4 * (8 - length(trim(LEADING '0' FROM _whex))) + CASE substring(trim(LEADING '0' FROM _whex), 1, 1)
             WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
             WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
             ELSE 0 END + 1 AS INT)) AS rho
  FROM _ha GROUP BY event_type, register
),
_hb AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(u || '#hll-v1'), 1, 8))::BIGINT % 256 AS INT) AS register,
         substr(md5(u || '#hll-v1'), 9, 8) AS _whex
  FROM _srcb WHERE u IS NOT NULL
),
_rb AS (
  SELECT event_type, register,
         MAX(CAST(4 * (8 - length(trim(LEADING '0' FROM _whex))) + CASE substring(trim(LEADING '0' FROM _whex), 1, 1)
             WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
             WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
             ELSE 0 END + 1 AS INT)) AS rho
  FROM _hb GROUP BY event_type, register
),
_ru AS (
  SELECT event_type, register, MAX(rho) AS rho
  FROM (SELECT * FROM _ra UNION ALL SELECT * FROM _rb)
  GROUP BY event_type, register
),
_agga AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS registers_present,
         SUM(1::BIGINT << (33 - rho)) + (256 - COUNT(*)) * 8589934592 AS z_scaled
  FROM _ra GROUP BY event_type
),
_esta AS (
  SELECT event_type,
         CAST(ROUND(CASE WHEN CAST(0.7182725932495458 AS DOUBLE) * 256 * 256 * CAST(8589934592.0 AS DOUBLE) / CAST(z_scaled AS DOUBLE) <= CAST(640.0 AS DOUBLE)
                          AND 256 - registers_present > 0
                    THEN CAST(256.0 AS DOUBLE)
                         * ln(CAST(256.0 AS DOUBLE) / (256 - registers_present))
                    ELSE CAST(0.7182725932495458 AS DOUBLE) * 256 * 256 * CAST(8589934592.0 AS DOUBLE) / CAST(z_scaled AS DOUBLE) END) AS BIGINT) AS n_a
  FROM _agga
),
_aggb AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS registers_present,
         SUM(1::BIGINT << (33 - rho)) + (256 - COUNT(*)) * 8589934592 AS z_scaled
  FROM _rb GROUP BY event_type
),
_estb AS (
  SELECT event_type,
         CAST(ROUND(CASE WHEN CAST(0.7182725932495458 AS DOUBLE) * 256 * 256 * CAST(8589934592.0 AS DOUBLE) / CAST(z_scaled AS DOUBLE) <= CAST(640.0 AS DOUBLE)
                          AND 256 - registers_present > 0
                    THEN CAST(256.0 AS DOUBLE)
                         * ln(CAST(256.0 AS DOUBLE) / (256 - registers_present))
                    ELSE CAST(0.7182725932495458 AS DOUBLE) * 256 * 256 * CAST(8589934592.0 AS DOUBLE) / CAST(z_scaled AS DOUBLE) END) AS BIGINT) AS n_b
  FROM _aggb
),
_aggu AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS registers_present,
         SUM(1::BIGINT << (33 - rho)) + (256 - COUNT(*)) * 8589934592 AS z_scaled
  FROM _ru GROUP BY event_type
),
_estu AS (
  SELECT event_type,
         CAST(ROUND(CASE WHEN CAST(0.7182725932495458 AS DOUBLE) * 256 * 256 * CAST(8589934592.0 AS DOUBLE) / CAST(z_scaled AS DOUBLE) <= CAST(640.0 AS DOUBLE)
                          AND 256 - registers_present > 0
                    THEN CAST(256.0 AS DOUBLE)
                         * ln(CAST(256.0 AS DOUBLE) / (256 - registers_present))
                    ELSE CAST(0.7182725932495458 AS DOUBLE) * 256 * 256 * CAST(8589934592.0 AS DOUBLE) / CAST(z_scaled AS DOUBLE) END) AS BIGINT) AS n_union
  FROM _aggu
)
SELECT event_type, a.n_a, b.n_b, u.n_union,
       GREATEST(CAST(0 AS BIGINT), a.n_a + b.n_b - u.n_union)
         AS n_intersect_est
FROM _esta a
JOIN _estb b USING (event_type)
JOIN _estu u USING (event_type)
"""

ORACLES["latency_stats"] = with_transcripts(
    """SELECT tool,
       CAST(count(*) AS BIGINT) AS n_spans,
       min(delta) AS min_us, max(delta) AS max_us,
       round(avg(delta), 6) AS avg_us,
       round(quantile_cont(delta, 0.5), 6) AS p50_us,
       round(quantile_cont(delta, 0.9), 6) AS p90_us,
       round(quantile_cont(delta, 0.99), 6) AS p99_us
FROM (
  SELECT tool,
         epoch_us(ts) - lag(epoch_us(ts)) OVER
           (PARTITION BY conv_id ORDER BY turn_idx) AS delta
  FROM transcripts
)
WHERE delta IS NOT NULL
GROUP BY tool""",
)

ORACLES["burn_rate_alerts"] = """
WITH short AS (
  SELECT date_trunc('hour', ts) AS ws, user_id % 10 AS service,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS errors,
         count(*) AS total
  FROM events GROUP BY 1, 2
),
long AS (
  SELECT date_trunc('day', ws) AS ls, service,
         CAST(sum(errors) AS BIGINT) AS l_errors,
         CAST(sum(total) AS BIGINT) AS l_total
  FROM short GROUP BY 1, 2
)
SELECT epoch_us(s.ws) AS window_start_us, s.service,
       s.errors, s.total, l.l_errors, l.l_total
FROM short s
JOIN long l ON date_trunc('day', s.ws) = l.ls AND s.service = l.service
WHERE s.errors * 1000000 >= 3 * 100000 * s.total
  AND l.l_errors * 1000000 >= 2 * 100000 * l.l_total"""

ORACLES["log_rate_limit"] = """
SELECT event_id, event_type, window_start_us,
       CAST(rnk AS INT) AS sample_rank
FROM (
  SELECT event_id, event_type,
         epoch_us(date_trunc('hour', ts)) AS window_start_us,
         row_number() OVER (
           PARTITION BY event_type, date_trunc('hour', ts)
           ORDER BY ts, event_id) AS rnk
  FROM events
)
WHERE rnk <= 5"""

ORACLES["log_rate_limit_census"] = """
SELECT event_type,
       epoch_us(date_trunc('hour', ts)) AS window_start_us,
       count(*) AS n_total,
       CAST(least(count(*), 5) AS BIGINT) AS n_kept,
       CAST(count(*) - least(count(*), 5) AS BIGINT) AS n_dropped
FROM events
GROUP BY 1, 2"""

ORACLES["log_multiline"] = with_transcripts(
    """SELECT conv_id, event_seq,
       min(turn_idx) AS start_turn_idx,
       count(*) AS n_lines,
       string_agg(text, chr(10) ORDER BY turn_idx) AS event_text,
       (event_seq = 0) AS head_missing
FROM (
  SELECT conv_id, turn_idx, text,
         CAST(sum(CASE WHEN regexp_matches(text, '^event=') THEN 1 ELSE 0 END)
              OVER (PARTITION BY conv_id ORDER BY turn_idx) AS BIGINT)
           AS event_seq
  FROM transcripts
)
GROUP BY conv_id, event_seq"""
)

ORACLES["log_templates"] = with_transcripts(
    """SELECT string_agg(CASE WHEN nd = 1 THEN mt ELSE '<*>' END,
                         ' ' ORDER BY pos) AS template,
       n_tokens,
       CAST(max(cnt) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_wild
FROM (
  SELECT n_tokens, first_tok, pos, count(*) AS cnt,
         count(DISTINCT tok) AS nd, min(tok) AS mt
  FROM (
    SELECT n_tokens, first_tok, pos, toks[pos] AS tok
    FROM (
      SELECT CAST(len(toks) AS INTEGER) AS n_tokens, toks[1] AS first_tok,
             toks,
             unnest(generate_series(1, CAST(len(toks) AS INTEGER))) AS pos
      FROM (
        SELECT regexp_split_to_array(
                 trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
        FROM transcripts
      )
    )
  )
  GROUP BY 1, 2, 3
)
GROUP BY n_tokens, first_tok""",
    [],
)

ORACLES["parse_extract"] = with_transcripts(
    f"SELECT {', '.join(PARSE_COLS)} FROM parsed WHERE parse_ok",
    [PARSED_CTE],
)

ORACLES["parse_extract_json"] = with_transcripts(
    """SELECT conv_id, turn_idx, body,
       CASE WHEN json_valid(body)
            THEN coalesce(json_extract_string(body, '$.k'), '')
            ELSE '' END AS body_k
FROM parsed WHERE parse_ok""",
    [PARSED_CTE],
)

# Grok oracle: the SAME compiled pattern evaluated by DuckDB's RE2
# regexp_extract (independent engine + extraction machinery; patterns
# are written in the RE2 ∩ Java portable subset, so an engine-semantics
# divergence would surface here as a value mismatch).
_GROK_RE, _GROK_FIELDS = grok_op.compile_grok(GROK_EXPR)
_GROK_LIT = _GROK_RE.replace("'", "''")
ORACLES["parse_extract_grok"] = with_transcripts(
    f"""SELECT conv_id, turn_idx,
  regexp_extract(text, '{_GROK_LIT}', 1) AS event_type,
  regexp_extract(text, '{_GROK_LIT}', 2) AS event_id,
  CASE WHEN regexp_extract(text, '{_GROK_LIT}', 3) = '-' THEN ''
       ELSE regexp_extract(text, '{_GROK_LIT}', 3) END AS parent_event_id,
  TRY_CAST(nullif(regexp_extract(text, '{_GROK_LIT}', 4), '') AS BIGINT) AS job_num,
  regexp_extract(text, '{_GROK_LIT}', 5) AS application_name,
  regexp_extract(text, '{_GROK_LIT}', 6) AS body
FROM transcripts
WHERE regexp_extract(text, '{_GROK_LIT}', 1) <> ''
  AND regexp_extract(text, '{_GROK_LIT}', 2) <> ''
  AND TRY_CAST(nullif(regexp_extract(text, '{_GROK_LIT}', 4), '') AS BIGINT) IS NOT NULL"""
)

# expr-rule oracle: the same scalar expressions hand-written in DuckDB
# over the independently-parsed captures.
ORACLES["parse_extract_expr"] = with_transcripts(
    """SELECT conv_id, turn_idx,
  coalesce(nullif(parent_event_id, ''), event_id) AS parent_ref,
  CASE WHEN parent_event_id = '' THEN concat('root:', event_type)
       ELSE concat('child:', event_type) END AS evt_label,
  TRY_CAST(regexp_extract(job_name, '([0-9]+)', 1) AS BIGINT) * 2
    + length(event_id) AS job_x2
FROM parsed WHERE parse_ok""",
    [PARSED_CTE],
)

# Nested-schema oracle: DuckDB's independent JSON machinery
# (json_type/json_extract + list lambdas) re-deriving the same
# first-failing check in the compiler's declaration order. Only checks
# reachable on this payload appear; the full keyword surface is
# golden-tested in pytest.
_PAY_CTE = f"""pv AS (
  SELECT conv_id, turn_idx, job_name, event_type, role,
         regexp_extract(body, '"k": ([0-9]+)', 1) AS k
  FROM parsed WHERE parse_ok
), pay AS (
  SELECT conv_id, turn_idx, {PAYLOAD_SQL} AS payload FROM pv
)"""
ORACLES["validate_nested"] = with_transcripts(
    """SELECT conv_id, turn_idx,
  CASE
    WHEN NOT json_valid(payload) THEN '$: json'
    WHEN json_type(payload) <> 'OBJECT' THEN '$: type'
    WHEN json_type(payload, '$.meta') IS NULL THEN '$: required:meta'
    WHEN json_type(payload, '$.tags') IS NULL THEN '$: required:tags'
    WHEN json_type(payload, '$.v') IS NULL THEN '$: required:v'
    WHEN json_type(payload, '$.meta') <> 'OBJECT' THEN '$.meta: type'
    WHEN json_type(payload, '$.meta.job') IS NULL THEN '$.meta: required:job'
    WHEN json_type(payload, '$.meta.n') IS NULL THEN '$.meta: required:n'
    WHEN json_type(payload, '$.meta.job') <> 'VARCHAR' THEN '$.meta.job: type'
    WHEN NOT regexp_matches(json_extract_string(payload, '$.meta.job'),
                            'job-[0-9]+') THEN '$.meta.job: pattern'
    WHEN json_type(payload, '$.meta.n') NOT IN ('BIGINT', 'UBIGINT')
         THEN '$.meta.n: type'
    WHEN json_type(payload, '$.tags') <> 'ARRAY' THEN '$.tags: type'
    WHEN json_array_length(payload, '$.tags') < 1 THEN '$.tags: minItems'
    WHEN NOT coalesce(list_aggregate(list_transform(
           json_extract(payload, '$.tags[*]'),
           x -> json_type(x) = 'VARCHAR'), 'bool_and'), TRUE)
         THEN '$.tags[]: type'
    WHEN json_type(payload, '$.v') NOT IN ('BIGINT', 'UBIGINT')
         THEN '$.v: type'
    WHEN TRY_CAST(json_extract_string(payload, '$.v') AS DOUBLE) > 90
         THEN '$.v: maximum'
    ELSE NULL
  END AS schema_error
FROM pay""",
    [PARSED_CTE, _PAY_CTE],
)

ORACLES["parse_rejects"] = with_transcripts(
    "SELECT conv_id, turn_idx, text, 'invalid_parse' AS reject_reason "
    "FROM parsed WHERE NOT parse_ok",
    [PARSED_CTE],
)

_ENRICHED_CTE = f"""enriched AS (
  SELECT p.*, t.tool_category, t.owner, t.tool_sink, r.role_kind, r.default_sink,
         CASE WHEN p.tool <> '' AND t.tool_sink IS NOT NULL THEN t.tool_sink
              ELSE r.default_sink END AS sink
  FROM parsed p
  LEFT JOIN tool_meta t ON p.tool = t.tool
  LEFT JOIN role_meta r ON p.role = r.role
  WHERE p.parse_ok
)"""

ORACLES["enrich_route"] = with_transcripts(
    "SELECT conv_id, turn_idx, role, tool, tool_category, owner, role_kind, sink "
    "FROM enriched",
    [PARSED_CTE, TOOL_META_CTE, ROLE_META_CTE, _ENRICHED_CTE],
)

ORACLES["route_counts"] = with_transcripts(
    "SELECT sink, count(*) AS rows, count(DISTINCT conv_id) AS convs "
    "FROM enriched GROUP BY sink",
    [PARSED_CTE, TOOL_META_CTE, ROLE_META_CTE, _ENRICHED_CTE],
)

ORACLES["enrich_asof"] = with_transcripts(
    """SELECT t.conv_id, t.turn_idx, t.tool, v.version, v.config_rev
FROM transcripts t ASOF LEFT JOIN tool_versions v
  ON t.tool = v.tool AND t.ts >= v.valid_from""",
    [TOOL_VERSIONS_CTE],
)

ORACLES["enrich_interval"] = with_transcripts(
    """SELECT t.conv_id, t.turn_idx, t.tool, m.window_id, m.reason
FROM transcripts t JOIN maint m
  ON t.tool = m.tool AND t.ts >= m.start_ts AND t.ts < m.end_ts""",
    [MAINT_CTE],
)

_SESSION_CTE = """lagged AS (
  SELECT event_id, user_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN prev_ts IS NULL
                OR epoch_us(ts) - epoch_us(prev_ts) > CAST(7200 AS BIGINT) * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM lagged
),
sessions AS (
  SELECT event_id, user_id, ts, event_type,
         CAST(sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_n
  FROM flagged
)"""

_DP_SQL = (
    "(CAST(round(l_extendedprice * 1e6) AS BIGINT)"
    " * (1000000 - CAST(round(l_discount * 1e6) AS BIGINT))) // 1000000"
)

ORACLES["tpch_pricing"] = f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 1e6) AS BIGINT)) AS BIGINT)
         AS sum_qty_micro,
       CAST(sum(CAST(round(l_extendedprice * 1e6) AS BIGINT)) AS BIGINT)
         AS sum_base_price_micro,
       CAST(sum({_DP_SQL}) AS BIGINT) AS sum_disc_price_micro,
       CAST(sum((({_DP_SQL}) *
            (1000000 + CAST(round(l_tax * 1e6) AS BIGINT))) // 1000000)
         AS BIGINT) AS sum_charge_micro,
       CAST(sum(CAST(round(l_discount * 1e6) AS BIGINT)) AS BIGINT)
         AS sum_discount_micro,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus"""

ORACLES["tpch_shipping"] = f"""
WITH rev AS (
  SELECT l.l_orderkey,
         CAST(sum({_DP_SQL}) AS BIGINT) AS revenue_micro,
         epoch_us(o.o_orderdate) AS o_orderdate_us,
         o.o_orderpriority
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-03-15'
    AND l.l_shipdate > TIMESTAMP '1998-03-15'
  GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
)
SELECT l_orderkey, revenue_micro, o_orderdate_us, o_orderpriority,
       CAST(row_number() OVER (ORDER BY revenue_micro DESC, l_orderkey)
         AS INTEGER) AS "rank"
FROM rev
ORDER BY revenue_micro DESC, l_orderkey
LIMIT 10"""

ORACLES["tpch_revenue_nation"] = f"""
SELECT n.n_name,
       CAST(sum({_DP_SQL}) AS BIGINT) AS revenue_micro
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND c.c_nationkey = s.s_nationkey
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name"""

ORACLES["tpch_top_suppliers"] = f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum({_DP_SQL}) AS BIGINT) AS total_revenue_micro
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue_micro
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_revenue_micro = (SELECT max(total_revenue_micro) FROM rev)"""

ORACLES["tpch_priority"] = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_returnflag = 'R'
      AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority"""

ORACLES["tpch_custdist"] = """
WITH per_cust AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderdate < TIMESTAMP '1996-01-01'
  GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust
GROUP BY c_count"""

ORACLES["tpch_parts_suppliers"] = """
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#11'
  AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size"""

ORACLES["tpch_big_orders"] = """
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_quantity * 1e6) AS BIGINT)) AS BIGINT)
           AS sum_qty_micro
  FROM lineitem
  GROUP BY l_orderkey
  HAVING sum_qty_micro > 250000000
)
SELECT c.c_custkey, o.o_orderkey,
       epoch_us(o.o_orderdate) AS o_orderdate_us,
       CAST(round(o.o_totalprice * 1e6) AS BIGINT) AS o_totalprice_micro,
       b.sum_qty_micro
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey"""

ORACLES["tpch_waiting_suppliers"] = """
SELECT s.s_name, count(DISTINCT l1.l_orderkey) AS numwait
FROM lineitem l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY s.s_name"""

ORACLES["tpch_idle_customers"] = """
WITH bal AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 1e6) AS BIGINT) AS bal_micro
  FROM customer
),
tot AS (
  SELECT CAST(sum(bal_micro) AS BIGINT) AS tot_micro,
         count(*) AS n
  FROM bal
)
SELECT b.c_mktsegment, count(*) AS numcust,
       CAST(sum(b.bal_micro) AS BIGINT) AS totacctbal_micro
FROM bal b, tot t
WHERE b.bal_micro * t.n > t.tot_micro
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = b.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-08-01')
GROUP BY b.c_mktsegment"""

ORACLES["tpch_forecast_revenue"] = """
SELECT CAST(sum((CAST(round(l_extendedprice * 1e6) AS BIGINT)
                 * CAST(round(l_discount * 1e6) AS BIGINT)) // 1000000)
       AS BIGINT) AS revenue_micro,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.04 AND l_discount <= 0.06
  AND l_quantity < 24"""

_UNIT_COST_ORACLE = (
    "CAST(round(l_extendedprice * 1e6) AS BIGINT)"
    " // CAST(round(l_quantity) AS BIGINT)"
)

ORACLES["tpch_min_cost_supp"] = f"""
WITH cost AS (
  SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal, n.n_name,
         CAST(min({_UNIT_COST_ORACLE}) AS BIGINT) AS supp_cost_micro
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE p.p_size >= 40 AND r.r_name = 'ASIA'
  GROUP BY ALL
)
SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
       CAST(round(s_acctbal * 1e6) AS BIGINT) AS s_acctbal_micro,
       supp_cost_micro
FROM cost c
WHERE supp_cost_micro = (
  SELECT min(supp_cost_micro) FROM cost c2 WHERE c2.p_partkey = c.p_partkey)"""

ORACLES["tpch_volume_shipping"] = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
       CAST(sum({_DP_SQL}) AS BIGINT) AS revenue_micro
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY ALL"""

ORACLES["tpch_market_share"] = f"""
SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       CAST(sum(CASE WHEN n1.n_name = 'NATION_3' THEN {_DP_SQL} ELSE 0 END)
         AS BIGINT) AS target_volume_micro,
       CAST(sum({_DP_SQL}) AS BIGINT) AS total_volume_micro
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
JOIN region r ON n2.n_regionkey = r.r_regionkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
WHERE p.p_type = 'PROMO' AND r.r_name = 'ASIA'
GROUP BY ALL"""

ORACLES["tpch_product_profit"] = f"""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       CAST(sum(({_DP_SQL})
            - CAST(round(p.p_retailprice * 1e6) AS BIGINT)
              * CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
         AS profit_micro
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY ALL"""

ORACLES["tpch_returned_customers"] = f"""
WITH rev AS (
  SELECT o.o_custkey,
         CAST(sum({_DP_SQL}) AS BIGINT) AS revenue_micro
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '1997-01-01'
    AND o.o_orderdate < TIMESTAMP '1997-04-01'
  GROUP BY o.o_custkey
),
top AS (
  SELECT o_custkey, revenue_micro,
         CAST(row_number() OVER (ORDER BY revenue_micro DESC, o_custkey)
           AS INTEGER) AS "rank"
  FROM rev
  ORDER BY revenue_micro DESC, o_custkey
  LIMIT 20
)
SELECT c.c_custkey, c.c_name, t.revenue_micro,
       CAST(round(c.c_acctbal * 1e6) AS BIGINT) AS c_acctbal_micro,
       n.n_name, t."rank"
FROM top t
JOIN customer c ON t.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey"""

ORACLES["tpch_important_parts"] = f"""
WITH per_part AS (
  SELECT l.l_partkey,
         CAST(sum({_DP_SQL}) AS BIGINT) AS value_micro
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_5'
  GROUP BY l.l_partkey
)
SELECT l_partkey, value_micro
FROM per_part
WHERE (value_micro // 1000000) * 1000000 >
      (SELECT CAST(sum(value_micro // 1000000) AS BIGINT) FROM per_part) * 1000"""

ORACLES["tpch_late_priority"] = """
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
GROUP BY l.l_linestatus"""

ORACLES["tpch_promo_share"] = f"""
SELECT epoch_us(CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP))
         AS ship_month_us,
       CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN {_DP_SQL} ELSE 0 END)
         AS BIGINT) AS promo_revenue_micro,
       CAST(sum({_DP_SQL}) AS BIGINT) AS total_revenue_micro
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY ALL"""

ORACLES["tpch_small_qty_revenue"] = """
WITH sub AS (
  SELECT l.l_partkey,
         CAST(round(l.l_quantity) AS BIGINT) AS qty,
         CAST(round(l.l_extendedprice * 1e6) AS BIGINT) AS price_mi
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#3'
),
avg_q AS (
  SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty,
         count(*) AS n
  FROM sub GROUP BY l_partkey
)
SELECT CAST(sum(s.price_mi) AS BIGINT) AS revenue_micro,
       count(*) AS n_lines
FROM sub s JOIN avg_q a ON s.l_partkey = a.l_partkey
WHERE s.qty * a.n * 5 < a.sum_qty * 1"""

ORACLES["tpch_banded_revenue"] = f"""
WITH j AS (
  SELECT p.p_brand, p.p_size, l.l_quantity,
         {_DP_SQL} AS dp,
         (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
          AND l.l_quantity BETWEEN 1.0 AND 15.0) AS b0,
         (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 25
          AND l.l_quantity BETWEEN 10.0 AND 30.0) AS b1,
         (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 25 AND 50
          AND l.l_quantity BETWEEN 20.0 AND 50.0) AS b2
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT CAST(sum(CASE WHEN b0 THEN dp ELSE 0 END) AS BIGINT)
         AS band0_revenue_micro,
       CAST(sum(CASE WHEN b1 THEN dp ELSE 0 END) AS BIGINT)
         AS band1_revenue_micro,
       CAST(sum(CASE WHEN b2 THEN dp ELSE 0 END) AS BIGINT)
         AS band2_revenue_micro,
       CAST(sum(dp) AS BIGINT) AS revenue_micro,
       count(*) AS n_lines
FROM j
WHERE b0 OR b1 OR b2"""

ORACLES["tpch_dominant_suppliers"] = """
WITH vol AS (
  SELECT l.l_partkey, l.l_suppkey,
         CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS v
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_name LIKE 'red%'
    AND l.l_shipdate >= TIMESTAMP '1997-01-01'
    AND l.l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l.l_partkey, l.l_suppkey
),
winners AS (
  SELECT DISTINCT v.l_suppkey
  FROM vol v
  JOIN (SELECT l_partkey, CAST(sum(v) AS BIGINT) AS tot
        FROM vol GROUP BY l_partkey) t
    ON v.l_partkey = t.l_partkey
  WHERE v.v * 3 > t.tot * 2
)
SELECT s.s_suppkey, s.s_name, n.n_name
FROM winners w
JOIN supplier s ON w.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey"""

ORACLES["table_diff"] = """
WITH old_t AS (
  SELECT event_id, event_type, value FROM events WHERE event_id % 11 != 0
),
new_t AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 7 = 0 THEN value + 1 ELSE value END AS value
  FROM events WHERE event_id % 13 != 0
)
SELECT COALESCE(o.event_id, n.event_id) AS event_id,
       CASE WHEN o.event_id IS NULL THEN 'insert'
            WHEN n.event_id IS NULL THEN 'delete'
            ELSE 'update' END AS change,
       CASE WHEN o.event_id IS NULL OR n.event_id IS NULL THEN ''
            ELSE concat_ws(',',
              CASE WHEN o.event_type IS DISTINCT FROM n.event_type
                   THEN 'event_type' END,
              CASE WHEN o.value IS DISTINCT FROM n.value
                   THEN 'value' END)
       END AS changed_cols
FROM old_t o FULL OUTER JOIN new_t n ON o.event_id = n.event_id
WHERE o.event_id IS NULL OR n.event_id IS NULL
   OR o.event_type IS DISTINCT FROM n.event_type
   OR o.value IS DISTINCT FROM n.value"""

ORACLES["correlate_events"] = """
SELECT c.user_id, c.event_id AS req_event_id, epoch_us(c.ts) AS req_ts_us,
       p.event_id AS resp_event_id, epoch_us(p.ts) AS resp_ts_us,
       epoch_us(p.ts) - epoch_us(c.ts) AS latency_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND epoch_us(p.ts) < epoch_us(c.ts) + 7200000000
WHERE c.event_type = 'click' AND p.event_type = 'purchase'"""

ORACLES["correlate_timeouts"] = """
SELECT c.user_id, c.event_id AS req_event_id, epoch_us(c.ts) AS req_ts_us
FROM events c
WHERE c.event_type = 'click' AND NOT EXISTS (
  SELECT 1 FROM events p
  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
    AND p.ts >= c.ts AND epoch_us(p.ts) < epoch_us(c.ts) + 7200000000)"""

ORACLES["sessionize"] = f"""WITH {_SESSION_CTE}
SELECT event_id, user_id, session_n,
       CAST(user_id AS VARCHAR) || '-' || CAST(session_n AS VARCHAR) AS session_id
FROM sessions"""

ORACLES["session_stats"] = f"""WITH {_SESSION_CTE}
SELECT user_id,
       CAST(user_id AS VARCHAR) || '-' || CAST(session_n AS VARCHAR) AS session_id,
       count(*) AS n_events,
       epoch_us(min(ts)) AS start_us,
       epoch_us(max(ts)) AS end_us,
       CAST(floor((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0) AS BIGINT)
         AS duration_sec,
       count(DISTINCT event_type) AS n_event_types
FROM sessions GROUP BY user_id, session_n"""

ORACLES["session_window_stats"] = f"""WITH {_SESSION_CTE}
SELECT user_id,
       epoch_us(min(ts)) AS start_us,
       epoch_us(max(ts)) + CAST(7200 AS BIGINT) * 1000000 AS end_us,
       count(*) AS n_events
FROM sessions GROUP BY user_id, session_n"""

ORACLES["events_rollup_hourly"] = """SELECT
  epoch_us(date_trunc('hour', ts)) AS window_start_us,
  epoch_us(date_trunc('hour', ts)) + CAST(3600 AS BIGINT) * 1000000
    AS window_end_us,
  event_type,
  count(*) AS n_events,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
    AS value_sum_micro
FROM events
GROUP BY 1, 2, 3"""

ORACLES["events_rollup_incremental"] = ORACLES["events_rollup_hourly"]

ORACLES["events_cube"] = """
SELECT CASE WHEN GROUPING(event_type) = 1 THEN '(all)'
            ELSE CAST(event_type AS VARCHAR) END AS event_type,
       CASE WHEN GROUPING(strftime(ts, '%Y-%m-%d')) = 1 THEN '(all)'
            ELSE strftime(ts, '%Y-%m-%d') END AS day,
       CAST(GROUPING(event_type, strftime(ts, '%Y-%m-%d')) AS BIGINT)
         AS grouping_id,
       count(*) AS n,
       CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
         AS value_micro_sum
FROM events
GROUP BY CUBE (event_type, strftime(ts, '%Y-%m-%d'))"""

ORACLES["counter_rate"] = """
WITH q AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(round(value * 1e6) AS BIGINT) AS v
  FROM events
),
d AS (
  SELECT event_type, ts, v,
         lag(v) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id) AS pv
  FROM q
)
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       epoch_us(date_trunc('hour', ts)) + CAST(3600 AS BIGINT) * 1000000
         AS window_end_us,
       event_type,
       CAST(sum(CASE WHEN v < pv THEN v ELSE v - pv END) AS BIGINT)
         AS increase_micro,
       count(*) AS n_deltas
FROM d
WHERE pv IS NOT NULL
GROUP BY 1, 2, 3"""

ORACLES["rollup_gaps_filled"] = """
WITH roll AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) AS window_start_us,
         count(*) AS n_events,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
           AS value_sum_micro
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT event_type, min(window_start_us) AS lo, max(window_start_us) AS hi
  FROM roll GROUP BY event_type
),
grid AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, CAST(3600 AS BIGINT) * 1000000))
           AS window_start_us
  FROM spans
)
SELECT g.event_type, g.window_start_us,
       g.window_start_us + CAST(3600 AS BIGINT) * 1000000 AS window_end_us,
       COALESCE(r.n_events, CAST(0 AS BIGINT)) AS n_events,
       COALESCE(r.n_users, CAST(0 AS BIGINT)) AS n_users,
       COALESCE(r.value_sum_micro, CAST(0 AS BIGINT)) AS value_sum_micro
FROM grid g LEFT JOIN roll r
  ON g.event_type = r.event_type AND g.window_start_us = r.window_start_us"""

ORACLES["events_kmv_quantiles"] = """
WITH pri AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#kmv-v1'),
              1, 15)) AS BIGINT) AS priority,
         CAST(round(value * 1e6) AS BIGINT) AS value
  FROM events WHERE value IS NOT NULL
),
samp AS (
  SELECT event_type, priority, value,
         row_number() OVER (
           PARTITION BY event_type ORDER BY priority, value) AS rn
  FROM pri
),
st AS (SELECT * FROM samp WHERE rn <= 64),
n AS (SELECT event_type, count(*) AS n_sample FROM st GROUP BY event_type),
ranked AS (
  SELECT s.event_type, s.value,
         row_number() OVER (
           PARTITION BY s.event_type ORDER BY s.value, s.priority) AS vr
  FROM st s
)
SELECT r.event_type, q.q_permille, n.n_sample, r.value
FROM ranked r
JOIN n ON r.event_type = n.event_type
CROSS JOIN (VALUES (500), (950), (990)) q(q_permille)
WHERE r.vr = GREATEST((q.q_permille * n.n_sample + 999) // 1000, 1)"""

# STATIC HLL estimate oracles (see events_hll_intersect note above).
ORACLES["events_hll_users"] = """\

WITH _src AS (SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hour_us, CAST(user_id AS VARCHAR) AS u FROM events),
_h AS (
  SELECT hour_us,
         CAST(('0x' || substr(md5(u || '#hll-v1'), 1, 8))::BIGINT % 256 AS INT) AS register,
         substr(md5(u || '#hll-v1'), 9, 8) AS _whex
  FROM _src WHERE u IS NOT NULL
),
_r AS (
  SELECT hour_us, register,
         MAX(CAST(4 * (8 - length(trim(LEADING '0' FROM _whex))) + CASE substring(trim(LEADING '0' FROM _whex), 1, 1)
             WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
             WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
             ELSE 0 END + 1 AS INT)) AS rho
  FROM _h GROUP BY hour_us, register
),
_a AS (
  SELECT hour_us,
         CAST(COUNT(*) AS BIGINT) AS registers_present,
         SUM(1::BIGINT << (33 - rho)) + (256 - COUNT(*)) * 8589934592 AS z_scaled
  FROM _r GROUP BY hour_us
)
SELECT hour_us, registers_present, CAST(z_scaled AS BIGINT) AS z_scaled,
       CAST(ROUND(CASE WHEN CAST(0.7182725932495458 AS DOUBLE) * 256 * 256 * CAST(8589934592.0 AS DOUBLE) / CAST(z_scaled AS DOUBLE) <= CAST(640.0 AS DOUBLE)
                        AND 256 - registers_present > 0
                  THEN CAST(256.0 AS DOUBLE) * ln(CAST(256.0 AS DOUBLE) / (256 - registers_present))
                  ELSE CAST(0.7182725932495458 AS DOUBLE) * 256 * 256 * CAST(8589934592.0 AS DOUBLE) / CAST(z_scaled AS DOUBLE) END)
            AS BIGINT) AS n_users_hll
FROM _a
"""

_HLL_GRAIN_SQL = """\

WITH _src AS (SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, epoch_us(date_trunc('hour', ts)) + CAST(3600 AS BIGINT) * 1000000 AS window_end_us, event_type, CAST(user_id AS VARCHAR) AS u FROM events),
_h AS (
  SELECT window_start_us, window_end_us, event_type,
         CAST(('0x' || substr(md5(u || '#hll-v1'), 1, 8))::BIGINT % 256 AS INT) AS register,
         substr(md5(u || '#hll-v1'), 9, 8) AS _whex
  FROM _src WHERE u IS NOT NULL
),
_r AS (
  SELECT window_start_us, window_end_us, event_type, register,
         MAX(CAST(4 * (8 - length(trim(LEADING '0' FROM _whex))) + CASE substring(trim(LEADING '0' FROM _whex), 1, 1)
             WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
             WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
             ELSE 0 END + 1 AS INT)) AS rho
  FROM _h GROUP BY window_start_us, window_end_us, event_type, register
),
_a AS (
  SELECT window_start_us, window_end_us, event_type,
         CAST(COUNT(*) AS BIGINT) AS registers_present,
         SUM(1::BIGINT << (33 - rho)) + (256 - COUNT(*)) * 8589934592 AS z_scaled
  FROM _r GROUP BY window_start_us, window_end_us, event_type
)
SELECT window_start_us, window_end_us, event_type, registers_present, CAST(z_scaled AS BIGINT) AS z_scaled,
       CAST(ROUND(CASE WHEN CAST(0.7182725932495458 AS DOUBLE) * 256 * 256 * CAST(8589934592.0 AS DOUBLE) / CAST(z_scaled AS DOUBLE) <= CAST(640.0 AS DOUBLE)
                        AND 256 - registers_present > 0
                  THEN CAST(256.0 AS DOUBLE) * ln(CAST(256.0 AS DOUBLE) / (256 - registers_present))
                  ELSE CAST(0.7182725932495458 AS DOUBLE) * 256 * 256 * CAST(8589934592.0 AS DOUBLE) / CAST(z_scaled AS DOUBLE) END)
            AS BIGINT) AS n_users_hll
FROM _a
"""
ORACLES["events_rollup_hll"] = f"""WITH counts AS (
  SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
         epoch_us(date_trunc('hour', ts)) + CAST(3600 AS BIGINT) * 1000000
           AS window_end_us,
         event_type, count(*) AS n_events,
         CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
           AS value_sum_micro
  FROM events GROUP BY 1, 2, 3
)
SELECT window_start_us, window_end_us, event_type, n_events, value_sum_micro,
       h.n_users_hll
FROM counts c JOIN ({_HLL_GRAIN_SQL}) h
USING (window_start_us, window_end_us, event_type)"""

from otel2pv_spark.sources.layout import zvalue_oracle_terms  # noqa: E402

ORACLES["layout_zorder"] = f"""SELECT event_id,
  CAST({zvalue_oracle_terms('user_id', '(epoch_us(ts) // 60000000)', 12)}
       AS BIGINT) AS zval
FROM events"""

ORACLES["conv_features"] = with_transcripts("""SELECT
  conv_id,
  count(*) AS n_turns,
  CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
  CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_assistant,
  CAST(sum(CASE WHEN tool <> '' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_tool_calls,
  CAST(count(DISTINCT CASE WHEN tool <> '' THEN tool END) AS BIGINT)
    AS n_distinct_tools,
  CAST(sum(length(text)) AS BIGINT) AS chars_total,
  CAST(max(length(text)) AS INT) AS chars_max,
  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
FROM transcripts GROUP BY conv_id""")

ORACLES["prep_sft_examples"] = with_transcripts("""SELECT
  conv_id, turn_idx,
  coalesce(array_to_string(
    list(role || ': ' || text) OVER w, chr(10)), '') AS context,
  text AS target,
  CAST(count(*) OVER w AS BIGINT) AS n_context_turns,
  CAST(coalesce(sum(length(role || ': ' || text)) OVER w, 0) AS BIGINT)
    AS context_chars,
  count(*) OVER wa > 4 AS truncated
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING),
       wa AS (PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
QUALIFY role = 'assistant'""")

# conversation-level LSH: the per-document shingle/minhash/band CTEs
# verbatim (entry_queries), over turn-order-concatenated conversations
from otel2pv_spark.entry_queries import _LSH_CTES, _SHINGLE_CTE  # noqa: E402

_CONV_DOCS_CTE = """docs AS (
  SELECT conv_id AS doc_id, string_agg(text, ' ' ORDER BY turn_idx) AS text
  FROM transcripts GROUP BY conv_id
)"""
ORACLES["dedup_conversations"] = with_transcripts(
    "SELECT doc_a AS conv_a, doc_b AS conv_b FROM cand",
    [_CONV_DOCS_CTE, _SHINGLE_CTE, _LSH_CTES],
)

# conversation-grain transitive closure over the LSH candidate pairs —
# the same independent min-label reachability construction as the
# doc-grain dedup_clusters oracle (entry_queries), over string conv ids
# (min() on VARCHAR is lexicographic in both engines)
_CONV_CC_CTES = [
    """sym AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION ALL SELECT doc_b, doc_a FROM cand
)""",
    """reach(node, comp) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT e.v, r.comp FROM reach r JOIN sym e ON e.u = r.node
)""",
    """lab AS (SELECT node AS conv_id, min(comp) AS cluster_id FROM reach GROUP BY node)""",
]

ORACLES["dedup_conv_clusters"] = with_transcripts(
    """SELECT l.conv_id, l.cluster_id, sz.cluster_size,
       l.conv_id = l.cluster_id AS is_canonical
FROM lab l JOIN sz USING (cluster_id)""",
    [_CONV_DOCS_CTE, _SHINGLE_CTE, _LSH_CTES]
    + _CONV_CC_CTES
    + ["sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)"],
    recursive=True,
)

ORACLES["dedup_conv_survivors"] = with_transcripts(
    """SELECT jq.conv_id, jq.cluster_id, jq.quality,
       jq.conv_id = bid.keep_id AS keep
FROM jq JOIN bid USING (cluster_id)""",
    [_CONV_DOCS_CTE, _SHINGLE_CTE, _LSH_CTES]
    + _CONV_CC_CTES
    + [
        """jq AS (
  SELECT lab.conv_id, lab.cluster_id, q.quality
  FROM lab JOIN (
    SELECT conv_id, CAST(sum(length(text)) AS BIGINT) AS quality
    FROM transcripts GROUP BY conv_id
  ) q USING (conv_id)
)""",
        """best AS (SELECT cluster_id, max(quality) AS bq FROM jq GROUP BY cluster_id)""",
        """bid AS (
  SELECT jq.cluster_id, min(jq.conv_id) AS keep_id
  FROM jq JOIN best ON jq.cluster_id = best.cluster_id
                   AND jq.quality = best.bq
  GROUP BY jq.cluster_id
)""",
    ],
    recursive=True,
)

# hopping 2h/1h: each event belongs to the windows starting at its
# truncated hour and one hour before (start <= ts < start + 2h)
ORACLES["events_rollup_sliding"] = """WITH h AS (
  SELECT *, epoch_us(date_trunc('hour', ts))
            - k * CAST(3600 AS BIGINT) * 1000000 AS ws
  FROM events, (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))) o(k)
)
SELECT ws AS window_start_us,
       ws + CAST(7200 AS BIGINT) * 1000000 AS window_end_us,
       event_type,
       count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
         AS value_sum_micro
FROM h
GROUP BY 1, 2, 3"""

ORACLES["sequence_prev"] = with_transcripts(
    f"""SELECT conv_id, turn_idx, event_id,
       CASE WHEN turn_idx - lag(turn_idx) OVER w = 1 THEN lag(event_id) OVER w END
         AS prev_event_id,
       TRUE AS sequenceable
FROM parsed WHERE parse_ok {_W}""",
    [PARSED_CTE],
)

ORACLES["sequence_prev_salted"] = ORACLES["sequence_prev"]

ORACLES["sequence_prev_idmap"] = with_transcripts(
    f"""SELECT conv_id, turn_idx, event_id,
       CASE WHEN turn_idx - lag(turn_idx) OVER w = 1
            THEN lag(CASE WHEN job_name <> '' THEN job_name ELSE event_id END) OVER w
       END AS prev_ref
FROM parsed WHERE parse_ok {_W}""",
    [PARSED_CTE],
)

ORACLES["sequence_dups"] = with_transcripts(
    """SELECT b.conv_id, b.turn_idx, b.event_id, c.prev_event_id,
       row_number() OVER (PARTITION BY b.conv_id, b.event_id ORDER BY b.turn_idx) > 1
         AS is_duplicate,
       TRUE AS sequenceable
FROM base b
JOIN chain c ON b.conv_id = c.conv_id AND b.turn_idx = c.turn_idx""",
    [
        PARSED_CTE,
        """base AS (
  SELECT * FROM parsed WHERE parse_ok
  UNION ALL SELECT * FROM parsed WHERE parse_ok AND turn_idx = 5
)""",
        """canon AS (SELECT DISTINCT conv_id, turn_idx, event_id FROM base)""",
        """chain AS (
  SELECT conv_id, turn_idx, event_id,
         CASE WHEN turn_idx - lag(turn_idx) OVER w = 1 THEN lag(event_id) OVER w END
           AS prev_event_id
  FROM canon WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)""",
    ],
)

ORACLES["chain_verify"] = with_transcripts(
    """SELECT conv_id, count(*) AS n_turns,
       min(CASE WHEN rn = 1 THEN parent_event_id = ''
                ELSE parent_event_id = prev_id END AND parse_ok) AS verified
FROM (
  SELECT conv_id, parse_ok, parent_event_id,
         row_number() OVER w AS rn, lag(event_id) OVER w AS prev_id
  FROM parsed WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
GROUP BY conv_id""",
    [PARSED_CTE],
)

ORACLES["chain_verify_salted"] = ORACLES["chain_verify"]

ORACLES["group_applies"] = with_transcripts(
    """SELECT conv_id, turn_idx, event_id,
       coalesce(
         first_value(CASE WHEN event_type = 'error' AND job_name <> ''
                          THEN job_name END IGNORE NULLS)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
         job_name) AS job_name
FROM parsed WHERE parse_ok""",
    [PARSED_CTE],
)

ORACLES["extract_fanout"] = with_transcripts(
    "\nUNION ALL\n".join(
        f"SELECT conv_id, turn_idx, '{k}' AS key, {k} AS value, '{k}' AS sink "
        f"FROM parsed WHERE parse_ok AND {k} <> ''"
        for k in _FANOUT_KEYS
    ),
    [PARSED_CTE],
)

ORACLES["validate_events"] = with_transcripts(
    r"""SELECT conv_id, turn_idx,
       CASE
         WHEN event_id IS NULL OR event_id = ''
              OR NOT regexp_matches(event_id, '^[A-Za-z0-9:_\-]+$')
           THEN 'invalid_event_id'
         WHEN event_type IS NULL OR event_type = ''
              OR event_type NOT IN ('view','click','purchase','error')
           THEN 'invalid_event_type'
         WHEN parent_event_id IS NOT NULL AND parent_event_id <> ''
              AND NOT regexp_matches(parent_event_id, '^[A-Za-z0-9:_\-]+$')
           THEN 'invalid_parent_event_id'
         WHEN job_name IS NOT NULL AND job_name <> '' AND length(job_name) > 64
           THEN 'invalid_job_name'
         WHEN turn_idx IS NULL THEN 'invalid_turn_idx'
       END AS validation_error
FROM parsed""",
    [PARSED_CTE],
)

ORACLES["pipeline_sink_counts"] = with_transcripts(
    "SELECT sink, count(*) AS rows FROM enriched GROUP BY sink",
    [PARSED_CTE, TOOL_META_CTE, ROLE_META_CTE, _ENRICHED_CTE],
)

ORACLES["pipeline_hot_counts"] = ORACLES["pipeline_sink_counts"]

ORACLES["pipeline_tree_counts"] = with_transcripts(
    """SELECT e.sink, count(*) AS rows,
       CAST(sum(CASE WHEN c.prev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_linked,
       CAST(sum(CASE WHEN v.verified THEN 1 ELSE 0 END) AS BIGINT)
         AS n_verified
FROM enriched e
JOIN chain c ON c.conv_id = e.conv_id AND c.turn_idx = e.turn_idx
JOIN ver v ON v.conv_id = e.conv_id
GROUP BY e.sink""",
    [
        PARSED_CTE,
        TOOL_META_CTE,
        ROLE_META_CTE,
        _ENRICHED_CTE,
        """chain AS (
  SELECT conv_id, turn_idx,
         CASE WHEN turn_idx - lag(turn_idx) OVER w = 1 THEN lag(event_id) OVER w END
           AS prev
  FROM parsed WHERE parse_ok
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)""",
        """ver AS (
  SELECT conv_id,
         min(CASE WHEN rn = 1 THEN parent_event_id = ''
                  ELSE parent_event_id = prev_id END AND parse_ok) AS verified
  FROM (
    SELECT conv_id, parse_ok, parent_event_id,
           row_number() OVER w AS rn, lag(event_id) OVER w AS prev_id
    FROM parsed WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
  )
  GROUP BY conv_id
)""",
    ],
)


# ------------------------------------------------------------- contract
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full pipeline plan at sf0.001, routed+sequenced rows."""
    routable, _ = pipeline.build_sequenced(
        _tr(spark, "/root/testdata/sf0.001"),
        datagen.tool_meta(spark),
        datagen.role_meta(spark),
        pipeline.PipelineConfig(),
    )
    return routable


# queries() order: a correctness pass that samples only the first 50
# entries covers the core operators (tree/sequence, verify, dedup, ANN,
# in this order); the parse_extract variants and TPC-H come last.
_LEAD = (
    "tree_", "sequence_", "chain_verify", "group_applies", "pipeline_",
    "dedup_", "ann_", "embedding_semdedup",
)
_TAIL = ("parse_extract", "tpch_")


def _query_rank(name: str) -> int:
    for i, prefix in enumerate(_LEAD):
        if name.startswith(prefix):
            return i
    return len(_LEAD) + name.startswith(_TAIL)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from otel2pv_spark import entry_queries, tree_queries

    out = {
        "parse_extract": q_parse_extract,
        "parse_extract_json": q_parse_extract_json,
        "parse_extract_grok": q_parse_extract_grok,
        "parse_extract_expr": q_parse_extract_expr,
        "validate_nested": q_validate_nested,
        "parse_rejects": q_parse_rejects,
        "enrich_route": q_enrich_route,
        "enrich_asof": q_enrich_asof,
        "enrich_interval": q_enrich_interval,
        "tpch_pricing": q_tpch_pricing,
        "tpch_shipping": q_tpch_shipping,
        "tpch_revenue_nation": q_tpch_revenue_nation,
        "tpch_top_suppliers": q_tpch_top_suppliers,
        "tpch_priority": q_tpch_priority,
        "tpch_custdist": q_tpch_custdist,
        "tpch_parts_suppliers": q_tpch_parts_suppliers,
        "tpch_big_orders": q_tpch_big_orders,
        "tpch_idle_customers": q_tpch_idle_customers,
        "tpch_waiting_suppliers": q_tpch_waiting_suppliers,
        "tpch_forecast_revenue": q_tpch_forecast_revenue,
        "tpch_min_cost_supp": q_tpch_min_cost_supp,
        "tpch_volume_shipping": q_tpch_volume_shipping,
        "tpch_market_share": q_tpch_market_share,
        "tpch_product_profit": q_tpch_product_profit,
        "tpch_returned_customers": q_tpch_returned_customers,
        "tpch_important_parts": q_tpch_important_parts,
        "tpch_late_priority": q_tpch_late_priority,
        "tpch_promo_share": q_tpch_promo_share,
        "tpch_small_qty_revenue": q_tpch_small_qty_revenue,
        "tpch_banded_revenue": q_tpch_banded_revenue,
        "tpch_dominant_suppliers": q_tpch_dominant_suppliers,
        "table_diff": q_table_diff,
        "correlate_events": q_correlate_events,
        "correlate_timeouts": q_correlate_timeouts,
        "sessionize": q_sessionize,
        "session_stats": q_session_stats,
        "session_window_stats": q_session_window_stats,
        "events_rollup_hourly": q_events_rollup_hourly,
        "events_cube": q_events_cube,
        "counter_rate": q_counter_rate,
        "log_templates": q_log_templates,
        "log_multiline": q_log_multiline,
        "log_rate_limit": q_log_rate_limit,
        "log_rate_limit_census": q_log_rate_limit_census,
        "burn_rate_alerts": q_burn_rate_alerts,
        "events_rollup_sliding": q_events_rollup_sliding,
        "events_rollup_incremental": q_events_rollup_incremental,
        "rollup_gaps_filled": q_rollup_gaps_filled,
        "rollup_anomalies_filled": q_rollup_anomalies_filled,
        "events_hll_users": q_events_hll_users,
        "events_kmv_quantiles": q_events_kmv_quantiles,
        "events_rollup_hll": q_events_rollup_hll,
        "layout_zorder": q_layout_zorder,
        "conv_features": q_conv_features,
        "prep_sft_examples": q_prep_sft_examples,
        "dedup_conversations": q_dedup_conversations,
        "dedup_conv_clusters": q_dedup_conv_clusters,
        "dedup_conv_survivors": q_dedup_conv_survivors,
        "route_counts": q_route_counts,
        "sequence_prev": q_sequence_prev,
        "sequence_prev_salted": q_sequence_prev_salted,
        "sequence_prev_idmap": q_sequence_prev_idmap,
        "sequence_dups": q_sequence_dups,
        "chain_verify": q_chain_verify,
        "chain_verify_salted": q_chain_verify_salted,
        "group_applies": q_group_applies,
        "validate_events": q_validate_events,
        "extract_fanout": q_extract_fanout,
        "pipeline_sink_counts": q_pipeline_sink_counts,
        "pipeline_hot_counts": q_pipeline_hot_counts,
        "pipeline_tree_counts": q_pipeline_tree_counts,
        "pipeline_checks": q_pipeline_checks,
        "table_profile": q_table_profile,
        "table_profile_drift": q_table_profile_drift,
        "rollup_anomalies": q_rollup_anomalies,
        "match_steps": q_match_steps,
        "funnel_reach": q_funnel_reach,
        "error_bursts": q_error_bursts,
        "events_hll_intersect": q_events_hll_intersect,
        "key_skew": q_key_skew,
        "suggested_checks": q_suggested_checks,
        "latency_stats": q_latency_stats,
    }
    out.update(entry_queries.QUERIES)
    out.update(tree_queries.QUERIES)
    return dict(sorted(out.items(), key=lambda kv: _query_rank(kv[0])))


def oracle_sql() -> dict[str, str]:
    from otel2pv_spark import entry_queries, tree_queries

    out = dict(ORACLES)
    out.update(entry_queries.ORACLES)
    out.update(tree_queries.ORACLES)
    return out
