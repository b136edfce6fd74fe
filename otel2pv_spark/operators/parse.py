"""Parse stage — the JQExtractor analog.

The reference fuses N named JQ queries into ONE program executed once
per document (JQExtractor/jqextractor/jqTransformer.go:304-327) and
routes each extracted value by its query key (jqTransformer.go:241-265).
Here the analog is: N named extraction rules compiled into ONE
projection over ``text`` — each rule becomes one output column, all
evaluated in a single whole-stage-codegen pass over the scan (Catalyst
collapses the adjacent projections, so like the reference there is
exactly one pass per row).

One execution path: ``F.regexp_extract`` per regex rule,
``get_json_object`` per json rule and ``F.expr`` per expr rule — all
JVM-side inside WholeStageCodegen, so the whole rule set is one fused
projection (the "fused program" property) with no Python in the loop.

Rows failing required extractions are routed to the rejects path — the
InvalidError → reject/DLQ semantics (Server/consumers.go:776-827,
Server/dataTypes.go:71-99).
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..portable_sql import GROK_PATTERNS


@dataclass(frozen=True)
class ExtractionRule:
    """One named extraction — analog of one JQ query key
    (jqTransformer.go:116-143).

    ``kind="regex"``: ``pattern`` is a regex with ONE capture group.
    ``kind="json"``: ``pattern`` is a JSON path (``$.a.b``) — the core
    of the reference's JQ navigation (jqTransformer.go:304-327), backed
    by ``get_json_object`` so it stays inside whole-stage codegen.
    ``kind="expr"``: ``pattern`` is a restricted SQL SCALAR EXPRESSION
    over earlier captures (and input columns) — the computed /
    conditional value semantics of the reference's JQ programs
    (conditionals, ``//`` alternatives beyond empty, arithmetic,
    string interpolation, multi-capture construction;
    jqTransformer.go:116-143,304-327). e.g.
    ``coalesce(nullif(parent_event_id, ''), event_id)`` or
    ``CASE WHEN a = '' THEN concat('r:', b) ELSE a END``. The result
    is cast to string (dtype re-casts after, like any rule) and the
    expression fuses into the SAME single projection as the captures
    (Catalyst collapses the adjacent projections). Statements,
    subqueries and comments are rejected.
    ``source``: the column the rule reads; defaults to the parse text
    column. May name an EARLIER rule's output (rules are applied in
    order), e.g. a json rule over the regex-extracted ``body`` field —
    the fused-program composition the reference gets from one JQ script.
    """

    name: str
    pattern: str  # regex with ONE capture group, or JSON path for kind="json"
    required: bool = False
    # value rewrites applied post-extraction (e.g. '-' sentinel → '')
    null_sentinels: tuple[str, ...] = field(default_factory=tuple)
    kind: str = "regex"
    source: str | None = None
    # capture-group index — grok-compiled rule sets share ONE combined
    # pattern with one group per field (operators/grok.py); Catalyst
    # CSEs the shared match so the fused-pass property is preserved
    group: int = 1
    # post-extraction cast ("long"/"double"); ''/no-match casts to NULL
    dtype: str | None = None


def default_rules() -> list[ExtractionRule]:
    """The transcript grok rules (FIXTURES.md §1 text format)."""
    return [
        ExtractionRule("event_type", GROK_PATTERNS["event_type"], required=True),
        ExtractionRule("event_id", GROK_PATTERNS["event_id"], required=True),
        ExtractionRule("parent_event_id", GROK_PATTERNS["parent_event_id"], null_sentinels=("-",)),
        ExtractionRule("job_name", GROK_PATTERNS["job_name"]),
        ExtractionRule("application_name", GROK_PATTERNS["application_name"]),
        ExtractionRule("body", GROK_PATTERNS["body"]),
    ]


def _check_expr(pattern: str) -> None:
    """Fail loudly on anything beyond a scalar expression: the rule
    language is deliberately restricted (the reference compiles a jq
    PROGRAM; this is the SQL-scalar equivalent, not an injection
    surface)."""
    if ";" in pattern or "--" in pattern or "/*" in pattern:
        raise ValueError(
            f"expr rule must be a single scalar expression: {pattern!r}"
        )
    if _re.search(r"\b(select|from|insert|update|delete|drop)\b",
                  pattern, _re.IGNORECASE):
        raise ValueError(
            f"expr rule must not contain query keywords: {pattern!r}"
        )


def _native_col(rule: ExtractionRule, text_col: str) -> Column:
    src = F.col(rule.source or text_col)
    if rule.kind == "json":
        # '' on miss/invalid-JSON, matching regexp_extract's no-match
        c = F.coalesce(F.get_json_object(src, rule.pattern), F.lit(""))
    elif rule.kind == "expr":
        _check_expr(rule.pattern)
        c = F.expr(rule.pattern).cast("string")
    else:
        c = F.regexp_extract(src, rule.pattern, rule.group)
    for s in rule.null_sentinels:
        c = F.when(c == s, F.lit("")).otherwise(c)
    return c.alias(rule.name)


def parse(
    df: DataFrame,
    rules: list[ExtractionRule] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Apply all extraction rules; adds one column per rule plus
    ``parse_ok`` (all required rules matched)."""
    rules = rules if rules is not None else default_rules()
    # an expr rule may reference only EARLIER rules' outputs (plus
    # input columns): a forward reference would silently bind to a
    # pre-existing input column of that name instead of the capture
    # the rule set defines later. Rejected up front (word-boundary
    # scan; a later rule's name inside a string literal is also
    # rejected — conservative, loud).
    for i, r in enumerate(rules):
        if r.kind != "expr":
            continue
        for later in rules[i + 1 :]:
            if _re.search(rf"\b{_re.escape(later.name)}\b", r.pattern):
                raise ValueError(
                    f"expr rule {r.name!r} references later rule "
                    f"{later.name!r} — expr rules may use only earlier "
                    "captures (reorder the rules)"
                )
    for r in rules:
        df = df.withColumn(r.name, _native_col(r, text_col))
    for r in rules:
        if r.dtype:
            # ''/malformed (no match) → NULL; try_cast because ANSI-mode
            # Spark 4 throws on cast('' AS BIGINT)
            df = df.withColumn(r.name, F.col(r.name).try_cast(r.dtype))
    ok = F.lit(True)
    for r in rules:
        if r.required and r.dtype:
            ok = ok & F.col(r.name).isNotNull()
        elif r.required:
            # null-safe: a NULL text makes every extraction NULL, and a
            # three-valued `NULL != ''` would leave parse_ok NULL — a row
            # that is then invisible to BOTH split_rejects branches and
            # falls through assign_reject_sinks' when(~ok) to a real
            # sink. coalesce pins it to a definite reject.
            ok = ok & (F.coalesce(F.col(r.name), F.lit("")) != "")
    return df.withColumn("parse_ok", ok)


def split_rejects(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Valid rows vs rejects (+reason) — the DLQ fork. One predicate and
    its negation over the same cached plan; no shuffle."""
    good = parsed.filter(F.col("parse_ok"))
    bad = parsed.filter(~F.col("parse_ok")).withColumn(
        "reject_reason", F.lit("invalid_parse")
    )
    return good, bad
