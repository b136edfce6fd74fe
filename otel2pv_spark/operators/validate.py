"""Validation stage — the per-key JSON-Schema gate (P4).

The reference optionally compiles a JSON Schema per query key and
validates every extracted value before routing; failures become
``InvalidError`` → return-to-sender
(JQExtractor/jqextractor/jqTransformer.go:89-114,332-343,246-252;
validator interface Server/utils.go:73-83).

The Spark-native analog: a config-driven list of column constraints
compiled into ONE boolean predicate per rule, evaluated inside
whole-stage codegen (no UDF, no second pass). Violating rows pick up a
``validation_error`` reason (first failing rule, like a schema
validator reporting the first violation) and can be routed to the
rejects sink exactly like parse failures.

Constraint surface (mirrors what the reference's JSON-Schema configs in
deploy/ actually use — required/type/enum/pattern, e.g.
JQExtractor/deploy/config/jsonSchema1.json):

- ``required``      — non-null, non-empty string
- ``enum``          — value ∈ fixed set
- ``pattern``       — full-match regex
- ``castable``      — value casts to the given type (int/long/double/
                      timestamp), the "type" keyword analog
- ``min_length`` / ``max_length`` — string length bounds

NESTED schemas (``validate_json``): a JSON-Schema dict with object /
array depth compiled against a JSON string column — the full P4
semantics (the reference validates each extraction against a complete
JSON Schema, jqTransformer.go:89-114). The compiler targets Spark 4's
VARIANT type: ``try_parse_json`` once, then every keyword check is a
JVM-side expression over ``variant_get`` / ``schema_of_variant`` /
higher-order array functions — no UDF, one fused pass, and the first
failing (path, keyword) is recorded exactly like the flat rules.

Supported keywords: ``type`` (object/array/string/integer/number/
boolean/null), ``required``, ``properties``, ``items`` (applied to
every element), ``enum`` (TYPED JSON equality per value — boolean true
matches JSON true but never the string "true"; numbers compare by
value, matching the reference's santhosh-tekuri/jsonschema typed
equality), ``pattern`` (UNANCHORED
partial match, per the JSON-Schema spec and the reference validator),
``minLength``/``maxLength``, ``minimum``/``maximum``,
``minItems``/``maxItems``. Checks are if-present (``required`` owns
presence), matching JSON-Schema's keyword independence.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ColumnRule:
    """One constraint on one column — analog of one JSON-Schema keyword
    applied to one extraction key."""

    column: str
    required: bool = False
    enum: tuple[str, ...] = ()
    pattern: str | None = None          # UNANCHORED partial match (JSON-Schema
    #                                     semantics — the reference validates via
    #                                     santhosh-tekuri/jsonschema v5 where
    #                                     `pattern` is a partial match; schemas
    #                                     wanting full-match carry their own ^$)
    castable: str | None = None         # e.g. "int", "timestamp"
    min_length: int | None = None
    max_length: int | None = None

    def predicate(self) -> Column:
        c = F.col(self.column)
        s = c.cast("string")  # emptiness/length checks work for any type
        ok = F.lit(True)
        if self.required:
            ok = ok & c.isNotNull() & (s != "")
        present = c.isNotNull() & (s != "")
        checks = F.lit(True)
        if self.enum:
            checks = checks & c.isin(list(self.enum))
        if self.pattern is not None:
            checks = checks & s.rlike(self.pattern)
        if self.castable is not None:
            checks = checks & c.cast(self.castable).isNotNull()
        if self.min_length is not None:
            checks = checks & (F.length(s) >= self.min_length)
        if self.max_length is not None:
            checks = checks & (F.length(s) <= self.max_length)
        return ok & (~present | checks)

    def name(self) -> str:
        return f"invalid_{self.column}"


def validate(
    df: DataFrame,
    rules: list[ColumnRule],
    error_col: str = "validation_error",
) -> DataFrame:
    """Evaluate every rule in one codegen pass; ``error_col`` is the
    FIRST failing rule's name, null when the row is valid (one fused
    CASE expression — the single-program property of P1 applied to
    validation)."""
    err = F.lit(None).cast("string")
    for r in reversed(rules):
        err = F.when(~r.predicate(), F.lit(r.name())).otherwise(err)
    return df.withColumn(error_col, err)


def split_valid(
    df: DataFrame, error_col: str = "validation_error"
) -> tuple[DataFrame, DataFrame]:
    """(valid, invalid) fork — same shape as parse.split_rejects."""
    good = df.filter(F.col(error_col).isNull())
    bad = df.filter(F.col(error_col).isNotNull())
    return good, bad


# ------------------------------------------------- nested JSON Schema
_TYPE_PREDS = {
    "object": lambda t: t.startswith("OBJECT") | t.startswith("STRUCT"),
    "array": lambda t: t.startswith("ARRAY"),
    "string": lambda t: t == "STRING",
    "boolean": lambda t: t == "BOOLEAN",
    # JSON integers parse to BIGINT variants; non-integral numbers to
    # DECIMAL(p,s)/DOUBLE (verified on 4.1)
    "integer": lambda t: t == "BIGINT",
    "number": lambda t: (t == "BIGINT") | (t == "DOUBLE")
    | t.startswith("DECIMAL"),
    "null": lambda t: t == "VOID",
}


def _sub(node: Column, key: str) -> Column:
    return F.variant_get(node, f"$.{key}", "variant")


def _schema_checks(schema: dict, path: str) -> list:
    """Compile one schema level into ordered (desc, fn(node)->ok)
    pairs; declaration order IS the error-precedence order. Each check
    passes on an absent node (SQL NULL — presence belongs to
    ``required``) and is pinned three-valued-safe (a NULL inner verdict
    is a failure, never a silent pass)."""
    checks: list = []

    # JSON-Schema keyword independence: a value keyword constrains only
    # nodes of ITS type family — {"minimum": 5} on a string node is
    # VALID (only "type" polices types). Each keyword therefore carries
    # an applicability predicate; inapplicable nodes pass.
    def _is_str(n):
        return F.schema_of_variant(n) == "STRING"

    def _is_num(n):
        t = F.schema_of_variant(n)
        return (t == "BIGINT") | (t == "DOUBLE") | t.startswith("DECIMAL")

    def _is_arr(n):
        return F.schema_of_variant(n).startswith("ARRAY")

    def _is_obj(n):
        t = F.schema_of_variant(n)
        return t.startswith("OBJECT") | t.startswith("STRUCT")

    def emit(desc: str, inner, applies=None):
        def pred(n, _f=inner, _a=applies):
            ok = F.coalesce(_f(n), F.lit(False))
            if _a is not None:
                ok = ~F.coalesce(_a(n), F.lit(False)) | ok
            return n.isNull() | ok

        checks.append((desc, pred))

    t = schema.get("type")
    if t is not None:
        emit(f"{path}: type", lambda n: _TYPE_PREDS[t](F.schema_of_variant(n)))
    for k in schema.get("required", ()):
        # required applies only to OBJECT instances (JSON-Schema
        # keyword independence, same as the value keywords below)
        emit(
            f"{path}: required:{k}",
            lambda n, _k=k: _sub(n, _k).isNotNull(),
            applies=_is_obj,
        )
    if "enum" in schema:
        # enum is TYPED JSON equality (santhosh-tekuri v5 semantics):
        # each enum value matches only variants of its own type family
        # — boolean true matches JSON true but NOT the string "true"
        # (the bare string-cast isin() accepted both, review finding);
        # numbers compare by value (1 == 1.0, JSON-Schema numeric
        # equality). No applicability guard: a node matching none of
        # the values fails, whatever its type.
        #
        # Values are BUCKETED BY TYPE FAMILY at compile time — one
        # schema_of_variant comparison + one isin() per family instead
        # of a full typed predicate per enum value (the r4 per-value
        # form evaluated schema_of_variant |enum| times per node —
        # bench-visible on wide enums). Numeric equality is EXACT:
        # BIGINT instances compare as int64 against integral enum
        # values (the double path wrongly equated distinct ints beyond
        # 2^53 — advice finding), and DOUBLE/DECIMAL instances compare
        # as double only against exactly-double-representable values.
        vals = list(schema["enum"])
        for v in vals:
            if isinstance(v, (list, dict)):
                # fail loudly at compile time: the string branch would
                # silently reject every instance, including exact
                # matches (advice finding)
                raise ValueError(
                    f"{path}: enum value {v!r}: array/object enum"
                    " values are not supported"
                )
        strs = [str(v) for v in vals if isinstance(v, str)]
        bools = [
            "true" if v else "false" for v in vals if isinstance(v, bool)
        ]
        has_null = any(v is None for v in vals)
        ints: list[int] = []  # int64-exact match set for BIGINT nodes
        dec_ints: list[int] = []  # decimal-exact integral set (DECIMAL nodes)
        dbls: list[float] = []  # double-exact match set for DOUBLE nodes
        for v in vals:
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                continue
            vi = (
                int(v)
                if isinstance(v, float) and v.is_integer()
                else (v if isinstance(v, int) else None)
            )
            if vi is not None:
                # decimal(38,18) holds 20 integer digits — enough for
                # every int64 AND the (2^63, 10^20) band a DECIMAL
                # instance can exactly equal (review finding: uint64-
                # scale values fell out of every exact branch). Beyond
                # that only the DOUBLE branch can match (a 21+-digit
                # JSON integer is a DECIMAL instance and never does).
                if abs(vi) < 10**20:
                    dec_ints.append(vi)
                if -(2**63) <= vi < 2**63:
                    ints.append(vi)
            try:
                fv = float(v)
                exact = fv == v if isinstance(v, float) else int(fv) == v
            except OverflowError:
                exact = False
            if exact:
                dbls.append(fv)
            elif vi is not None and abs(vi) >= 10**20:
                # no branch represents it: fail loudly rather than
                # silently never-match
                raise ValueError(
                    f"{path}: enum value {vi!r} is outside every exact"
                    " comparison range (|v| < 1e20, or double-exact)"
                )

        # DECIMAL instances vs integral enum values must compare
        # EXACTLY too (review finding: a DECIMAL 9007199254740993.0
        # double-matched enum 2^53, and an exactly-equal DECIMAL
        # 10000000000000001.0 missed a non-double-exact int): the
        # DECIMAL branch compares as decimal(38,18) against integral
        # values and falls back to the double path only for FRACTIONAL
        # values, where the enum literal itself round-tripped through
        # a double and double equality is the faithful semantics.
        dbls_frac = [fv for fv in dbls if not fv.is_integer()]

        def _enum_pred(
            n, _s=strs, _b=bools, _n=has_null, _i=ints, _di=dec_ints,
            _d=dbls, _df=dbls_frac,
        ):
            t = F.schema_of_variant(n)
            branches = []
            if _s:
                branches.append((t == "STRING") & n.cast("string").isin(_s))
            if _b:
                branches.append((t == "BOOLEAN") & n.cast("string").isin(_b))
            if _n:
                branches.append(t == "VOID")
            # try_cast throughout the numeric branches: SQL & does not
            # short-circuit, so a plain cast would evaluate on nodes of
            # the WRONG family too — a 30-digit JSON integer crashed
            # the whole job with INVALID_VARIANT_CAST instead of just
            # failing the row (review finding). try_cast → NULL →
            # branch false → the row is rejected, never the job.
            if _i:
                branches.append(
                    (t == "BIGINT") & n.try_cast("long").isin(_i)
                )
            if _di:
                dec = n.try_cast("decimal(38,18)")
                # string literals: F.lit cannot hold ints beyond int64,
                # and a string→decimal cast is exact for every value
                # below 1e20
                branches.append(
                    t.startswith("DECIMAL")
                    & functools.reduce(
                        lambda a, b: a | b,
                        [
                            dec == F.lit(str(v)).cast("decimal(38,18)")
                            for v in _di
                        ],
                        F.lit(False),
                    )
                )
            if _d:
                branches.append(
                    (t == "DOUBLE") & n.try_cast("double").isin(_d)
                )
            if _df:
                branches.append(
                    t.startswith("DECIMAL") & n.try_cast("double").isin(_df)
                )
            # seed False: an empty enum rejects every instance
            # (JSON-Schema semantics) instead of crashing reduce()
            return functools.reduce(
                lambda a, b: a | b, branches, F.lit(False)
            )

        emit(f"{path}: enum", _enum_pred)
    if "pattern" in schema:
        # UNANCHORED partial match — JSON-Schema spec semantics, and
        # what the reference's santhosh-tekuri/jsonschema v5 validator
        # does ('xjob-1y' MATCHES 'job-[0-9]+'); schemas wanting a full
        # match must carry their own ^$ (ADVICE r3).
        pat = schema["pattern"]
        emit(
            f"{path}: pattern",
            lambda n: n.cast("string").rlike(pat),
            applies=_is_str,
        )
    if "minLength" in schema:
        m = int(schema["minLength"])
        emit(
            f"{path}: minLength",
            lambda n: F.length(n.cast("string")) >= m,
            applies=_is_str,
        )
    if "maxLength" in schema:
        m = int(schema["maxLength"])
        emit(
            f"{path}: maxLength",
            lambda n: F.length(n.cast("string")) <= m,
            applies=_is_str,
        )
    if "minimum" in schema:
        m = float(schema["minimum"])
        emit(f"{path}: minimum", lambda n: n.cast("double") >= m, applies=_is_num)
    if "maximum" in schema:
        m = float(schema["maximum"])
        emit(f"{path}: maximum", lambda n: n.cast("double") <= m, applies=_is_num)
    if "minItems" in schema:
        m = int(schema["minItems"])
        emit(
            f"{path}: minItems",
            lambda n: F.array_size(n.cast("array<variant>")) >= m,
            applies=_is_arr,
        )
    if "maxItems" in schema:
        m = int(schema["maxItems"])
        emit(
            f"{path}: maxItems",
            lambda n: F.array_size(n.cast("array<variant>")) <= m,
            applies=_is_arr,
        )
    if "items" in schema:
        for desc, fn in _schema_checks(schema["items"], f"{path}[]"):
            emit(
                desc,
                lambda n, _fn=fn: F.forall(
                    n.cast("array<variant>"), lambda e: _fn(e)
                ),
                applies=_is_arr,
            )
    for k, sub_schema in schema.get("properties", {}).items():
        for desc, fn in _schema_checks(sub_schema, f"{path}.{k}"):
            # child checks run on the child node; absent child passes
            # (the child fn guards on NULL itself)
            checks.append(
                (desc, lambda n, _k=k, _fn=fn: _fn(_sub(n, _k)))
            )
    return checks


def validate_json(
    df: DataFrame,
    column: str,
    schema: dict,
    error_col: str = "schema_error",
) -> DataFrame:
    """Validate a JSON string column against a nested JSON Schema in
    ONE fused expression pass; ``error_col`` = the first failing
    ``path: keyword`` (depth-first declaration order), ``$: json`` for
    unparseable JSON, NULL when valid. Scale shape: parse_json once
    per row, every keyword a codegen expression over the variant —
    zero Python, zero extra scans, exactly the flat-rule contract
    extended to depth."""
    # parse ONCE into a materialized column: every keyword predicate
    # references the attribute, so the row parses a single time instead
    # of once per check (the CASE chain repeats the root expression
    # ~2x per keyword and Catalyst does not CSE through variant
    # functions — measured 5.9s -> ~1s at sf0.1 on the driver query)
    tmp_col = f"_vjson_{error_col}"
    staged = df.withColumn(tmp_col, F.try_parse_json(F.col(column)))
    root = F.col(tmp_col)
    compiled = [("$: json", lambda n: n.isNotNull())]
    compiled += _schema_checks(schema, "$")
    err = F.lit(None).cast("string")
    for desc, fn in reversed(compiled):
        err = F.when(~fn(root), F.lit(desc)).otherwise(err)
    return staged.withColumn(error_col, err).drop(tmp_col)


def default_event_rules() -> list[ColumnRule]:
    """Validation for the parsed transcript event fields (the analog of
    the deploy JSON Schemas validating extracted span fields)."""
    # patterns carry their OWN anchors: the engine is unanchored
    # (JSON-Schema semantics), and these rules want full-match ids
    return [
        ColumnRule("event_id", required=True, pattern=r"^[A-Za-z0-9:_\-]+$"),
        ColumnRule(
            "event_type", required=True,
            enum=("view", "click", "purchase", "error"),
        ),
        ColumnRule("parent_event_id", pattern=r"^[A-Za-z0-9:_\-]+$"),
        ColumnRule("job_name", max_length=64),
        ColumnRule("turn_idx", required=True, castable="int"),
    ]
