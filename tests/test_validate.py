"""Validation operator (P4 analog): config-driven column constraints
with first-failing-rule reporting, evaluated without UDFs."""

from __future__ import annotations

from pyspark.sql import functions as F

from otel2pv_spark.operators import validate as v
from otel2pv_spark.operators import validate as validate_op


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "event_id string, event_type string, parent_event_id string, "
        "job_name string, turn_idx int"
    )


def test_rules_first_failure_wins(spark):
    rules = v.default_event_rules()
    rows = [
        ("e:1", "view", "", "job", 0),              # valid
        ("", "view", "", "job", 1),                 # required event_id
        ("e 2", "view", "", "job", 2),              # pattern (space)
        ("e:3", "nope", "", "job", 3),              # enum
        ("e:4", "click", "bad id", "job", 4),       # optional pattern
        ("e:5", "click", "", "j" * 65, 5),          # max_length
        ("", "nope", "", "", 6),                    # both bad -> first rule
    ]
    out = {r.turn_idx: r.validation_error
           for r in v.validate(_df(spark, rows), rules).collect()}
    assert out[0] is None
    assert out[1] == "invalid_event_id"
    assert out[2] == "invalid_event_id"
    assert out[3] == "invalid_event_type"
    assert out[4] == "invalid_parent_event_id"
    assert out[5] == "invalid_job_name"
    assert out[6] == "invalid_event_id"


def test_split_valid_partitions_rows(spark):
    rules = v.default_event_rules()
    rows = [("e:1", "view", "", "", 0), ("", "view", "", "", 1)]
    good, bad = v.split_valid(v.validate(_df(spark, rows), rules))
    assert good.count() == 1 and bad.count() == 1


def test_validate_stays_in_codegen(spark):
    """No UDF: the fused CASE must evaluate inside codegen (no
    BatchEvalPython / ArrowEvalPython nodes)."""
    rules = v.default_event_rules()
    df = v.validate(_df(spark, [("e:1", "view", "", "", 0)]), rules)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


class TestNestedJsonSchema:
    """validate_json: nested JSON-Schema compilation to variant
    expressions — keyword goldens, first-fail precedence, reject
    routing, and zero Python in the plan."""

    SCHEMA = {
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
            "tags": {
                "type": "array",
                "minItems": 1,
                "items": {"type": "string"},
            },
            "v": {"type": "integer", "maximum": 90},
        },
    }

    ROWS = [
        (1, '{"meta": {"job": "job-3", "n": 5}, "tags": ["a"], "v": 9}', None),
        (2, "not json", "$: json"),
        (3, '{"tags": ["a"], "v": 9, "meta": {"job": "job-1", "n": 1}}', None),
        (4, '{"meta": {"job": "job-3"}, "tags": ["a"], "v": 9}',
         "$.meta: required:n"),
        (5, '{"meta": {"job": "j", "n": 5}, "tags": ["a"], "v": 9}',
         "$.meta.job: pattern"),
        (6, '{"meta": {"job": "job-3", "n": "x"}, "tags": ["a"], "v": 9}',
         "$.meta.n: type"),
        (7, '{"meta": {"job": "job-3", "n": 5}, "tags": [], "v": 9}',
         "$.tags: minItems"),
        (8, '{"meta": {"job": "job-3", "n": 5}, "tags": ["a", 7], "v": 9}',
         "$.tags[]: type"),
        (9, '{"meta": {"job": "job-3", "n": 5}, "tags": ["a"], "v": 95}',
         "$.v: maximum"),
        (10, '{"meta": {"job": "job-3", "n": 5}, "tags": ["a"]}',
         "$: required:v"),
        (11, '{"meta": {"job": "job-3", "n": 5}, "tags": ["a"], "v": null}',
         "$.v: type"),
        (12, "[1,2]", "$: type"),
        # missing optional subtree: meta absent fails required, but a
        # schema WITHOUT required accepts absence of any property
        (13, '{"meta": {"job": "job-3", "n": 5}, "tags": ["x"], "v": 1,'
             ' "extra": {"deep": [1]}}', None),
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            [(i, p) for i, p, _ in self.ROWS], "id int, payload string"
        )

    def test_keyword_goldens(self, spark):
        out = validate_op.validate_json(self._df(spark), "payload", self.SCHEMA)
        got = {r.id: r.schema_error for r in out.collect()}
        assert got == {i: err for i, _, err in self.ROWS}

    def test_first_fail_precedence(self, spark):
        """A row violating BOTH a root required and a nested type must
        report the root required (declaration order)."""
        df = spark.createDataFrame(
            [(1, '{"meta": {"job": "job-1", "n": "x"}, "tags": ["a"]}')],
            "id int, payload string",
        )
        out = validate_op.validate_json(df, "payload", self.SCHEMA)
        assert out.collect()[0].schema_error == "$: required:v"

    def test_optional_absent_passes(self, spark):
        """Keywords are if-present: no required ⇒ absent subtree valid."""
        schema = {
            "type": "object",
            "properties": {"opt": {"type": "integer", "minimum": 3}},
        }
        df = spark.createDataFrame(
            [(1, "{}"), (2, '{"opt": 5}'), (3, '{"opt": 1}')],
            "id int, payload string",
        )
        out = validate_op.validate_json(df, "payload", schema)
        got = {r.id: r.schema_error for r in out.collect()}
        assert got == {1: None, 2: None, 3: "$.opt: minimum"}

    def test_split_valid_routes_schema_errors(self, spark):
        out = validate_op.validate_json(
            self._df(spark), "payload", self.SCHEMA, error_col="validation_error"
        )
        good, bad = validate_op.split_valid(out)
        n_bad = sum(1 for _, _, e in self.ROWS if e)
        assert good.count() == len(self.ROWS) - n_bad
        assert bad.count() == n_bad

    def test_no_python_in_plan(self, spark):
        out = validate_op.validate_json(self._df(spark), "payload", self.SCHEMA)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "BatchEvalPython" not in plan
        assert "Exchange" not in plan  # pure per-row projection


class TestKeywordIndependence:
    """JSON-Schema value keywords constrain only nodes of their type
    family — {'minimum': 5} on a string is VALID (only 'type' polices
    types). Review-finding regression."""

    def test_value_keywords_pass_on_other_types(self, spark):
        schema = {
            "type": "object",
            "properties": {
                "a": {"minimum": 5},            # no type keyword
                "b": {"minLength": 3},
                "c": {"minItems": 2, "items": {"type": "string"}},
                "d": {"pattern": "x+"},
            },
        }
        rows = [
            (1, '{"a": "abc", "b": 7, "c": "nope", "d": 9}'),   # all inapplicable -> valid
            (2, '{"a": 3, "b": "ab", "c": [1], "d": "yy"}'),    # all applicable -> each fails
        ]
        df = spark.createDataFrame(rows, "id int, payload string")
        out = validate_op.validate_json(df, "payload", schema)
        got = {r.id: r.schema_error for r in out.collect()}
        assert got[1] is None
        assert got[2] == "$.a: minimum"  # first failing in order

    def test_enum_stays_type_generic(self, spark):
        # enum is value equality across types: a number not in the set fails
        schema = {"properties": {"x": {"enum": ["a", "b"]}}}
        df = spark.createDataFrame(
            [(1, '{"x": "a"}'), (2, '{"x": 5}')], "id int, payload string"
        )
        out = validate_op.validate_json(df, "payload", schema)
        got = {r.id: r.schema_error for r in out.collect()}
        assert got == {1: None, 2: "$.x: enum"}


class TestReferenceValidatorSemantics:
    """ADVICE r3: the reference validates with santhosh-tekuri/jsonschema
    v5 — `pattern` is an UNANCHORED partial match and `enum` is typed
    JSON equality. A schema ported from the reference deploy must accept
    exactly what the reference accepts."""

    def test_pattern_is_partial_match(self, spark):
        schema = {"properties": {"j": {"pattern": "job-[0-9]+"}}}
        df = spark.createDataFrame(
            [(1, '{"j": "xjob-1y"}'), (2, '{"j": "nope"}'),
             (3, '{"j": "job-7"}')],
            "id int, payload string",
        )
        out = validate_op.validate_json(df, "payload", schema)
        got = {r.id: r.schema_error for r in out.collect()}
        # 'xjob-1y' CONTAINS the pattern -> valid (reference semantics)
        assert got == {1: None, 2: "$.j: pattern", 3: None}

    def test_anchored_pattern_still_full_matches(self, spark):
        schema = {"properties": {"j": {"pattern": "^job-[0-9]+$"}}}
        df = spark.createDataFrame(
            [(1, '{"j": "xjob-1y"}'), (2, '{"j": "job-7"}')],
            "id int, payload string",
        )
        out = validate_op.validate_json(df, "payload", schema)
        got = {r.id: r.schema_error for r in out.collect()}
        assert got == {1: "$.j: pattern", 2: None}

    def test_boolean_enum_matches(self, spark):
        # typed JSON equality: boolean true matches JSON true, never
        # the STRING "true" (and str(True)=='True' never matched
        # anything before the fix)
        schema = {"properties": {"b": {"enum": [True, "x"]}}}
        df = spark.createDataFrame(
            [(1, '{"b": true}'), (2, '{"b": false}'), (3, '{"b": "x"}'),
             (4, '{"b": "true"}')],
            "id int, payload string",
        )
        out = validate_op.validate_json(df, "payload", schema)
        got = {r.id: r.schema_error for r in out.collect()}
        assert got == {1: None, 2: "$.b: enum", 3: None, 4: "$.b: enum"}

    def test_empty_enum_rejects_all_present(self, spark):
        """enum: [] rejects every instance (JSON-Schema) — and must
        compile instead of crashing reduce() (review finding); absent
        nodes still pass (keyword independence)."""
        schema = {"properties": {"x": {"enum": []}}}
        df = spark.createDataFrame(
            [(1, '{"x": 1}'), (2, '{"x": "a"}'), (3, "{}")],
            "id int, payload string",
        )
        out = validate_op.validate_json(df, "payload", schema)
        got = {r.id: r.schema_error for r in out.collect()}
        assert got == {1: "$.x: enum", 2: "$.x: enum", 3: None}

    def test_numeric_enum_by_value(self, spark):
        # JSON numeric equality: 1 == 1.0; the string "1" never matches
        schema = {"properties": {"n": {"enum": [1, "a"]}}}
        df = spark.createDataFrame(
            [(1, '{"n": 1}'), (2, '{"n": 1.0}'), (3, '{"n": "1"}'),
             (4, '{"n": 2}')],
            "id int, payload string",
        )
        out = validate_op.validate_json(df, "payload", schema)
        got = {r.id: r.schema_error for r in out.collect()}
        assert got == {1: None, 2: None, 3: "$.n: enum", 4: "$.n: enum"}

    def test_large_int_enum_exact(self, spark):
        """Advice finding: int64 enum equality must be EXACT beyond
        2^53 — the double path wrongly equated 9007199254740992 and
        ...993. BIGINT instances now compare as int64."""
        big = 2**53  # 9007199254740992
        schema = {"properties": {"n": {"enum": [big]}}}
        df = spark.createDataFrame(
            [(1, '{"n": %d}' % big), (2, '{"n": %d}' % (big + 1)),
             (3, '{"n": %d}' % (big - 1))],
            "id int, payload string",
        )
        out = validate_op.validate_json(df, "payload", schema)
        got = {r.id: r.schema_error for r in out.collect()}
        assert got == {1: None, 2: "$.n: enum", 3: "$.n: enum"}

    def test_non_integral_double_enum_never_matches_bigint(self, spark):
        """2.5 matches the JSON number 2.5 but no integer instance;
        and a DOUBLE instance 2.0 still matches the int enum value 2."""
        schema = {"properties": {"n": {"enum": [2.5, 2]}}}
        df = spark.createDataFrame(
            [(1, '{"n": 2.5}'), (2, '{"n": 2}'), (3, '{"n": 2.0}'),
             (4, '{"n": 3}')],
            "id int, payload string",
        )
        out = validate_op.validate_json(df, "payload", schema)
        got = {r.id: r.schema_error for r in out.collect()}
        assert got == {1: None, 2: None, 3: None, 4: "$.n: enum"}

    def test_decimal_instance_enum_exact(self, spark):
        """Review findings: a DECIMAL instance must not double-match a
        different integer enum value (9007199254740993.0 vs enum 2^53),
        and must exactly match an equal non-double-exact integer
        (10000000000000001.0 vs enum 10000000000000001). Fractional
        decimals still match their double-round-tripped enum literal."""
        schema = {"properties": {"n": {"enum": [9007199254740992]}}}
        df = spark.createDataFrame(
            [(1, '{"n": 9007199254740993.0}'), (2, '{"n": 9007199254740992.0}')],
            "id int, payload string",
        )
        out = validate_op.validate_json(df, "payload", schema)
        got = {r.id: r.schema_error for r in out.collect()}
        assert got == {1: "$.n: enum", 2: None}

        schema2 = {"properties": {"n": {"enum": [10000000000000001]}}}
        df2 = spark.createDataFrame(
            [(1, '{"n": 10000000000000001.0}'), (2, '{"n": 10000000000000001}'),
             (3, '{"n": 10000000000000000.0}')],
            "id int, payload string",
        )
        out2 = validate_op.validate_json(df2, "payload", schema2)
        got2 = {r.id: r.schema_error for r in out2.collect()}
        assert got2 == {1: None, 2: None, 3: "$.n: enum"}

        # fractional decimal instances keep matching float enum values
        schema3 = {"properties": {"n": {"enum": [0.1]}}}
        df3 = spark.createDataFrame(
            [(1, '{"n": 0.1}'), (2, '{"n": 0.2}')],
            "id int, payload string",
        )
        out3 = validate_op.validate_json(df3, "payload", schema3)
        got3 = {r.id: r.schema_error for r in out3.collect()}
        assert got3 == {1: None, 2: "$.n: enum"}

    def test_enum_beyond_int64_and_giant_instances(self, spark):
        """Second review pass: (1) an integral enum value ABOVE int64
        (2^64) must still exactly match an equal DECIMAL instance —
        it fell out of every exact branch; (2) a 30-digit JSON integer
        instance must FAIL the row, not crash the job with
        INVALID_VARIANT_CAST (SQL & does not short-circuit, so the
        numeric branches must try_cast); (3) an enum value at or beyond
        1e20 that no double represents exactly fits no exact branch and
        fails loudly at compile."""
        import pytest

        big = 2**64  # 18446744073709551616 — DECIMAL(20,0) instance
        schema = {"properties": {"n": {"enum": [big]}}}
        df = spark.createDataFrame(
            [(1, '{"n": %d}' % big), (2, '{"n": %d}' % (big + 1)),
             (3, '{"n": 123456789012345678901234567890}')],
            "id int, payload string",
        )
        out = validate_op.validate_json(df, "payload", schema)
        got = {r.id: r.schema_error for r in out.collect()}
        assert got == {1: None, 2: "$.n: enum", 3: "$.n: enum"}

        with pytest.raises(ValueError, match="exact comparison range"):
            validate_op.validate_json(
                df, "payload", {"properties": {"n": {"enum": [10**20 + 1]}}}
            )

    def test_enum_double_exact_beyond_decimal_range(self, spark):
        """ADVICE regression: 1e20 and larger double-exact values are
        valid enum members. They must compile (not raise) and match
        equal DOUBLE instances; only the DECIMAL-exact branch skips
        them."""
        schema = {"properties": {"n": {"enum": [1e20, -(10**21), 2.5e30]}}}
        df = spark.createDataFrame(
            [(1, '{"n": 1e20}'), (2, '{"n": -1e21}'), (3, '{"n": 2.5e30}'),
             (4, '{"n": 1e21}'), (5, '{"n": 3}')],
            "id int, payload string",
        )
        out = validate_op.validate_json(df, "payload", schema)
        got = {r.id: r.schema_error for r in out.collect()}
        assert got == {
            1: None, 2: None, 3: None, 4: "$.n: enum", 5: "$.n: enum"
        }

    def test_container_enum_value_raises_at_compile(self, spark):
        """Advice finding: array/object enum values fell into the
        string branch and silently rejected everything — now a loud
        compile-time error (the repo's fail-loudly contract)."""
        import pytest

        df = spark.createDataFrame([(1, '{"x": [1]}')], "id int, payload string")
        with pytest.raises(ValueError, match="enum value"):
            validate_op.validate_json(
                df, "payload", {"properties": {"x": {"enum": [[1, 2]]}}}
            )
        with pytest.raises(ValueError, match="enum value"):
            validate_op.validate_json(
                df, "payload", {"properties": {"x": {"enum": [{"a": 1}]}}}
            )

    def test_flat_rule_pattern_unanchored(self, spark):
        rules = [validate_op.ColumnRule("event_id", pattern="job-[0-9]+")]
        df = spark.createDataFrame(
            [("xjob-1y", "view", "", "", 0), ("nope", "view", "", "", 1)],
            "event_id string, event_type string, parent_event_id string, "
            "job_name string, turn_idx int",
        )
        out = {r.turn_idx: r.validation_error
               for r in validate_op.validate(df, rules).collect()}
        assert out == {0: None, 1: "invalid_event_id"}


def test_required_applies_only_to_objects(spark):
    """required on a non-object node passes (keyword independence,
    second review pass)."""
    schema = {"properties": {"x": {"required": ["a"]}}}
    df = spark.createDataFrame(
        [(1, '{"x": "hello"}'), (2, '{"x": {"b": 1}}'), (3, '{"x": {"a": 1}}')],
        "id int, payload string",
    )
    out = validate_op.validate_json(df, "payload", schema)
    got = {r.id: r.schema_error for r in out.collect()}
    assert got == {1: None, 2: "$.x: required:a", 3: None}
