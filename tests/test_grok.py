"""Grok compiler: expansion, typing, and native/SQL parity."""

import re

import pytest

from otel2pv_spark.operators import grok as G
from otel2pv_spark.operators import parse as parse_op


def test_compile_basic():
    regex, fields = G.compile_grok("event=%{WORD:etype} id=%{NOTSPACE:eid}")
    assert fields == [("etype", None), ("eid", None)]
    m = re.search(regex, "event=start id=c1:0 rest")
    assert m.group(1) == "start" and m.group(2) == "c1:0"


def test_compile_nested_library():
    # NUMBER references BASE10NUM; TIMESTAMP_ISO8601 nests 3 deep
    regex, fields = G.compile_grok("%{TIMESTAMP_ISO8601:ts} v=%{NUMBER:v:float}")
    m = re.search(regex, "2026-08-18T07:30:12.5Z v=-3.25")
    assert m.group(1) == "2026-08-18T07:30:12.5Z" and m.group(2) == "-3.25"
    assert fields[1] == ("v", "float")


def test_compile_unnamed_is_noncapturing():
    regex, fields = G.compile_grok("%{INT} then %{INT:n:int}")
    assert [f for f, _ in fields] == ["n"]
    m = re.search(regex, "12 then 34")
    assert m.group(1) == "34"  # unnamed INT consumed without capturing


def test_compile_errors():
    with pytest.raises(KeyError):
        G.compile_grok("%{NOPE:x}")
    with pytest.raises(ValueError):
        G.compile_grok("%{INT:a} %{INT:a}")
    with pytest.raises(ValueError):
        G.grok_rules("%{INT} only")
    with pytest.raises(ValueError):
        G.grok_rules("%{INT:a}", required=("b",))


def test_rules_share_one_pattern():
    rules = G.grok_rules("a=%{WORD:a} b=%{INT:b:int}")
    assert len({r.pattern for r in rules}) == 1
    assert [r.group for r in rules] == [1, 2]
    assert rules[1].dtype == "long"


def test_native_sql_parity(spark):
    """The same grok rule set through the native codegen path and
    DuckDB's RE2 regexp_extract must agree on a fixture with matches,
    partial text, sentinels, and misses."""
    import duckdb

    expr = (
        "event=%{TOKEN:etype} id=%{IDENT:eid} parent=%{IDENT:par}"
        " n=%{INT:n:int} :: %{GREEDYDATA:body}"
    )
    rows = [
        ("event=start id=c:0 parent=- n=7 :: hello",),
        ("event=a.b id=c:1 parent=c:0 n=-12 :: ",),
        ("garbled nonsense",),
        ("event=x id=y parent=z n=nope :: tail",),
    ]
    df = spark.createDataFrame(rows, ["text"])
    rules = G.grok_rules(expr, null_sentinels={"par": ("-",)})
    cols = ["etype", "eid", "par", "n", "body"]

    nat = [tuple(r) for r in parse_op.parse(df, rules=rules).select(*cols).collect()]

    regex, _ = G.compile_grok(expr)
    con = duckdb.connect()
    lit = regex.replace("'", "''")
    sql_rows = []
    for (t,) in rows:
        tq = t.replace("'", "''")
        r = con.execute(
            f"""SELECT regexp_extract('{tq}', '{lit}', 1),
                       regexp_extract('{tq}', '{lit}', 2),
                       CASE WHEN regexp_extract('{tq}', '{lit}', 3) = '-' THEN ''
                            ELSE regexp_extract('{tq}', '{lit}', 3) END,
                       TRY_CAST(nullif(regexp_extract('{tq}', '{lit}', 4), '') AS BIGINT),
                       regexp_extract('{tq}', '{lit}', 5)"""
        ).fetchone()
        sql_rows.append(tuple(r))
    assert nat == sql_rows


def test_required_typed_field_gates_parse_ok(spark):
    df = spark.createDataFrame([("n=5 ok",), ("n=x bad",)], ["text"])
    rules = G.grok_rules("n=%{INT:n:int}", required=("n",))
    out = parse_op.parse(df, rules=rules).select("n", "parse_ok").collect()
    got = {r["parse_ok"]: r["n"] for r in out}
    assert got[True] == 5 and got[False] is None


# ---------------------------------------------------------------- expr rules
class TestExprRules:
    """kind='expr' extraction: computed/conditional values over earlier
    captures, fused into the same projection."""

    def _rules(self, parse_op):
        return [
            parse_op.ExtractionRule("a", r"a=(\w+)"),
            parse_op.ExtractionRule("b", r"b=(\w+)"),
            parse_op.ExtractionRule(
                "a_or_b", "coalesce(nullif(a, ''), b)", kind="expr"
            ),
            parse_op.ExtractionRule(
                "label",
                "CASE WHEN a = '' THEN concat('none:', b)"
                " ELSE concat('got:', a) END",
                kind="expr",
            ),
            parse_op.ExtractionRule(
                "n2",
                "try_cast(b AS bigint) * 2 + length(a)",
                kind="expr",
                dtype="long",
            ),
        ]

    def _fixture(self, spark):
        return spark.createDataFrame(
            [(1, "a=x b=7"), (2, "b=21"), (3, "a=yy b=zz")],
            "id int, text string",
        )

    def _check(self, rows):
        by_id = {r.id: r for r in rows}
        assert by_id[1].a_or_b == "x" and by_id[1].label == "got:x"
        assert by_id[1].n2 == 7 * 2 + 1
        assert by_id[2].a_or_b == "21" and by_id[2].label == "none:21"
        assert by_id[2].n2 == 42  # length('') == 0
        assert by_id[3].a_or_b == "yy" and by_id[3].label == "got:yy"
        assert by_id[3].n2 is None  # 'zz' not numeric -> NULL arithmetic

    def test_expr_native_golden(self, spark):
        from otel2pv_spark.operators import parse as parse_op

        out = parse_op.parse(self._fixture(spark), rules=self._rules(parse_op))
        self._check(out.collect())

    def test_expr_fuses_into_one_projection(self, spark):
        """Native path: captures + expr columns execute in ONE
        WholeStageCodegen span over the scan — a single pass per row
        (Catalyst may keep two Project nodes when an expr reuses a
        capture, but codegen fuses them: no second stage, no exchange,
        no materialization between them)."""
        from otel2pv_spark.operators import parse as parse_op

        out = parse_op.parse(self._fixture(spark), rules=self._rules(parse_op))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "*(1) Project" in plan      # codegen'd projection
        assert "*(2)" not in plan          # ...and only one span
        assert "Exchange" not in plan

    def test_expr_required_gates_parse_ok(self, spark):
        from otel2pv_spark.operators import parse as parse_op

        rules = [
            parse_op.ExtractionRule("a", r"a=(\w+)"),
            parse_op.ExtractionRule(
                "need", "nullif(a, '')", kind="expr", required=True
            ),
        ]
        out = parse_op.parse(self._fixture(spark), rules=rules)
        ok = {r.id: r.parse_ok for r in out.collect()}
        assert ok == {1: True, 2: False, 3: True}

    def test_expr_rejects_statements(self, spark):
        import pytest

        from otel2pv_spark.operators import parse as parse_op

        for bad in (
            "1; drop table x",
            "(select 1)",
            "a -- comment",
            "a /* c */",
        ):
            rules = [parse_op.ExtractionRule("e", bad, kind="expr")]
            with pytest.raises(ValueError, match="expr rule"):
                parse_op.parse(self._fixture(spark), rules=rules).collect()

    def test_capture_can_source_expr(self, spark):
        """A capture rule may read an earlier expr rule's output: every
        rule is one column of the same projection, applied in order."""
        from otel2pv_spark.operators import parse as parse_op

        rules = [
            parse_op.ExtractionRule("a", r"a=(\w+)"),
            parse_op.ExtractionRule("e", "concat(a, '!')", kind="expr"),
            parse_op.ExtractionRule("w", r"(\w+)", source="e"),
        ]
        out = parse_op.parse(self._fixture(spark), rules=rules)
        assert {r.id: r.w for r in out.collect()} == {1: "x", 2: "", 3: "yy"}


def test_expr_forward_reference_rejected(spark):
    """An expr rule referencing a LATER rule's name is rejected up
    front — it would silently bind to a pre-existing input column of
    that name, not the capture defined later (review-finding
    regression)."""
    import pytest

    from otel2pv_spark.operators import parse as parse_op

    df = spark.createDataFrame([(1, "a=x")], "id int, text string")
    rules = [
        parse_op.ExtractionRule("lab", "concat('t:', a)", kind="expr"),
        parse_op.ExtractionRule("a", r"a=(\w+)"),
    ]
    with pytest.raises(ValueError, match="later rule"):
        parse_op.parse(df, rules=rules).collect()
