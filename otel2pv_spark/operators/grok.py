"""Grok pattern compiler — ``%{NAME:field}`` syntax over the parse stage.

The reference's extraction layer is a fused JQ program over JSON bodies
(JQExtractor/jqextractor/jqTransformer.go:116-143, :304-327); for raw
text lines the log-pipeline idiom is grok: a library of named regex
fragments composed with ``%{PATTERN:field}`` references (the public
Logstash/Elastic convention). This module compiles a grok expression
into ONE combined regex whose named fields become capture groups, and
emits one :class:`~.parse.ExtractionRule` per field — so the whole grok
line is still a single fused codegen projection (N ``regexp_extract``
over the same pattern; Catalyst CSEs the shared match).

Syntax supported (the portable core of grok):

- ``%{NAME}`` — splice the library pattern, non-capturing.
- ``%{NAME:field}`` — splice and capture as output column ``field``.
- ``%{NAME:field:int}`` / ``:float`` — capture and cast (``long`` /
  ``double``; empty/no-match casts to NULL on both engines).
- literal text between references is raw regex, as in grok.

Library patterns are written in the RE2 ∩ Java-regex portable subset
(no backreferences, no lookbehind, non-capturing groups only) so the
same compiled pattern runs identically under Spark (Java regex) and
the DuckDB oracle (RE2).
"""

from __future__ import annotations

import re

from .parse import ExtractionRule

# Portable grok base library (Logstash-convention names). Every
# alternation is non-capturing — capture groups are introduced ONLY by
# %{NAME:field} references, so field order == group order.
GROK_LIBRARY: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "POSINT": r"\d+",
    "NONNEGINT": r"\d+",
    "BASE10NUM": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "NUMBER": r"%{BASE10NUM}",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "UUID": r"[0-9a-fA-F]{8}-(?:[0-9a-fA-F]{4}-){3}[0-9a-fA-F]{12}",
    "IPV4": r"(?:\d{1,3}\.){3}\d{1,3}",
    "HOSTNAME": r"[a-zA-Z0-9](?:[a-zA-Z0-9-]*[a-zA-Z0-9])?(?:\.[a-zA-Z0-9](?:[a-zA-Z0-9-]*[a-zA-Z0-9])?)*",
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|NOTICE|WARN(?:ING)?|ERROR|CRIT(?:ICAL)?|FATAL|SEVERE)",
    "YEAR": r"\d{4}",
    "MONTHNUM": r"(?:0[1-9]|1[0-2])",
    "MONTHDAY": r"(?:[0-2][0-9]|3[01])",
    "HOUR": r"(?:[01][0-9]|2[0-3])",
    "MINUTE": r"[0-5][0-9]",
    "SECOND": r"(?:[0-5][0-9])(?:\.\d+)?",
    "TIME": r"%{HOUR}:%{MINUTE}:%{SECOND}",
    "DATE_ISO": r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}",
    "TIMESTAMP_ISO8601": r"%{DATE_ISO}[T ]%{TIME}(?:Z|[+-]%{HOUR}:?%{MINUTE})?",
    "QS": r'"(?:[^"\\]|\\.)*"',
    "PATH": r"(?:/[\w.-]+)+",
    "IDENT": r"[A-Za-z0-9:_-]+",  # the transcript event-id alphabet
    "TOKEN": r"[A-Za-z0-9_.-]+",  # the transcript event-type alphabet
}

_REF = re.compile(r"%\{(\w+)(?::([A-Za-z_]\w*))?(?::(int|float))?\}")

# grok type suffix → Spark cast type
GROK_CASTS: dict[str, str] = {"int": "long", "float": "double"}


def _expand(pattern: str, depth: int = 0) -> str:
    """Expand nested %{NAME} library references (no field captures are
    allowed INSIDE library patterns — fields only at the top level)."""
    if depth > 10:
        raise ValueError("grok: library reference cycle (depth > 10)")

    def sub(m: re.Match) -> str:
        name, fld, _typ = m.group(1), m.group(2), m.group(3)
        if fld is not None:
            raise ValueError(
                f"grok: field capture %{{{name}:{fld}}} inside a library "
                "pattern is not supported"
            )
        if name not in GROK_LIBRARY:
            raise KeyError(f"grok: unknown pattern %{{{name}}}")
        return "(?:" + _expand(GROK_LIBRARY[name], depth + 1) + ")"

    return _REF.sub(sub, pattern)


def compile_grok(expr: str) -> tuple[str, list[tuple[str, str | None]]]:
    """Compile a grok expression to ``(regex, fields)`` where ``fields``
    is the ordered list of ``(field_name, cast_type_or_None)`` and field
    *i* (0-based) is capture group *i + 1* of the regex."""
    fields: list[tuple[str, str | None]] = []
    out: list[str] = []
    pos = 0
    for m in _REF.finditer(expr):
        out.append(expr[pos : m.start()])  # literal regex text, verbatim
        name, fld, typ = m.group(1), m.group(2), m.group(3)
        if name not in GROK_LIBRARY:
            raise KeyError(f"grok: unknown pattern %{{{name}}}")
        body = _expand(GROK_LIBRARY[name], 1)
        if fld is None:
            out.append("(?:" + body + ")")
        else:
            if any(fld == f for f, _ in fields):
                raise ValueError(f"grok: duplicate field {fld!r}")
            fields.append((fld, typ))
            out.append("(" + body + ")")
        pos = m.end()
    out.append(expr[pos:])
    regex = "".join(out)
    # sanity-compile under Python re (≈ the portable subset's superset)
    re.compile(regex)
    return regex, fields


def grok_rules(
    expr: str,
    required: tuple[str, ...] = (),
    null_sentinels: dict[str, tuple[str, ...]] | None = None,
    source: str | None = None,
) -> list[ExtractionRule]:
    """Compile a grok expression into ExtractionRules — one per captured
    field, all sharing the combined pattern with distinct group indices,
    ready for :func:`~.parse.parse`."""
    regex, fields = compile_grok(expr)
    if not fields:
        raise ValueError("grok: expression captures no fields")
    sentinels = null_sentinels or {}
    unknown = set(required) - {f for f, _ in fields}
    if unknown:
        raise ValueError(f"grok: required fields not in expression: {sorted(unknown)}")
    rules = []
    for i, (fld, typ) in enumerate(fields):
        rules.append(
            ExtractionRule(
                name=fld,
                pattern=regex,
                required=fld in required,
                null_sentinels=tuple(sentinels.get(fld, ())),
                kind="regex",
                source=source,
                group=i + 1,
                dtype=GROK_CASTS[typ] if typ else None,
            )
        )
    return rules
