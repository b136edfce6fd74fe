"""Static guards on the commit and replay protocols.

The Catalog owns every commit mechanic (atomic replace, append
snapshots, empty-table guards). A ``DataFrameWriter`` terminal call
anywhere else is a second, hand-written commit protocol. The first
scan fails on any ``.parquet``/``.save``/``.json``/``.csv`` call on a
``.write`` chain outside the Catalog module.

A foreachBatch ``batch_id`` restarts at 0 under a new checkpoint, so
it identifies nothing on its own. The second scan fails on any use of
it in ``streaming/`` other than as an argument to ``_batch_tag``.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "otel2pv_spark"
)
CATALOG = os.path.join("sources", "catalog.py")
TERMINALS = {"parquet", "save", "json", "csv"}

# (module, top-level function) -> why it may write raw parquet
ALLOWED = {
    (os.path.join("streaming", "stream_pipeline.py"), "run_stream_pipeline"): (
        "append-mode stream: its sink-partitioned appends cannot go "
        "through Catalog.append (unpartitioned tables only); ROADMAP "
        "leaves the mode's fate to the O(changed) merge direction"
    ),
}


def _write_calls(tree: ast.AST):
    """Writer terminal calls in ``tree``: a ``TERMINALS`` method whose
    receiver chain passes through ``.write``."""
    for call in ast.walk(tree):
        if not (
            isinstance(call, ast.Call)
            and isinstance(call.func, ast.Attribute)
            and call.func.attr in TERMINALS
        ):
            continue
        node = call.func.value
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute) and node.attr == "write":
                yield call
                break
            node = node.value if isinstance(node, ast.Attribute) else node.func


def _raw_writes():
    """(module, top-level function or None, line) of every writer
    terminal call outside the Catalog module."""
    found = []
    for dirpath, _dirs, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG)
            if rel == CATALOG:
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            for top in tree.body:
                owner = (
                    top.name
                    if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
                    else None
                )
                found += [(rel, owner, c.lineno) for c in _write_calls(top)]
    return found


def test_no_raw_table_writes_outside_catalog():
    found = _raw_writes()
    stray = [f for f in found if (f[0], f[1]) not in ALLOWED]
    assert not stray, f"raw DataFrameWriter calls outside the Catalog: {stray}"
    # every allowlist entry is still needed
    assert {(f[0], f[1]) for f in found} == set(ALLOWED)


def _foreach_batch_fns(tree: ast.AST) -> list[ast.FunctionDef]:
    """Functions handed to ``_start`` or ``foreachBatch`` as the sink."""
    names = set()
    for call in ast.walk(tree):
        if not isinstance(call, ast.Call):
            continue
        f = call.func
        if isinstance(f, ast.Name) and f.id == "_start" and len(call.args) > 1:
            arg = call.args[1]
        elif isinstance(f, ast.Attribute) and f.attr == "foreachBatch" and call.args:
            arg = call.args[0]
        else:
            continue
        if isinstance(arg, ast.Name):
            names.add(arg.id)
    return [
        fn for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name in names
    ]


def test_batch_id_only_feeds_batch_tag():
    stray, n_fns = [], 0
    stream_dir = os.path.join(PKG, "streaming")
    for name in sorted(os.listdir(stream_dir)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(stream_dir, name)) as fh:
            tree = ast.parse(fh.read())
        for fn in _foreach_batch_fns(tree):
            n_fns += 1
            bid = fn.args.args[1].arg
            tagged = {
                id(a)
                for c in ast.walk(fn)
                if isinstance(c, ast.Call)
                and isinstance(c.func, ast.Name)
                and c.func.id == "_batch_tag"
                for a in c.args
            }
            stray += [
                (name, fn.lineno, n.lineno)
                for n in ast.walk(fn)
                if isinstance(n, ast.Name) and n.id == bid and id(n) not in tagged
            ]
    assert n_fns >= 7, f"found only {n_fns} foreachBatch functions"
    assert not stray, f"batch_id used outside _batch_tag: {stray}"
