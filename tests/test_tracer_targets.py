"""The benchmark tracer's target list stays one wrapper per method.

``perfbench/run.py`` wraps every method ``traced_targets()`` names. A
method that appears twice, or a catalog method name defined in more
than one class (an abstract hook in a base class beside its override,
or a subclass alias), gets wrapped twice: the spans nest under the same
name and every ``catalog.*.calls`` count doubles. Spark-free: the
targets are resolved by import only.
"""

from __future__ import annotations

import os
import sys

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


def _traced_targets():
    if PERFBENCH not in sys.path:
        sys.path.insert(0, PERFBENCH)
    import run

    return [(owner, attr) for owner, attr, _namer in run.traced_targets()]


def test_every_target_resolves_once():
    targets = _traced_targets()
    for owner, attr in targets:
        assert callable(getattr(owner, attr, None)), (owner, attr)
    seen = [(id(owner), attr) for owner, attr in targets]
    assert len(seen) == len(set(seen)), "a traced method is listed twice"


def test_each_traced_catalog_method_defined_in_one_class():
    from otel2pv_spark.sources import catalog

    classes = {  # by identity: a module-level alias names a class twice
        id(c): c for c in vars(catalog).values()
        if isinstance(c, type) and c.__module__ == catalog.__name__
    }.values()
    names = {
        attr for owner, attr in _traced_targets()
        if getattr(owner, "__module__", None) == catalog.__name__
    }
    assert names, "no catalog method is traced"
    for name in sorted(names):
        owners = [c.__name__ for c in classes if name in c.__dict__]
        assert len(owners) == 1, f"catalog.{name} defined in {owners}"
