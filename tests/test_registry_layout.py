"""Registry layout guard: query modules are named by family, never by
the round that wrote them; no query module reaches into another's
private helpers; and the driver window is derived, not hand-kept."""

from __future__ import annotations

import ast
import os
import re

import pytest

from evolution_data_warehouse_spark import queries
from evolution_data_warehouse_spark.queries import (
    DRIVER_WINDOW,
    REGISTRY,
    driver_window,
)
from evolution_data_warehouse_spark.queries.common import latest_verdicts

QDIR = os.path.dirname(queries.__file__)
PKG = "evolution_data_warehouse_spark.queries"
MODULES = sorted(f[:-3] for f in os.listdir(QDIR) if f.endswith(".py"))


@pytest.mark.parametrize("name", MODULES)
def test_query_module_not_named_by_round(name):
    assert not name.startswith("extensions"), name
    assert not re.search(r"_r\d+", name), name


def _private_imports(name: str) -> list[str]:
    with open(os.path.join(QDIR, f"{name}.py")) as f:
        tree = ast.parse(f.read())
    bad = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom):
            continue
        module = node.module or ""
        if node.level:  # relative import inside the queries package
            module = f"{PKG}.{module}" if module else PKG
        if module != PKG and not module.startswith(f"{PKG}."):
            continue
        bad += [
            f"{name}:{node.lineno} imports {a.name} from {module}"
            for a in node.names
            if a.name.startswith("_")
        ]
    return bad


def test_no_private_imports_between_query_modules():
    bad = [b for name in MODULES for b in _private_imports(name)]
    assert not bad, "\n".join(bad)


def test_registry_front_is_the_derived_window():
    # the derivation is idempotent on its own output: the window sits at
    # the front in priority order, so re-deriving over the registry's
    # order yields the same 50 names in the same order
    names = list(REGISTRY)
    assert names[:DRIVER_WINDOW] == driver_window(names, latest_verdicts())


def test_driver_window_order():
    names = [f"q{i}" for i in range(DRIVER_WINDOW + 5)]
    # no artifacts: registration order
    assert driver_window(names, {}) == names[:DRIVER_WINDOW]
    # every entry verified in r9 except: q3/q1 never verified, q7 and
    # q2 verified in r4 (a failed verdict counts by its round too)
    latest = {n: (9, True) for n in names}
    del latest["q3"], latest["q1"]
    latest["q7"] = (4, True)
    latest["q2"] = (4, False)
    window = driver_window(names, latest)
    assert window[:4] == ["q1", "q3", "q2", "q7"]
    assert window[4:] == [
        n for n in names if n not in ("q1", "q2", "q3", "q7")
    ][: DRIVER_WINDOW - 4]
