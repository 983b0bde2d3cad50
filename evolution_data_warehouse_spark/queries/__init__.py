"""Query registry: op-id → (Spark callable, DuckDB oracle SQL).

Every operator from SURVEY.md §2 that is implemented gets a named entry
here; ``__spark_entry__.py`` exposes the registry to the driver, which
hash-checks each Spark result against its oracle at sf0.01.

Determinism rules applied across the registry (see queries/common.py):

* double aggregates go through per-row DECIMAL casts so the sum is
  exact and independent of partitioning / execution order, then back
  to DOUBLE — bit-identical between Spark and DuckDB;
* any LIMIT/top-N is fully tie-broken by a unique key;
* pivots pin their value lists; collected lists are sorted.
"""

from __future__ import annotations

from evolution_data_warehouse_spark.queries.common import (
    REGISTRY,
    Query,
    latest_verdicts,
)

# Importing the modules populates REGISTRY via the @register decorator.
from evolution_data_warehouse_spark.queries import relational as _relational  # noqa: E402,F401
from evolution_data_warehouse_spark.queries import scalar_fns as _scalar_fns  # noqa: E402,F401
from evolution_data_warehouse_spark.queries import scd as _scd  # noqa: E402,F401
from evolution_data_warehouse_spark.queries import streaming_ops as _streaming_ops  # noqa: E402,F401
from evolution_data_warehouse_spark.queries import sources_ext as _sources_ext  # noqa: E402,F401
from evolution_data_warehouse_spark.queries import tpch_style as _tpch_style  # noqa: E402,F401
from evolution_data_warehouse_spark.queries import dashboard as _dashboard  # noqa: E402,F401
from evolution_data_warehouse_spark.queries import datapipe as _datapipe  # noqa: E402,F401
from evolution_data_warehouse_spark.queries import event_analytics as _event_analytics  # noqa: E402,F401
from evolution_data_warehouse_spark.queries import text as _text  # noqa: E402,F401
from evolution_data_warehouse_spark.queries import dedup as _dedup  # noqa: E402,F401
from evolution_data_warehouse_spark.queries import similarity as _similarity  # noqa: E402,F401
from evolution_data_warehouse_spark.queries import multimodal as _multimodal  # noqa: E402,F401
from evolution_data_warehouse_spark.queries import graph as _graph  # noqa: E402,F401
from evolution_data_warehouse_spark.queries import stats as _stats  # noqa: E402,F401

# The driver verifies only the first DRIVER_WINDOW registry entries
# each round, so the front of the registry is the set whose evidence is
# stalest: never-verified entries, then the oldest latest-verdict round,
# registration order breaking ties (common.latest_verdicts reads the
# committed CORRECTNESS_r*.json artifacts). The rest keep registration
# order; with no artifacts the whole registry is registration order.
DRIVER_WINDOW = 50


def driver_window(
    names: list[str], latest: dict[str, tuple[int, bool]]
) -> list[str]:
    """The DRIVER_WINDOW names with the oldest evidence, in priority order
    (the sort is stable, so ``names`` order breaks ties)."""
    return sorted(names, key=lambda n: latest.get(n, (-1,))[0])[:DRIVER_WINDOW]


_window = driver_window(list(REGISTRY), latest_verdicts())
_ordered = {name: REGISTRY[name] for name in _window}
_ordered.update(REGISTRY)
REGISTRY.clear()
REGISTRY.update(_ordered)

__all__ = ["DRIVER_WINDOW", "REGISTRY", "Query", "driver_window"]
