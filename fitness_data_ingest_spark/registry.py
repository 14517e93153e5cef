"""Driver-facing registry: merges every query family into the
``queries()`` / ``oracle_sql()`` dicts consumed by ``__spark_entry__.py``,
in registration order (``FAMILIES`` order, then each family's own key
order).

A family is one domain module, and a key lives in the module named by
its prefix (the text before the first ``_``); tests/test_driver_contract.py
pins that rule.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .registry_events import EVENTS_QUERIES
from .registry_graph import GRAPH_QUERIES
from .registry_multimodal import MULTIMODAL_QUERIES
from .registry_relational import RELATIONAL_QUERIES
from .registry_similarity import SIMILARITY_QUERIES
from .registry_stats import STATS_QUERIES
from .registry_stream import STREAM_QUERIES
from .registry_text import TEXT_QUERIES
from .registry_tpch import TPCH_QUERIES
from .registry_util import QueryDef
from .registry_warehouse import WAREHOUSE_QUERIES

# Registration order: ``all_queries()`` lists the families in this
# order and each family's keys in its own dict order. A key defined in
# two families would let the later one shadow the earlier one, which
# tests/test_driver_contract.py forbids.
FAMILIES: tuple[tuple[str, dict[str, QueryDef]], ...] = (
    ("tpch", TPCH_QUERIES),
    ("relational", RELATIONAL_QUERIES),
    ("warehouse", WAREHOUSE_QUERIES),
    ("events", EVENTS_QUERIES),
    ("stats", STATS_QUERIES),
    ("graph", GRAPH_QUERIES),
    ("text", TEXT_QUERIES),
    ("similarity", SIMILARITY_QUERIES),
    ("multimodal", MULTIMODAL_QUERIES),
    ("stream", STREAM_QUERIES),
)


def all_queries() -> dict[str, QueryDef]:
    merged: dict[str, QueryDef] = {}
    for _name, family in FAMILIES:
        merged.update(family)
    return merged


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.spark for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.sql for name, q in all_queries().items() if q.sql is not None}
