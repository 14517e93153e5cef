"""Driver-facing registry: merges every query family into the
``queries()`` / ``oracle_sql()`` dicts consumed by ``__spark_entry__.py``,
in registration order (``FAMILIES`` order, then each family's own key
order).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .registry_core import CORE_QUERIES
from .registry_ext import EXT_QUERIES
from .registry_pipeline import PIPELINE_QUERIES
from .registry_r3 import R3_QUERIES
from .registry_r3b import R3B_QUERIES
from .registry_r4 import R4_QUERIES
from .registry_r5 import R5_QUERIES
from .registry_r5b import R5B_QUERIES
from .registry_r6 import R6_QUERIES
from .registry_r6b import R6B_QUERIES
from .registry_r7 import R7_QUERIES
from .registry_sql4 import SQL4_QUERIES
from .registry_stream import STREAM_QUERIES
from .registry_tpch2 import TPCH2_QUERIES
from .registry_util import QueryDef

# Registration order: ``all_queries()`` lists the families in this
# order and each family's keys in its own dict order. A key defined in
# two families would let the later one shadow the earlier one, which
# tests/test_driver_contract.py forbids.
FAMILIES: tuple[tuple[str, dict[str, QueryDef]], ...] = (
    ("core", CORE_QUERIES),
    ("ext", EXT_QUERIES),
    ("stream", STREAM_QUERIES),
    ("tpch2", TPCH2_QUERIES),
    ("pipeline", PIPELINE_QUERIES),
    ("r3", R3_QUERIES),
    ("r3b", R3B_QUERIES),
    ("sql4", SQL4_QUERIES),
    ("r4", R4_QUERIES),
    ("r5", R5_QUERIES),
    ("r5b", R5B_QUERIES),
    ("r6", R6_QUERIES),
    ("r6b", R6B_QUERIES),
    ("r7", R7_QUERIES),
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
