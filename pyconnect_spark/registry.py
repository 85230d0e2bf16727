"""Aggregate query registry: every declared operator across modules.

Order is module order: the modules below, each in declaration order.
"""

from __future__ import annotations

from pyconnect_spark.operators import dedup, extended, io_infra, multimodal, relational, similarity, text, timeseries, tpch
from pyconnect_spark.query import Query, QueryRegistry

ALL = QueryRegistry()
for _mod in (relational, extended, tpch, timeseries, text, dedup, similarity, multimodal, io_infra):
    ALL.merge(_mod.REGISTRY)


def queries():
    return ALL.builders()


def oracles():
    return ALL.oracles()


def get(name: str) -> Query:
    return ALL.queries()[name]
