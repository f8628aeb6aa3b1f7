"""Aggregate query/oracle registry — one import point for __spark_entry__.

Each domain module contributes ``QUERIES`` (name → (spark, sf_dir) →
DataFrame) and ``ORACLES`` (name → DuckDB SQL). Names are unique across
modules, and every query has an oracle (tests/test_queries_oracle.py
fails on a query without one).
"""

from __future__ import annotations

from admob_data_pipeline_spark.operators import (
    ann_index,
    cdc,
    corpus,
    dedup,
    dedup_index,
    governance,
    graph,
    hybrid_index,
    multimodal,
    packing,
    retrieval_index,
    similarity,
    stats,
    text,
)
from admob_data_pipeline_spark.plans import analytics_ext, relational
from admob_data_pipeline_spark.sinks import roundtrip
from admob_data_pipeline_spark.streaming import alerts as streaming_alerts

# Registry order is this module order, then each module's own order.
_MODULES = [
    relational,
    ann_index,
    dedup_index,
    retrieval_index,
    hybrid_index,
    text,
    corpus,
    dedup,
    similarity,
    multimodal,
    packing,
    graph,
    stats,
    governance,
    cdc,
    roundtrip,
    streaming_alerts,
    analytics_ext,
]


def _merged(attr: str) -> dict:
    out: dict = {}
    for mod in _MODULES:
        for name, v in getattr(mod, attr, {}).items():
            if name in out:
                raise ValueError(f"duplicate query name: {name}")
            out[name] = v
    return out


QUERIES = _merged("QUERIES")
ORACLES = _merged("ORACLES")
