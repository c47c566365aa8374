"""Aggregation point for the LLM-pipeline query registry.

The query families live in sibling modules, one per COVERAGE.md
family; importing them registers every query into
LLM_QUERIES/LLM_ORACLE_SQL via the shared @_q decorator in
plans/_llm_base.py. The import order below is the declaration order
of the registry. Import a query or helper from its family module.
"""

from __future__ import annotations

import tastytrade_sdk_spark.plans.llm_dedup_queries  # noqa: F401
import tastytrade_sdk_spark.plans.llm_ann_queries  # noqa: F401
import tastytrade_sdk_spark.plans.llm_retrieval_queries  # noqa: F401
import tastytrade_sdk_spark.plans.llm_quality_queries  # noqa: F401
import tastytrade_sdk_spark.plans.llm_packing_queries  # noqa: F401
import tastytrade_sdk_spark.plans.llm_stream_queries  # noqa: F401
from tastytrade_sdk_spark.plans._llm_base import LLM_ORACLE_SQL, LLM_QUERIES

__all__ = ["LLM_ORACLE_SQL", "LLM_QUERIES"]
