"""Declared correctness queries (the t2 surface).

Every operator from SURVEY.md §2 registers here as a named query
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB oracle
SQL string over the same parquet tables. The driver — and our own pytest
parity harness — runs both sides and compares row count + schema +
order-insensitive value hash.

Conventions (hash-stability across engines):
- every computed/aggregate column is aliased identically in Spark and SQL;
- float columns produced by multi-row reductions or libm functions are
  rounded (6 decimals by default) on BOTH sides — last-ulp differences from
  reduction order / libm implementations would otherwise break exact hashes;
- passthrough columns stay exact; no timestamp columns in outputs (formatted
  to strings instead) to avoid tz/epoch representation mismatches.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` marks a rows-only check (stochastic
    or not SQL-expressible — the driver contract's escape hatch)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:  # a silent shadow would drop a query + oracle
            raise ValueError(
                f"duplicate t2 query name {name!r}: already registered by "
                f"{QUERIES[name].__module__}"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module. Registration is an import side effect,
    so the registry is in the order the ``@register`` calls run during
    these imports."""
    from data_integration_spark.queries import (  # noqa: F401
        multimodal_queries,
        similarity_queries,
        streaming_queries,
        text_pipeline,
        windows_extended,
        statistical,
        scalar_surface,
        relational_extra,
        analytics,
        relational,
        model_queries,
        pipeline_extra,
        relational_sql,
        tpch_extra,
        curation_extra,
        corpus_ops,
        training_ops,
        graph_queries,
        analytics_extra,
        timeseries_extra,
        er_retrieval,
        tokenizer_unigram,
    )

