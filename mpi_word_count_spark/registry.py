"""Central query registry: the driver-facing contract.

Every implemented operator from SURVEY.md §2 registers here as
  name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None)
The oracle SQL is ANSI SQL runnable by DuckDB over the same parquet
fixtures (views: region nation customer supplier part orders lineitem
events documents embeddings). Column names/aliases MUST match the
Spark result exactly — the driver sorts columns by name and hashes
values.

Numeric discipline for oracle parity: floating aggregates are rounded
to a fixed number of decimals on BOTH sides (summation order differs
between engines; last-bit drift would break the hash). Timestamps are
emitted as ISO strings or dates.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mpi_word_count_spark.tokenizer import DEFAULT_DELIMITERS, delimiter_regex

SparkQuery = Callable[[SparkSession, str], DataFrame]

# name -> (spark_fn, oracle_sql | None)
_REGISTRY: dict[str, tuple[SparkQuery, str | None]] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: SparkQuery) -> SparkQuery:
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def queries() -> dict[str, SparkQuery]:
    _load_all()
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


def sql_regex() -> str:
    """The tokenizer character class, escaped for embedding in a
    single-quoted SQL literal (RE2-compatible, see tokenizer.py)."""
    return delimiter_regex(DEFAULT_DELIMITERS).replace("'", "''")


_LOADED = False


def _load_all() -> None:
    """Import every query module so its @register calls run."""
    global _LOADED
    if _LOADED:
        return
    from mpi_word_count_spark.queries import (  # noqa: F401
        advanced_queries,
        approx_queries,
        audit_queries,
        bpe_queries,
        curation_queries,
        dedup_queries,
        governance_queries,
        graph_queries,
        inference_queries,
        join_queries,
        multimodal_queries,
        pipeline_queries,
        privacy_queries,
        relational_queries,
        similarity_queries,
        stats_queries,
        streaming_queries,
        subquery_queries,
        text_queries,
        timeseries_queries,
        tpch_gap_queries,
        tpch_more_queries,
        validation_queries,
        wordcount_queries,
    )
    _LOADED = True
