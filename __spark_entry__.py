"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The driver checks queries in the order ``queries()`` returns them,
within a bounded budget per round, so the order is derived from the
``CORRECTNESS_r{N}.json`` records that sit beside this file:
``wordcount`` (the flagship) comes first; then queries whose latest
row is not green (``hash_match`` is not ``True``); then queries by the
round of their latest row, oldest first, with a query that has no row
counting as round 0; ties keep registration order. Without any record
files the order is ``wordcount`` first, then registration order.

All real logic lives in the ``mpi_word_count_spark`` package; this
module is the thin driver-facing facade.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from mpi_word_count_spark import registry  # noqa: E402

FLAGSHIP = "wordcount"
_RECORD = re.compile(r"CORRECTNESS_r(\d+)\.json")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (reference-parity word count) on sf0.001."""
    from mpi_word_count_spark.queries.wordcount_queries import wordcount

    return wordcount(spark, "/root/testdata/sf0.001")


def _latest_rows(record_dir: str) -> dict[str, tuple[int, bool]]:
    """name -> (round, green) of the query's row in its latest record."""
    rounds = sorted(
        (int(m.group(1)), f)
        for f in os.listdir(record_dir)
        if (m := _RECORD.fullmatch(f))
    )
    latest: dict[str, tuple[int, bool]] = {}
    for rnd, f in rounds:
        with open(os.path.join(record_dir, f)) as fh:
            for name, row in json.load(fh).items():
                latest[name] = (rnd, row.get("hash_match") is True)
    return latest


def verification_order(names: Iterable[str], record_dir: str) -> list[str]:
    """``names`` (in registration order) sorted by the rule in the
    module docstring, reading the records in ``record_dir``."""
    latest = _latest_rows(record_dir)

    def key(item: tuple[int, str]) -> tuple[bool, bool, int, int]:
        pos, name = item
        rnd, green = latest.get(name, (0, True))
        return (name != FLAGSHIP, green, rnd, pos)

    return [name for _, name in sorted(enumerate(names), key=key)]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs = registry.queries()
    return {name: qs[name] for name in verification_order(qs, _HERE)}


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()
