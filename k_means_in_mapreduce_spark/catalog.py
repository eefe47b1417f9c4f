"""The query catalog — a LEAF module: it imports nothing from the package.

Each module that defines a query registers it here with :func:`query`:
- a callable ``(spark, sf_dir) -> DataFrame`` in :data:`QUERIES`
- where SQL-expressible, a DuckDB-compatible oracle in :data:`ORACLES`

Being a leaf keeps a query's gate fingerprint cone to the code it runs:
importing the decorator pulls no other module into it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
