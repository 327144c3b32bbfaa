"""Query/oracle registries + the @query decorator.

``QUERIES`` is the one inventory: ``@query`` fills it in module import
order (the family order of the package ``__init__``, then definition
order within each module).  Every artifact derived from it keys or
sorts by name, so no second list of names is kept.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


ORACLE: dict[str, str] = {}


#: Always empty; kept only because perfbench/inputs.py still imports it.
STAGED_ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"query {name!r} is registered twice")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco
