"""Query registry: name -> (Spark callable, optional DuckDB oracle SQL).

Every operator the engine claims is registered here via the ``@query``
decorator, colocating the PySpark implementation with the ANSI-SQL
oracle the driver runs on DuckDB (driver contract: ``__spark_entry__.py``
— row-count + schema + order-insensitive value-hash at sf=0.01).

Queries with ``oracle=None`` are rows-only tier (approximate algorithms,
corrupt-record handling — SURVEY.md §2 tier R).

The contract is a set of (query, oracle) pairs: ``registry()`` returns
them in name order, and that order carries no meaning.

Cross-engine determinism rules applied throughout (SURVEY.md §5.4):
ROUND every computed double on both sides; cast to DECIMAL before
SUM-ing money so accumulation order can't matter; cast Spark int32
outputs to long where DuckDB emits BIGINT; tie-break every LIMIT/top-k;
flattened scalar outputs only.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => rows-only verification tier


_REGISTRY: dict[str, RegisteredQuery] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name`` with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = RegisteredQuery(name, fn, oracle)
        return fn

    return deco


def _load_all_modules() -> None:
    """Import every operator module for its registration side effects."""
    import data_lake_staging_engine_spark.operators.staging  # noqa: F401
    import data_lake_staging_engine_spark.operators.relational  # noqa: F401
    import data_lake_staging_engine_spark.operators.windows  # noqa: F401
    import data_lake_staging_engine_spark.functions.scalar_packs  # noqa: F401
    import data_lake_staging_engine_spark.streaming.queries  # noqa: F401
    import data_lake_staging_engine_spark.operators.udfs  # noqa: F401
    import data_lake_staging_engine_spark.operators.llmops  # noqa: F401


def registry() -> dict[str, RegisteredQuery]:
    """All registered queries, in name order."""
    _load_all_modules()
    return dict(sorted(_REGISTRY.items()))


def all_queries() -> dict[str, QueryFn]:
    return {name: rq.fn for name, rq in registry().items()}


def all_oracles() -> dict[str, str]:
    return {
        name: rq.oracle for name, rq in registry().items() if rq.oracle is not None
    }
