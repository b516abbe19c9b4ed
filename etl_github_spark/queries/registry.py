"""Registry plumbing for the operator/query library.

Each query is registered with a name, a PySpark callable
``fn(spark, sf_dir) -> DataFrame``, and an optional DuckDB oracle SQL
string (tables pre-registered as views: region nation customer supplier
part orders lineitem events documents embeddings).

Oracle-parity rules (see SURVEY.md §5 and the driver contract):

* Column names must match exactly — alias every computed column on both
  sides.
* Floating-point **reductions** (sum/avg over many rows) are
  order-sensitive in IEEE arithmetic and Spark/DuckDB reduce in
  different orders. We route every such reduction through an exact
  decimal accumulator — ``CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE)``
  — which is bit-deterministic in both engines. Per-row double math
  (``a*(1-b)``) is IEEE-identical everywhere and needs no special
  handling.
* Integer sums: DuckDB widens to INT128, Spark keeps BIGINT → cast the
  DuckDB side to BIGINT.
* Queries with LIMIT must order by a *unique* key so both engines pick
  the same rows (the driver hash is order-insensitive but not
  row-set-insensitive).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..session import tune

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    name: str
    fn: QueryFn
    sql: str | None  # DuckDB oracle; None => rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QueryDef] = {}

#: registration (add) order, immutable under window rotation —
#: `queries/__init__._apply_rotation` reorders QUERIES for the driver's
#: 50-slot verification window, which would otherwise destroy the
#: add-order that tools_gen_rotation.py ranks never-verified queries by.
ADD_ORDER: list[str] = []


def query(name: str, sql: str | None = None, tags: tuple[str, ...] = ()):  # decorator
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QueryDef(name=name, fn=fn, sql=sql, tags=tags)
        ADD_ORDER.append(name)
        return fn

    return deco


def query_map() -> dict[str, QueryFn]:
    """The driver boundary: each query first tunes the session it is
    handed. ``QUERIES[name].fn`` stays raw, for tuned sessions."""

    def tuned(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(tune(spark), sf_dir)

        return run

    return {n: tuned(d.fn) for n, d in QUERIES.items()}


def oracle_map() -> dict[str, str]:
    return {n: d.sql for n, d in QUERIES.items() if d.sql is not None}
