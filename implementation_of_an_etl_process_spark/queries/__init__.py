"""The engine's query battery: every operator family exposed as a
(spark, sf_dir) -> DataFrame callable plus, where SQL-expressible, an
ANSI-SQL oracle string DuckDB can run on the same parquet tables.

This is the driver-contract surface (``__spark_entry__.py`` re-exports
it) and the living inventory of SURVEY.md §2 coverage. ``queries()`` and
``oracle_sql()`` iterate in ``_MODULES`` registration order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from implementation_of_an_etl_process_spark.queries import (
    relational,
    relational2,
    textops,
    similarity,
    streamingops,
    temporal,
    udfs,
    refnative,
    pipelineops,
    formats,
    functions2,
    tpch,
    pretrain,
    etlops,
    graphops,
    qualityops,
    sql41,
    tfidfops,
)

_MODULES = [
    relational,
    relational2,
    textops,
    similarity,
    streamingops,
    temporal,
    udfs,
    refnative,
    pipelineops,
    formats,
    functions2,
    tpch,
    pretrain,
    etlops,
    graphops,
    qualityops,
    sql41,
    tfidfops,
]


def _with_engine_confs(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """The driver calls these with ITS SparkSession, which lacks the
    engine's session confs (nanos-parquet reads, UTC) — apply them at
    call time; they are runtime-settable and idempotent."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from implementation_of_an_etl_process_spark.session import (
            ensure_engine_confs,
        )

        ensure_engine_confs(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        out.update({k: _with_engine_confs(v) for k, v in m.QUERIES.items()})
    return out


def oracle_sql() -> dict[str, str]:
    return {k: m.ORACLES[k] for m in _MODULES for k in m.QUERIES if k in m.ORACLES}
