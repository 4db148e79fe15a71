"""Driver contract (PySpark target).

A driver runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row count, schema and
order-insensitive values); ``tools/verify_local.py`` does the same
locally.

The actual battery lives in
``implementation_of_an_etl_process_spark.queries``; this module is the
stable driver-facing shim.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from implementation_of_an_etl_process_spark import queries as _battery

SF_SMOKE = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (the reference hypercube re-targeted at the TPC-H
    star schema) on /root/testdata/sf0.001; driver checks rows>0."""
    return _battery.queries()["hypercube"](spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _battery.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query; every entry has one."""
    return _battery.oracle_sql()
