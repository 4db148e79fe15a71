"""Battery entries for the warehouse-ETL verbs (``operators/etl.py``)
plus a partition-pruned staged source.

- ``merge_upsert_orders``: MERGE with all three actions live at once —
  10%-of-keys whole-row updates, synthetic inserts under fresh keys,
  and a disjoint delete set — against a full-outer-join-free oracle
  formulation (updates ∪ inserts ∪ untouched base) that is provably the
  same result, so a bug in the join/coalesce path cannot hide.
- ``scd2_customer_priority``: SCD2 over each customer's order-priority
  change stream; the oracle rebuilds the same run-collapse with
  IS DISTINCT FROM + running-sum windows.
- ``partitioned_prune_docs``: stages documents hive-partitioned by
  ``lang`` and reads one partition back — at scale this is the
  partition-pruning path (only the ``lang=en`` directory is listed);
  the oracle filters the original table.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark.operators.etl import (
    merge_upsert,
    scd2_history,
)
from implementation_of_an_etl_process_spark.queries.relational import _t

_WORKDIR = "/tmp/implementation_of_an_etl_process_etlops"

_BASE_COLS = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(*_BASE_COLS)
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
            "o_orderpriority",
        )
        .withColumn("_delete", F.lit(False))
    )
    inserts = (
        orders.filter(F.col("o_orderkey") % 97 == 0)
        .select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.lit("I").alias("o_orderstatus"),
            F.lit(1000.0).alias("o_totalprice"),
            F.lit("1-URGENT").alias("o_orderpriority"),
        )
        .withColumn("_delete", F.lit(False))
    )
    deletes = (
        orders.filter(
            (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderkey") % 10 != 0)
        )
        .select(*_BASE_COLS)
        .withColumn("_delete", F.lit(True))
    )
    delta = updates.unionByName(inserts).unionByName(deletes)
    return merge_upsert(orders, delta, ["o_orderkey"], delete_col="_delete")


MERGE_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
), upd AS (
  SELECT o_orderkey, 'U' AS o_orderstatus,
         o_totalprice * 1.1 AS o_totalprice, o_orderpriority
  FROM base WHERE o_orderkey % 10 = 0
), ins AS (
  SELECT o_orderkey + 10000000 AS o_orderkey, 'I' AS o_orderstatus,
         1000.0 AS o_totalprice, '1-URGENT' AS o_orderpriority
  FROM base WHERE o_orderkey % 97 = 0
), del AS (
  SELECT o_orderkey FROM base
  WHERE o_orderkey % 13 = 0 AND o_orderkey % 10 <> 0
)
SELECT * FROM upd
UNION ALL
SELECT * FROM ins
UNION ALL
SELECT b.* FROM base b
WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM upd)
  AND b.o_orderkey NOT IN (SELECT o_orderkey FROM del)
"""


def scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    hist = scd2_history(
        stream,
        key_col="o_custkey",
        attr_cols=["o_orderpriority"],
        ts_col="o_orderdate",
        tiebreak_col="o_orderkey",
    )
    return hist.select(
        "o_custkey",
        "o_orderpriority",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "is_current",
    )


SCD2_SQL = """
WITH e AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
  FROM orders
), marked AS (
  SELECT *,
    CASE WHEN lag(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority
         THEN 1 ELSE 0 END AS ch
  FROM e
  WINDOW w AS (PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_orderkey ASC)
), runs AS (
  SELECT *,
    SUM(ch) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate ASC, o_orderkey ASC
                  ROWS UNBOUNDED PRECEDING) AS _run
  FROM marked
), grouped AS (
  SELECT o_custkey, _run, o_orderpriority,
         MIN(o_orderdate) AS valid_from_ts
  FROM runs GROUP BY 1, 2, 3
)
SELECT o_custkey, o_orderpriority,
       strftime(valid_from_ts, '%Y-%m-%d') AS valid_from,
       strftime(lead(valid_from_ts) OVER wk, '%Y-%m-%d') AS valid_to,
       lead(valid_from_ts) OVER wk IS NULL AS is_current
FROM grouped
WINDOW wk AS (PARTITION BY o_custkey ORDER BY _run ASC)
"""


def partitioned_prune_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    path = os.path.join(_WORKDIR, f"documents_by_lang_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = path + ".tmp"
        (
            _t(spark, sf_dir, "documents")
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(tmp)
        )
        os.replace(tmp, path)
    docs = spark.read.parquet(path).filter(F.col("lang") == "en")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
        )
        .orderBy("source")
    )


PARTITION_PRUNE_SQL = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE lang = 'en'
GROUP BY source
ORDER BY source
"""


def bucketed_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) join: both sides are bucketed on the join
    key at WRITE time, so the join itself runs with NO Exchange — the
    entry asserts that on its own plan (exactly one hash Exchange,
    belonging to the final status aggregate) and fails loudly if
    bucketing ever stops eliminating the join shuffle. At 100 TB this
    is the difference between re-shuffling the fact table on every
    join and shuffling it once at ingest."""
    from implementation_of_an_etl_process_spark.plans import explain_str
    from implementation_of_an_etl_process_spark.sources.sinks import (
        write_bucketed_table,
    )

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    bo, bl = f"b_orders_{tag}", f"b_lineitem_{tag}"

    def _clear_stale_location(table: str) -> None:
        # a fresh session has an empty in-memory catalog, but the
        # warehouse DIRECTORY survives from earlier sessions ->
        # LOCATION_ALREADY_EXISTS on saveAsTable; drop the orphan dir
        import shutil

        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        loc = os.path.join(wh.removeprefix("file:"), table.lower())
        if os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)

    if not spark.catalog.tableExists(bo):
        _clear_stale_location(bo)
        write_bucketed_table(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
            bo,
            ["o_orderkey"],
            n_buckets=8,
            sort_cols=["o_orderkey"],
        )
    if not spark.catalog.tableExists(bl):
        _clear_stale_location(bl)
        write_bucketed_table(
            _t(spark, sf_dir, "lineitem").select(
                "l_orderkey",
                F.round(F.col("l_extendedprice") * 100)
                .cast("long")
                .alias("cents"),
            ).withColumnRenamed("l_orderkey", "o_orderkey"),
            bl,
            ["o_orderkey"],
            n_buckets=8,
            sort_cols=["o_orderkey"],
        )
    # the merge hint keeps both bucketed sides un-broadcast without
    # touching the caller's autoBroadcastJoinThreshold
    out = (
        spark.table(bl)
        .join(spark.table(bo).hint("merge"), "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("o_orderstatus")
    )
    plan = explain_str(out)
    n_exchanges = plan.count("Exchange hashpartitioning")
    if n_exchanges > 1:
        raise RuntimeError(
            f"bucketed join regressed: {n_exchanges} exchanges in\n{plan}"
        )
    return out


BUCKETED_JOIN_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


QUERIES = {
    "bucketed_join_orders": bucketed_join_orders,
    "merge_upsert_orders": merge_upsert_orders,
    "scd2_customer_priority": scd2_customer_priority,
    "partitioned_prune_docs": partitioned_prune_docs,
}

ORACLES = {
    "bucketed_join_orders": BUCKETED_JOIN_SQL,
    "merge_upsert_orders": MERGE_SQL,
    "scd2_customer_priority": SCD2_SQL,
    "partitioned_prune_docs": PARTITION_PRUNE_SQL,
}
