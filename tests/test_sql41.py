"""Properties of the modern-SQL battery entries (queries/sql41.py)
beyond the sf0.01 oracle gate — semantic invariants at smoke scale."""

from __future__ import annotations

from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark.queries import sql41
from tests.conftest import SF_SMOKE


def test_recursive_months_spine_is_contiguous_and_complete(spark):
    out = sql41.recursive_cte_months(spark, SF_SMOKE).collect()
    months = [r["month"] for r in out]
    assert months == sorted(months)
    # contiguous: every consecutive pair differs by exactly one month
    def nxt(m):
        y, mo = int(m[:4]), int(m[5:])
        return f"{y + mo // 12}-{(mo % 12) + 1:02d}"

    for a, b in zip(months, months[1:]):
        assert nxt(a) == b, (a, b)
    # every order lands in some month of the spine
    n_orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").count()
    assert sum(r["n_orders"] for r in out) == n_orders


def test_lateral_topk_matches_window_rank(spark):
    out = sql41.lateral_topk_nation(spark, SF_SMOKE)
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    nat = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    from pyspark.sql import Window as W

    w = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    expected = (
        cust.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .join(nat, cust.c_nationkey == nat.n_nationkey)
        .select("n_name", "c_custkey", "c_acctbal")
    )
    got = {tuple(r) for r in out.collect()}
    exp = {tuple(r) for r in expected.collect()}
    assert got == exp


def test_variant_roundtrip_is_identity(spark):
    out = sql41.variant_order_json(spark, SF_SMOKE)
    src = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .filter(F.col("o_orderkey") <= 500)
        .select(
            "o_orderkey",
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("total"),
        )
    )
    assert out.count() == src.count()
    mism = (
        out.alias("a")
        .join(src.alias("b"), "o_orderkey")
        .filter(
            (F.col("a.status") != F.col("b.status"))
            | (F.col("a.total") != F.col("b.total"))
            | F.col("a.missing").isNotNull()
        )
        .count()
    )
    assert mism == 0


def test_udtf_words_match_python_split(spark):
    out = (
        sql41.udtf_word_positions(spark, SF_SMOKE)
        .filter(F.col("doc_id") == 0)
        .orderBy("pos")
        .collect()
    )
    text = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter(F.col("doc_id") == 0)
        .first()["text"]
    )
    assert [(r["word"], r["pos"]) for r in out] == [
        (w, i) for i, w in enumerate(text.split())
    ]


def test_sql_udf_bands_partition_orders(spark):
    out = sql41.sql_udf_price_band(spark, SF_SMOKE).collect()
    assert {r["band"] for r in out} <= {"low", "mid", "high"}
    n_orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").count()
    assert sum(r["n"] for r in out) == n_orders


def test_battery_oracle_key_consistency():
    """Driver-contract invariants that don't need Spark: every oracle
    key has a query, names are unique across modules, and no entry is
    rows-only (every query has a value oracle since round 4)."""
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    # since round 4 every entry is oracle-checked (the HLL estimate got
    # a bounded-relative-error value oracle; nothing is rows-only)
    assert set(qs) - set(osql) == set()
    from implementation_of_an_etl_process_spark.queries import _MODULES

    seen = {}
    for m in _MODULES:
        for k in m.QUERIES:
            assert k not in seen, f"{k} defined in {seen[k]} and {m.__name__}"
            seen[k] = m.__name__
        assert set(m.ORACLES) <= set(m.QUERIES), m.__name__


def test_battery_iterates_in_registration_order():
    """queries() and oracle_sql() follow _MODULES order and read no
    file, so every checkout yields the same battery."""
    import __spark_entry__ as e
    from implementation_of_an_etl_process_spark.queries import _MODULES

    registered = [k for m in _MODULES for k in m.QUERIES]
    assert list(e.queries()) == registered
    assert list(e.oracle_sql()) == registered
    assert len(registered) == 206
