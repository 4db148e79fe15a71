"""Properties of operators/etl.py beyond the sf0.01 oracle battery."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark.operators.etl import (
    merge_upsert,
    scd2_history,
)
from tests.conftest import SF_ORACLE


def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, status string, amt double",
    )


def test_merge_update_insert_delete(spark):
    base = _base(spark)
    delta = spark.createDataFrame(
        [
            (2, "B", 21.0, False),  # update
            (4, "d", 40.0, False),  # insert
            (3, "c", 30.0, True),  # delete
        ],
        "id long, status string, amt double, _del boolean",
    )
    out = {
        r["id"]: r
        for r in merge_upsert(base, delta, ["id"], delete_col="_del").collect()
    }
    assert set(out) == {1, 2, 4}
    assert out[1]["status"] == "a"  # untouched
    assert (out[2]["status"], out[2]["amt"]) == ("B", 21.0)  # updated
    assert out[4]["status"] == "d"  # inserted


def test_merge_update_can_null_a_payload_column(spark):
    base = _base(spark)
    delta = spark.createDataFrame(
        [(1, None, 11.0)], "id long, status string, amt double"
    )
    row = {
        r["id"]: r for r in merge_upsert(base, delta, ["id"]).collect()
    }[1]
    # whole-row update semantics: the NULL is the new value, not "keep old"
    assert row["status"] is None and row["amt"] == 11.0


def test_merge_duplicate_delta_keys_raise(spark):
    base = _base(spark)
    delta = spark.createDataFrame(
        [(2, "x", 1.0), (2, "y", 2.0)], "id long, status string, amt double"
    )
    with pytest.raises(Exception, match="duplicate keys"):
        merge_upsert(base, delta, ["id"]).collect()


def test_merge_schema_mismatch_rejected(spark):
    base = _base(spark)
    delta = base.withColumnRenamed("amt", "amount")
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert(base, delta, ["id"])


def test_scd2_collapses_runs_and_orders_intervals(spark):
    rows = [
        (1, "p1", "2020-01-01", 1),
        (1, "p1", "2020-02-01", 2),  # same attr -> same interval
        (1, "p2", "2020-03-01", 3),  # change
        (1, "p1", "2020-04-01", 4),  # change back -> NEW interval
        (2, None, "2020-01-01", 5),
        (2, None, "2020-02-01", 6),  # NULL == NULL -> no change
    ]
    df = spark.createDataFrame(
        rows, "k long, p string, ts string, tb long"
    ).withColumn("ts", F.to_timestamp("ts"))
    hist = scd2_history(
        df, key_col="k", attr_cols=["p"], ts_col="ts", tiebreak_col="tb"
    ).collect()
    k1 = sorted(
        [r for r in hist if r["k"] == 1], key=lambda r: r["valid_from"]
    )
    assert [r["p"] for r in k1] == ["p1", "p2", "p1"]
    # intervals tile: each valid_to equals the next valid_from
    assert k1[0]["valid_to"] == k1[1]["valid_from"]
    assert k1[1]["valid_to"] == k1[2]["valid_from"]
    assert k1[2]["valid_to"] is None and k1[2]["is_current"]
    k2 = [r for r in hist if r["k"] == 2]
    assert len(k2) == 1 and k2[0]["is_current"]  # NULL run collapsed


def test_partitioned_read_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "fr", i * 10) for i in range(20)],
        "id long, lang string, n long",
    )
    path = str(tmp_path / "by_lang")
    df.write.partitionBy("lang").parquet(path)
    plan = (
        spark.read.parquet(path)
        .filter(F.col("lang") == "en")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(lang" in plan


def test_bucketed_join_leaves_session_conf_alone(spark, monkeypatch):
    from pyspark.sql.conf import RuntimeConfig

    from implementation_of_an_etl_process_spark.queries.etlops import (
        bucketed_join_orders,
    )

    calls = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        calls.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    df = bucketed_join_orders(spark, SF_ORACLE)
    assert df.collect()
    assert "spark.sql.autoBroadcastJoinThreshold" not in calls, calls
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan, plan
