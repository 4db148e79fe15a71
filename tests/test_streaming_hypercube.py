"""The flagship streaming test: the incrementally-maintained hypercube
must equal the batch reference_hypercube after the stream drains."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark.operators import reference_hypercube
from implementation_of_an_etl_process_spark.streaming.hypercube import (
    hypercube_from_lvl1,
    incremental_hypercube_sink,
    streaming_hypercube_lvl1,
)
from tests.test_hypercube_golden import read_sample


def test_incremental_hypercube_equals_batch(spark, ref_sample, tmp_path):
    clients, contracts, invoices = read_sample(spark, ref_sample)

    # stage the fact stream as 3 parquet files (3 micro-batch arrivals)
    src = tmp_path / "invoice_stream"
    for i in range(3):
        invoices.filter(F.col("id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    stream = (
        spark.readStream.schema(invoices.schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(str(src))
    )
    lvl1 = streaming_hypercube_lvl1(stream, contracts, clients)
    q = incremental_hypercube_sink(
        lvl1, str(tmp_path / "state"), str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(300)

    got = hypercube_from_lvl1(
        spark.read.parquet(str(tmp_path / "state"))
    ).toPandas()
    expected = reference_hypercube(clients, contracts, invoices).toPandas()

    assert len(got) == len(expected)
    for c in ["geo", "type", "misc", "nature", "time", "consumption",
              "nclients", "ncontracts", "ninvoices"]:
        assert (got[c].to_numpy() == expected[c].to_numpy()).all(), c
    import numpy as np

    assert np.allclose(got["amount"], expected["amount"], atol=0.011)


def test_empty_first_batch_does_not_poison_state(spark, ref_sample, tmp_path):
    """A 0-row first micro-batch must be a no-op: a partitionBy write of
    zero rows would leave a _SUCCESS-only directory that breaks schema
    inference for every later read of the state."""
    clients, contracts, invoices = read_sample(spark, ref_sample)

    src = tmp_path / "src"
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    # first source file: correct schema, zero rows
    invoices.limit(0).coalesce(1).write.mode("append").parquet(str(src))

    def drain() -> None:
        stream = spark.readStream.schema(invoices.schema).parquet(str(src))
        q = incremental_hypercube_sink(
            streaming_hypercube_lvl1(stream, contracts, clients), state, ckpt
        ).start()
        q.awaitTermination(300)

    drain()
    assert not os.path.exists(os.path.join(state, "_SUCCESS")), (
        "empty batch must not write a schema-less state dir"
    )
    invoices.limit(500).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    got = hypercube_from_lvl1(spark.read.parquet(state))
    assert got.count() > 0


def test_merge_replay_is_idempotent(spark, ref_sample, tmp_path):
    """Checkpoint-replay safety of the partitioned state merge: after a
    crash BETWEEN partition writes, Structured Streaming re-runs
    foreachBatch with the same batch. Update-mode level-1 rows are
    cumulative per key, so re-merging rows the state already holds must
    leave the state row-for-row identical and the derived cube
    unchanged — for a full-batch replay AND a partial one (only some of
    the batch's geo partitions committed before the crash). Content is
    compared row-exactly rather than byte-wise: intra-file row order
    after a hash shuffle is not deterministic, and idempotence is a
    row-level contract."""
    from implementation_of_an_etl_process_spark.streaming.hypercube import (
        merge_lvl1_batch,
    )

    clients, contracts, invoices = read_sample(spark, ref_sample)

    src = tmp_path / "src"
    state = str(tmp_path / "state")
    invoices.coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(invoices.schema).parquet(str(src))
    q = incremental_hypercube_sink(
        streaming_hypercube_lvl1(stream, contracts, clients),
        state,
        str(tmp_path / "ckpt"),
    ).start()
    q.awaitTermination(300)

    def state_rows():
        return sorted(
            tuple(r) for r in spark.read.parquet(state).collect()
        )

    before_rows = state_rows()
    before_cube = sorted(
        tuple(r)
        for r in hypercube_from_lvl1(spark.read.parquet(state)).collect()
    )

    # replay 1: the whole last batch (update mode re-emits the full
    # cumulative row set for every key the batch touched — a superset
    # replay of what is already on disk)
    geos = [r[0] for r in spark.read.parquet(state).select("geo")
            .distinct().limit(3).collect()]
    replay = spark.read.parquet(state).filter(F.col("geo").isin(geos))
    assert replay.count() > 0
    merge_lvl1_batch(replay, state)
    assert state_rows() == before_rows, "full replay changed the state"

    # replay 2: partial — only ONE geo's rows of that batch (the crash
    # committed one partition dir, replay re-applies everything)
    merge_lvl1_batch(
        spark.read.parquet(state).filter(F.col("geo") == geos[0]), state
    )
    assert state_rows() == before_rows, "partial replay changed the state"
    after_cube = sorted(
        tuple(r)
        for r in hypercube_from_lvl1(spark.read.parquet(state)).collect()
    )
    assert after_cube == before_cube, "replay changed the derived cube"


def _partition_snapshot(state_dir: str) -> dict[str, dict[str, tuple]]:
    """geo-partition -> {file: (size, mtime_ns)} for every data file."""
    snap: dict[str, dict[str, tuple]] = {}
    for d in os.listdir(state_dir):
        full = os.path.join(state_dir, d)
        if d.startswith("geo=") and os.path.isdir(full):
            snap[d] = {
                f: (
                    os.path.getsize(os.path.join(full, f)),
                    os.stat(os.path.join(full, f)).st_mtime_ns,
                )
                for f in os.listdir(full)
                if not f.startswith(("_", "."))
            }
    return snap


def test_incremental_state_rewrites_only_touched_partitions(spark, ref_sample, tmp_path):
    """The level-1 state is partitioned by geo and merged with dynamic
    partition overwrite: a micro-batch containing one geo's invoices
    must leave every OTHER geo partition's files untouched on disk
    (same names, sizes, mtimes) — the O(|state|)-per-batch full rewrite
    is the thing this design removed."""
    clients, contracts, invoices = read_sample(spark, ref_sample)

    # pick one geo; batch 2 will contain ONLY that geo's invoices
    one_geo = clients.select("geo").orderBy("geo").first()[0]
    geo_contracts = (
        contracts.join(
            clients.filter(F.col("geo") == one_geo).select(
                F.col("id").alias("cid")
            ),
            F.col("id_client") == F.col("cid"),
            "left_semi",
        ).select("id")
    )
    batch2 = invoices.join(
        geo_contracts, invoices.id_contract == geo_contracts.id, "left_semi"
    ).limit(200)
    assert batch2.count() > 0

    src = tmp_path / "src"
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def drain() -> None:
        stream = spark.readStream.schema(invoices.schema).parquet(str(src))
        q = incremental_hypercube_sink(
            streaming_hypercube_lvl1(stream, contracts, clients), state, ckpt
        ).start()
        q.awaitTermination(300)

    invoices.coalesce(1).write.mode("append").parquet(str(src))
    drain()
    before = _partition_snapshot(state)
    assert len(before) > 1, "need multiple geo partitions for this test"

    batch2.coalesce(1).write.mode("append").parquet(str(src))
    drain()
    after = _partition_snapshot(state)

    touched = f"geo={one_geo}"
    assert after[touched] != before[touched], "touched partition must change"
    for part in before:
        if part != touched:
            assert after[part] == before[part], (
                f"untouched partition {part} was rewritten"
            )
