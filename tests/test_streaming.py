"""Structured Streaming tests: file source + availableNow triggers,
results cross-checked against the equivalent batch computation."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark import streaming as S
from implementation_of_an_etl_process_spark.queries.relational import (
    normalize_event_ts,
)
from implementation_of_an_etl_process_spark.sources import indexdir
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """events split into two parquet files in a streaming source dir —
    ts re-encoded to micros (streaming schema declares TimestampType)."""
    d = tmp_path_factory.mktemp("events_stream")
    ev = normalize_event_ts(spark.read.parquet(f"{SF_SMOKE}/events.parquet"))
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(d / "a"))
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(d / "b"))
    src = d / "src"
    src.mkdir()
    i = 0
    for sub in ["a", "b"]:
        for f in os.listdir(d / sub):
            if f.endswith(".parquet"):
                shutil.copy(d / sub / f, src / f"{i}.parquet")
                i += 1
    return str(src)


def _run_to_memory(spark, stream_df, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _batch_events(spark):
    return normalize_event_ts(spark.read.parquet(f"{SF_SMOKE}/events.parquet"))


def test_tumbling_counts_match_batch(spark, events_dir):
    stream = S.read_events_stream(spark, events_dir)
    got = _run_to_memory(
        spark, S.tumbling_counts(stream), "t_tumbling", "complete"
    )
    expected = (
        _batch_events(spark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert got.count() == expected.count()
    assert got.agg(F.sum("n_events")).first()[0] == 1000


def test_session_windows_stream(spark, events_dir):
    stream = S.read_events_stream(spark, events_dir)
    got = _run_to_memory(
        spark, S.session_windows(stream, gap="30 minutes"), "t_sessions", "complete"
    )
    # one row per (user, session); total events preserved
    assert got.agg(F.sum("n_events")).first()[0] == 1000
    assert got.filter(F.col("session_end") <= F.col("session_start")).count() == 0


def test_dedupe_stream_drops_duplicate_ids(spark, events_dir, tmp_path):
    # duplicate every event by copying the source files
    dup_dir = tmp_path / "dup"
    dup_dir.mkdir()
    for i, f in enumerate(sorted(os.listdir(events_dir))):
        shutil.copy(os.path.join(events_dir, f), dup_dir / f"{i}.parquet")
        shutil.copy(os.path.join(events_dir, f), dup_dir / f"dup_{i}.parquet")
    stream = S.read_events_stream(spark, str(dup_dir))
    got = _run_to_memory(
        spark, S.dedupe_stream(stream), "t_dedupe", "append"
    )
    assert got.count() == 1000  # 2000 rows in, exact-once out


def test_running_user_totals_stateful(spark, events_dir):
    stream = S.read_events_stream(spark, events_dir)
    got = _run_to_memory(
        spark, S.running_user_totals(stream), "t_state", "update"
    )
    # last update per user must equal the batch totals
    latest = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    expected = _batch_events(spark).groupBy("user_id").count()
    joined = latest.join(expected, "user_id")
    assert joined.filter(F.col("n_events") != F.col("count")).count() == 0
    assert latest.agg(F.sum("n_events")).first()[0] == 1000


def test_attribution_join_matches_batch(spark, events_dir):
    """Stream-stream interval join == the equivalent batch range join
    (availableNow processes everything, so no rows are watermark-late)."""
    stream = S.read_events_stream(spark, events_dir)
    views = stream.filter(F.col("event_type") == "view")
    purchases = stream.filter(F.col("event_type") == "purchase")
    got = _run_to_memory(
        spark,
        S.attribution_join(views, purchases),
        "t_attrib",
        "append",
    )
    ev = _batch_events(spark)
    bv = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    expected = bv.join(
        bp,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour")),
    ).select("purchase_id", "view_id")
    assert got.count() == expected.count() > 0
    assert (
        got.select("purchase_id", "view_id").subtract(expected).count() == 0
    )


def test_incremental_cube_sink(spark, events_dir, tmp_path):
    state = str(tmp_path / "cube_state")
    ckpt = str(tmp_path / "ckpt")
    stream = S.read_events_stream(spark, events_dir, max_files_per_trigger=1)
    cube = S.tumbling_counts(stream)
    q = S.incremental_cube_sink(
        cube,
        state,
        ckpt,
        dims=["window_start", "event_type"],
        measure_sums=["n_events", "total_value"],
    ).start()
    q.awaitTermination(180)
    final = spark.read.parquet(state)
    batch = (
        _batch_events(spark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert final.agg(F.sum("n_events")).first()[0] == 1000
    assert final.count() == batch.count()


def test_cube_state_swap_rolls_back(spark, tmp_path, monkeypatch):
    """A failed swap of the cube state rolls the first rename back: the
    earlier state stays in place, so the replayed batch merges into it
    and no earlier key is lost."""
    from implementation_of_an_etl_process_spark.streaming.events import (
        merge_cube_batch,
    )

    state = str(tmp_path / "cube_state")
    kw = dict(dims=["k"], measure_sums=["n"])
    schema = "k string, n long"
    merge_cube_batch(
        spark.createDataFrame([("a", 1), ("b", 2)], schema), state, **kw
    )
    batch2 = spark.createDataFrame([("b", 5), ("c", 3)], schema)
    real_rename = os.rename
    failed = []

    def flaky(src, dst):
        if os.path.abspath(dst) == os.path.abspath(state) and not failed:
            failed.append(1)
            raise OSError("simulated torn swap")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", flaky)
    with pytest.raises(OSError, match="simulated torn swap"):
        merge_cube_batch(batch2, state, **kw)
    monkeypatch.undo()
    merge_cube_batch(batch2, state, **kw)  # checkpoint replay
    got = sorted(tuple(r) for r in spark.read.parquet(state).collect())
    assert got == [("a", 1), ("b", 5), ("c", 3)]


def test_running_user_totals_v2_matches_batch_or_skips(spark, events_dir):
    """State-v2 API (transformWithStateInPandas). Skips where the
    protobuf package (the state-v2 worker protocol) is missing."""
    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql import Window as W

    stream = S.read_events_stream(spark, events_dir)
    got = _run_to_memory(
        spark, S.running_user_totals_v2(stream), "t_totals_v2", "update"
    )
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        got.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events")
    )
    expected = _batch_events(spark).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    assert {tuple(r) for r in final.collect()} == {
        tuple(r) for r in expected.collect()
    }


def test_ivfpq_ingest_sink_stream_equals_oneshot(spark, tmp_path):
    """Streaming ANN ingest: a file stream of embedding batches drains
    into the persisted IVF-PQ index via frozen-model appends; queries
    over the streamed index must equal the one-shot encode
    ROW-IDENTICALLY. Also pins the exactly-once ledger: a re-delivered
    batch_id is a no-op (no duplicate index rows -> no duplicate cids
    in top-k)."""
    from implementation_of_an_etl_process_spark.operators import (
        similarity as sim,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = sim.train_ivf_centroids(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        n_cells=16, n_train=4096,
    )
    books = sim.train_pq_codebooks_distributed(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        m=16, n_codes=64, dim=64, centroids=cents,
    )
    idx = str(tmp_path / "idx")
    base = emb.filter(F.col("vec_id") < 200)
    sim.write_ivfpq_index(
        base, idx, books, cents, corpus_id="vec_id", corpus_vec="embedding"
    )
    # two stream files of later vectors
    src = tmp_path / "src"
    src.mkdir()
    emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 350)).coalesce(
        1
    ).write.parquet(str(src / "_stage_a"))
    emb.filter(F.col("vec_id") >= 350).coalesce(1).write.parquet(
        str(src / "_stage_b")
    )
    i = 0
    for sub in ["_stage_a", "_stage_b"]:
        for f in os.listdir(src / sub):
            if f.endswith(".parquet"):
                shutil.copy(src / sub / f, src / f"{i}.parquet")
                i += 1
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = S.ivfpq_ingest_sink(
        stream, idx, str(tmp_path / "ckpt"), corpus_vec="embedding"
    ).start()
    q.awaitTermination(120)

    index, books2, cents2, _ = sim.read_ivfpq_index(spark, idx)
    assert index.count() == emb.count()
    kw = dict(
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding",
        k=5, n_probe=12, shortlist=50,
    )
    qdf = emb.filter(F.col("vec_id") < 10)
    got = {
        tuple(r)
        for r in sim.ivfpq_query_index(spark, idx, qdf, emb, **kw).collect()
    }
    oneshot = sim.encode_ivfpq(
        emb, books, cents, corpus_id="vec_id", corpus_vec="embedding"
    )
    want = {
        tuple(r)
        for r in sim.ivfpq_topk(qdf, emb, oneshot, books, cents, **kw).collect()
    }
    assert got == want

    # exactly-once: re-delivering an already-committed batch_id no-ops
    n_before = spark.read.parquet(os.path.join(idx, "codes")).count()
    sim.append_ivfpq_index(
        emb.filter(F.col("vec_id") >= 350), idx,
        corpus_vec="embedding", batch_id=1,
    )
    assert spark.read.parquet(os.path.join(idx, "codes")).count() == n_before
    # ... while a NEW batch_id appends
    sim.append_ivfpq_index(
        emb.filter(F.col("vec_id") < 10), idx,
        corpus_vec="embedding", batch_id=99,
    )
    assert (
        spark.read.parquet(os.path.join(idx, "codes")).count()
        == n_before + 10
    )


def test_text_index_ingest_sink_stream_equals_oneshot(spark, tmp_path):
    """Streaming retrieval-index ingest: a file stream of document
    batches drains into the persisted BM25 index; queries over the
    streamed index must equal a one-shot index of the full corpus
    ROW-IDENTICALLY (df/idf are append-fresh; N/avgdl accumulate
    exactly), and the ledger makes re-delivered batches no-ops."""
    import json

    from implementation_of_an_etl_process_spark.operators import (
        textindex as TI,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "idx")
    base = docs.filter(F.col("doc_id") < 200)
    TI.write_text_index(base, idx, n_buckets=16)
    src = tmp_path / "src"
    src.mkdir()
    docs.filter(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 700)
    ).coalesce(1).write.parquet(str(src / "_stage_a"))
    docs.filter(F.col("doc_id") >= 700).coalesce(1).write.parquet(
        str(src / "_stage_b")
    )
    i = 0
    for sub in ["_stage_a", "_stage_b"]:
        for f in os.listdir(src / sub):
            if f.endswith(".parquet"):
                shutil.copy(src / sub / f, src / f"{i}.parquet")
                i += 1
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = S.text_index_ingest_sink(stream, idx, str(tmp_path / "ckpt")).start()
    q.awaitTermination(120)

    with open(os.path.join(idx, "_batches.json")) as f:
        assert sorted(json.load(f)) == [0, 1]  # both micro-batches landed
    assert indexdir.load_meta(idx)["n_docs"] == docs.count()
    oneshot = str(tmp_path / "one")
    TI.write_text_index(docs, oneshot, n_buckets=16)
    terms = ["data", "model", "learning"]
    got = [
        tuple(r)
        for r in TI.bm25_query_index(spark, idx, terms, k=15).collect()
    ]
    want = [
        tuple(r)
        for r in TI.bm25_query_index(spark, oneshot, terms, k=15).collect()
    ]
    assert got == want


def test_text_index_ingest_preserves_positional_tier(spark, tmp_path):
    """Streaming ingest into a POSITIONAL index: append_text_index
    follows the meta's positions flag, so the streamed index must
    answer phrase queries identically to a one-shot positional index
    of the full corpus — the positions relation grows batch-by-batch
    with the postings."""
    from implementation_of_an_etl_process_spark.operators import (
        textindex as TI,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "idx")
    TI.write_text_index(
        docs.filter(F.col("doc_id") < 200), idx,
        n_buckets=16, store_positions=True,
    )
    src = tmp_path / "src"
    src.mkdir()
    docs.filter(F.col("doc_id") >= 200).coalesce(1).write.parquet(
        str(src / "_stage")
    )
    i = 0
    for f in os.listdir(src / "_stage"):
        if f.endswith(".parquet"):
            shutil.copy(src / "_stage" / f, src / f"{i}.parquet")
            i += 1
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = S.text_index_ingest_sink(stream, idx, str(tmp_path / "ckpt")).start()
    q.awaitTermination(120)
    oneshot = str(tmp_path / "one")
    TI.write_text_index(docs, oneshot, n_buckets=16, store_positions=True)
    toks = [t for t in docs.limit(1).collect()[0].text.lower().split() if t]
    phrase = f"{toks[0]} {toks[1]}"
    got = [
        tuple(r)
        for r in TI.phrase_query_index(spark, idx, phrase, k=50).collect()
    ]
    want = [
        tuple(r)
        for r in TI.phrase_query_index(
            spark, oneshot, phrase, k=50
        ).collect()
    ]
    assert got == want and got
