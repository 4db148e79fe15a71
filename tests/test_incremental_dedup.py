"""Incremental (batch-vs-history) dedup: all three verdict tiers."""

from __future__ import annotations

from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark.operators.dedup import (
    incremental_dedup,
)

BASE = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lmb mu nu xi omicron pi rho sigma tau upsilon"
)


def test_verdict_tiers(spark):
    hist = spark.createDataFrame(
        [
            (0, BASE),
            (1, "totally different words one two three four five six"),
        ],
        ["doc_id", "text"],
    )
    near_text = BASE.rsplit(" ", 1)[0] + " CHANGED"  # last word swapped
    new = spark.createDataFrame(
        [
            (10, BASE),  # exact copy of doc 0
            (11, near_text),  # near-dup of doc 0 (J ~ 17/23 ... verify)
            (12, "completely novel content nine eight seven six five four"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup(hist, new, "doc_id", "text").collect()
    }
    assert got[10] == "exact"
    assert got[12] == "novel"
    # J for last-word swap on 20 words, k=3: 17 shared / (18+18-17)=19
    # -> 0.894 >= 0.8 -> near
    assert got[11] == "near"


def test_exact_beats_near(spark):
    """An exact dup is also an LSH candidate (J=1); verdict must still
    report 'exact'."""
    hist = spark.createDataFrame([(0, BASE)], ["doc_id", "text"])
    new = spark.createDataFrame([(5, BASE)], ["doc_id", "text"])
    out = incremental_dedup(hist, new, "doc_id", "text").collect()
    assert [(r["doc_id"], r["verdict"]) for r in out] == [(5, "exact")]


def test_indexed_path_matches_inline(spark, tmp_path):
    """Classifying against the persisted index must produce the same
    verdicts as the inline hist-vs-new path."""
    from implementation_of_an_etl_process_spark.operators.dedup import (
        incremental_dedup_indexed,
        write_dedup_index,
    )

    hist = spark.createDataFrame(
        [(0, BASE), (1, "some other words entirely here for doc one")],
        ["doc_id", "text"],
    )
    near_text = BASE.rsplit(" ", 1)[0] + " CHANGED"
    new = spark.createDataFrame(
        [(10, BASE), (11, near_text), (12, "novel content here")],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "idx")
    write_dedup_index(hist, idx, "doc_id", "text")
    inline = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup(hist, new, "doc_id", "text").collect()
    }
    indexed = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup_indexed(
            spark, idx, hist, new, "doc_id", "text"
        ).collect()
    }
    assert indexed == inline == {10: "exact", 11: "near", 12: "novel"}


def test_indexed_overlapping_ids_never_merge(spark, tmp_path):
    """Same id value in index and batch with different texts must not
    merge shingle sets in the indexed verify stage (mirror of the
    inline-path namespacing guarantee)."""
    from implementation_of_an_etl_process_spark.operators.dedup import (
        incremental_dedup_indexed,
        write_dedup_index,
    )

    hist = spark.createDataFrame([(7, BASE)], ["doc_id", "text"])
    new = spark.createDataFrame(
        [
            (7, "entirely unrelated payload with none of those words"),
            (8, BASE),
        ],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "idx")
    write_dedup_index(hist, idx, "doc_id", "text")
    got = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup_indexed(
            spark, idx, hist, new, "doc_id", "text"
        ).collect()
    }
    assert got == {7: "novel", 8: "exact"}


def test_index_refuses_append_without_meta(spark, tmp_path):
    """A crashed initial build (data without meta) must not be
    'repairable' by an append with arbitrary parameters."""
    import os

    import pytest

    from implementation_of_an_etl_process_spark.operators.dedup import (
        write_dedup_index,
    )

    hist = spark.createDataFrame([(0, BASE)], ["doc_id", "text"])
    idx = str(tmp_path / "idx")
    write_dedup_index(hist, idx, "doc_id", "text")
    os.remove(os.path.join(idx, "meta.json"))  # simulate the crash
    with pytest.raises(ValueError, match="meta.json"):
        write_dedup_index(hist, idx, "doc_id", "text", mode="append")


def test_index_append_and_param_guard(spark, tmp_path):
    """Appending a classified batch extends the index (steady-state
    ingest loop); mismatched parameters are refused."""
    import pytest

    from implementation_of_an_etl_process_spark.operators.dedup import (
        incremental_dedup_indexed,
        write_dedup_index,
    )

    hist = spark.createDataFrame([(0, BASE)], ["doc_id", "text"])
    batch1 = spark.createDataFrame(
        [(10, "batch one unique words alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "idx")
    write_dedup_index(hist, idx, "doc_id", "text")
    write_dedup_index(batch1, idx, "doc_id", "text", mode="append")
    # batch2 duplicates a BATCH-1 doc: only findable if the append took
    batch2 = spark.createDataFrame(
        [(20, "batch one unique words alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    full_hist = hist.unionByName(batch1)
    got = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup_indexed(
            spark, idx, full_hist, batch2, "doc_id", "text"
        ).collect()
    }
    assert got == {20: "exact"}
    with pytest.raises(ValueError, match="built with"):
        write_dedup_index(
            batch2, idx, "doc_id", "text", bands=4, mode="append"
        )


def test_no_history_all_novel(spark):
    hist = spark.createDataFrame(
        [], "doc_id long, text string"
    )
    new = spark.createDataFrame([(1, BASE)], ["doc_id", "text"])
    out = incremental_dedup(hist, new, "doc_id", "text").collect()
    assert [(r["doc_id"], r["verdict"]) for r in out] == [(1, "novel")]


def test_overlapping_id_values_never_merge(spark):
    """History and batch numbered independently from 0: a shared id
    value must not merge the two documents' shingle sets (ids are
    namespaced by side internally)."""
    hist = spark.createDataFrame([(0, BASE)], ["doc_id", "text"])
    new = spark.createDataFrame(
        [
            (0, "entirely unrelated payload with none of those words"),
            (1, BASE),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup(hist, new, "doc_id", "text").collect()
    }
    # new doc 0 shares an id with history doc 0 but no content -> novel;
    # new doc 1 is an exact copy of history doc 0 -> exact
    assert got == {0: "novel", 1: "exact"}


def test_batch_never_compared_to_itself(spark):
    """Two identical docs INSIDE the new batch are both novel when
    history has nothing like them (within-batch dedup is a separate
    concern, by design)."""
    hist = spark.createDataFrame([(0, "unrelated history text here")],
                                 ["doc_id", "text"])
    new = spark.createDataFrame([(1, BASE), (2, BASE)], ["doc_id", "text"])
    got = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup(hist, new, "doc_id", "text").collect()
    }
    assert got == {1: "novel", 2: "novel"}


def test_incremental_collapse_matches_uncollapsed(spark):
    """Batch-side exact-copy collapse is a pure plan change: verdicts
    per doc identical with the guard on and off."""
    hist = spark.createDataFrame([(1, BASE)], ["doc_id", "text"])
    rows = [(i, BASE) for i in range(10, 30)] + [
        (50, "completely novel content nine eight seven six five four")
    ]
    new = spark.createDataFrame(rows, ["doc_id", "text"])
    on = {
        r.doc_id: r.verdict
        for r in incremental_dedup(
            hist, new, "doc_id", "text", collapse_exact=True
        ).collect()
    }
    off = {
        r.doc_id: r.verdict
        for r in incremental_dedup(
            hist, new, "doc_id", "text", collapse_exact=False
        ).collect()
    }
    assert on == off
    assert all(on[i] == "exact" for i in range(10, 30))
    assert on[50] == "novel"


def test_torn_append_refused(spark, tmp_path):
    """A crash between the md5 and bands appends leaves the
    _pending_append marker; later appends and classification reads must
    refuse the index until it is rebuilt with overwrite."""
    import os

    import pytest

    from implementation_of_an_etl_process_spark.operators.dedup import (
        incremental_dedup_indexed,
        write_dedup_index,
    )

    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame([(1, BASE)], ["doc_id", "text"])
    write_dedup_index(docs, idx, "doc_id", "text")
    # simulate the torn state
    with open(os.path.join(idx, "_pending_append"), "w") as f:
        f.write("append in progress\n")
    with pytest.raises(ValueError, match="torn append"):
        write_dedup_index(docs, idx, "doc_id", "text", mode="append")
    with pytest.raises(ValueError, match="torn append"):
        incremental_dedup_indexed(spark, idx, docs, docs, "doc_id", "text")
    # overwrite repairs
    write_dedup_index(docs, idx, "doc_id", "text")
    assert not os.path.exists(os.path.join(idx, "_pending_append"))
    out = incremental_dedup_indexed(spark, idx, docs, docs, "doc_id", "text")
    assert [r.verdict for r in out.collect()] == ["exact"]


def test_rebuild_crash_is_loud(spark, tmp_path, monkeypatch):
    """A rebuild that fails after the md5 write holds the writer
    marker, so classification refuses the index instead of matching
    new fingerprints against the old banding rows; a clean rebuild
    repairs it."""
    import os

    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from implementation_of_an_etl_process_spark.operators.dedup import (
        incremental_dedup_indexed,
        write_dedup_index,
    )

    idx = str(tmp_path / "idx")
    old = spark.createDataFrame([(1, BASE)], ["doc_id", "text"])
    write_dedup_index(old, idx, "doc_id", "text")
    other = spark.createDataFrame(
        [(2, "one two three four five six seven eight nine ten")],
        ["doc_id", "text"],
    )

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the bands write")

    # the bands relation is the only partitioned write: md5 lands first
    monkeypatch.setattr(DataFrameWriter, "partitionBy", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        write_dedup_index(other, idx, "doc_id", "text")
    monkeypatch.undo()
    assert os.path.exists(os.path.join(idx, "_pending_append"))
    with pytest.raises(ValueError, match="torn append"):
        incremental_dedup_indexed(spark, idx, other, other, "doc_id", "text")
    write_dedup_index(other, idx, "doc_id", "text")  # repair
    out = incremental_dedup_indexed(spark, idx, other, other, "doc_id", "text")
    assert [r.verdict for r in out.collect()] == ["exact"]


def test_ingest_batch_matches_two_call_loop(spark, tmp_path):
    """The fused classify-and-append (:func:`ingest_batch`, one shared
    signature pass) must give the SAME verdicts per batch as the
    two-call classify-then-append loop, and leave a PROBE-EQUIVALENT
    index: a final batch classified against both indexes agrees."""
    from implementation_of_an_etl_process_spark.operators.dedup import (
        incremental_dedup_indexed,
        ingest_batch,
        write_dedup_index,
    )

    near_text = BASE.rsplit(" ", 1)[0] + " CHANGED"
    batches = [
        [(0, BASE), (1, "first batch other words entirely here")],
        # exact of b0, near of b0, novel, and an in-batch mirror pair
        [(10, BASE), (11, near_text), (12, "novel content here"),
         (13, "mirror copy payload"), (14, "mirror copy payload")],
        # exact of the b1 mirror pair + novel
        [(20, "mirror copy payload"), (21, "yet more novel words")],
    ]
    frames = [
        spark.createDataFrame(rows, ["doc_id", "text"]) for rows in batches
    ]

    idx_a = str(tmp_path / "idx_two_call")
    idx_b = str(tmp_path / "idx_fused")
    store: list = []
    write_dedup_index(frames[0], idx_a, "doc_id", "text")
    write_dedup_index(frames[0], idx_b, "doc_id", "text")
    store.append(frames[0])
    for batch in frames[1:]:
        hist = store[0]
        for extra in store[1:]:
            hist = hist.unionByName(extra)
        two_call = {
            r.doc_id: r.verdict
            for r in incremental_dedup_indexed(
                spark, idx_a, hist, batch, "doc_id", "text"
            ).collect()
        }
        write_dedup_index(batch, idx_a, "doc_id", "text", mode="append")
        fused = {
            r.doc_id: r.verdict
            for r in ingest_batch(
                spark, idx_b, hist, batch, "doc_id", "text"
            ).collect()
        }
        assert fused == two_call
        store.append(batch)
    # b1 verdicts specifically: exact/near/novel plus the mirror pair
    # both novel (within-batch copies are not history)
    # final probe: both index layouts classify a fresh batch identically
    hist = store[0].unionByName(store[1]).unionByName(store[2])
    probe = spark.createDataFrame(
        [(30, BASE), (31, "mirror copy payload"), (32, "never seen words")],
        ["doc_id", "text"],
    )
    via_a = {
        r.doc_id: r.verdict
        for r in incremental_dedup_indexed(
            spark, idx_a, hist, probe, "doc_id", "text"
        ).collect()
    }
    via_b = {
        r.doc_id: r.verdict
        for r in incremental_dedup_indexed(
            spark, idx_b, hist, probe, "doc_id", "text"
        ).collect()
    }
    assert via_a == via_b == {30: "exact", 31: "exact", 32: "novel"}


def test_ingest_batch_guards(spark, tmp_path):
    """ingest_batch refuses a torn index and an id_col mismatch, and a
    crash between its two appends leaves the marker behind."""
    import os

    import pytest

    from implementation_of_an_etl_process_spark.operators.dedup import (
        ingest_batch,
        write_dedup_index,
    )

    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame([(1, BASE)], ["doc_id", "text"])
    # never-built index: instructive rebuild message, not FileNotFoundError
    with pytest.raises(ValueError, match="no meta.json"):
        ingest_batch(
            spark, str(tmp_path / "nonexistent"), docs, docs, "doc_id", "text"
        )
    write_dedup_index(docs, idx, "doc_id", "text")
    with pytest.raises(ValueError, match="id_col"):
        ingest_batch(spark, idx, docs, docs, "other_id", "text")
    with open(os.path.join(idx, "_pending_append"), "w") as f:
        f.write("append in progress\n")
    with pytest.raises(ValueError, match="torn append"):
        ingest_batch(spark, idx, docs, docs, "doc_id", "text")


def test_ingest_batch_verdict_writer_runs_before_append(spark, tmp_path):
    """At-least-once replay safety: the verdict_writer hook must fire
    BEFORE the index append begins. Simulated crash: a writer that
    persists verdicts then raises — the sink must hold the verdicts,
    the index must NOT contain the batch (md5 row count unchanged), and
    a clean replay of the same batch must produce identical verdicts."""
    import os

    import pytest

    from implementation_of_an_etl_process_spark.operators.dedup import (
        ingest_batch,
        write_dedup_index,
    )

    idx = str(tmp_path / "idx")
    sink = str(tmp_path / "sink")
    b0 = spark.createDataFrame([(1, BASE)], ["doc_id", "text"])
    b1 = spark.createDataFrame(
        [(2, BASE), (3, "completely novel words")], ["doc_id", "text"]
    )
    write_dedup_index(b0, idx, "doc_id", "text")
    md5_before = spark.read.parquet(os.path.join(idx, "md5")).count()

    class Boom(Exception):
        pass

    def crash_after_sink(v):
        v.write.mode("append").parquet(sink)
        raise Boom()

    with pytest.raises(Boom):
        ingest_batch(
            spark, idx, b0, b1, "doc_id", "text",
            verdict_writer=crash_after_sink,
        )
    persisted = {
        r.doc_id: r.verdict for r in spark.read.parquet(sink).collect()
    }
    assert persisted == {2: "exact", 3: "novel"}
    # the crash happened before the append took the writer marker
    # (indexdir.writer): no marker, no rows
    assert not os.path.exists(os.path.join(idx, "_pending_append"))
    assert (
        spark.read.parquet(os.path.join(idx, "md5")).count() == md5_before
    )
    # replay (foreachBatch re-delivery): same verdicts, sink just gains
    # duplicate identical rows — never flipped-to-'exact' verdicts
    replay = {
        r.doc_id: r.verdict
        for r in ingest_batch(
            spark, idx, b0, b1, "doc_id", "text",
            verdict_writer=lambda v: v.write.mode("append").parquet(sink),
        ).collect()
    }
    assert replay == persisted
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 4
    assert {(r.doc_id, r.verdict) for r in rows} == {
        (2, "exact"), (3, "novel"),
    }


def test_verdict_sink_read_dedups_replayed_rows(spark, tmp_path):
    """VERDICT r6 item 6 — the consumer side of at-least-once: a
    foreachBatch replay appends duplicate-but-identical verdict rows
    to the sink (the writer-hook ordering guarantees identity; see the
    kill-test above).  read_verdict_sink must collapse them by id so
    downstream sees exactly-once semantics."""
    import os

    from implementation_of_an_etl_process_spark.operators.dedup import (
        ingest_batch,
        write_dedup_index,
    )
    from implementation_of_an_etl_process_spark.queries.streamingops import (
        read_verdict_sink,
    )

    idx = str(tmp_path / "idx")
    sink = str(tmp_path / "sink")
    b0 = spark.createDataFrame([(1, BASE)], ["doc_id", "text"])
    b1 = spark.createDataFrame(
        [(2, BASE), (3, "completely novel words")], ["doc_id", "text"]
    )
    write_dedup_index(b0, idx, "doc_id", "text")
    writer = lambda v: v.write.mode("append").parquet(sink)  # noqa: E731
    ingest_batch(spark, idx, b0, b1, "doc_id", "text", verdict_writer=writer)
    # simulate re-delivery of the SAME micro-batch: per the replay
    # contract the index append is already durable, so only the sink
    # write repeats — duplicate identical rows land
    writer(
        spark.createDataFrame(
            [(2, "exact"), (3, "novel")], ["doc_id", "verdict"]
        )
    )
    assert spark.read.parquet(sink).count() == 4  # raw sink: duplicated
    got = read_verdict_sink(spark, sink).collect()
    assert [(r.doc_id, r.verdict) for r in got] == [
        (2, "exact"), (3, "novel"),
    ]


def test_index_merge_on_read_deletes(spark, tmp_path):
    """delete_from_dedup_index: tombstoned history docs stop matching
    BOTH tiers immediately (verdicts equal an index rebuilt without
    them), re-deletes and unknown ids no-op, compaction drops the rows
    physically and clears tombstones, and overwrite rebuilds clear
    stale tombstones."""
    import os

    from implementation_of_an_etl_process_spark.operators.dedup import (
        compact_dedup_index,
        delete_from_dedup_index,
        incremental_dedup_indexed,
        write_dedup_index,
    )

    hist = spark.createDataFrame(
        [
            (0, BASE),
            (1, "totally different words one two three four five six"),
        ],
        ["doc_id", "text"],
    )
    near_text = BASE.rsplit(" ", 1)[0] + " CHANGED"
    new = spark.createDataFrame(
        [
            (10, BASE),        # exact copy of doc 0
            (11, near_text),   # near-dup of doc 0
            (12, "completely novel content nine eight seven six five"),
        ],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "idx")
    write_dedup_index(hist, idx, "doc_id", "text")

    def verdicts():
        return {
            r["doc_id"]: r["verdict"]
            for r in incremental_dedup_indexed(
                spark, idx, hist, new, "doc_id", "text"
            ).collect()
        }

    before = verdicts()
    assert before[10] == "exact" and before[11] == "near"
    # take down doc 0: its copies/near-dups must now classify as novel
    stats = delete_from_dedup_index(spark, idx, [0])
    assert stats["deleted"] == 1
    after = verdicts()
    assert after == {10: "novel", 11: "novel", 12: "novel"}
    # equals an index that never held doc 0
    ref = str(tmp_path / "ref")
    write_dedup_index(hist.filter(F.col("doc_id") != 0), ref, "doc_id", "text")
    ref_v = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup_indexed(
            spark, ref, hist, new, "doc_id", "text"
        ).collect()
    }
    assert after == ref_v
    # no-ops
    assert delete_from_dedup_index(spark, idx, [0, 999])["deleted"] == 0
    # compaction applies physically and clears tombstones
    compact_dedup_index(spark, idx)
    assert not os.path.exists(os.path.join(idx, "_deletes"))
    assert (
        spark.read.parquet(os.path.join(idx, "md5"))
        .filter(F.col("doc_id") == 0)
        .count()
        == 0
    )
    assert verdicts() == after
    # rebuild clears stale tombstones: doc 0's evidence returns
    write_dedup_index(hist, idx, "doc_id", "text")
    assert not os.path.exists(os.path.join(idx, "_deletes"))
    assert verdicts() == before
