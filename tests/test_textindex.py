"""Persisted full-text (BM25) index lifecycle (operators/textindex.py):
query parity with the inline scorer, incremental equivalence, ledger
idempotence, crash-safety guards, compaction, and partition pruning."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark.operators import textindex as TI
from implementation_of_an_etl_process_spark.operators import tfidf as TF
from implementation_of_an_etl_process_spark.sources import indexdir
from tests.conftest import SF_SMOKE

TERMS = ["data", "model", "the", "learning"]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )


def _topk(spark, path, k=20):
    return [
        tuple(r)
        for r in TI.bm25_query_index(spark, path, TERMS, k=k).collect()
    ]


def test_index_query_identical_to_inline_scorer(spark, docs, tmp_path):
    """The persisted-index path and the inline bm25_topk share one
    integer-exact formula and one tokenizer — results must be
    ROW-IDENTICAL, including a query term that matches nothing and a
    single-term query."""
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=16)
    got = _topk(spark, path)
    want = [
        tuple(r)
        for r in TF.bm25_topk(docs, TERMS, k=20, persist_tf=False).collect()
    ]
    assert got == want
    mixed = ["data", "zz-not-a-term-zz"]
    got2 = [
        tuple(r)
        for r in TI.bm25_query_index(spark, path, mixed, k=10).collect()
    ]
    want2 = [
        tuple(r)
        for r in TF.bm25_topk(docs, mixed, k=10, persist_tf=False).collect()
    ]
    assert got2 == want2


def test_incremental_equals_oneshot_and_retry_noops(spark, docs, tmp_path):
    """base + append == one-shot (df/idf are append-fresh from the
    postings; N/avgdl accumulate exactly in meta); a re-delivered
    batch_id is a no-op that releases the marker."""
    path = str(tmp_path / "idx")
    third = F.pmod(F.col("doc_id"), F.lit(3))
    TI.write_text_index(docs.filter(third != 0), path, n_buckets=16)
    batch = docs.filter(third == 0)
    TI.append_text_index(batch, path, batch_id=7)
    postings = os.path.join(path, "postings")
    n = spark.read.parquet(postings).count()
    TI.append_text_index(batch, path, batch_id=7)  # retry
    assert spark.read.parquet(postings).count() == n
    assert not os.path.exists(os.path.join(path, "_pending_append"))
    oneshot = str(tmp_path / "idx1")
    TI.write_text_index(docs, oneshot, n_buckets=16)
    assert _topk(spark, path) == _topk(spark, oneshot)
    meta = indexdir.load_meta(path)
    assert meta["n_docs"] == docs.count()


def test_lifecycle_guards(spark, docs, tmp_path):
    """Marker blocks queries and appends; never-built refuses;
    parameter mismatch refuses; overwrite repairs torn state and
    resets the ledger (a committed batch id appends again)."""
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=16)
    TI.append_text_index(docs.limit(0), path, batch_id=3)
    marker = tmp_path / "idx" / "_pending_append"
    marker.write_text("stale\n")
    with pytest.raises(ValueError, match="marker present"):
        TI.bm25_query_index(spark, path, TERMS)
    with pytest.raises(ValueError, match="marker present"):
        TI.append_text_index(docs.limit(1), path)
    with pytest.raises(ValueError, match="no meta.json"):
        TI.bm25_query_index(spark, str(tmp_path / "nope"), TERMS)
    # repair: overwrite clears marker + ledger
    TI.write_text_index(docs, path, n_buckets=16)
    assert not marker.exists()
    assert not os.path.exists(os.path.join(path, "_batches.json"))
    n = spark.read.parquet(os.path.join(path, "postings")).count()
    TI.append_text_index(docs.limit(5), path, batch_id=3)
    assert spark.read.parquet(os.path.join(path, "postings")).count() > n
    with pytest.raises(ValueError, match="n_buckets"):
        TI.write_text_index(docs, path, n_buckets=8, mode="append")
    with pytest.raises(ValueError, match="non-empty"):
        TI.bm25_query_index(spark, path, [])


def test_rebuild_crash_is_loud(spark, docs, tmp_path, monkeypatch):
    """A crash mid-rebuild leaves the marker held, so reads refuse
    instead of scoring a torn meta/postings pair (the round-11
    crash-safety rule, shared with the ANN index)."""
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=16)

    def boom(*a, **k):
        raise RuntimeError("simulated crash mid-rebuild")

    monkeypatch.setattr(TI, "_postings", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        TI.write_text_index(docs, path, n_buckets=16)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(path, "_pending_append"))
    with pytest.raises(ValueError, match="marker present"):
        TI.bm25_query_index(spark, path, TERMS)
    TI.write_text_index(docs, path, n_buckets=16)  # repair
    assert _topk(spark, path)


def test_compaction_and_torn_swap_rollback(spark, docs, tmp_path, monkeypatch):
    """Appends fragment bucket partitions; compaction restores ~one
    file per bucket with identical results, and a failed second rename
    rolls the first back (marker released only with postings intact)."""
    path = str(tmp_path / "idx")
    fifth = F.pmod(F.col("doc_id"), F.lit(5))
    TI.write_text_index(docs.filter(fifth == 0), path, n_buckets=8)
    for i in range(1, 5):
        TI.append_text_index(docs.filter(fifth == i), path, batch_id=i)
    before = _topk(spark, path)
    postings = os.path.join(path, "postings")
    real_rename = os.rename
    state = {"failed": False}

    def flaky(src, dst):
        if os.path.abspath(dst) == os.path.abspath(postings) and not state[
            "failed"
        ]:
            state["failed"] = True
            raise OSError("simulated torn swap")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", flaky)
    with pytest.raises(OSError, match="simulated torn swap"):
        TI.compact_text_index(spark, path)
    monkeypatch.undo()
    assert os.path.isdir(postings)
    assert not os.path.exists(os.path.join(path, "_pending_append"))
    assert _topk(spark, path) == before
    stats = TI.compact_text_index(spark, path)
    assert stats["files_after"] < stats["files_before"]
    assert _topk(spark, path) == before


def test_query_scan_prunes_to_term_buckets(spark, docs, tmp_path):
    """The query's bucket filter must reach the scan as a
    PartitionFilter — directory pruning, so a query touches
    |query-term buckets| / n_buckets of the index regardless of
    corpus size."""
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=16)
    plan = (
        TI.bm25_query_index(spark, path, ["data"], k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    m = re.search(r"PartitionFilters: \[([^\]]+)\]", plan)
    assert m and "bucket" in m.group(1), plan[:2000]


def test_merge_on_read_deletes_exact_and_compaction_applies(
    spark, docs, tmp_path
):
    """delete_from_text_index: queries after a tombstone append are
    IDENTICAL to an index rebuilt without the deleted docs (df from
    anti-joined postings, N/avgdl adjusted exactly in meta); repeated
    and unknown ids are no-ops; compaction drops the rows physically,
    clears the tombstones, and leaves results unchanged."""
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=16)
    victims = [r.doc_id for r in docs.filter(
        F.pmod(F.col("doc_id"), F.lit(7)) == 0
    ).select("doc_id").collect()]
    stats = TI.delete_from_text_index(spark, path, victims)
    assert stats["deleted_docs"] == len(victims)
    # rebuilt-without reference
    ref = str(tmp_path / "ref")
    TI.write_text_index(
        docs.filter(F.pmod(F.col("doc_id"), F.lit(7)) != 0),
        ref,
        n_buckets=16,
    )
    assert indexdir.load_meta(path)["n_docs"] == indexdir.load_meta(ref)["n_docs"]
    assert indexdir.load_meta(path)["total_len"] == indexdir.load_meta(ref)["total_len"]
    got = _topk(spark, path)
    assert got == _topk(spark, ref)
    assert not any(r[0] % 7 == 0 for r in got)
    # idempotence: re-deleting and deleting unknown ids change nothing
    again = TI.delete_from_text_index(spark, path, victims + [10 ** 12])
    assert again["deleted_docs"] == 0
    assert indexdir.load_meta(path)["n_docs"] == indexdir.load_meta(ref)["n_docs"]
    # compaction applies tombstones physically
    stats = TI.compact_text_index(spark, path)
    assert not os.path.exists(os.path.join(path, "_deletes"))
    survivors = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(path, "postings"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert not any(d % 7 == 0 for d in survivors)
    assert _topk(spark, path) == got
    # deletes respect the writer marker
    (tmp_path / "idx" / "_pending_append").write_text("stale\n")
    with pytest.raises(ValueError, match="marker present"):
        TI.delete_from_text_index(spark, path, [1])


def test_unresolvable_delete_leaves_no_marker(spark, docs, tmp_path):
    """A delete whose id frame has no doc_id column fails before it
    takes the writer marker: nothing is left behind, and queries answer
    exactly as before instead of refusing a wedged index."""
    from pyspark.errors import AnalysisException

    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=16)
    before = _topk(spark, path)
    bad = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(AnalysisException):
        TI.delete_from_text_index(spark, path, bad)
    assert not os.path.exists(os.path.join(path, "_pending_append"))
    assert _topk(spark, path) == before


def test_overwrite_rebuild_clears_stale_tombstones(spark, docs, tmp_path):
    """A rebuilt index has no tombstones: stale `_deletes` surviving an
    overwrite would filter freshly-written postings while the delete
    path (which skips already-tombstoned ids) never re-adjusts the
    meta stats — scores silently desync (caught by rerunning the
    battery entry against its oracle)."""
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=16)
    TI.delete_from_text_index(
        spark, path, [r.doc_id for r in docs.limit(50).collect()]
    )
    assert os.path.exists(os.path.join(path, "_deletes"))
    TI.write_text_index(docs, path, n_buckets=16)  # rebuild
    assert not os.path.exists(os.path.join(path, "_deletes"))
    assert indexdir.load_meta(path)["n_docs"] == docs.count()
    got = _topk(spark, path)
    fresh = str(tmp_path / "fresh")
    TI.write_text_index(docs, fresh, n_buckets=16)
    assert got == _topk(spark, fresh)


def test_delete_empty_doc_decrements_n_docs(spark, docs, tmp_path):
    """Advice r11: a zero-token doc leaves no postings rows, so the
    delete path's contribution aggregate never saw it — n_docs stayed
    inflated and post-delete scores diverged from a rebuilt index.
    The _emptydocs membership relation closes the hole: post-delete
    results must be identical to an index rebuilt without the doc."""
    with_empty = docs.unionByName(
        spark.createDataFrame(
            [(990001, "   "), (990002, "")], "doc_id long, text string"
        )
    )
    path = str(tmp_path / "idx")
    TI.write_text_index(with_empty, path, n_buckets=16)
    meta = indexdir.load_meta(path)
    assert meta["n_docs"] == docs.count() + 2
    out = TI.delete_from_text_index(spark, path, [990001, 990002])
    assert out == {"deleted_docs": 2, "deleted_tokens": 0}
    meta = indexdir.load_meta(path)
    assert meta["n_docs"] == docs.count()
    rebuilt = str(tmp_path / "idx_rebuilt")
    TI.write_text_index(docs, rebuilt, n_buckets=16)
    assert _topk(spark, path) == _topk(spark, rebuilt)
    assert indexdir.load_meta(path)["total_len"] == indexdir.load_meta(rebuilt)[
        "total_len"
    ]
    # idempotence: re-deleting the same ids is a no-op (membership rows
    # were dropped on the first delete)
    out2 = TI.delete_from_text_index(spark, path, [990001, 990002])
    assert out2 == {"deleted_docs": 0, "deleted_tokens": 0}
    assert indexdir.load_meta(path)["n_docs"] == docs.count()
    # mixed delete: one posting-backed + one empty, in one call
    path2 = str(tmp_path / "idx2")
    TI.write_text_index(with_empty, path2, n_buckets=16)
    first_id = int(docs.agg(F.min("doc_id")).first()[0])
    out3 = TI.delete_from_text_index(spark, path2, [first_id, 990001])
    assert out3["deleted_docs"] == 2
    rebuilt2 = str(tmp_path / "idx2_rebuilt")
    TI.write_text_index(
        with_empty.filter(~F.col("doc_id").isin([first_id, 990001])),
        rebuilt2,
        n_buckets=16,
    )
    assert indexdir.load_meta(path2)["n_docs"] == indexdir.load_meta(rebuilt2)["n_docs"]
    assert _topk(spark, path2) == _topk(spark, rebuilt2)


def test_delete_crash_leaves_torn_state_guard(
    spark, docs, tmp_path, monkeypatch
):
    """Advice r11 (medium): the delete marker used to be released
    unconditionally in `finally` — a failure between the tombstone
    append and the meta adjustment silently skewed BM25 stats. Now a
    mid-delete failure leaves the marker, so every subsequent read
    and write hits the loud torn-state error."""
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=16)

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the meta adjustment")

    monkeypatch.setattr(indexdir, "write_meta", boom)
    with pytest.raises(Exception):
        TI.delete_from_text_index(spark, path, [docs.first()["doc_id"]])
    monkeypatch.undo()
    assert os.path.exists(os.path.join(path, "_pending_append"))
    with pytest.raises(ValueError, match="_pending_append"):
        TI.bm25_query_index(spark, path, TERMS, k=5)
    with pytest.raises(ValueError, match="marker"):
        TI.delete_from_text_index(spark, path, [1])
    # repair path: rebuild clears the marker and the index works again
    TI.write_text_index(docs, path, n_buckets=16)
    assert _topk(spark, path)


def _brute_phrase(docs_df, phrase, within=0):
    """Independent driver-side phrase counter: pure-Python tokenize +
    position scan over the collected corpus (test-sized only).

    Ordered-slop semantics (r12 advice): slot ``i`` binds a position
    in ``s+i .. s+i+within``, every slot a DISTINCT position, strictly
    increasing across slots — greedy smallest-feasible per slot, which
    is exact since all windows share one width."""
    slots = phrase.lower().strip().split()
    counts = {}
    for r in docs_df.select("doc_id", "text").collect():
        toks = [t for t in (r.text or "").lower().strip().split() if t]
        n = 0
        for s in range(len(toks)):
            last = -1
            ok = True
            for i, term in enumerate(slots):
                lo, hi = max(s + i, last + 1), s + i + within
                pick = next(
                    (
                        p
                        for p in range(lo, hi + 1)
                        if 0 <= p < len(toks) and toks[p] == term
                    ),
                    None,
                )
                if pick is None:
                    ok = False
                    break
                last = pick
            if ok:
                n += 1
        if n:
            counts[r.doc_id] = n
    return counts


def _phrase_topk(spark, path, phrase, k=30, within=None):
    return [
        tuple(r)
        for r in TI.phrase_query_index(
            spark, path, phrase, k=k, within=within
        ).collect()
    ]


def test_phrase_query_matches_brute_force(spark, docs, tmp_path):
    """Exact-phrase results from the positional index must equal an
    independent pure-Python position scan of the corpus — bigram,
    trigram, repeated-term phrase, and single-term phrase."""
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=16, store_positions=True)
    # pick a REAL bigram from the corpus so the test can't pass vacuously
    sample = docs.limit(5).collect()
    toks = [t for t in sample[0].text.lower().split() if t]
    assert len(toks) >= 2
    bigram = f"{toks[0]} {toks[1]}"
    for phrase in (bigram, " ".join(toks[:3]), "data data", toks[0]):
        want = _brute_phrase(docs, phrase)
        got = dict(_phrase_topk(spark, path, phrase, k=10**6))
        assert got == want, phrase
    assert _brute_phrase(docs, bigram), "picked bigram never matches"


def test_phrase_query_proximity_window(spark, docs, tmp_path):
    """within=W (slop-W ordered proximity) must match the brute-force
    windowed scan; W=0 equals the exact phrase."""
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=16, store_positions=True)
    toks = [t for t in docs.limit(1).collect()[0].text.lower().split() if t]
    phrase = f"{toks[0]} {toks[2]}" if len(toks) > 2 else toks[0]
    for w in (1, 3):
        want = _brute_phrase(docs, phrase, within=w)
        got = dict(_phrase_topk(spark, path, phrase, k=10**6, within=w))
        assert got == want, (phrase, w)
    assert dict(_phrase_topk(spark, path, phrase, k=10**6, within=0)) == \
        _brute_phrase(docs, phrase)


def test_phrase_lifecycle_append_delete_compact(spark, docs, tmp_path):
    """The positional relation follows the full index lifecycle:
    base+append == one-shot, merge-on-read deletes drop docs from
    phrase results immediately, compaction (which must rewrite BOTH
    relations) preserves results, and a position-less append into a
    positional index is refused."""
    path = str(tmp_path / "idx")
    third = F.pmod(F.col("doc_id"), F.lit(3))
    TI.write_text_index(
        docs.filter(third != 0), path, n_buckets=16, store_positions=True
    )
    TI.append_text_index(docs.filter(third == 0), path, batch_id=1)
    oneshot = str(tmp_path / "one")
    TI.write_text_index(docs, oneshot, n_buckets=16, store_positions=True)
    toks = [t for t in docs.limit(1).collect()[0].text.lower().split() if t]
    phrase = f"{toks[0]} {toks[1]}"
    assert _phrase_topk(spark, path, phrase) == _phrase_topk(
        spark, oneshot, phrase
    )
    victims = docs.filter(F.pmod(F.col("doc_id"), F.lit(7)) == 0).select(
        "doc_id"
    )
    TI.delete_from_text_index(spark, path, victims)
    survivors_idx = str(tmp_path / "surv")
    TI.write_text_index(
        docs.filter(F.pmod(F.col("doc_id"), F.lit(7)) != 0),
        survivors_idx,
        n_buckets=16,
        store_positions=True,
    )
    assert _phrase_topk(spark, path, phrase) == _phrase_topk(
        spark, survivors_idx, phrase
    )
    before = _phrase_topk(spark, path, phrase)
    stats = TI.compact_text_index(spark, path)
    assert stats["files_after"] < stats["files_before"]
    assert _phrase_topk(spark, path, phrase) == before
    assert not os.path.exists(os.path.join(path, "_deletes"))
    # BM25 results also survive compaction of the dual-relation index
    assert _topk(spark, path) == _topk(spark, survivors_idx)
    # guard: position-less append into a positional index is refused
    with pytest.raises(ValueError, match="positions"):
        TI.write_text_index(
            docs.limit(1), path, n_buckets=16, mode="append"
        )
    assert not os.path.exists(os.path.join(path, "_pending_append"))


def test_phrase_query_guards_and_pruning(spark, docs, tmp_path):
    """A bag-of-words index refuses phrase queries with an instructive
    error; the positional scan prunes to the phrase terms' bucket
    partitions (PartitionFilters), same as the BM25 path."""
    bag = str(tmp_path / "bag")
    TI.write_text_index(docs, bag, n_buckets=16)
    with pytest.raises(ValueError, match="store_positions"):
        TI.phrase_query_index(spark, bag, "data model")
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=16, store_positions=True)
    with pytest.raises(ValueError, match="at least one token"):
        TI.phrase_query_index(spark, path, "   ")
    plan = (
        TI.phrase_query_index(spark, path, "data model", k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    m = re.search(r"PartitionFilters: \[([^\]]+)\]", plan)
    assert m and "bucket" in m.group(1), plan[:2000]


def test_multi_phrase_single_scan_matches_per_phrase(spark, docs, tmp_path):
    """multi_phrase_query_index (ONE positions scan for all phrases —
    the benchmark-contamination shape) must agree with the per-phrase
    brute force for every phrase, honor per-phrase top-k, share the
    within window, and reject empty input."""
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=16, store_positions=True)
    toks = [t for t in docs.limit(1).collect()[0].text.lower().split() if t]
    phrases = [
        f"{toks[0]} {toks[1]}",
        " ".join(toks[:3]),
        "data data",
        "zz-never-matches zz-never-matches",
    ]
    got = {}
    for r in TI.multi_phrase_query_index(spark, path, phrases).collect():
        got.setdefault(r.phrase, {})[r.doc_id] = r.n_occurrences
    for p in phrases:
        assert got.get(p, {}) == _brute_phrase(docs, p), p
    # per-phrase top-k: each phrase independently truncated to its
    # best doc (count desc, doc_id asc)
    topped = TI.multi_phrase_query_index(spark, path, phrases, k=1).collect()
    by_phrase = {}
    for r in topped:
        by_phrase.setdefault(r.phrase, []).append((r.doc_id, r.n_occurrences))
    for p in phrases:
        want = _brute_phrase(docs, p)
        if not want:
            assert p not in by_phrase
            continue
        best = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert by_phrase[p] == [best], p
    # within window applies to every phrase
    w_got = {}
    for r in TI.multi_phrase_query_index(
        spark, path, phrases[:2], within=2
    ).collect():
        w_got.setdefault(r.phrase, {})[r.doc_id] = r.n_occurrences
    for p in phrases[:2]:
        assert w_got.get(p, {}) == _brute_phrase(docs, p, within=2), p
    with pytest.raises(ValueError, match="non-empty"):
        TI.multi_phrase_query_index(spark, path, [])
    with pytest.raises(ValueError, match="at least one token"):
        TI.multi_phrase_query_index(spark, path, ["ok ok", "   "])


def test_multi_phrase_df_matches_list_path(spark, docs, tmp_path):
    """The DataFrame-driven phrase path (no driver collect of the
    phrases — only the <= n_buckets distinct bucket ints) must agree
    with the list path phrase-for-phrase, drop blank probe rows,
    handle within, and refuse an all-blank relation."""
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=16, store_positions=True)
    toks = [t for t in docs.limit(1).collect()[0].text.lower().split() if t]
    phrases = [f"{toks[0]} {toks[1]}", " ".join(toks[:3]), "data data"]
    pdf = spark.createDataFrame(
        [(p,) for p in phrases] + [("   ",), ("",)], "phrase string"
    )
    for w in (None, 2):
        # max_term_df=None: this is an EXACTNESS comparison against
        # the unguarded list path (the bulk path defaults the guard
        # ON since r14; the default itself is pinned below)
        got = [
            tuple(r)
            for r in TI.multi_phrase_query_index_df(
                spark, path, pdf, within=w, max_term_df=None
            ).collect()
        ]
        want = [
            tuple(r)
            for r in TI.multi_phrase_query_index(
                spark, path, phrases, within=w
            ).collect()
        ]
        assert got == want and got, w
    # per-phrase top-k agrees too
    got_k = [
        tuple(r)
        for r in TI.multi_phrase_query_index_df(
            spark, path, pdf, k=2, max_term_df=None
        ).collect()
    ]
    want_k = [
        tuple(r)
        for r in TI.multi_phrase_query_index(
            spark, path, phrases, k=2
        ).collect()
    ]
    assert got_k == want_k
    # a probe relation with zero tokenizable phrases returns the EMPTY
    # result the docstring promises (r12 advice — a decontam slice of
    # blank docs must not crash), with the contract schema
    empty = TI.multi_phrase_query_index_df(
        spark, path, spark.createDataFrame([(" ",)], "phrase string")
    )
    assert empty.count() == 0
    assert empty.columns == ["phrase", "doc_id", "n_occurrences"]


def test_marker_acquisition_is_atomic_across_threads(tmp_path):
    """The O_EXCL marker contract, exercised with a real race: many
    threads try to acquire the same index's writer marker
    simultaneously; EXACTLY one must win per round, the losers must
    get the loud collision error, and release hands the marker to a
    later acquirer. Covers the text-index marker and the dedup
    index's (advice r11: its check-then-open was racy)."""
    import threading

    for acquire, release_path in (
        (
            lambda d: indexdir.acquire_marker(os.path.join(d, "_pending_append")),
            "_pending_append",
        ),
        (
            lambda d: indexdir.acquire_marker(os.path.join(d, "_pending_append")),
            "_pending_append",
        ),
    ):
        d = str(tmp_path / f"idx{acquire.__name__ if hasattr(acquire, '__name__') else 'x'}")
        os.makedirs(d, exist_ok=True)
        for _round in range(3):
            wins, errors = [], []
            barrier = threading.Barrier(8)

            def attempt():
                barrier.wait()
                try:
                    acquire(d)
                    wins.append(1)
                except ValueError:
                    errors.append(1)

            threads = [threading.Thread(target=attempt) for _ in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            assert len(wins) == 1 and len(errors) == 7
            os.remove(os.path.join(d, release_path))


def test_stats_and_threshold_compaction_policy(spark, docs, tmp_path):
    """text_index_stats reports the operational state without Spark;
    maybe_compact_text_index is a no-op on a healthy index, fires past
    the files-per-bucket threshold OR when tombstones exist, and
    leaves query results identical."""
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=8, store_positions=True)
    st = TI.text_index_stats(path)
    assert st["n_docs"] == docs.count() and st["positions"]
    assert not st["has_tombstones"] and not st["pending_append"]
    assert st["files_per_bucket"] >= 1
    assert TI.maybe_compact_text_index(spark, path) is None  # healthy
    tenth = F.pmod(F.col("doc_id"), F.lit(10))
    extra = docs.withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    for i in range(5):
        TI.append_text_index(
            extra.filter(tenth == i), path, batch_id=i
        )
    st2 = TI.text_index_stats(path)
    assert st2["committed_batches"] == 5
    assert st2["files_per_bucket"] > 4
    before = _topk(spark, path)
    out = TI.maybe_compact_text_index(spark, path)
    assert out is not None and out["files_after"] < out["files_before"]
    assert _topk(spark, path) == before
    assert TI.text_index_stats(path)["files_per_bucket"] <= 4
    # tombstones force a compaction regardless of file counts
    TI.delete_from_text_index(spark, path, [10000])
    assert TI.text_index_stats(path)["has_tombstones"]
    assert TI.maybe_compact_text_index(spark, path) is not None
    assert not TI.text_index_stats(path)["has_tombstones"]
    # a torn index is VISIBLE in stats (no raise)
    open(os.path.join(path, "_pending_append"), "w").write("x\n")
    assert TI.text_index_stats(path)["pending_append"]


def test_proximity_requires_distinct_increasing_positions(spark, tmp_path):
    """Pinned ordered-slop semantics (r12 advice): one token position
    may not satisfy two slots (repeated-term phrase), and terms
    appearing in inverted order inside the window must not match."""
    docs = spark.createDataFrame(
        [
            (1, "x t"),        # single 't': "t t" w=1 must NOT match
            (2, "t x t"),      # "t t" w=1 matches once (0 then 2)
            (3, "x b a"),      # inverted: "a b" w=2 must NOT match
            (4, "a x b"),      # ordered inside the window: matches
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=8, store_positions=True)

    tt = dict(_phrase_topk(spark, path, "t t", k=100, within=1))
    assert tt == {2: 1}, tt
    ab = dict(_phrase_topk(spark, path, "a b", k=100, within=2))
    assert ab == {4: 1}, ab
    # the brute-force reference agrees on every case
    assert _brute_phrase(docs, "t t", within=1) == {2: 1}
    assert _brute_phrase(docs, "a b", within=2) == {4: 1}


def test_max_term_df_guard_drops_stopword_probes(spark, tmp_path):
    """The stopword-probe guard (r12 verdict item 2, measured at the
    2M-doc legs: head-rank probes degenerate to a corpus-scale
    position explode): probe phrases with ANY term above the df cutoff
    are dropped; surviving phrases' results are IDENTICAL to the
    unguarded run; fraction and absolute cutoffs agree; the DataFrame
    probe path honors the same guard."""
    rows = [(i, f"common filler{i} word{i % 3}") for i in range(9)]
    rows.append((9, "rare common pair"))
    rows.append((10, "rare pair zz"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=8, store_positions=True)

    probes = ["rare pair", "common filler1", "rare common"]
    # df: common=10/11 docs, rare=2, pair=2 -> cutoff 0.5*11=5 drops
    # every probe containing 'common'
    guarded = {
        (r.phrase, r.doc_id): r.n_occurrences
        for r in TI.multi_phrase_query_index(
            spark, path, probes, max_term_df=0.5
        ).collect()
    }
    full = {
        (r.phrase, r.doc_id): r.n_occurrences
        for r in TI.multi_phrase_query_index(spark, path, probes).collect()
    }
    assert {p for p, _ in guarded} == {"rare pair"}
    assert guarded == {
        kv: n for kv, n in full.items() if kv[0] == "rare pair"
    }
    assert {p for p, _ in full} == set(probes)  # unguarded is exhaustive
    # absolute cutoff form: df > 5 docs
    abs_guarded = {
        (r.phrase, r.doc_id): r.n_occurrences
        for r in TI.multi_phrase_query_index(
            spark, path, probes, max_term_df=5
        ).collect()
    }
    assert abs_guarded == guarded
    # DataFrame probe path applies the identical screen
    probes_df = spark.createDataFrame(
        [(p,) for p in probes], "phrase string"
    )
    df_guarded = {
        (r.phrase, r.doc_id): r.n_occurrences
        for r in TI.multi_phrase_query_index_df(
            spark, path, probes_df, max_term_df=0.5
        ).collect()
    }
    assert df_guarded == guarded


def test_max_term_df_guard_composes_with_within(spark, tmp_path):
    """The guard screens BEFORE the proximity expansion: a surviving
    phrase keeps exact slop-W results while stopword probes drop."""
    # df spread: common in 6/9 docs, pair in 4/9, rare in 2/9
    docs = spark.createDataFrame(
        [(i, f"common x{i} y{i}") for i in range(5)]
        + [
            (5, "common pair q"),
            (6, "rare pair z"),
            (7, "rare w pair"),
            (8, "pair only"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=8, store_positions=True)
    probes = ["rare pair", "common pair"]
    # cutoff int(0.5*9)=4: common (df 6) trips it, pair/rare survive
    got2 = {
        (r.phrase, r.doc_id): r.n_occurrences
        for r in TI.multi_phrase_query_index(
            spark, path, probes, within=1, max_term_df=0.5
        ).collect()
    }
    assert {p for p, _ in got2} == {"rare pair"}
    # surviving phrase's slop-1 results match the brute reference
    # (doc 6 adjacent, doc 7 via the one-slop window)
    want = _brute_phrase(docs, "rare pair", within=1)
    assert {d: n for (p, d), n in got2.items()} == want
    # cutoff int(0.9*9)=8: nothing trips; both phrases match brute
    got = {
        (r.phrase, r.doc_id): r.n_occurrences
        for r in TI.multi_phrase_query_index(
            spark, path, probes, within=1, max_term_df=0.9
        ).collect()
    }
    assert {p for p, _ in got} == {"rare pair", "common pair"}
    for p in probes:
        assert {
            d: n for (pp, d), n in got.items() if pp == p
        } == _brute_phrase(docs, p, within=1)


def test_bulk_path_guard_defaults_on_and_validates(spark, tmp_path):
    """r14: the DataFrame (bulk) probe path — the 10k-shingle
    footgun — defaults the stopword guard ON at
    DEFAULT_BULK_MAX_TERM_DF; the list (interactive) path stays
    unguarded by default; ambiguous cutoff values raise instead of
    silently picking a branch (r13 advice)."""
    docs = spark.createDataFrame(
        [(i, f"stop u{i} v{i}") for i in range(10)]
        + [(10, "rare pair z"), (11, "stop pair w")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=8, store_positions=True)
    probes = ["stop pair", "rare pair"]  # both OCCUR (docs 11 / 10)
    pdf = spark.createDataFrame([(p,) for p in probes], "phrase string")
    # default: 'stop' df=11/12 > int(0.8*12)=9 -> probe dropped
    assert TI.DEFAULT_BULK_MAX_TERM_DF == 0.8
    got_df = {
        r.phrase
        for r in TI.multi_phrase_query_index_df(spark, path, pdf).collect()
    }
    assert got_df == {"rare pair"}
    # the list path's default is still exhaustive
    got_list = {
        r.phrase
        for r in TI.multi_phrase_query_index(spark, path, probes).collect()
    }
    assert got_list == set(probes)
    # explicit None is the bulk path's documented opt-out
    got_none = {
        r.phrase
        for r in TI.multi_phrase_query_index_df(
            spark, path, pdf, max_term_df=None
        ).collect()
    }
    assert got_none == set(probes)
    # ambiguous boundary values raise loudly on BOTH paths
    for bad in (1, 0, -3, 1.5, 0.0, -0.5, True, "0.5"):
        with pytest.raises(ValueError, match="max_term_df"):
            TI.multi_phrase_query_index(
                spark, path, probes, max_term_df=bad
            ).collect()
        with pytest.raises(ValueError, match="max_term_df"):
            TI.multi_phrase_query_index_df(
                spark, path, pdf, max_term_df=bad
            ).collect()
    # legal boundary values still work: float 1.0 (fraction: screens
    # nothing) and int 2 (absolute: df > 2)
    ok = TI.multi_phrase_query_index(
        spark, path, probes, max_term_df=1.0
    )
    assert {r.phrase for r in ok.collect()} == set(probes)
    # int 2 is the smallest legal absolute cutoff: 'stop' (df 11) > 2
    # trips it, 'rare'/'pair' (df 2, not > 2) survive
    abs2 = TI.multi_phrase_query_index(
        spark, path, probes, max_term_df=2
    )
    assert {r.phrase for r in abs2.collect()} == {"rare pair"}


def test_return_positions_gives_excisable_spans(spark, tmp_path):
    """return_positions=True adds the sorted match-start offsets — the
    span-level decontamination hook (cut (start, start+len-1+W) spans
    instead of dropping docs). Starts must equal the brute-force match
    starts, overlaps included, on both probe paths."""
    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x a b y"), (3, "a a a")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=4, store_positions=True)
    got = {
        (r.phrase, r.doc_id): (r.n_occurrences, list(r.starts))
        for r in TI.multi_phrase_query_index(
            spark, path, ["a b", "a a"], return_positions=True
        ).collect()
    }
    assert got[("a b", 1)] == (2, [0, 2])
    assert got[("a b", 2)] == (1, [1])
    assert got[("a a", 3)] == (2, [0, 1])  # overlapping matches
    assert ("a a", 1) not in got
    # DataFrame probe path emits the same schema and values
    pdf = spark.createDataFrame([("a b",), ("a a",)], "phrase string")
    got_df = {
        (r.phrase, r.doc_id): (r.n_occurrences, list(r.starts))
        for r in TI.multi_phrase_query_index_df(
            spark, path, pdf, return_positions=True, max_term_df=None
        ).collect()
    }
    assert got_df == got
    # empty probe set keeps the widened contract schema
    empty = TI.multi_phrase_query_index_df(
        spark,
        path,
        spark.createDataFrame([(" ",)], "phrase string"),
        return_positions=True,
    )
    assert empty.columns == ["phrase", "doc_id", "n_occurrences", "starts"]
