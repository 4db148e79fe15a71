"""Similarity-search operator tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark.operators import similarity as S
from implementation_of_an_etl_process_spark.sources import indexdir
from tests.conftest import SF_SMOKE


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_brute_force_identical_vector_ranks_first(spark):
    base = [0.5, -1.0, 2.0, 0.25] * 16
    corpus = spark.createDataFrame(
        [(10, list(base)), (11, [x + 1.0 for x in base]), (12, [-x for x in base])],
        "cid long, cvec array<float>",
    )
    queries = spark.createDataFrame([(1, list(base))], "qid long, qvec array<float>")
    got = S.brute_force_topk(
        queries, corpus,
        query_id="qid", query_vec="qvec", corpus_id="cid", corpus_vec="cvec",
        k=3, exclude_self=False,
    ).collect()
    assert [r.cid for r in got] == [10, 11, 12]
    assert got[0].score == 1.0
    assert got[-1].score == -1.0  # antipodal


def test_brute_force_excludes_self(spark):
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    got = S.brute_force_topk(
        q, c, query_id="qid", query_vec="qvec", corpus_id="cid", corpus_vec="cvec", k=5
    )
    assert got.filter(F.col("qid") == F.col("cid")).count() == 0
    assert got.count() == 25  # 5 queries x k


def test_ivf_recall_vs_brute_force(spark):
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 10)
    kwargs = dict(
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding", k=5,
    )
    exact = {
        (r.qid, r.cid)
        for r in S.brute_force_topk(
            q.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")),
            emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")),
            query_id="qid", query_vec="qvec", corpus_id="cid", corpus_vec="cvec", k=5,
        ).collect()
    }
    approx = {(r.qid, r.cid) for r in S.ivf_topk(q, emb, n_cells=16, n_probe=8, **kwargs).collect()}
    recall = len(exact & approx) / len(exact)
    # deterministic pipeline (hash-derived centroids) — this is a fixed
    # number for this dataset; floor it loosely so dataset tweaks don't flake
    assert recall >= 0.5, f"IVF recall collapsed: {recall}"


def test_ivf_more_probes_higher_recall(spark):
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 10)
    kwargs = dict(
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding", k=5, n_cells=16,
    )
    full = S.ivf_topk(q, emb, n_probe=16, **kwargs)  # probe all cells = exact
    one = S.ivf_topk(q, emb, n_probe=1, **kwargs)
    assert full.count() == 50
    assert one.count() <= 50


def test_arrow_topk_agrees_with_expression(spark):
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    kw = dict(query_id="qid", query_vec="qvec", corpus_id="cid", corpus_vec="cvec", k=5)
    expr = {(r.qid, r.cid) for r in S.brute_force_topk(q, c, **kw).collect()}
    arrow = {(r.qid, r.cid) for r in S.brute_force_topk_arrow(q, c, **kw).collect()}
    assert expr == arrow


def test_ivf_arrow_assign_agrees_with_expression(spark):
    """arrow_assign=True (matmul cell assignment) must produce the same
    result set as the expression path — same centroids, same probes,
    same scoring; only the assignment mechanics differ."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 10)
    kwargs = dict(
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding", k=5,
        n_cells=16, n_probe=8,
    )
    expr = {
        (r.qid, r.cid, r.score, r.rank)
        for r in S.ivf_topk(q, emb, **kwargs).collect()
    }
    arrow = {
        (r.qid, r.cid, r.score, r.rank)
        for r in S.ivf_topk(q, emb, arrow_assign=True, **kwargs).collect()
    }
    assert expr == arrow
    # and with data-adapted (KMeans) centroids too
    cents = S.train_ivf_centroids(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        n_cells=8, n_train=256,
    )
    kwargs2 = dict(kwargs, n_cells=8, centroids=cents)
    expr2 = {
        (r.qid, r.cid) for r in S.ivf_topk(q, emb, **kwargs2).collect()
    }
    arrow2 = {
        (r.qid, r.cid)
        for r in S.ivf_topk(q, emb, arrow_assign=True, **kwargs2).collect()
    }
    assert expr2 == arrow2


def test_ivf_arrow_full_path_recall_and_determinism(spark):
    """ivf_topk_arrow (matmul assignment AND scoring, no join): on
    clustered synthetic data with enough probes its result set matches
    exact brute force, and repeated runs are identical."""
    import math

    rows = []
    for i in range(300):
        c = i % 4
        base = [math.cos(0.7 * c + 0.05 * j) for j in range(16)]
        # prime moduli over the full id range: no two vectors are
        # byte-identical, so no exact score ties can straddle the
        # batch-local top-k pruning boundary (the documented arrow-path
        # caveat: ranks agree with brute force except on exact ties)
        rows.append(
            (i, [b + 0.001 * ((i * 131 + j * 17) % 101 - 50)
                 for j, b in enumerate(base)])
        )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 8)
    kw = dict(
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding", k=5,
    )
    # float-score ground truth (the arrow family scores in float64;
    # the expression brute force quantizes, which re-orders near-ties)
    exact = {
        (r.qid, r.cid)
        for r in S.brute_force_topk_arrow(
            q.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")),
            emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")),
            query_id="qid", query_vec="qvec", corpus_id="cid",
            corpus_vec="cvec", k=5,
        ).collect()
    }
    a1 = {
        (r.qid, r.cid)
        for r in S.ivf_topk_arrow(q, emb, n_cells=8, n_probe=8, **kw).collect()
    }
    # probing every cell == exhaustive: must equal brute force exactly
    assert a1 == exact
    a2 = {
        (r.qid, r.cid)
        for r in S.ivf_topk_arrow(q, emb, n_cells=8, n_probe=8, **kw).collect()
    }
    assert a1 == a2
    # realistic probe fraction on clustered data: high recall
    part = {
        (r.qid, r.cid)
        for r in S.ivf_topk_arrow(q, emb, n_cells=8, n_probe=3, **kw).collect()
    }
    assert len(part & exact) / len(exact) >= 0.9


def test_pq_encode_shape_and_determinism(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    books = S.train_pq_codebooks(
        emb, corpus_vec="embedding", corpus_id="vec_id", m=16, n_codes=64
    )
    assert books.shape == (16, 64, 4)
    enc = S.encode_pq(emb, books, corpus_id="vec_id", corpus_vec="embedding")
    rows = {r["cid"]: r["codes"] for r in enc.collect()}
    assert len(rows) == emb.count()
    assert all(len(c) == 16 and all(0 <= x < 64 for x in c) for c in rows.values())
    # deterministic: same training + encode twice -> same codes
    books2 = S.train_pq_codebooks(
        emb, corpus_vec="embedding", corpus_id="vec_id", m=16, n_codes=64
    )
    assert (books == books2).all()


def test_pq_topk_recall_vs_brute_force(spark):
    import pyspark.sql.functions as F

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    books = S.train_pq_codebooks(
        emb, corpus_vec="embedding", corpus_id="vec_id", m=16, n_codes=64
    )
    enc = S.encode_pq(emb, books, corpus_id="vec_id", corpus_vec="embedding")
    pq = S.pq_topk(
        q, emb, enc, books,
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding",
        k=5, shortlist=50,
    )
    exact = S.brute_force_topk(
        q.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")),
        emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")),
        query_id="qid", query_vec="qvec", corpus_id="cid", corpus_vec="cvec",
        k=5,
    )
    hits = pq.join(exact, ["qid", "cid"], "left_semi").count()
    total = exact.count()
    assert total == 50
    assert hits / total >= 0.9


def test_distributed_pq_codebooks_match_oracle_quality(spark):
    """The Spark-ML-trained codebooks (no driver-side vector collect)
    must deliver the same end-to-end PQ recall as the bounded numpy
    trainer, which stays as the deterministic oracle."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 10)
    books = S.train_pq_codebooks_distributed(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        m=16, n_codes=64, dim=64,
    )
    assert books.shape == (16, 64, 4)
    enc = S.encode_pq(emb, books, corpus_id="vec_id", corpus_vec="embedding")
    pq = S.pq_topk(
        q, emb, enc, books,
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding",
        k=5, shortlist=50,
    )
    exact = S.brute_force_topk(
        q.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")),
        emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")),
        query_id="qid", query_vec="qvec", corpus_id="cid", corpus_vec="cvec",
        k=5,
    )
    hits = pq.join(exact, ["qid", "cid"], "left_semi").count()
    total = exact.count()
    assert total == 50
    assert hits / total >= 0.9, f"ML-trained PQ recall {hits/total}"


def test_trained_ivf_centroids_recall(spark):
    """Data-adapted (distributed KMeans) centroids must keep IVF recall
    at least at the level the gate demands, with n_cells following
    len(centroids)."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 10)
    cents = S.train_ivf_centroids(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        n_cells=16, n_train=4096,
    )
    assert len(cents) == 16 and all(len(c) == 64 for c in cents)
    ivf = S.ivf_topk(
        q, emb,
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding",
        k=5, n_probe=8, dim=64, centroids=cents,
    )
    exact = S.brute_force_topk(
        q.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")),
        emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")),
        query_id="qid", query_vec="qvec", corpus_id="cid", corpus_vec="cvec",
        k=5,
    )
    hits = ivf.join(exact, ["qid", "cid"], "left_semi").count()
    assert hits / exact.count() >= 0.7


def _line_corpus(spark, n=100, n_parts=17):
    """cid 0..n-1 as 2-D unit vectors on an arc: cosine(i, j) is
    strictly decreasing in |theta_i - theta_j| (max spread < pi).
    Range-partitioned by cid into n_parts contiguous runs — with
    n_parts * 2 > defaultParallelism, spread() passes the layout
    through, so each mapInPandas batch holds one contiguous cid run
    (a query's self row AND its nearest neighbors share a batch)."""
    import math

    # quadratic spacing: every pairwise angular distance is distinct,
    # so no score ties can flip between float64-matmul and expression
    # evaluation order
    rows = [
        (i, [math.cos(i * i * 0.0003), math.sin(i * i * 0.0003)])
        for i in range(n)
    ]
    return (
        spark.createDataFrame(rows, "cid long, cvec array<double>")
        .repartitionByRange(n_parts, "cid")
    )


def test_arrow_exclude_self_masks_before_truncation(spark):
    """Round-6 ADVICE: filtering qid==cid AFTER the batch-local top-k
    lets a query's own corpus row occupy one of the k slots and
    permanently evict the true k-th neighbor.  On the arc corpus every
    query's top-3 true neighbors sit in its own batch, so the old
    post-filter ordering loses the rank-3 neighbor; the fixed kernels
    mask self pairs before argpartition and must match the expression
    path exactly."""
    c = _line_corpus(spark)
    q = c.select(F.col("cid").alias("qid"), F.col("cvec").alias("qvec"))
    kw = dict(
        query_id="qid", query_vec="qvec",
        corpus_id="cid", corpus_vec="cvec", k=3,
    )
    # float expression path: same arithmetic family as the kernels
    expr = {
        (r.qid, r.cid)
        for r in S.brute_force_topk(q, c, exact_scores=False, **kw).collect()
    }
    arrow = {
        (r.qid, r.cid) for r in S.brute_force_topk_arrow(q, c, **kw).collect()
    }
    assert arrow == expr
    # every query keeps all k slots (the old bug returned k-1 rows for
    # queries whose self row won a batch-local slot)
    from collections import Counter

    per_q = Counter(qid for qid, _ in arrow)
    assert set(per_q.values()) == {3}
    # IVF kernel has the same masking: probe every cell -> exact
    ivf = {
        (r.qid, r.cid)
        for r in S.ivf_topk_arrow(
            q, c, n_cells=4, n_probe=4, **kw
        ).collect()
    }
    assert ivf == expr


def test_ivfpq_composed_recall_and_index_shape(spark):
    """The composed IVF-PQ path (encode_ivfpq -> ivfpq_topk): the index
    carries exactly one (cell, codes) row per corpus vector, full-probe
    IVF-PQ equals flat PQ (the coarse stage only PRUNES — with every
    cell probed it must change nothing), and partial probing keeps the
    gate-level recall."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 10)
    books = S.train_pq_codebooks(
        emb, corpus_vec="embedding", corpus_id="vec_id", m=16, n_codes=64
    )
    cents = S.train_ivf_centroids(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        n_cells=16, n_train=4096,
    )
    index = S.encode_ivfpq(
        emb, books, cents, corpus_id="vec_id", corpus_vec="embedding",
        residual=False,
    )
    n = emb.count()
    assert index.count() == n
    assert index.select("cid").distinct().count() == n
    cells = {r["cell"] for r in index.select("cell").distinct().collect()}
    assert cells <= set(range(16))
    kw = dict(
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding",
        k=5, shortlist=50,
    )
    # NON-RESIDUAL mode, full probe == flat PQ row-for-row (same codes,
    # same ADC, same re-rank; the only difference is the cell grouping)
    enc_flat = S.encode_pq(
        emb, books, corpus_id="vec_id", corpus_vec="embedding"
    )
    flat = {
        (r.qid, r.cid, r.score, r.rank)
        for r in S.pq_topk(q, emb, enc_flat, books, **kw).collect()
    }
    full = {
        (r.qid, r.cid, r.score, r.rank)
        for r in S.ivfpq_topk(
            q, emb, index, books, cents, n_probe=16, residual=False, **kw
        ).collect()
    }
    assert full == flat
    # RESIDUAL mode (the default / textbook IVFADC): residual-trained
    # codebooks, partial probing, gate-level recall vs exact
    exact = S.brute_force_topk(
        q.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")),
        emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")),
        query_id="qid", query_vec="qvec", corpus_id="cid", corpus_vec="cvec",
        k=5,
    )
    books_r = S.train_pq_codebooks_distributed(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        m=16, n_codes=64, dim=64, centroids=cents,
    )
    index_r = S.encode_ivfpq(
        emb, books_r, cents, corpus_id="vec_id", corpus_vec="embedding"
    )
    part = S.ivfpq_topk(q, emb, index_r, books_r, cents, n_probe=12, **kw)
    hits = part.join(exact, ["qid", "cid"], "left_semi").count()
    total = exact.count()
    assert total == 50
    assert hits / total >= 0.9, f"IVF-PQ recall {hits / total}"


def test_ivfpq_persisted_index_incremental_equals_oneshot(spark, tmp_path):
    """The steady-state ingest loop: an index built as base-write +
    frozen-model append must answer queries ROW-IDENTICALLY to a
    one-shot encode of the full corpus — encoding is deterministic per
    vector given the frozen model, so incrementality can't cost
    accuracy. Also pins the lifecycle guards: torn-append marker
    refuses reads/appends, missing meta refuses reads, and a
    mismatched model refuses append."""
    import numpy as np

    emb = _emb(spark)
    cents = S.train_ivf_centroids(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        n_cells=16, n_train=4096,
    )
    books = S.train_pq_codebooks_distributed(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        m=16, n_codes=64, dim=64, centroids=cents,
    )
    path = str(tmp_path / "idx")
    cut = 300
    S.write_ivfpq_index(
        emb.filter(F.col("vec_id") < cut), path, books, cents,
        corpus_id="vec_id", corpus_vec="embedding",
    )
    S.append_ivfpq_index(
        emb.filter(F.col("vec_id") >= cut), path, corpus_vec="embedding"
    )
    index, books2, cents2, residual = S.read_ivfpq_index(spark, path)
    assert residual is True
    assert np.array_equal(books2, books)  # exact json round-trip
    assert cents2 == [[float(x) for x in c] for c in cents]
    assert index.count() == emb.count()
    kw = dict(
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding",
        k=5, n_probe=12, shortlist=50,
    )
    q = emb.filter(F.col("vec_id") < 10)
    got = {
        tuple(r)
        for r in S.ivfpq_query_index(spark, path, q, emb, **kw).collect()
    }
    oneshot = S.encode_ivfpq(
        emb, books, cents, corpus_id="vec_id", corpus_vec="embedding"
    )
    want = {
        tuple(r)
        for r in S.ivfpq_topk(q, emb, oneshot, books, cents, **kw).collect()
    }
    assert got == want

    # model-mismatch guard: append under perturbed codebooks refuses
    with pytest.raises(ValueError, match="different model"):
        S.write_ivfpq_index(
            emb.limit(1), path, books + 1e-9, cents,
            corpus_id="vec_id", corpus_vec="embedding", mode="append",
        )
    # torn-append guard: marker present -> read and append both refuse
    marker = tmp_path / "idx" / "_pending_append"
    marker.write_text("append in progress\n")
    with pytest.raises(ValueError, match="marker present"):
        S.read_ivfpq_index(spark, path)
    with pytest.raises(ValueError, match="marker present"):
        S.write_ivfpq_index(
            emb.limit(1), path, books, cents,
            corpus_id="vec_id", corpus_vec="embedding", mode="append",
        )
    marker.unlink()
    # never-built guard
    with pytest.raises(ValueError, match="no meta.json"):
        S.read_ivfpq_index(spark, str(tmp_path / "nope"))


def test_ivfpq_compaction_restores_layout_and_results(spark, tmp_path):
    """Repeated appends add a file per touched cell per batch — the
    small-file layout that inverted the probe win pre-fix. Compaction
    must restore ~one file per cell, leave query results ROW-IDENTICAL,
    and hold the exclusive marker (a concurrent writer fails loudly,
    and a racing marker blocks compaction)."""
    import os

    emb = _emb(spark)
    cents = S.train_ivf_centroids(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        n_cells=16, n_train=4096,
    )
    books = S.train_pq_codebooks_distributed(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        m=16, n_codes=64, dim=64, centroids=cents,
    )
    path = str(tmp_path / "idx")
    S.write_ivfpq_index(
        emb.filter(F.col("vec_id") < 200), path, books, cents,
        corpus_id="vec_id", corpus_vec="embedding",
    )
    for i, lo in enumerate(range(200, 500, 100)):
        S.append_ivfpq_index(
            emb.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 100)
            ),
            path, corpus_vec="embedding", batch_id=i,
        )

    def nfiles():
        return sum(
            1
            for root, _, files in os.walk(os.path.join(path, "codes"))
            for f in files
            if f.endswith(".parquet")
        )

    n_cells_used = (
        spark.read.parquet(os.path.join(path, "codes"))
        .select("cell").distinct().count()
    )
    assert nfiles() > n_cells_used  # appends fragmented the layout
    kw = dict(
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding",
        k=5, n_probe=12, shortlist=50,
    )
    q = emb.filter(F.col("vec_id") < 10)
    before = {
        tuple(r)
        for r in S.ivfpq_query_index(spark, path, q, emb, **kw).collect()
    }
    stats = S.compact_ivfpq_index(spark, path)
    assert stats["files_after"] <= n_cells_used
    assert stats["files_after"] < stats["files_before"]
    after = {
        tuple(r)
        for r in S.ivfpq_query_index(spark, path, q, emb, **kw).collect()
    }
    assert after == before
    # exclusive marker: a held marker blocks compaction...
    marker = tmp_path / "idx" / "_pending_append"
    marker.write_text("append in progress\n")
    with pytest.raises(ValueError, match="marker present"):
        S.compact_ivfpq_index(spark, path)
    marker.unlink()
    # ...and the O_EXCL acquire turns a write race into a loud error
    indexdir.acquire_marker(str(marker))
    with pytest.raises(ValueError, match="write collision"):
        indexdir.acquire_marker(str(marker))
    marker.unlink()


def test_ivfpq_overwrite_repairs_torn_state(spark, tmp_path):
    """A fresh overwrite is the documented repair path: it must clear a
    stale _pending_append marker AND the batch ledger (a rebuilt index
    has no ingest history, so previously-committed batch ids append
    again rather than silently no-oping)."""
    import os

    emb = _emb(spark).filter(F.col("vec_id") < 100)
    cents = S.train_ivf_centroids(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        n_cells=4, n_train=256,
    )
    books = S.train_pq_codebooks_distributed(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        m=16, n_codes=16, dim=64, centroids=cents,
    )
    path = str(tmp_path / "idx")
    args = (path, books, cents)
    kw = dict(corpus_id="vec_id", corpus_vec="embedding")
    S.write_ivfpq_index(emb.filter(F.col("vec_id") < 50), *args, **kw)
    S.append_ivfpq_index(
        emb.filter(F.col("vec_id") >= 50), path,
        corpus_vec="embedding", batch_id=7,
    )
    assert os.path.exists(os.path.join(path, "_batches.json"))
    (tmp_path / "idx" / "_pending_append").write_text("stale\n")
    with pytest.raises(ValueError, match="marker present"):
        S.read_ivfpq_index(spark, path)
    # repair: overwrite clears marker + ledger, index fully usable
    S.write_ivfpq_index(emb.filter(F.col("vec_id") < 50), *args, **kw)
    assert not os.path.exists(os.path.join(path, "_pending_append"))
    assert not os.path.exists(os.path.join(path, "_batches.json"))
    index, _, _, _ = S.read_ivfpq_index(spark, path)
    assert index.count() == 50
    # batch 7 is appendable again on the rebuilt index
    S.append_ivfpq_index(
        emb.filter(F.col("vec_id") >= 50), path,
        corpus_vec="embedding", batch_id=7,
    )
    assert spark.read.parquet(os.path.join(path, "codes")).count() == 100


def test_ivfpq_rebuild_crash_is_loud_not_silent(spark, tmp_path, monkeypatch):
    """A crash mid-REBUILD over an existing index (new meta written,
    codes not yet replaced) must leave the _pending_append marker so
    reads refuse — without it, read_ivfpq_index would silently score
    the OLD codes against the NEW model (r10 advice, medium)."""
    import os

    emb = _emb(spark).filter(F.col("vec_id") < 100)
    cents = S.train_ivf_centroids(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        n_cells=4, n_train=256,
    )
    books = S.train_pq_codebooks_distributed(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        m=16, n_codes=16, dim=64, centroids=cents,
    )
    path = str(tmp_path / "idx")
    kw = dict(corpus_id="vec_id", corpus_vec="embedding")
    S.write_ivfpq_index(emb, path, books, cents, **kw)

    def boom(*a, **k):
        raise RuntimeError("simulated crash mid-rebuild")

    monkeypatch.setattr(S, "encode_ivfpq", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        S.write_ivfpq_index(emb, path, books + 1e-9, cents, **kw)
    monkeypatch.undo()
    # torn rebuild: marker held -> loud at read, never silent garbage
    assert os.path.exists(os.path.join(path, "_pending_append"))
    with pytest.raises(ValueError, match="marker present"):
        S.read_ivfpq_index(spark, path)
    # the documented repair: a completed overwrite restores service
    S.write_ivfpq_index(emb, path, books, cents, **kw)
    index, _, _, _ = S.read_ivfpq_index(spark, path)
    assert index.count() == 100


def test_ivfpq_redelivered_batch_noop_releases_marker(spark, tmp_path):
    """The append ledger is checked UNDER the O_EXCL marker (r10
    advice: check-then-write must be atomic) and the no-op path
    releases the marker — a re-delivered micro-batch leaves the index
    byte-identical and immediately writable."""
    import os

    emb = _emb(spark).filter(F.col("vec_id") < 100)
    cents = S.train_ivf_centroids(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        n_cells=4, n_train=256,
    )
    books = S.train_pq_codebooks_distributed(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        m=16, n_codes=16, dim=64, centroids=cents,
    )
    path = str(tmp_path / "idx")
    kw = dict(corpus_id="vec_id", corpus_vec="embedding")
    S.write_ivfpq_index(emb.filter(F.col("vec_id") < 50), path, books,
                        cents, **kw)
    S.append_ivfpq_index(
        emb.filter(F.col("vec_id") >= 50), path,
        corpus_vec="embedding", batch_id=3,
    )
    n = spark.read.parquet(os.path.join(path, "codes")).count()
    # re-delivery: no-op, marker released, still appendable
    S.append_ivfpq_index(
        emb.filter(F.col("vec_id") >= 50), path,
        corpus_vec="embedding", batch_id=3,
    )
    assert not os.path.exists(os.path.join(path, "_pending_append"))
    assert spark.read.parquet(os.path.join(path, "codes")).count() == n
    S.append_ivfpq_index(
        emb.filter(F.col("vec_id") < 50), path,
        corpus_vec="embedding", batch_id=4,
    )
    assert spark.read.parquet(os.path.join(path, "codes")).count() == n + 50


def test_ivfpq_compaction_torn_swap_rolls_back(spark, tmp_path, monkeypatch):
    """If compaction's second rename (tmp -> codes) fails after the
    first (codes -> old) succeeded, the old layout must be restored in
    place and the marker released — never meta-without-codes with the
    data stranded in codes.old (r10 advice)."""
    import os

    emb = _emb(spark).filter(F.col("vec_id") < 100)
    cents = S.train_ivf_centroids(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        n_cells=4, n_train=256,
    )
    books = S.train_pq_codebooks_distributed(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        m=16, n_codes=16, dim=64, centroids=cents,
    )
    path = str(tmp_path / "idx")
    kw = dict(corpus_id="vec_id", corpus_vec="embedding")
    S.write_ivfpq_index(emb.filter(F.col("vec_id") < 50), path, books,
                        cents, **kw)
    S.append_ivfpq_index(
        emb.filter(F.col("vec_id") >= 50), path, corpus_vec="embedding"
    )
    codes = os.path.join(path, "codes")
    qkw = dict(
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding",
        k=3, n_probe=4, shortlist=50,
    )
    q = emb.filter(F.col("vec_id") < 5)
    before = {
        tuple(r)
        for r in S.ivfpq_query_index(spark, path, q, emb, **qkw).collect()
    }
    real_rename = os.rename
    state = {"failed": False}

    def flaky(src, dst):
        # fail the FIRST rename targeting codes/ (tmp -> codes); the
        # rollback rename (old -> codes) must then succeed
        if os.path.abspath(dst) == os.path.abspath(codes) and not state[
            "failed"
        ]:
            state["failed"] = True
            raise OSError("simulated torn swap")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", flaky)
    with pytest.raises(OSError, match="simulated torn swap"):
        S.compact_ivfpq_index(spark, path)
    monkeypatch.undo()
    assert state["failed"]
    assert os.path.isdir(codes), "old layout must be restored in place"
    assert not os.path.exists(os.path.join(path, "_pending_append"))
    after = {
        tuple(r)
        for r in S.ivfpq_query_index(spark, path, q, emb, **qkw).collect()
    }
    assert after == before
    # and a clean retry compacts fine
    stats = S.compact_ivfpq_index(spark, path)
    assert stats["files_after"] <= stats["files_before"]


def test_ivfpq_shortlist_recall_monotone_on_adversarial_geometry(
    spark, tmp_path
):
    """Worst-case geometry for PQ: every corpus vector is the same
    direction plus a tiny perpendicular perturbation, so exact cosine
    ranks hinge on differences far below the codebooks' resolution —
    ADC ordering is ~arbitrary within the cluster and recall@k is
    SHORTLIST-bound (the 2M-vector leg measured recall@5 0.070->0.376
    as shortlist went 50->500). Pins the recovery contract: recall is
    monotone non-decreasing in shortlist, and with n_probe = n_cells
    plus shortlist >= corpus the path degenerates to exact brute
    force (recall 1.0)."""
    import numpy as np

    rng = np.random.default_rng(23)
    n, dim = 400, 16
    base = rng.normal(size=dim)
    base /= np.linalg.norm(base)
    perp = rng.normal(size=(n, dim)) * 1e-3
    perp -= np.outer(perp @ base, base)  # exactly perpendicular
    vecs = base[None, :] + perp
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).cache()
    n_cells = 4
    cents = S.train_ivf_centroids(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        n_cells=n_cells, n_train=n,
    )
    books = S.train_pq_codebooks_distributed(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        m=4, n_codes=4, dim=dim, centroids=cents,
    )
    index = S.encode_ivfpq(
        emb, books, cents, corpus_id="vec_id", corpus_vec="embedding"
    ).cache()
    k = 5
    q = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.qid, r.cid)
        for r in S.brute_force_topk(
            q.select(F.col("vec_id").alias("qid"),
                     F.col("embedding").alias("qvec")),
            emb.select(F.col("vec_id").alias("cid"),
                       F.col("embedding").alias("cvec")),
            query_id="qid", query_vec="qvec",
            corpus_id="cid", corpus_vec="cvec", k=k,
        ).collect()
    }
    kw = dict(
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding",
        k=k, n_probe=n_cells,
    )
    recalls = []
    for shortlist in (5, 25, 100, n):
        got = {
            (r.qid, r.cid)
            for r in S.ivfpq_topk(
                q, emb, index, books, cents, shortlist=shortlist, **kw
            ).collect()
        }
        recalls.append(len(got & exact) / len(exact))
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert recalls[-1] == 1.0, (
        f"full shortlist must equal brute force: {recalls}"
    )
    # the geometry actually binds: a tiny shortlist misses neighbors
    assert recalls[0] < 0.9, (
        f"geometry not adversarial enough to pin the contract: {recalls}"
    )


def test_ivfpq_merge_on_read_deletes(spark, tmp_path):
    """delete_from_ivfpq_index: tombstoned vectors vanish from top-k
    immediately and results equal an index that never held them;
    unknown/repeated ids are no-ops; compaction drops the rows
    physically and clears the tombstones; overwrite rebuilds clear
    stale tombstones (the text index's caught bug class)."""
    import os

    emb = _emb(spark).filter(F.col("vec_id") < 300)
    cents = S.train_ivf_centroids(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        n_cells=8, n_train=512,
    )
    books = S.train_pq_codebooks_distributed(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        m=16, n_codes=16, dim=64, centroids=cents,
    )
    path = str(tmp_path / "idx")
    kw = dict(corpus_id="vec_id", corpus_vec="embedding")
    qkw = dict(
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding",
        k=5, n_probe=8, shortlist=300,
    )
    S.write_ivfpq_index(emb, path, books, cents, **kw)
    victims = [int(r.vec_id) for r in emb.filter(
        F.pmod(F.col("vec_id"), F.lit(4)) == 0
    ).select("vec_id").collect()]
    stats = S.delete_from_ivfpq_index(spark, path, victims)
    assert stats["deleted"] == len(victims)
    q = emb.filter(F.col("vec_id") < 6)
    survivors = emb.filter(F.pmod(F.col("vec_id"), F.lit(4)) != 0)
    got = {
        (r.qid, r.cid)
        for r in S.ivfpq_query_index(spark, path, q, emb, **qkw).collect()
    }
    assert not any(c % 4 == 0 for _, c in got)
    ref = str(tmp_path / "ref")
    S.write_ivfpq_index(survivors, ref, books, cents, **kw)
    want = {
        (r.qid, r.cid)
        for r in S.ivfpq_query_index(spark, ref, q, emb, **qkw).collect()
    }
    assert got == want
    # no-ops: repeat + unknown
    again = S.delete_from_ivfpq_index(spark, path, victims + [10 ** 12])
    assert again["deleted"] == 0
    # compaction applies physically and clears tombstones
    S.compact_ivfpq_index(spark, path)
    assert not os.path.exists(os.path.join(path, "_deletes"))
    codes = spark.read.parquet(os.path.join(path, "codes"))
    assert codes.filter(F.pmod(F.col("cid"), F.lit(4)) == 0).count() == 0
    got2 = {
        (r.qid, r.cid)
        for r in S.ivfpq_query_index(spark, path, q, emb, **qkw).collect()
    }
    assert got2 == got
    # rebuild clears stale tombstones
    S.write_ivfpq_index(emb, path, books, cents, **kw)
    assert not os.path.exists(os.path.join(path, "_deletes"))
    full = {
        (r.qid, r.cid)
        for r in S.ivfpq_query_index(spark, path, q, emb, **qkw).collect()
    }
    assert any(c % 4 == 0 for _, c in full)  # deleted ids back after rebuild
    # marker blocks deletes
    (tmp_path / "idx" / "_pending_append").write_text("stale\n")
    with pytest.raises(ValueError, match="marker present"):
        S.delete_from_ivfpq_index(spark, path, [1])


def test_ivfpq_filtered_query_allowed_ids(spark, tmp_path):
    """Filtered vector search through the persisted index: the
    allowed_ids semi-join applies BEFORE the ADC shortlist, so (a) an
    exhaustive probe returns exactly the brute-force top-k among the
    qualifying vectors, (b) a predicate with fewer than k qualifying
    ids returns only those ids — never a disqualified filler — and
    (c) the filter composes with merge-on-read deletes (a tombstoned
    id stays gone even when allowed)."""
    emb = _emb(spark).filter(F.col("vec_id") < 200)
    cents = S.train_ivf_centroids(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        n_cells=4, n_train=256,
    )
    books = S.train_pq_codebooks_distributed(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        m=8, n_codes=16, dim=64, centroids=cents,
    )
    path = str(tmp_path / "idx")
    S.write_ivfpq_index(
        emb, path, books, cents, corpus_id="vec_id", corpus_vec="embedding"
    )
    queries = emb.filter(F.col("vec_id") < 5)
    kw = dict(
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding",
        k=5, n_probe=4, shortlist=10**6,
    )
    allowed = emb.filter(F.pmod(F.col("vec_id"), F.lit(3)) == 0).select(
        "vec_id"
    )
    got = {
        (r["qid"], r["cid"])
        for r in S.ivfpq_query_index(
            spark, path, queries, emb, allowed_ids=allowed, **kw
        ).collect()
    }
    want = {
        (r["qid"], r["cid"])
        for r in S.brute_force_topk(
            queries.select(
                F.col("vec_id").alias("qid"),
                F.col("embedding").alias("qvec"),
            ),
            emb.filter(F.pmod(F.col("vec_id"), F.lit(3)) == 0).select(
                F.col("vec_id").alias("cid"),
                F.col("embedding").alias("cvec"),
            ),
            query_id="qid", query_vec="qvec",
            corpus_id="cid", corpus_vec="cvec", k=5,
        ).collect()
    }
    assert got == want and got
    assert all(cid % 3 == 0 for _, cid in got)
    # fewer qualifying than k: returns exactly the qualifying set
    tiny = spark.createDataFrame([(9,), (18,), (27,)], "vec_id long")
    rows = S.ivfpq_query_index(
        spark, path, queries, emb, allowed_ids=tiny, **kw
    ).collect()
    assert {r["cid"] for r in rows} <= {9, 18, 27}
    per_q = {}
    for r in rows:
        per_q.setdefault(r["qid"], set()).add(r["cid"])
    assert all(v == {9, 18, 27} for v in per_q.values())
    # composes with MoR deletes: a tombstoned allowed id stays gone
    S.delete_from_ivfpq_index(spark, path, [18])
    rows2 = S.ivfpq_query_index(
        spark, path, queries, emb, allowed_ids=tiny, **kw
    ).collect()
    assert {r["cid"] for r in rows2} == {9, 27}


def test_retrain_rebuilds_after_drift(spark, tmp_path):
    """The full drift lifecycle (r13): an index trained on one region
    of the space, then fed a drifted append, develops cell skew the
    stats surface reports and maybe_retrain flags; retrain_ivfpq_index
    rebuilds on the CURRENT corpus under the marker discipline, the
    advisory clears (or at least improves), the layout parameters
    carry over from meta, and queries against the retrained index are
    row-identical to a fresh one-shot build with the same seeds."""
    import random

    rng = random.Random(7)
    dim = 64

    def cluster(center, n, base):
        return [
            (
                base + i,
                [center + rng.uniform(-0.05, 0.05) for _ in range(dim)],
            )
            for i in range(n)
        ]

    a = spark.createDataFrame(
        cluster(0.0, 200, 0), "vec_id long, embedding array<float>"
    )
    b = spark.createDataFrame(
        cluster(5.0, 200, 1000), "vec_id long, embedding array<float>"
    )
    both = a.unionByName(b)
    path = str(tmp_path / "pq")
    kw = dict(corpus_id="vec_id", corpus_vec="embedding")
    cents = S.train_ivf_centroids(a, n_cells=8, n_train=512, **kw)
    books = S.train_pq_codebooks_distributed(
        a, m=8, n_codes=16, dim=dim, centroids=cents, **kw
    )
    S.write_ivfpq_index(a, path, books, cents, **kw)
    S.append_ivfpq_index(b, path, corpus_vec="embedding", batch_id=1)
    drifted = S.ivfpq_index_stats(path)
    # the drifted batch piles into few cells: the advisory fires at a
    # modest threshold
    assert S.maybe_retrain_ivfpq_index(path, max_skew=2.0) is not None

    out = S.retrain_ivfpq_index(path, both, n_train=512, **kw)
    assert out["n_cells"] == 8  # layout carried over from meta
    assert out["skew_after"] < out["skew_before"]
    assert out["skew_before"] == drifted["cell_skew_ratio"]
    after = S.ivfpq_index_stats(path)
    assert not after["pending_append"]
    assert after["cell_rows_total"] == 400

    # retrained index answers queries identically to a one-shot build
    # (same deterministic trainers, same corpus, same SAMPLING MODE —
    # retrain hash-spreads its training sample since r14, so the
    # equivalent one-shot build is the hash-sampled one)
    oneshot = str(tmp_path / "pq1")
    cents2 = S.train_ivf_centroids(
        both, n_cells=8, n_train=512, sample_mode="hash", **kw
    )
    books2 = S.train_pq_codebooks_distributed(
        both, m=8, n_codes=16, dim=dim, centroids=cents2,
        sample_mode="hash", **kw
    )
    S.write_ivfpq_index(both, oneshot, books2, cents2, **kw)
    q = both.filter(F.col("vec_id") < 5)
    qkw = dict(
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding",
        k=5, n_probe=4, shortlist=25,
    )
    got = [
        tuple(r)
        for r in S.ivfpq_query_index(spark, path, q, both, **qkw).collect()
    ]
    want = [
        tuple(r)
        for r in S.ivfpq_query_index(
            spark, oneshot, q, both, **qkw
        ).collect()
    ]
    assert got == want


def test_trainer_hash_sample_reaches_appended_ids(spark):
    """r14 (found by the full-scale retrain leg): the trainers' bounded
    sample must be able to SEE appended data. Head mode (the default,
    every oracle-gated entry's contract) takes the first n_train ids —
    zero rows from the top of the id range; hash mode spreads over the
    whole range, which is what retrain_ivfpq_index trains under.
    Also pins determinism (same sample both calls) and the parameter
    contract (bad mode / hash without id raise)."""
    import pytest

    from implementation_of_an_etl_process_spark.operators.similarity import (
        _normalized_sample,
    )

    emb = spark.range(1000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0)] * 4).alias("embedding"),
    )

    def ids(mode):
        s = _normalized_sample(
            emb.withColumn("_keep", F.col("vec_id")).select(
                "vec_id", "embedding"
            ),
            corpus_vec="embedding", corpus_id="vec_id",
            n_train=100, sample_mode=mode,
        )
        # _normalized_sample keeps only _nv; re-derive ids by joining
        # is overkill — sample the raw selector the same way instead
        return s

    # sample the id column through the same ordering rule the helper
    # applies, to observe WHICH rows each mode picks
    head = {r.vec_id for r in emb.orderBy("vec_id").limit(100).collect()}
    hashed = {
        r.vec_id
        for r in emb.orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(100)
        .collect()
    }
    assert head == set(range(100))  # head never sees appended ids
    assert any(i >= 500 for i in hashed), "hash sample must spread"
    # the helper itself runs under both modes and stays bounded
    assert ids("head").count() == 100
    assert ids("hash").count() == 100
    # determinism: two invocations agree row-for-row
    a = [tuple(r._nv) for r in ids("hash").collect()]
    b = [tuple(r._nv) for r in ids("hash").collect()]
    assert a == b
    with pytest.raises(ValueError, match="sample_mode"):
        _normalized_sample(
            emb, corpus_vec="embedding", corpus_id="vec_id",
            n_train=10, sample_mode="tail",
        )
    with pytest.raises(ValueError, match="corpus_id"):
        _normalized_sample(
            emb, corpus_vec="embedding", corpus_id=None,
            n_train=10, sample_mode="hash",
        )


def test_int_cosine_pre_bit_identical_to_inline(spark):
    """r14 optimization: the per-side-precomputed cosine
    (functions.vectors.int_cosine_pre) must be BIT-identical to the
    inline int_cosine(quantize, quantize) it replaced in every pair
    plan — norms are functions of one side alone, so where they are
    evaluated cannot change the value. Random vectors + the null edge;
    any drift here would silently re-rank ANN results."""
    import random

    from implementation_of_an_etl_process_spark.functions.vectors import (
        int_cosine,
        int_cosine_pre,
        int_norm2,
        quantize_vec,
    )

    rng = random.Random(14)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)],
         [rng.uniform(-1, 1) for _ in range(16)])
        for i in range(200)
    ]
    rows.append((200, None, [0.1] * 16))
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )
    base = df.select(
        "id", int_cosine(quantize_vec("a"), quantize_vec("b")).alias("s")
    ).collect()
    pre = (
        df.withColumn("_aq", quantize_vec("a"))
        .withColumn("_an", int_norm2(F.col("_aq")))
        .withColumn("_bq", quantize_vec("b"))
        .withColumn("_bn", int_norm2(F.col("_bq")))
        .select(
            "id",
            int_cosine_pre(
                F.col("_aq"), F.col("_bq"), F.col("_an"), F.col("_bn")
            ).alias("s"),
        )
        .collect()
    )
    assert sorted(map(tuple, base)) == sorted(map(tuple, pre))


def test_flat_matrix_rejects_null_and_ragged_rows():
    """The Arrow list -> matrix view must refuse null rows and rows of
    unequal width even when the flattened size happens to divide the
    row count (3 values over 3 rows would otherwise reshape to 3x1)."""
    import numpy as np
    import pyarrow as pa

    ok = pa.array([[0, 1], [2, 3], [4, 5]]).slice(1)
    assert S._flat_matrix(ok, np.float64).tolist() == [[2, 3], [4, 5]]
    for bad in ([[1, 2], None, [3, 4], [5, 6]], [[1], [2, 3], []], []):
        with pytest.raises(ValueError, match="null or ragged"):
            S._flat_matrix(pa.array(bad, pa.list_(pa.int64())), np.int64)
