"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact top-k cosine neighbors — broadcast the
  query set against the corpus, rank with a window. The correctness
  baseline; O(|queries| * |corpus|) but fully distributed (corpus-side
  parallelism), so it scales with executors as long as the query set is
  broadcastable.
- ``ivf_topk``: IVF-style approximate path — cluster corpus vectors
  into Voronoi cells around deterministic pseudo-random centroids,
  search only the ``n_probe`` cells nearest each query (inverted-file
  indexing per Jégou/Douze/Schmid, "Product quantization for nearest
  neighbor search", 2011 — the coarse quantizer stage, without PQ).
  The shuffle is keyed by cell id, so corpus size scales out; recall is
  tunable via n_probe/n_cells.

Scores use quantized-int cosine (see functions.vectors) so results are
engine-exact for oracle comparison; throughput users can pass
``exact_scores=False`` for the float path.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark.functions.vectors import (
    float_cosine,
    int_cosine_pre,
    int_norm2,
    quantize_vec,
)
from implementation_of_an_etl_process_spark.plans import spread
from implementation_of_an_etl_process_spark.sources import indexdir


def _pairs_scored(queries_df, corpus_df, exact_scores: bool):
    """Cross corpus x broadcast(queries), scored. Corpus stays the
    streamed side so parallelism follows corpus partitions."""
    if exact_scores:
        # quantize AND norm² once per SIDE row: the pair projection
        # then evaluates only the dot product — int_cosine inline would
        # re-walk both norms' dim-length lambdas on every pair row
        # (guide §1.2 per-task work; values bit-identical, see
        # functions.vectors.int_cosine_pre)
        qd = queries_df.select(
            "qid", quantize_vec("qvec").alias("qv")
        ).withColumn("_qn2", int_norm2(F.col("qv")))
        cd = corpus_df.select(
            "cid", quantize_vec("cvec").alias("cv")
        ).withColumn("_cn2", int_norm2(F.col("cv")))
        return cd.crossJoin(F.broadcast(qd)).withColumn(
            "score",
            int_cosine_pre(
                F.col("qv"), F.col("cv"), F.col("_qn2"), F.col("_cn2")
            ),
        )
    return corpus_df.crossJoin(F.broadcast(queries_df)).withColumn(
        "score", float_cosine(F.col("qvec"), F.col("cvec"))
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int = 5,
    exclude_self: bool = True,
    exact_scores: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    The query set broadcasts (small side); every corpus partition scores
    its rows against all queries, then one shuffle on query id ranks
    candidates — map-side nothing is dropped, but at 100 TB the
    window's shuffle carries only corpus rows, not a cross-join blowup,
    because scoring happened before the exchange.
    """
    qd = queries.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec")
    )
    cd = spread(
        corpus.select(
            F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("cvec")
        )
    )
    pairs = _pairs_scored(qd, cd, exact_scores)
    if exclude_self:
        pairs = pairs.filter(F.col("qid") != F.col("cid"))
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("cid").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "score", "rank")
    )


def centroid_components(c: int, dim: int) -> list[float]:
    """Deterministic ±1.0 centroid components (md5 of "ivf:cell:i") —
    reproducible in any engine, stable across task retries."""
    import hashlib

    return [
        1.0 if hashlib.md5(f"ivf:{c}:{i}".encode()).digest()[0] & 1 else -1.0
        for i in range(dim)
    ]


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    exclude_self: bool = True,
    dim: int | None = None,
    centroids: list[list[float]] | None = None,
    arrow_assign: bool = False,
) -> DataFrame:
    """IVF-flat approximate top-k: assign corpus vectors to the nearest
    of ``n_cells`` centroids; score each query only against its
    ``n_probe`` nearest cells.

    Default centroids: component (c, i) = ±1 generated driver-side
    (md5-derived) and embedded as literal arrays — data-free,
    deterministic, engine-portable, and a far smaller expression tree
    than per-component conditional hashing (measured: cuts plan codegen
    time ~4x). Pass ``centroids`` (e.g. from the distributed
    :func:`train_ivf_centroids`) to use data-adapted cells instead;
    ``n_cells`` then follows ``len(centroids)``. Either way the plan
    shape is the same: cell-keyed shuffle + per-cell scoring. Pass
    ``dim`` when known to skip a driver metadata read.

    ``arrow_assign=True`` computes the corpus→cell and query→probe-cell
    assignments with one numpy matmul per Arrow batch (centroid matrix
    shipped in the UDF closure) instead of the n_cells-way literal
    expression tree — measured ~50x on the assignment stage at 1e5+
    vectors, the dominant index-build cost. The expression path stays
    the default: it is the engine-portable oracle path (no Python in
    the plan) and argmax ties (exactly equal float cosines) can in
    principle resolve differently between the two. Scoring inside the
    probed cells is identical either way.
    """
    if centroids is not None:
        n_cells = len(centroids)
    if dim is None:
        # bounded driver read: one row of metadata, not data
        dim = corpus.select(F.size(corpus_vec).alias("d")).first()["d"]

    def centroid(c: int):
        comps = (
            centroids[c] if centroids is not None
            else centroid_components(c, dim)
        )
        return F.array(*[F.lit(float(v)) for v in comps])

    def nearest_cells(vec, n: int):
        scored = F.array(
            *[
                F.struct(
                    float_cosine(vec, centroid(c)).alias("s"),
                    F.lit(c).alias("cell"),
                )
                for c in range(n_cells)
            ]
        )
        return F.slice(F.reverse(F.array_sort(scored)), 1, n)

    if arrow_assign:
        cd = _assign_cells_arrow(
            spread(corpus), corpus_id, corpus_vec, "cid", "cvec",
            centroids=[
                centroids[c] if centroids is not None
                else centroid_components(c, dim)
                for c in range(n_cells)
            ],
            n_assign=1,
        )
        qd = _assign_cells_arrow(
            queries, query_id, query_vec, "qid", "qvec",
            centroids=[
                centroids[c] if centroids is not None
                else centroid_components(c, dim)
                for c in range(n_cells)
            ],
            n_assign=n_probe,
        )
    else:
        cd = spread(corpus).select(
            F.col(corpus_id).alias("cid"),
            F.col(corpus_vec).alias("cvec"),
            nearest_cells(F.col(corpus_vec), 1)[0]["cell"].alias("cell"),
        )
        qd = queries.select(
            F.col(query_id).alias("qid"),
            F.col(query_vec).alias("qvec"),
            F.explode(
                F.transform(
                    nearest_cells(F.col(query_vec), n_probe),
                    lambda s: s["cell"],
                )
            ).alias("cell"),
        )
    # per-SIDE quantize+norm², per-PAIR dot only (bit-identical values;
    # see functions.vectors.int_cosine_pre) — the inline int_cosine
    # form paid 5×dim lambda visits per (corpus row × probing query)
    cd = cd.withColumn("_cq", quantize_vec("cvec")).withColumn(
        "_cn2", int_norm2(F.col("_cq"))
    )
    qd = qd.withColumn("_qq", quantize_vec("qvec")).withColumn(
        "_qn2", int_norm2(F.col("_qq"))
    )
    pairs = cd.join(F.broadcast(qd), "cell").withColumn(
        "score",
        int_cosine_pre(
            F.col("_qq"), F.col("_cq"), F.col("_qn2"), F.col("_cn2")
        ),
    )
    if exclude_self:
        pairs = pairs.filter(F.col("qid") != F.col("cid"))
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("cid").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "score", "rank")
    )


def _assign_cells_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    out_vec: str,
    *,
    centroids: list[list[float]],
    n_assign: int,
) -> DataFrame:
    """(out_id, out_vec, cell) with one row per (vector, assigned cell):
    the ``n_assign`` nearest centroids by cosine, computed as ONE numpy
    matmul per Arrow batch (the centroid matrix rides in the closure —
    n_cells x dim floats, a few KB). Tie-break mirrors the expression
    path (descending (score, cell)): ties take the LARGER cell id."""
    import numpy as np

    C = np.array(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-30)
    n_cells = len(centroids)

    def assign(batches):
        import pyarrow as pa

        # Arrow-native (guide §4.2): the (B, dim) matrix is a flatten+
        # reshape over the list column's values buffer, and the
        # row-repeated vector column is a zero-copy .take() on the
        # Arrow array — the pandas form materialized every vector as
        # Python floats via .tolist(). Same math, same tie-break.
        for rb in batches:
            if rb.num_rows == 0:
                continue
            vec_col_arr = rb.column(rb.schema.get_field_index(out_vec))
            X = _flat_matrix(vec_col_arr, np.float64)
            Xn = X / np.maximum(
                np.linalg.norm(X, axis=1, keepdims=True), 1e-30
            )
            S = Xn @ Cn.T  # (batch, n_cells)
            # stable argsort of the column-reversed scores → on exact
            # ties the larger cell id wins, like the expression path
            idx = np.argsort(-S[:, ::-1], axis=1, kind="stable")[:, :n_assign]
            cells = (n_cells - 1 - idx).astype(np.int32)  # (batch, n_assign)
            m = cells.shape[1]
            rep = np.repeat(np.arange(rb.num_rows, dtype=np.int64), m)
            ids = rb.column(rb.schema.get_field_index(out_id)).to_numpy()
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, m), type=pa.int64()),
                    vec_col_arr.take(pa.array(rep)),
                    pa.array(cells.ravel(), type=pa.int32()),
                ],
                names=[out_id, out_vec, "cell"],
            )

    src = df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).cast("array<double>").alias(out_vec),
    )
    return src.mapInArrow(
        assign, f"{out_id} long, {out_vec} array<double>, cell int"
    )


def ivf_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int = 5,
    n_cells: int = 64,
    n_probe: int = 8,
    exclude_self: bool = True,
    dim: int | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-flat top-k, fully vectorized: the throughput path.

    One corpus pass, no join: each Arrow batch is (a) assigned to cells
    with a matmul against the centroid matrix, then (b) scored ONLY
    against the queries probing its cells — the query set (bounded,
    same contract as :func:`brute_force_topk_arrow`) is collected once,
    its probe-cell lists precomputed driver-side, and both matrices
    ride in the UDF closure. Each batch emits at most
    (#queries x k) rows before the final global re-rank, so the
    exchange is tiny regardless of corpus size. Scores are float64
    matmul cosines (the float path — use the expression
    :func:`ivf_topk` when oracle-exact integer scores matter).

    Cost per corpus vector: one n_cells-dot assignment plus one dot per
    query probing its cell (n_queries * n_probe / n_cells expected) —
    vs n_queries dots for brute force; the advantage is the probe
    fraction, realized here because both stages are BLAS batch ops
    rather than per-row expression trees.
    """
    import numpy as np

    if dim is None:
        dim = corpus.select(F.size(corpus_vec).alias("d")).first()["d"]
    cents = (
        centroids
        if centroids is not None
        else [centroid_components(c, dim) for c in range(n_cells)]
    )
    n_cells = len(cents)
    C = np.array(cents, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-30)

    q_rows = queries.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec")
    ).collect()  # small side by contract
    qids = np.array([r.qid for r in q_rows], dtype=np.int64)
    Q = np.array([r.qvec for r in q_rows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-30)
    # probe cells per query, tie-break identical to _assign_cells_arrow
    qs = Qn @ Cn.T
    qidx = np.argsort(-qs[:, ::-1], axis=1, kind="stable")[:, :n_probe]
    q_cells = n_cells - 1 - qidx  # (n_queries, n_probe)
    cell_to_q: dict = {}
    for qi, cells in enumerate(q_cells):
        for c in cells:
            cell_to_q.setdefault(int(c), []).append(qi)
    cell_to_q = {c: np.array(v, dtype=np.int64) for c, v in cell_to_q.items()}

    def score(batches):
        import pyarrow as pa

        # Arrow-native: see _assign_cells_arrow — flatten+reshape in
        # place of the per-row .tolist(); identical batches and math.
        for rb in batches:
            if rb.num_rows == 0:
                continue
            X = _flat_matrix(
                rb.column(rb.schema.get_field_index("cvec")), np.float64
            )
            Xn = X / np.maximum(
                np.linalg.norm(X, axis=1, keepdims=True), 1e-30
            )
            A = Xn @ Cn.T
            cells = (
                n_cells
                - 1
                - np.argmax(A[:, ::-1], axis=1)  # ties -> larger cell
            )
            cids = rb.column(rb.schema.get_field_index("cid")).to_numpy()
            out_q, out_c, out_s = [], [], []
            for c in np.unique(cells):
                qs_here = cell_to_q.get(int(c))
                if qs_here is None:
                    continue
                rows = np.flatnonzero(cells == c)
                S = Xn[rows] @ Qn[qs_here].T  # (rows, probing queries)
                if exclude_self:
                    # Mask self pairs BEFORE the batch-local truncation:
                    # filtering after top-k would let a query's own
                    # corpus row occupy one of the k slots and
                    # permanently evict the true k-th neighbor.
                    S[cids[rows][:, None] == qids[qs_here][None, :]] = -np.inf
                top = min(k, len(rows))
                idx = np.argpartition(-S, top - 1, axis=0)[:top]
                out_q.append(np.repeat(qids[qs_here], top))
                out_c.append(cids[rows][idx.T.ravel()])
                out_s.append(np.take_along_axis(S, idx, axis=0).T.ravel())
            if not out_q:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(
                        np.concatenate(out_c).astype(np.int64, copy=False),
                        type=pa.int64(),
                    ),
                    pa.array(np.concatenate(out_s), type=pa.float64()),
                ],
                names=["qid", "cid", "score"],
            )

    cd = spread(
        corpus.select(
            F.col(corpus_id).alias("cid"),
            F.col(corpus_vec).cast("array<double>").alias("cvec"),
        )
    )
    partial = cd.mapInArrow(score, "qid long, cid long, score double")
    if exclude_self:
        partial = partial.filter(F.col("qid") != F.col("cid"))
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("cid").asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "score", "rank")
    )


def brute_force_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Vectorized exact top-k: the throughput path.

    The query set (small side) is collected once and shipped to every
    task inside the UDF closure as a normalized numpy matrix; each
    corpus Arrow batch is scored with one float64 matmul and pruned to
    its batch-local top-k per query BEFORE the shuffle — so the exchange
    carries at most (#queries x k) rows per batch, not the cross join.
    A final window re-ranks the batch-local winners globally.

    Same results as :func:`brute_force_topk` up to float-summation
    order in scores (ranks agree except on near-exact ties); use the
    expression path when oracle-exact scores matter, this one when
    corpus throughput matters.
    """
    import numpy as np

    q_rows = queries.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec")
    ).collect()  # small side by contract (same bound as a broadcast)
    qids = np.array([r.qid for r in q_rows], dtype=np.int64)
    Q = np.array([r.qvec for r in q_rows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-30)

    def score(batches):
        import pyarrow as pa

        # Arrow-native: see _assign_cells_arrow — flatten+reshape in
        # place of the per-row .tolist(); identical batches and math
        # (float32 -> float64 widening is exact either way).
        for rb in batches:
            if rb.num_rows == 0:
                continue
            C = _flat_matrix(
                rb.column(rb.schema.get_field_index("cvec")), np.float64
            )
            Cn = C / np.maximum(
                np.linalg.norm(C, axis=1, keepdims=True), 1e-30
            )
            S = Cn @ Qn.T  # (batch, n_queries)
            cids = rb.column(rb.schema.get_field_index("cid")).to_numpy()
            if exclude_self:
                # Mask self pairs BEFORE batch-local truncation (a
                # post-top-k filter can evict the true k-th neighbor).
                S[cids[:, None] == qids[None, :]] = -np.inf
            top = min(k, len(cids))
            # batch-local top-k per query column
            idx = np.argpartition(-S, top - 1, axis=0)[:top]  # (top, nq)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(qids, top), type=pa.int64()),
                    pa.array(
                        cids[idx.T.ravel()].astype(np.int64, copy=False),
                        type=pa.int64(),
                    ),
                    pa.array(
                        np.take_along_axis(S, idx, axis=0).T.ravel(),
                        type=pa.float64(),
                    ),
                ],
                names=["qid", "cid", "score"],
            )

    cd = spread(
        corpus.select(
            F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("cvec")
        )
    )
    partial = cd.mapInArrow(score, "qid long, cid long, score double")
    if exclude_self:
        partial = partial.filter(F.col("qid") != F.col("cid"))
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("cid").asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "score", "rank")
    )


# --- distributed codebook / centroid training ------------------------------


def _normalized_sample(
    corpus: DataFrame,
    *,
    corpus_vec: str,
    corpus_id: str | None,
    n_train: int,
    sample_mode: str = "head",
) -> DataFrame:
    """Deterministic bounded training sample as a DATAFRAME, with the
    vector L2-normalized in-plan to array<double> column ``_nv``. No
    vector ever reaches the driver — this is the input to the
    distributed trainers below.

    ``sample_mode="head"`` (default, the original contract every
    oracle-gated entry trains under): first ``n_train`` rows by id.
    ``sample_mode="hash"``: first ``n_train`` by xxhash64(id) — a
    deterministic spread over the WHOLE id range. Head sampling is
    wrong exactly when the id order encodes arrival order: appended
    (newest-id) data never reaches the sample, so a RETRAIN meant to
    follow post-deployment drift trains on the pre-drift distribution
    and fixes nothing — measured full-scale in r14: retrain left skew
    at 8.1 and recall at 0.38 until the retrain path switched to hash
    sampling (tools/fullscale_ivfpq_lifecycle.py leg 5). Requires an
    id column."""
    if sample_mode not in ("head", "hash"):
        raise ValueError(f"sample_mode must be 'head' or 'hash': "
                         f"{sample_mode!r}")
    s = corpus.select(
        F.col(corpus_vec).alias("_v"),
        *([F.col(corpus_id).alias("_id")] if corpus_id else []),
    )
    if sample_mode == "hash":
        if not corpus_id:
            raise ValueError("sample_mode='hash' needs corpus_id")
        s = s.orderBy(F.xxhash64("_id"), F.col("_id"))
    elif corpus_id:
        s = s.orderBy("_id")
    s = s.limit(n_train)
    norm = F.sqrt(
        F.aggregate(
            "_v",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return s.select(
        F.transform(
            "_v",
            lambda x: x.cast("double") / F.greatest(norm, F.lit(1e-30)),
        ).alias("_nv")
    )


def _residualize(sample: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Replace each normalized sample vector with its coarse-quantizer
    RESIDUAL (v_n - nearest normalized centroid by cosine, ties to the
    larger cell id — the exact assignment rule every IVF path here
    uses). One matmul per Arrow batch; the residual is what IVFADC's
    codebooks quantize, because within a coarse cell the residual
    energy is small and the same code budget resolves much finer
    distances (Jégou et al. 2011 §IVFADC)."""
    import numpy as np

    C = np.array(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-30)
    n_cells = len(centroids)

    def res(batches):
        import pyarrow as pa

        # Arrow-native: flatten+reshape in, uniform-offset list out —
        # no per-row Python objects either direction (guide §4.2)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            X = _flat_matrix(
                rb.column(rb.schema.get_field_index("_nv")), np.float64
            )
            A = X @ Cn.T
            cells = n_cells - 1 - np.argmax(A[:, ::-1], axis=1)
            yield pa.RecordBatch.from_arrays(
                [_rows_list_array(X - Cn[cells], pa.float64())],
                names=["_nv"],
            )

    return sample.mapInArrow(res, "_nv array<double>")


def train_pq_codebooks_distributed(
    corpus: DataFrame,
    *,
    corpus_vec: str,
    m: int = 8,
    n_codes: int = 16,
    n_train: int = 2048,
    corpus_id: str | None = None,
    seed: int = 42,
    max_iter: int = 8,
    dim: int | None = None,
    centroids: list[list[float]] | None = None,
    sample_mode: str = "head",
):
    """PQ codebook training with NO driver-side vector materialization:
    one seeded ``pyspark.ml.clustering.KMeans`` fit per subspace over
    the sampled-and-normalized DataFrame. Only the fitted cluster
    centers — (m, n_codes, dim/m) floats, a few KB — return to the
    driver, so ``n_train`` can grow to millions of rows on a real
    corpus without changing the shape. Returns the same numpy
    (m, n_codes, sub) array as :func:`train_pq_codebooks` (the bounded
    driver-side trainer, kept as the deterministic test oracle).

    Pass ``centroids`` (the IVF coarse quantizer's) to train on coarse
    RESIDUALS instead of raw normalized vectors — required for
    :func:`encode_ivfpq`'s default residual mode.
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim is None:
        dim = corpus.select(F.size(corpus_vec).alias("d")).first()["d"]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    sample = _normalized_sample(
        corpus, corpus_vec=corpus_vec, corpus_id=corpus_id,
        n_train=n_train, sample_mode=sample_mode,
    )
    if centroids is not None:
        sample = _residualize(sample, centroids)
    # one cached pass feeds all m fits; the fits are independent, so
    # submit them as CONCURRENT Spark jobs (thread pool on the driver —
    # Spark's scheduler interleaves them across the same executors),
    # which collapses m sequential fit latencies into ~one
    from concurrent.futures import ThreadPoolExecutor

    sample = sample.persist()
    sample.count()  # materialize once before the concurrent fits

    def fit_one(j: int):
        feats = sample.select(
            array_to_vector(F.slice("_nv", j * sub + 1, sub)).alias(
                "features"
            )
        )
        model = KMeans(k=n_codes, seed=seed + j, maxIter=max_iter).fit(
            feats
        )
        return np.array(model.clusterCenters())

    try:
        books = np.empty((m, n_codes, sub))
        with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
            for j, centers in enumerate(pool.map(fit_one, range(m))):
                # Spark ML KMeans can return fewer than k centers when a
                # subspace sample has < k distinct points; pad by
                # repeating the first center (padded codes are simply
                # never the argmin, so ADC is unaffected).
                books[j, : len(centers)] = centers
                if len(centers) < n_codes:
                    books[j, len(centers):] = centers[0]
        return books
    finally:
        sample.unpersist(blocking=False)


def train_ivf_centroids(
    corpus: DataFrame,
    *,
    corpus_vec: str,
    n_cells: int = 16,
    n_train: int = 4096,
    corpus_id: str | None = None,
    seed: int = 42,
    max_iter: int = 8,
    sample_mode: str = "head",
) -> list[list[float]]:
    """Coarse-quantizer centroids for :func:`ivf_topk`, trained with a
    seeded distributed ``pyspark.ml.clustering.KMeans`` on the
    normalized sample DataFrame (no vector collect; only the
    n_cells x dim centers return to the driver). Data-adapted cells
    balance the inverted lists where the data is clustered — the md5
    ±1-hyperplane default stays available as the engine-portable
    deterministic oracle path. ``sample_mode`` picks the bounded
    training sample (see :func:`_normalized_sample`; retrains pass
    ``"hash"`` so appended drift reaches the sample)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sample = _normalized_sample(
        corpus, corpus_vec=corpus_vec, corpus_id=corpus_id,
        n_train=n_train, sample_mode=sample_mode,
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(
        sample.select(array_to_vector(F.col("_nv")).alias("features"))
    )
    return [[float(x) for x in c] for c in model.clusterCenters()]


# --- product quantization (Jégou/Douze/Schmid 2011, §PQ+ADC) ---------------


def train_pq_codebooks(
    corpus: DataFrame,
    *,
    corpus_vec: str,
    m: int = 8,
    n_codes: int = 16,
    n_train: int = 2048,
    corpus_id: str | None = None,
):
    """Train PQ codebooks driver-side on a bounded deterministic sample
    (first ``n_train`` rows by id — at real scale swap for a seeded
    ``sample()``; the bound is the same contract as a broadcast).
    Vectors are L2-normalized first so ADC inner products approximate
    cosine. Returns a numpy array (m, n_codes, dim // m).

    Plain Lloyd's iterations in numpy, deterministically seeded — no
    external ML dependency, reproducible across runs and engines.
    """
    import numpy as np

    s = corpus.select(corpus_vec, *( [corpus_id] if corpus_id else [] ))
    if corpus_id:
        s = s.orderBy(corpus_id)
    rows = s.limit(n_train).collect()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    rng = np.random.default_rng(42)
    books = np.empty((m, n_codes, sub))
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        # k-means++ style init would add variance; deterministic spread
        # init: every (len/n_codes)-th point of the sorted-by-norm sample
        order = np.argsort(np.linalg.norm(Xj, axis=1), kind="stable")
        C = Xj[order[:: max(1, len(Xj) // n_codes)]][:n_codes].copy()
        while len(C) < n_codes:  # degenerate tiny-sample fallback
            C = np.vstack([C, C[: n_codes - len(C)] + 1e-6])
        for _ in range(8):  # Lloyd's
            d2 = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(n_codes):
                pts = Xj[assign == c]
                if len(pts):
                    C[c] = pts.mean(0)
                else:  # re-seed empty cell deterministically
                    C[c] = Xj[int(rng.integers(0, len(Xj)))]
        books[j] = C
    return books


def encode_pq(
    corpus: DataFrame, codebooks, *, corpus_id: str, corpus_vec: str
) -> DataFrame:
    """Encode each corpus vector as m uint8 codes (nearest codebook
    entry per subspace) — the PQ index build. 64 float32 dims become
    8 bytes: a 32x-smaller index that fits in memory at corpus sizes
    where raw vectors cannot. Vectorized numpy per Arrow batch."""
    import numpy as np

    m, n_codes, sub = codebooks.shape

    def enc(batches):
        import pyarrow as pa

        # Arrow-native: see _assign_cells_arrow (flatten+reshape in,
        # uniform-offset list out)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            X = _flat_matrix(
                rb.column(rb.schema.get_field_index("_vec")), np.float64
            )
            X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                Xj = X[:, j * sub : (j + 1) * sub]
                d2 = ((Xj[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = d2.argmin(1)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        rb.column(
                            rb.schema.get_field_index("_id")
                        ).to_numpy(),
                        type=pa.int64(),
                    ),
                    _rows_list_array(codes, pa.int32()),
                ],
                names=["cid", "codes"],
            )

    cd = spread(
        corpus.select(
            F.col(corpus_id).alias("_id"), F.col(corpus_vec).alias("_vec")
        )
    )
    return cd.mapInArrow(enc, "cid long, codes array<int>")


def _flat_matrix(list_col, dtype):
    """(B, d) matrix from an Arrow list column — flatten (offset/
    null-safe) + reshape over the contiguous values buffer; no per-row
    Python objects (guide §4.2). Rows must be non-null and equal-width
    (vectors and PQ codes are, by construction); the guard checks both
    from the list lengths, turning a violated invariant into a loud
    error instead of a silent mis-slice."""
    import numpy as np
    import pyarrow.compute as pc

    n = len(list_col)
    widths = pc.list_value_length(list_col)
    if n == 0 or list_col.null_count or pc.count_distinct(widths).as_py() != 1:
        raise ValueError(
            f"list column with null or ragged rows ({n} rows, "
            f"{list_col.null_count} null)"
        )
    flat = list_col.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(dtype, copy=False).reshape(n, flat.size // n)


def _codes_matrix(codes_col):
    """(B, m) int64 PQ-codes matrix from an Arrow list<int> column."""
    import numpy as np

    return _flat_matrix(codes_col, np.int64)


def _rows_list_array(mat, value_type):
    """The rows of a (B, d) numpy matrix as an Arrow list array —
    uniform offsets over the raveled values, no per-row objects."""
    import numpy as np
    import pyarrow as pa

    b, d = mat.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, (b + 1) * d, d, dtype=np.int32), type=pa.int32()),
        pa.array(mat.ravel(), type=value_type),
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    encoded: DataFrame,
    codebooks,
    *,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int = 5,
    shortlist: int = 50,
    exclude_self: bool = True,
    pin_shortlist: bool = True,
) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance computation with
    exact re-ranking — the production ANN shape at scale:

    1. Each task scores its slice of the 8-byte-per-vector PQ index
       against per-query lookup tables (one m x n_codes table per
       query, built once per batch) — table lookups + adds, no
       vector arithmetic, batch-local shortlist pruning BEFORE any
       shuffle.
    2. The global shortlist (``shortlist`` per query, ranked by ADC)
       joins back the true vectors and is re-scored exactly; the final
       top-k ranks on the exact score. Recall is tunable via
       ``shortlist`` with the ADC pass doing the heavy pruning.
    """
    import numpy as np

    m, n_codes, sub = codebooks.shape
    q_rows = queries.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec")
    ).collect()  # bounded: same contract as the broadcast in brute force
    qids = np.array([r.qid for r in q_rows], dtype=np.int64)
    Q = np.array([r.qvec for r in q_rows], dtype=np.float64)
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-30)
    # LUT[q, j, c] = <query_q subspace j, codebook[j][c]>
    lut = np.einsum(
        "qjs,jcs->qjc", Q.reshape(len(Q), m, sub), codebooks
    )

    def adc(batches):
        import pyarrow as pa

        # Arrow-native: see ivfpq_topk's kernel — same flatten+reshape
        # in place of the per-row .tolist(); identical batches and
        # argpartition math keep tie survival bit-identical.
        for rb in batches:
            if rb.num_rows == 0:
                continue
            codes = _codes_matrix(rb.column(rb.schema.get_field_index("codes")))
            cids = rb.column(rb.schema.get_field_index("cid")).to_numpy()
            B = len(codes)
            S = np.zeros((B, len(qids)))
            for j in range(m):
                S += lut[:, j, codes[:, j]].T  # (B, nq)
            if exclude_self:
                # Same pre-truncation masking as the brute/IVF kernels.
                S[cids[:, None] == qids[None, :]] = -np.inf
            top = min(shortlist, B)
            idx = np.argpartition(-S, top - 1, axis=0)[:top]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(qids, top), type=pa.int64()),
                    pa.array(
                        cids[idx.T.ravel()].astype(np.int64, copy=False),
                        type=pa.int64(),
                    ),
                    pa.array(
                        np.take_along_axis(S, idx, axis=0).T.ravel(),
                        type=pa.float64(),
                    ),
                ],
                names=["qid", "cid", "adc"],
            )

    partial = encoded.mapInArrow(adc, "qid long, cid long, adc double")
    if exclude_self:
        partial = partial.filter(F.col("qid") != F.col("cid"))
    w_adc = W.partitionBy("qid").orderBy(F.col("adc").desc(), F.col("cid"))
    short = (
        partial.withColumn("_r", F.row_number().over(w_adc))
        .filter(F.col("_r") <= shortlist)
        .drop("_r", "adc")
    )
    return _exact_rerank(
        short, corpus, queries,
        query_id=query_id, query_vec=query_vec,
        corpus_id=corpus_id, corpus_vec=corpus_vec, k=k,
        pin=pin_shortlist,
    )


def _exact_rerank(
    short: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    *,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int,
    pin: bool = True,
) -> DataFrame:
    """Exact top-k re-rank of an ADC shortlist (qid, cid) against the
    true vectors — shared tail of :func:`pq_topk` / :func:`ivfpq_topk`.

    Scores are the oracle-exact quantized-int cosine, restructured so
    the per-PAIR projection evaluates only the dot product: quantize +
    norm² are computed once per query (queries are bounded) and once
    per DISTINCT shortlisted corpus id. The corpus-side semi-join on
    the shortlist ids keeps that quantize pass shortlist-sized — the
    full corpus is never quantized (it is only streamed once, probing
    the broadcast id set, exactly as the previous pair join streamed it
    probing the broadcast shortlist). Values are bit-identical to the
    inline ``int_cosine(quantize_vec(q), quantize_vec(c))`` form (see
    functions.vectors.int_cosine_pre); the win is per-task work — the
    inline form re-walked 5×dim interpreted lambdas per pair row, and
    the final (AQE-coalesced, often single-task) stage paid it serially:
    measured 1.602s → 0.152s for 10k 64-dim pair rows in one task."""
    # Pin the (bounded: |queries| x shortlist rows) shortlist ONCE —
    # it feeds both the distinct-cid broadcast below and the re-rank
    # join, and those live in different AQE stage trees (the broadcast
    # build), which re-EXECUTES the whole ADC subtree instead of
    # reusing its exchange (measured: the 16-task ADC scan ran twice
    # per probe). Same bounded-state contract as the driver-side
    # queries collect these entry points already make; same pattern as
    # minhash's candidate materialization (dedup.py). Cluster caveat
    # (r14 advice): localCheckpoint blocks live on executors with
    # lineage truncated — losing an executor after the pin makes later
    # actions on the returned frame fail instead of recomputing.
    # Acceptable for a bounded |queries| x shortlist relation; a
    # deployment that must survive executor loss mid-query should use
    # reliable checkpointing (sc.setCheckpointDir + .checkpoint()) via
    # ``pin=False`` plus its own materialization. ``pin=False``
    # keeps the fully lazy single-tree plan for plan introspection
    # (tests assert the probe filter's PartitionFilters placement on
    # the un-split plan; the pinned path executes the same subtree).
    if pin:
        short = short.localCheckpoint(eager=True)
    cids = short.select("cid").distinct()
    cvq = (
        corpus.select(
            F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("cvec")
        )
        .join(F.broadcast(cids), "cid", "left_semi")
        .select("cid", quantize_vec("cvec").alias("_cq"))
        .withColumn("_cn2", int_norm2(F.col("_cq")))
    )
    qd = queries.select(
        F.col(query_id).alias("qid"), quantize_vec(query_vec).alias("_qq")
    ).withColumn("_qn2", int_norm2(F.col("_qq")))
    rescored = (
        short.join(cvq, "cid")
        .join(F.broadcast(qd), "qid")
        .withColumn(
            "score",
            int_cosine_pre(
                F.col("_qq"), F.col("_cq"), F.col("_qn2"), F.col("_cn2")
            ),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("cid").asc())
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "score", "rank")
    )


# --- IVF-PQ: coarse lists + ADC over codes in-list (Jégou et al. 2011) ------


def encode_ivfpq(
    corpus: DataFrame,
    codebooks,
    centroids: list[list[float]],
    *,
    corpus_id: str,
    corpus_vec: str,
    residual: bool = True,
) -> DataFrame:
    """Build the IVF-PQ index in ONE corpus pass: (cid, cell, codes) —
    each vector's coarse inverted-list assignment (nearest centroid by
    cosine, matmul per Arrow batch, ties to the larger cell id exactly
    like :func:`_assign_cells_arrow`) plus its m-byte PQ code. This is
    the index a 10^9-vector corpus persists partitioned by ``cell``:
    8-16 bytes + a cell id per vector, so a billion 64-dim float32
    vectors (256 GB raw) become a ~12 GB index.

    ``residual=True`` (default — the textbook IVFADC of Jégou et al.
    2011) quantizes the coarse residual v_n - centroid(cell), with
    ``codebooks`` trained on residuals
    (``train_pq_codebooks_distributed(..., centroids=...)``). This is
    NOT an optional refinement on clustered data: measured at 2M
    vectors in 32 tight clusters, non-residual ADC recall@5 is 0.002
    (the code resolution is coarser than the intra-cluster distance
    gaps, so the shortlist is a near-random cluster sample) while
    residual ADC resolves the same gaps with the same code budget.
    ``residual=False`` quantizes the normalized vector itself — the
    pure composition of the two independently gated halves, kept
    because flat :func:`pq_topk` results must be reproducible from
    this index with every cell probed (tests pin that equality)."""
    import numpy as np

    m, n_codes, sub = codebooks.shape
    C = np.array(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-30)
    n_cells = len(centroids)

    def enc(batches):
        import pyarrow as pa

        # Arrow-native: see _assign_cells_arrow (flatten+reshape in,
        # uniform-offset list out)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            X = _flat_matrix(
                rb.column(rb.schema.get_field_index("_vec")), np.float64
            )
            Xn = X / np.maximum(
                np.linalg.norm(X, axis=1, keepdims=True), 1e-30
            )
            A = Xn @ Cn.T
            cells = (
                n_cells - 1 - np.argmax(A[:, ::-1], axis=1)
            ).astype(np.int32)  # ties -> larger cell, like the IVF paths
            base = Xn - Cn[cells] if residual else Xn
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                Xj = base[:, j * sub : (j + 1) * sub]
                d2 = ((Xj[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = d2.argmin(1)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        rb.column(
                            rb.schema.get_field_index("_id")
                        ).to_numpy(),
                        type=pa.int64(),
                    ),
                    pa.array(cells, type=pa.int32()),
                    _rows_list_array(codes, pa.int32()),
                ],
                names=["cid", "cell", "codes"],
            )

    cd = spread(
        corpus.select(
            F.col(corpus_id).alias("_id"), F.col(corpus_vec).alias("_vec")
        )
    )
    return cd.mapInArrow(enc, "cid long, cell int, codes array<int>")


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    index: DataFrame,
    codebooks,
    centroids: list[list[float]],
    *,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int = 5,
    n_probe: int = 8,
    shortlist: int = 50,
    exclude_self: bool = True,
    residual: bool = True,
    pin_shortlist: bool = True,
) -> DataFrame:
    """IVF-PQ approximate top-k — the standard 100 TB / 10^9-vector ANN
    stack (Jégou/Douze/Schmid 2011, IVFADC): coarse inverted lists
    prune the corpus to the ``n_probe`` cells nearest each query, ADC
    table lookups score only the PQ codes INSIDE those lists, and the
    ADC shortlist is re-ranked exactly against the true vectors.
    ``residual`` must match the flag the index was encoded with: in
    residual mode the ADC score adds the per-(query, cell) coarse term
    <q_n, centroid_cell> to the residual-LUT sums, so
    <q, v> ~ <q, c> + <q, v - c> stays a true inner-product estimate
    and shortlists compare correctly ACROSS probed cells.

    Plan shape, stage by stage:
    1. probed-cell PRUNE: queries are bounded (collected once, same
       contract as every top-k query side here); their probe lists are
       computed driver-side and the union of probed cells becomes an
       ``isin`` filter on the index — with the index persisted
       partitioned by ``cell``, that is partition pruning, so the scan
       touches n_probe/n_cells of the index regardless of corpus size.
    2. ADC: per Arrow batch, one m x n_codes lookup table per query
       (built once per task from the closure's codebooks), scores =
       m table lookups + adds per (code, probing query) — no vector
       arithmetic; batch-local top-``shortlist`` pruning per query
       BEFORE the shuffle, so the exchange carries <= queries x
       shortlist rows per batch.
    3. exact re-rank: the global shortlist joins back the true vectors
       (a cid-keyed join that reads only shortlist rows per query) and
       the final top-k ranks on the oracle-exact quantized-int cosine.

    vs flat :func:`pq_topk`: identical ADC math, but (a) each cell's
    rows score only the queries PROBING that cell (flat scores every
    query against every row), and (b) stage 1 skips the cells no query
    probes. How much (b) prunes depends on the probe-list UNION across
    the query batch, not n_probe/n_cells: 100 queries spanning every
    cluster probe all 64 cells (union 1.00 — no scan pruning, yet
    still 2.0x from (a)), while a 20-query single-cluster batch scans
    0.31 of the corpus (measured at 2M vectors, BASELINE_NOTES r10;
    tools/fullscale_ann.py prints the union fraction per leg). At
    corpus scales where the scan dominates the fixed window/re-rank
    cost, (b) converges to the union fraction.

    Sizing ``shortlist``: on adversarial geometry — true neighbors
    hidden among many ADC-indistinguishable vectors (tight clusters
    the PQ cells can't resolve) — recall is SHORTLIST-bound, not
    probe-bound: the 2M-vector leg measured recall@5 0.070 -> 0.376
    as shortlist went 50 -> 500 at fixed probes (BASELINE_NOTES r10),
    and recall@k is monotone non-decreasing in shortlist by
    construction (the exact re-rank sees a superset of candidates;
    pinned in tests/test_similarity.py). With n_probe = n_cells and
    shortlist >= corpus size the path degenerates to exact brute
    force — the recovery knob when ADC resolution is the binder."""
    import numpy as np

    m, n_codes, sub = codebooks.shape
    C = np.array(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-30)
    n_cells = len(centroids)

    q_rows = queries.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec")
    ).collect()  # bounded: same contract as the broadcast in brute force
    qids = np.array([r.qid for r in q_rows], dtype=np.int64)
    Q = np.array([r.qvec for r in q_rows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-30)
    # probe cells per query — tie-break identical to the corpus side
    qs = Qn @ Cn.T
    qidx = np.argsort(-qs[:, ::-1], axis=1, kind="stable")[:, :n_probe]
    q_cells = n_cells - 1 - qidx  # (n_queries, n_probe)
    cell_to_q: dict = {}
    for qi, cells in enumerate(q_cells):
        for c in cells:
            cell_to_q.setdefault(int(c), []).append(qi)
    cell_to_q = {c: np.array(v, dtype=np.int64) for c, v in cell_to_q.items()}
    # LUT[q, j, c] = <query_q subspace j, codebook[j][c]>
    lut = np.einsum("qjs,jcs->qjc", Qn.reshape(len(Qn), m, sub), codebooks)

    def adc(batches):
        import pyarrow as pa

        # Arrow-native kernel (guide §4.2): a list<int> column is one
        # contiguous values buffer + offsets, so the (B, m) codes
        # matrix is a flatten + reshape — the previous pandas form
        # materialized B*m Python ints per batch via .tolist().
        # Batch composition and the argpartition math are unchanged,
        # so batch-local shortlist pruning (and thus tie survival at
        # the cut) is bit-identical to the pandas kernel.
        for rb in batches:
            if rb.num_rows == 0:
                continue
            codes = _codes_matrix(rb.column(rb.schema.get_field_index("codes")))
            cells = rb.column(rb.schema.get_field_index("cell")).to_numpy()
            cids = rb.column(rb.schema.get_field_index("cid")).to_numpy()
            out_q, out_c, out_s = [], [], []
            for c in np.unique(cells):
                qs_here = cell_to_q.get(int(c))
                if qs_here is None:
                    continue  # defensive: the isin prune already dropped it
                rows = np.flatnonzero(cells == c)
                if residual:
                    # coarse term <q_n, centroid_c>: constant per
                    # (query, cell), makes scores comparable across cells
                    S = np.tile(qs[qs_here, int(c)], (len(rows), 1))
                else:
                    S = np.zeros((len(rows), len(qs_here)))
                sub_lut = lut[qs_here]  # (nq_here, m, n_codes)
                for j in range(m):
                    S += sub_lut[:, j, codes[rows, j]].T
                if exclude_self:
                    # mask BEFORE truncation (post-top-k filtering would
                    # evict the true k-th neighbor permanently)
                    S[cids[rows][:, None] == qids[qs_here][None, :]] = -np.inf
                top = min(shortlist, len(rows))
                idx = np.argpartition(-S, top - 1, axis=0)[:top]
                out_q.append(np.repeat(qids[qs_here], top))
                out_c.append(cids[rows][idx.T.ravel()])
                out_s.append(np.take_along_axis(S, idx, axis=0).T.ravel())
            if not out_q:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(
                        np.concatenate(out_c).astype(np.int64, copy=False),
                        type=pa.int64(),
                    ),
                    pa.array(np.concatenate(out_s), type=pa.float64()),
                ],
                names=["qid", "cid", "adc"],
            )

    probed = sorted({int(c) for cells in q_cells for c in cells})
    pruned = index.filter(
        F.col("cell").isin(probed)  # partition pruning on a cell-
        # partitioned index; a plan-visible filter either way
    )
    partial = pruned.mapInArrow(adc, "qid long, cid long, adc double")
    if exclude_self:
        partial = partial.filter(F.col("qid") != F.col("cid"))
    w_adc = W.partitionBy("qid").orderBy(F.col("adc").desc(), F.col("cid"))
    short = (
        partial.withColumn("_r", F.row_number().over(w_adc))
        .filter(F.col("_r") <= shortlist)
        .drop("_r", "adc")
    )
    return _exact_rerank(
        short, corpus, queries,
        query_id=query_id, query_vec=query_vec,
        corpus_id=corpus_id, corpus_vec=corpus_vec, k=k,
        pin=pin_shortlist,
    )


# --------------------------------------------------------------------------
# Persisted IVF-PQ index: the steady-state shape of a growing corpus.
# A 10^9-vector deployment does not re-encode on every ingest — it
# freezes the coarse centroids + codebooks once (model drift is a
# re-index event, not an append), encodes each NEW batch with the
# frozen model, and appends only the touched cell partitions. The meta
# sidecar pins the model; writer marker, ledger, tombstones and swaps
# follow the shared index-directory protocol (sources/indexdir.py).


def _ivfpq_meta(codebooks, centroids, residual: bool, corpus_id: str) -> dict:
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)
    return {
        "m": int(books.shape[0]),
        "n_codes": int(books.shape[1]),
        "sub": int(books.shape[2]),
        "residual": bool(residual),
        "id_col": corpus_id,
        # full-precision float lists: json round-trips float64 exactly
        # (repr shortest-roundtrip), so reloaded books encode the same
        # codes bit-for-bit as the originals
        "codebooks": books.tolist(),
        "centroids": [[float(x) for x in c] for c in centroids],
    }


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    codebooks,
    centroids: list[list[float]],
    *,
    corpus_id: str,
    corpus_vec: str,
    residual: bool = True,
    mode: str = "overwrite",
    batch_id: int | None = None,
) -> None:
    """Materialize the IVF-PQ index at ``path``: (cid, codes) parquet
    PARTITIONED BY cell (so :func:`ivfpq_topk`'s probe filter is
    directory pruning — asserted in tests/test_plans.py) plus a
    ``meta.json`` sidecar pinning the frozen model. ``mode="append"``
    encodes a new batch with the index's OWN stored model and adds only
    the touched cell partitions — the steady-state ingest loop; it
    refuses an index built with a different model (codes from
    mismatched codebooks would silently rank garbage).

    ``batch_id`` makes retries IDEMPOTENT — the foreachBatch contract:
    a re-delivered id is a no-op. Builds and appends hold the writer
    marker and release it only on success, so a crash between meta,
    codes and ledger is a loud torn-state error (marker, ledger and
    rebuild rules: :mod:`..sources.indexdir`)."""
    import numpy as np

    meta = _ivfpq_meta(codebooks, centroids, residual, corpus_id)
    if mode == "append":
        if indexdir.load_meta(path) != meta:
            raise ValueError(
                f"ivfpq index at {path} was built with a different "
                "model (m/n_codes/residual/codebooks/centroids must "
                "match exactly) — re-encode with the stored model via "
                "append_ivfpq_index, or rebuild with mode='overwrite'"
            )
    else:
        indexdir.reset(path)
    with indexdir.writer(path):
        if batch_id is not None and int(batch_id) in indexdir.committed_batches(
            path
        ):
            return  # re-delivered micro-batch: already ingested
        if mode != "append":
            indexdir.write_meta(path, meta)
        # repartition by cell BEFORE the partitioned write: without it,
        # every input partition sprays a file into every cell directory
        # (measured 2,018 files for a 64-cell 2M-vector index vs 33
        # flat), and the probe scan's per-file Arrow overhead then
        # DWARFS the ADC (39.6s vs 4.4s flat — the pruning win
        # inverted). One task per cell -> one file per cell; at corpus
        # sizes where a single cell outgrows one file, raise
        # spark.sql.shuffle.partitions and salt the repartition key.
        encode_ivfpq(
            corpus,
            np.asarray(codebooks, dtype=np.float64),
            centroids,
            corpus_id=corpus_id,
            corpus_vec=corpus_vec,
            residual=residual,
        ).repartition(F.col("cell")).write.mode(mode).partitionBy(
            "cell"
        ).parquet(os.path.join(path, "codes"))
        if batch_id is not None:
            indexdir.commit_batch(path, batch_id)


def append_ivfpq_index(
    corpus_batch: DataFrame,
    path: str,
    *,
    corpus_vec: str,
    batch_id: int | None = None,
) -> None:
    """Append a new batch using the index's OWN frozen model — the
    ingest-loop entry point (no way to pass mismatched codebooks).
    Id uniqueness across batches is the caller's contract, exactly as
    with the dedup index: re-appending an id yields two index rows for
    it (both scoring identically). Pass the micro-batch's ``batch_id``
    to make retried deliveries no-ops (see :func:`write_ivfpq_index`'s
    ledger contract) — :func:`streaming.ivfpq_ingest_sink` does."""
    import numpy as np

    meta = indexdir.load_meta(path)
    write_ivfpq_index(
        corpus_batch,
        path,
        np.asarray(meta["codebooks"], dtype=np.float64),
        meta["centroids"],
        corpus_id=meta["id_col"],
        corpus_vec=corpus_vec,
        residual=meta["residual"],
        mode="append",
        batch_id=batch_id,
    )


def read_ivfpq_index(spark, path: str):
    """Load (index_df, codebooks, centroids, residual) from ``path``,
    refusing torn-append state. The returned frame is the partitioned
    parquet read — probe filters prune directories."""
    import numpy as np

    meta = indexdir.load_meta(path)
    indexdir.check_unmarked(path)
    index = spark.read.parquet(os.path.join(path, "codes"))
    return (
        index,
        np.asarray(meta["codebooks"], dtype=np.float64),
        meta["centroids"],
        bool(meta["residual"]),
    )


def delete_from_ivfpq_index(spark, path: str, cids) -> dict:
    """Merge-on-read DELETE for the ANN index (takedown/GDPR
    lifecycle, the text index's twin): append the corpus ids to a
    ``_deletes`` tombstone relation under the writer marker. Queries
    through :func:`ivfpq_query_index` anti-join the tombstones before
    the ADC, so deleted vectors stop appearing in top-k immediately
    and EXACTLY (the index has no corpus-level stats to adjust);
    compaction drops the rows physically and clears the relation.
    Unknown/already-deleted ids are no-ops.
    Returns {"deleted": n}."""
    indexdir.load_meta(path)
    ids = indexdir.id_frame(spark, cids, "cid")
    # a tombstone append alone is harmless when torn: always release
    with indexdir.writer(path, intact=lambda: True):
        codes = spark.read.parquet(os.path.join(path, "codes"))
        n = indexdir.add_tombstones(spark, path, ids, codes, "cid")
    return {"deleted": n}


def ivfpq_query_index(
    spark,
    path: str,
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int = 10,
    n_probe: int = 8,
    shortlist: int = 100,
    exclude_self: bool = True,
    allowed_ids: DataFrame | None = None,
) -> DataFrame:
    """Query a persisted index end to end: load model + codes, probe,
    ADC, exact re-rank against ``corpus`` (the true vectors — the index
    never stores them). Tombstoned ids (merge-on-read deletes) are
    filtered before the ADC.

    ``allowed_ids`` (one column named ``corpus_id``) is FILTERED
    vector search — "top-k among docs WHERE <metadata predicate>" —
    applied as a semi-join on the codes relation BEFORE the ADC
    shortlist, the same placement as the tombstone anti-join. Filtering
    before the shortlist is the correct filtered-ANN shape: filtering
    AFTER would silently return fewer than k (or lose recall) whenever
    the predicate is selective, because the shortlist would be spent on
    disqualified ids. With ``n_probe = n_cells`` and ``shortlist`` >=
    the qualifying count, results are EXACT among qualifying docs (the
    re-rank uses true vectors)."""
    index, books, cents, residual = read_ivfpq_index(spark, path)
    index = indexdir.drop_tombstoned(spark, path, index, "cid")
    if allowed_ids is not None:
        # no broadcast hint: the allowed set ranges from a handful of
        # ids to most of the corpus — AQE picks the strategy
        index = index.join(
            allowed_ids.select(F.col(corpus_id).alias("cid")).distinct(),
            "cid",
            "left_semi",
        )
    return ivfpq_topk(
        queries,
        corpus,
        index,
        books,
        cents,
        query_id=query_id,
        query_vec=query_vec,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
        k=k,
        n_probe=n_probe,
        shortlist=shortlist,
        exclude_self=exclude_self,
    )


def compact_ivfpq_index(spark, path: str) -> dict:
    """Rewrite the codes relation to ONE file per cell partition.

    Every frozen-model append adds a file to each cell partition the
    batch touches, so a long-lived ingest loop re-creates exactly the
    small-file layout that inverted the probe win before the round-10
    fix (2,018 files -> per-file Arrow overhead dwarfing the ADC;
    BASELINE_NOTES r10). Compaction is the steady-state answer: read,
    drop tombstoned rows, repartition by cell, write aside and swap in
    with rollback; the marker is released when the codes directory
    exists, so an unrecoverable torn swap stays a loud read-time error.
    Returns ``{"files_before": n, "files_after": m}``."""
    indexdir.load_meta(path)  # refuses a never-built index
    codes = os.path.join(path, "codes")
    dels = os.path.join(path, indexdir.DELETES)
    with indexdir.writer(path, intact=lambda: os.path.exists(codes)):
        before = indexdir.count_parquet(codes)
        rel = indexdir.drop_tombstoned(
            spark, path, spark.read.parquet(codes), "cid"
        )
        indexdir.replace_dir(
            codes,
            rel.repartition(F.col("cell")).write.partitionBy("cell").parquet,
        )
        if os.path.exists(dels):
            shutil.rmtree(dels)  # physically applied — clear tombstones
        return {
            "files_before": before,
            "files_after": indexdir.count_parquet(codes),
        }


def ivfpq_index_stats(path: str, *, include_cells: bool = True) -> dict:
    """Read-only operational snapshot of the persisted IVF-PQ index
    (the text index's `text_index_stats` twin): pure filesystem
    metadata, no Spark session, safe to poll. The torn-state marker is
    REPORTED, not raised, so monitoring can see a wedged index.

    ``include_cells=False`` skips the per-cell row counts (those read
    one parquet FOOTER per codes file — still metadata-only, but
    O(files) file opens; the compaction poll path doesn't need them
    and passes False). The cell fields are then reported as None."""
    meta = indexdir.load_meta(path)
    codes = os.path.join(path, "codes")
    dels = os.path.join(path, indexdir.DELETES)
    n_cells = len(meta["centroids"])
    files_codes = indexdir.count_parquet(codes)
    if include_cells:
        cell_rows = _cell_row_counts(codes)
        live_cells = [n for n in cell_rows.values() if n > 0]
        mean_rows = (
            (sum(live_cells) / len(live_cells)) if live_cells else 0.0
        )
        max_rows = max(live_cells) if live_cells else 0
        cell_fields = {
            "cell_rows_total": sum(live_cells),
            "cell_rows_max": max_rows,
            "cell_rows_mean": mean_rows,
            "cell_skew_ratio": (max_rows / mean_rows) if mean_rows else 0.0,
            "n_empty_cells": n_cells - len(live_cells),
        }
    else:
        cell_fields = {
            "cell_rows_total": None,
            "cell_rows_max": None,
            "cell_rows_mean": None,
            "cell_skew_ratio": None,
            "n_empty_cells": None,
        }
    return {
        "n_cells": n_cells,
        "m": int(meta["m"]),
        "n_codes": int(meta["n_codes"]),
        "residual": bool(meta["residual"]),
        "files_codes": files_codes,
        "files_per_cell": files_codes / max(n_cells, 1),
        # cell-population skew (r12 verdict item 6): appends run under
        # a FROZEN coarse model by design, so drifting data piles into
        # few cells and probe cost degrades — n_probe cells no longer
        # bound a predictable share of the corpus. Row counts come
        # from parquet FOOTERS (pyarrow metadata, no Spark, no data
        # read) and are PHYSICAL: tombstoned rows count until
        # compaction applies them.
        **cell_fields,
        "has_tombstones": os.path.exists(dels),
        "files_tombstones": indexdir.count_parquet(dels),
        "committed_batches": len(indexdir.committed_batches(path)),
        "pending_append": os.path.exists(os.path.join(path, indexdir.MARKER)),
    }


def _cell_row_counts(codes: str) -> dict[int, int]:
    """Physical row count per ``cell=<n>`` partition directory, read
    from parquet footers only — O(files) metadata, safe to poll."""
    out: dict[int, int] = {}
    if not os.path.isdir(codes):
        return out
    import pyarrow.parquet as pq

    for entry in os.listdir(codes):
        if not entry.startswith("cell="):
            continue
        cell = int(entry.split("=", 1)[1])
        n = 0
        d = os.path.join(codes, entry)
        for root, _dirs, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet"):
                    n += pq.ParquetFile(
                        os.path.join(root, f)
                    ).metadata.num_rows
        out[cell] = n
    return out


def retrain_ivfpq_index(
    path: str,
    corpus: DataFrame,
    *,
    corpus_id: str,
    corpus_vec: str,
    n_cells: int | None = None,
    n_train: int = 4096,
    pq_n_train: int = 2048,
    m: int | None = None,
    n_codes: int | None = None,
    residual: bool | None = None,
) -> dict:
    """The maintenance action :func:`maybe_retrain_ivfpq_index`
    advises: retrain the coarse centroids and PQ codebooks on the
    CURRENT corpus and rebuild the index from scratch (overwrite mode
    — marker-guarded, ledger reset, stale tombstones cleared by the
    rebuild). The corpus must be caller-provided: codes are lossy, so
    the original vectors can't be recovered from the index itself —
    which is also why this can never run implicitly on append.
    Layout parameters default to the existing index's meta (a retrain
    fixes the MODEL, not the shape); ``n_train`` sizes the coarse
    KMeans sample and ``pq_n_train`` the per-subspace codebook sample.

    Training SAMPLES here are hash-spread (``sample_mode="hash"``),
    not the trainers' default first-``n_train``-by-id: retrain exists
    precisely because drift arrived through appends, and appended rows
    sit at the TOP of the id range — a head sample contains zero of
    them, so the "retrained" model reproduces the pre-drift one and
    repairs nothing (measured full-scale in r14: skew stuck at 8.1,
    drifted-query recall stuck at 0.38; hash sampling is what makes
    this function do what its name says).
    Returns {"skew_before", "skew_after", "n_cells"}."""
    before = ivfpq_index_stats(path)
    meta = indexdir.load_meta(path)
    n_cells = int(n_cells if n_cells is not None else len(meta["centroids"]))
    m = int(m if m is not None else meta["m"])
    n_codes = int(n_codes if n_codes is not None else meta["n_codes"])
    residual = bool(residual if residual is not None else meta["residual"])
    dim = len(meta["centroids"][0])
    cents = train_ivf_centroids(
        corpus, corpus_vec=corpus_vec, corpus_id=corpus_id,
        n_cells=n_cells, n_train=n_train, sample_mode="hash",
    )
    books = train_pq_codebooks_distributed(
        corpus, corpus_vec=corpus_vec, corpus_id=corpus_id,
        m=m, n_codes=n_codes, dim=dim, centroids=cents,
        n_train=pq_n_train, sample_mode="hash",
    )
    write_ivfpq_index(
        corpus, path, books, cents,
        corpus_id=corpus_id, corpus_vec=corpus_vec, residual=residual,
    )
    after = ivfpq_index_stats(path)
    return {
        "skew_before": before["cell_skew_ratio"],
        "skew_after": after["cell_skew_ratio"],
        "n_cells": n_cells,
    }


def maybe_retrain_ivfpq_index(path: str, *, max_skew: float = 4.0) -> dict | None:
    """Report-only retrain advisory (the compaction surface's twin for
    the MODEL rather than the LAYOUT): appends never move centroids —
    that is the frozen-model contract that makes encoding deterministic
    and appends batch-cost — so the only honest remedy for drift is a
    retrain+rebuild, which this hook never does on its own. Returns
    the stats dict when the live-cell population skew
    (``cell_rows_max / cell_rows_mean``) exceeds ``max_skew``, else
    None. Callers schedule :func:`retrain_ivfpq_index` (or
    `train_ivf_centroids` + `write_ivfpq_index`) on their own
    maintenance cadence.

    The 4.0 default is MEASURED, not guessed
    (`tools/fullscale_ivfpq_lifecycle.py` leg 5, BASELINE_NOTES round
    14): a healthy build of a CLUSTERED corpus already sits at skew
    ~2.0 (real corpora are never uniform — 32 synth clusters over 64
    cells at 2M vectors), so an absolute threshold is meaningless and
    the rule is ~2x the healthy-build skew. At full scale,
    novel-center append drift raised skew ~+0.2 per 100k rows; 4.0
    fired once drifted mass reached ~1/3 of the index — the point
    where drift-locality recall@5 had collapsed 0.505 -> 0.26 and the
    hot cell held 4.1x the mean (probe cost follows the hot cell).
    The retrain it advises cost 174.9s at 3.32M rows vs 311.6s for
    the 2M cold build (0.56x) vs 43.1s for one 100k append — cheap
    enough to run at fire time, too expensive per append. Lower
    toward 2-3x healthy skew for latency-sensitive probes; raise
    `n_cells` instead of `max_skew` when drift adds TIGHT new
    clusters, since k-means can only split concentrated novel mass so
    far at fixed cell count (measured: the 64-cell retrain rebalanced
    4.12 -> 3.80 / recall 0.32; retraining the SAME corpus at
    n_cells=128 reached skew 2.67 with the hot cell 2.8x smaller and
    recall 0.375 at the same probe fraction — better on every axis,
    see the BASELINE_NOTES round-14 addendum)."""
    stats = ivfpq_index_stats(path)
    if stats["cell_skew_ratio"] > max_skew:
        return stats
    return None


def maybe_compact_ivfpq_index(
    spark, path: str, *, max_files_per_cell: float = 4.0
) -> dict | None:
    """Threshold-driven compaction for the ANN ingest loop (the text
    index's `maybe_compact_text_index` twin): compact when the mean
    codes-file count per cell exceeds the threshold or tombstones
    exist; otherwise a cheap filesystem no-op. Returns the compaction
    stats when it ran, None when the index is healthy."""
    stats = ivfpq_index_stats(path, include_cells=False)
    if stats["files_per_cell"] <= max_files_per_cell and not stats[
        "has_tombstones"
    ]:
        return None
    return compact_ivfpq_index(spark, path)
