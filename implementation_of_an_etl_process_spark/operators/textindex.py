"""Persisted full-text (BM25) index: the retrieval member of the
engine's persisted-index family (dedup md5/band index, IVF-PQ ANN
index, and this) — build once, append micro-batches, query forever.

Layout at ``path``::

    postings/bucket=<b>/*.parquet   (term, doc_id, tf, dlen)
    positions/bucket=<b>/*.parquet  (term, doc_id, positions array<int>)
                                    — only when built with
                                    store_positions=True; backs
                                    phrase_query_index (kept parallel
                                    so BM25 postings stay narrow)
    meta.json                       n_buckets, id_col, n_docs,
                                    total_len, positions
    _batches.json                   committed append batch ids (ledger)
    _pending_append                 exclusive writer marker
    _emptydocs/*.parquet            zero-token doc ids (membership only;
                                    present only when such docs exist —
                                    they count toward N but have no
                                    postings, so deletes need them)
    _deletes/*.parquet              merge-on-read tombstones (doc_id)

The postings relation is the full inverted index, hash-partitioned by
``bucket = pmod(hash(term), n_buckets)`` so a query's terms prune to
their buckets at scan time (PartitionFilters — the same directory-
pruning shape as the ANN index's cell partitioning). Document length
is denormalized onto each posting row, so scoring needs no second
corpus pass. Corpus-level stats (n_docs, total_len — BM25's N and
avgdl) live in ``meta.json`` and are UPDATED on append; per-term df
is computed at query time from the pruned postings themselves, so
idf is always append-fresh — there is no frozen model to go stale.

Marker, ledger, tombstones, swaps and crash rules follow the shared
index-directory protocol (:mod:`..sources.indexdir`); builds, appends
and deletes release the marker only on success.

At 100 TB: the postings build is one tokenize + groupBy(doc, term)
shuffle; appends cost the BATCH, not the corpus; queries scan
|query terms| buckets out of n_buckets and broadcast a query-sized
idf table. Scoring reuses :func:`~.tfidf.bm25_topk`'s integer-exact
formula, so the two paths are row-identical and share one oracle.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark.operators.tfidf import IDF_SCALE
from implementation_of_an_etl_process_spark.sources import indexdir

_VERSION = 1


def _tokens(text_col: str):
    """The corpus tokenizer — IDENTICAL to bm25_topk's (lower, trim,
    whitespace split, drop empties) so index and inline paths score
    the same terms."""
    return F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda t: t != "",
    )


def _postings(docs: DataFrame, id_col: str, text_col: str, n_buckets: int):
    toks = _tokens(text_col)
    occ = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("dlen"),
        F.explode(toks).alias("term"),
    )
    tf = occ.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dlen").alias("dlen")
    )
    return tf.withColumn(
        "bucket", F.pmod(F.hash(F.col("term")), F.lit(n_buckets))
    )


def _positions(docs: DataFrame, id_col: str, text_col: str, n_buckets: int):
    """Positional postings: one row per (doc, term) carrying the
    sorted array of 0-based token positions. Kept as a PARALLEL
    relation (``positions/``) rather than widening the BM25 postings —
    the 2M-doc fragmentation leg showed narrow postings rows are why
    the index tolerates long append histories, and bag-of-words
    queries never pay for arrays they don't read."""
    toks = _tokens(text_col)
    occ = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(toks).alias("pos", "term")
    )
    per_term = occ.groupBy("doc_id", "term").agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )
    return per_term.withColumn(
        "bucket", F.pmod(F.hash(F.col("term")), F.lit(n_buckets))
    )


def write_text_index(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    mode: str = "overwrite",
    batch_id: int | None = None,
    store_positions: bool = False,
) -> None:
    """Materialize (or append to) the inverted index at ``path``.

    ``mode="overwrite"`` rebuilds from scratch (resets the ledger);
    ``mode="append"`` adds a batch's postings to their bucket
    partitions and bumps the meta stats — id uniqueness across batches
    is the caller's contract, exactly as with the dedup and ANN
    indexes. ``batch_id`` makes append retries idempotent via the
    ``_batches.json`` ledger, checked UNDER the writer marker.

    ``store_positions=True`` additionally materializes the parallel
    ``positions/`` relation (per-(doc,term) position arrays, same
    bucket partitioning) that :func:`phrase_query_index` needs; the
    flag is pinned in meta and appends must match it — appending
    position-less batches to a positional index would silently make
    phrase results corpus-dependent."""
    if mode == "append":
        meta = indexdir.load_meta(path)
        if meta["n_buckets"] != n_buckets or meta["id_col"] != id_col:
            raise ValueError(
                f"text index at {path} was built with n_buckets="
                f"{meta['n_buckets']}, id_col={meta['id_col']!r} — "
                "append must match, or rebuild with mode='overwrite'"
            )
        if bool(meta.get("positions", False)) != bool(store_positions):
            raise ValueError(
                f"text index at {path} was built with positions="
                f"{meta.get('positions', False)} — append must match, "
                "or rebuild with mode='overwrite'"
            )
    else:
        # a rebuild has no tombstones: leaving them would filter
        # freshly-written postings AND desync the meta stats (the
        # delete path skips already-tombstoned ids, so it would never
        # re-adjust them)
        indexdir.reset(path)
        own = ["_emptydocs"]  # rebuild resets empty-doc membership
        if not store_positions:
            # rebuilding WITHOUT positions over a positional index: a
            # stale positions relation would answer phrase queries
            # against the previous corpus
            own.append("positions")
        for name in own:
            if os.path.exists(os.path.join(path, name)):
                shutil.rmtree(os.path.join(path, name))
        meta = {
            "version": _VERSION,
            "n_buckets": n_buckets,
            "id_col": id_col,
            "n_docs": 0,
            "total_len": 0,
            "positions": bool(store_positions),
        }
    with indexdir.writer(path):
        if batch_id is not None and int(batch_id) in indexdir.committed_batches(
            path
        ):
            return  # re-delivered micro-batch: already ingested
        stats = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.size(_tokens(text_col))), F.lit(0))
            .cast("long")
            .alias("tl"),
            F.coalesce(
                F.sum(F.when(F.size(_tokens(text_col)) == 0, 1).otherwise(0)),
                F.lit(0),
            ).alias("n_empty"),
        ).first()
        if int(stats["n_empty"]):
            # zero-token docs count toward N (BM25's idf denominator)
            # but leave no postings rows — record their membership so
            # deletes can decrement N for them
            (
                docs.filter(F.size(_tokens(text_col)) == 0)
                .select(F.col(id_col).alias("doc_id"))
                .write.mode("append")
                .parquet(os.path.join(path, "_emptydocs"))
            )
        # term-sorted within each bucket partition (guide §6: sort order
        # on write makes min/max row-group statistics effective):
        # query-time term predicates — bm25's isin and the phrase
        # kernel's list-path pushdown — then skip whole row groups
        # instead of decoding every posting in the probed bucket. Sort
        # cost is paid once at build/append.
        rels = [("postings", _postings)]
        if store_positions:
            rels.append(("positions", _positions))
        for name, build in rels:
            (
                build(docs, id_col, text_col, n_buckets)
                .repartition(F.col("bucket"))
                .sortWithinPartitions("bucket", "term")
                .write.mode(mode)
                .partitionBy("bucket")
                .parquet(os.path.join(path, name))
            )
        meta["n_docs"] = int(meta["n_docs"]) + int(stats["n"])
        meta["total_len"] = int(meta["total_len"]) + int(stats["tl"])
        indexdir.write_meta(path, meta)
        if batch_id is not None:
            indexdir.commit_batch(path, batch_id)


def append_text_index(
    batch: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    batch_id: int | None = None,
) -> None:
    """Append a micro-batch using the index's OWN stored parameters —
    the ingest-loop entry point (no way to pass a mismatched layout)."""
    meta = indexdir.load_meta(path)
    write_text_index(
        batch,
        path,
        id_col=meta["id_col"],
        text_col=text_col,
        n_buckets=meta["n_buckets"],
        mode="append",
        batch_id=batch_id,
        store_positions=bool(meta.get("positions", False)),
    )


def bm25_query_index(
    spark,
    path: str,
    query_terms: list[str],
    *,
    k: int = 50,
    k1_x10: int = 12,
    b_x100: int = 75,
) -> DataFrame:
    """Query the persisted index: scan ONLY the query terms' bucket
    partitions (directory pruning), compute append-fresh df/idf from
    the pruned postings, score with :func:`~.tfidf.bm25_topk`'s exact
    integer formula (N/avgdl from meta), and return the identical
    (doc_id, n_terms_matched, score_q) top-k — row-identical to the
    inline scorer on the same corpus."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    meta = indexdir.load_meta(path)
    indexdir.check_unmarked(path)
    terms = sorted({t.lower() for t in query_terms})
    n_buckets = meta["n_buckets"]
    buckets = _term_buckets(spark, terms, n_buckets)
    tf = (
        spark.read.parquet(os.path.join(path, "postings"))
        .filter(F.col("bucket").isin(buckets))  # partition pruning
        .filter(F.col("term").isin(terms))
        .select(
            "doc_id", "term", "tf",
            F.col("dlen").cast("long").alias("_len"),
        )
    )
    tf = indexdir.drop_tombstoned(spark, path, tf, "doc_id")  # MoR deletes
    n_docs, total_len = int(meta["n_docs"]), int(meta["total_len"])
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    # explicit long literals: F.lit() of a Python int that fits in 32
    # bits makes an IntegerType literal, and `300 * _total_len` then
    # runs int32 math — overflowed at the 2M-doc full-scale leg while
    # every small-SF gate passed (the inline scorer's stats columns
    # are longs by construction, so only this path was exposed)
    idf = dfreq.select(
        "term",
        F.lit(n_docs).cast("long").alias("_n_docs"),
        F.lit(total_len).cast("long").alias("_total_len"),
        F.round(
            F.log(
                F.lit(1.0)
                + (F.lit(n_docs) - F.col("_df") + F.lit(0.5))
                / (F.col("_df") + F.lit(0.5))
            )
            * IDF_SCALE
        )
        .cast("long")
        .alias("_idf_q"),
    )
    a, c = k1_x10, b_x100
    scored = tf.join(F.broadcast(idf), "term").withColumn(
        "_score_term_q",
        F.expr(
            f"CAST(_idf_q AS DECIMAL(38,0)) * (100 * {10 + a} * tf) "
            "* _total_len div "
            f"(CAST(1000 AS DECIMAL(38,0)) * tf * _total_len "
            f"+ {a * (100 - c)} * _total_len "
            f"+ {a * c} * _len * _n_docs)"
        ),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum("_score_term_q").alias("score_q"),
        )
        .orderBy(F.desc("score_q"), F.col("doc_id").asc())
        .limit(k)
    )


def _term_buckets(spark, terms, n_buckets: int) -> list[int]:
    """Bucket ids for a term list via the SAME engine hash the build
    used (Murmur3 via F.hash) — computed on a terms-sized local
    relation, never in Python."""
    from implementation_of_an_etl_process_spark.plans import local_rows_df

    return sorted(
        {
            r.b
            for r in local_rows_df(
                spark, [(t,) for t in sorted(set(terms))], "term string"
            )
            .select(F.pmod(F.hash("term"), F.lit(n_buckets)).alias("b"))
            .collect()
        }
    )


# Conservative default stopword cutoff for the BULK (DataFrame) probe
# path: a term present in more than this share of live docs carries no
# phrase-contamination signal while costing a corpus-scale position
# explode (r12's measured 339s degenerate regime). Same cutoff the
# contamination battery entries use (queries/tfidfops.py).
DEFAULT_BULK_MAX_TERM_DF = 0.8


def _validate_max_term_df(v: float | int | None) -> None:
    """Reject the silently-ambiguous boundary values (r13 advice):
    int 1 would take the absolute-count branch (drop any probe whose
    term appears in >1 doc), float >1.0 would be truncated by int()
    into an absolute count. Only the documented domains pass: None,
    float in (0, 1], int > 1."""
    if v is None:
        return
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise ValueError(
            f"max_term_df must be None, a float in (0, 1], or an "
            f"int > 1 — got {v!r}"
        )
    if isinstance(v, float):
        if not (0.0 < v <= 1.0):
            raise ValueError(
                f"max_term_df float must be a doc-count FRACTION in "
                f"(0, 1] — got {v!r}; pass an int > 1 for an absolute "
                "doc count"
            )
    elif v <= 1:
        raise ValueError(
            f"max_term_df int must be an absolute doc count > 1 — "
            f"got {v!r}; pass a float in (0, 1] for a fraction"
        )


def multi_phrase_query_index(
    spark,
    path: str,
    phrases: list[str],
    *,
    k: int | None = None,
    within: int | None = None,
    max_term_df: float | int | None = None,
    return_positions: bool = False,
) -> DataFrame:
    """Bulk phrase matching in ONE index scan — the benchmark-
    contamination shape: thousands of probe phrases against the corpus
    without re-tokenizing it, and without one scan per phrase.

    All phrases' slot tables union into a single broadcast (phrase_id,
    slot, term) relation; the positions relation is scanned ONCE,
    pruned to the union of every phrase's term buckets, and the
    adjacency intersection groups by (phrase, doc_id, start) — so the
    cost scales with the probe phrases' postings, not with the number
    of phrases times the corpus. Returns (phrase, doc_id,
    n_occurrences); ``k`` (optional) keeps the top-k docs PER PHRASE
    (count desc, doc_id asc). ``within`` applies the same slop-W
    ordered-proximity window to every phrase. Phrases are tokenized
    with the index's own tokenizer; duplicates are dropped; empty
    phrases raise.

    ``max_term_df`` is the stopword-probe guard (r12's one measured
    scale-killer: a head-rank bigram made most of a 2M-doc corpus a
    candidate — 7.8s/probe, and an unscreened bulk leg ran 339s before
    being killed): probe phrases ANY of whose terms appears in more
    than the cutoff's share of indexed docs are DROPPED, with a loud
    stderr count, before the candidate join — such probes carry no
    contamination signal (the match set is "most of the corpus") while
    costing a corpus-scale position explode in any engine. A float in
    (0, 1] is a fraction of the index's live doc count; an int > 1 is
    an absolute doc count. None (default) screens nothing — the
    documented override for exhaustive phrase matching."""
    _validate_max_term_df(max_term_df)
    meta = indexdir.load_meta(path)
    indexdir.check_unmarked(path)
    if not meta.get("positions", False):
        raise ValueError(
            f"text index at {path} was built without positions — "
            "phrase queries need store_positions=True; rebuild with "
            "write_text_index(..., store_positions=True)"
        )
    uniq = list(dict.fromkeys(phrases))
    if not uniq:
        raise ValueError("phrases must be non-empty")
    slot_rows = []
    n_slots = {}
    for p in uniq:
        slots = [t for t in p.lower().strip().split() if t]
        if not slots:
            raise ValueError(
                f"phrase {p!r} must contain at least one token"
            )
        n_slots[p] = len(slots)
        slot_rows += [(p, i, t) for i, t in enumerate(slots)]
    terms = sorted({t for _, _, t in slot_rows})
    buckets = _term_buckets(spark, terms, meta["n_buckets"])
    from implementation_of_an_etl_process_spark.plans import local_rows_df

    # probe-sized local relations as JVM literal plans: the pickled-RDD
    # form ran a 32-Python-task scan stage per aggregate/distinct over
    # them in the kernel (see plans.local_rows_df)
    slots_df = F.broadcast(
        local_rows_df(
            spark, slot_rows, "phrase string, slot int, term string"
        )
    )
    counts_df = F.broadcast(
        local_rows_df(
            spark, list(n_slots.items()), "phrase string, _n_slots int"
        )
    )
    # the slot table is DRIVER data here, so the kernel's per-phrase
    # requirement relations (distinct (phrase, term); distinct-term
    # count per phrase) are computable in Python — passing them as
    # literal relations removes two aggregate+exchange subtrees (and
    # their AQE stage jobs) from every probe. The DataFrame path keeps
    # the distributed aggregates (its slot table scales with probes).
    tr_rows = sorted({(p, t) for p, _, t in slot_rows})
    nreq: dict[str, int] = {}
    for p, t in tr_rows:
        nreq[p] = nreq.get(p, 0) + 1
    term_req_df = F.broadcast(
        local_rows_df(spark, tr_rows, "phrase string, term string")
    )
    n_req_df = F.broadcast(
        local_rows_df(
            spark, sorted(nreq.items()), "phrase string, _n_req int"
        )
    )
    return _phrase_match_kernel(
        spark, path, slots_df, counts_df, buckets,
        k=k, within=within, max_term_df=max_term_df,
        return_positions=return_positions,
        n_live_docs=int(meta["n_docs"]),
        entry_name="multi_phrase_query_index",
        term_req=term_req_df,
        n_req=n_req_df,
        probe_terms=terms,
    )


def multi_phrase_query_index_df(
    spark,
    path: str,
    phrases_df: DataFrame,
    *,
    phrase_col: str = "phrase",
    k: int | None = None,
    within: int | None = None,
    max_term_df: float | int | None = DEFAULT_BULK_MAX_TERM_DF,
    return_positions: bool = False,
) -> DataFrame:
    """:func:`multi_phrase_query_index` with the probe phrases as a
    DataFRAME — the benchmark-contamination shape at ITS OWN scale:
    millions of probe n-grams (every benchmark shingle) never touch
    the driver. Phrases are tokenized distributively with the index's
    tokenizer; empty phrases are dropped (not an error — shingle
    extraction legitimately produces blank rows).

    Bucket pruning stays STATIC even with an unbounded phrase
    relation: the only thing collected is the DISTINCT BUCKET set of
    the phrases' terms — at most ``n_buckets`` integers by
    construction, regardless of phrase count — which becomes the same
    ``isin`` PartitionFilter as the list-based path. The slot relation
    is NOT broadcast here (it scales with the phrases), so the
    term-level join shuffles phrase slots against the pruned postings
    — both sides bounded by the probe terms' postings, never the
    corpus. Returns (phrase, doc_id, n_occurrences), optionally
    per-phrase top-k.

    ``max_term_df`` screens stopword-heavy probes exactly as in
    :func:`multi_phrase_query_index`, and — unlike the list path —
    it defaults ON here (``DEFAULT_BULK_MAX_TERM_DF`` = 0.8, the
    contamination entries' cutoff): this is precisely the path where
    a naive caller feeds 10k+ extracted shingles, and at that scale
    an unscreened Zipf-HEAD probe set degenerates into a corpus-scale
    position explode (the one measured scale-killer: 339s before
    being killed at 2M docs). Pass ``max_term_df=None`` as the
    explicit, documented opt-out for deliberately exhaustive
    matching — dropped probes are always counted loudly on stderr,
    so the default never silently changes a result a caller was
    watching."""
    _validate_max_term_df(max_term_df)
    meta = indexdir.load_meta(path)
    indexdir.check_unmarked(path)
    if not meta.get("positions", False):
        raise ValueError(
            f"text index at {path} was built without positions — "
            "phrase queries need store_positions=True; rebuild with "
            "write_text_index(..., store_positions=True)"
        )
    base = phrases_df.select(
        F.col(phrase_col).alias("phrase")
    ).distinct()
    slots = base.select(
        "phrase", F.posexplode(_tokens("phrase")).alias("slot", "term")
    )
    counts = slots.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("_n_slots")
    )
    n_buckets = meta["n_buckets"]
    # bounded by construction: <= n_buckets distinct ints, however
    # many phrases probe
    buckets = sorted(
        r.b
        for r in slots.select(
            F.pmod(F.hash("term"), F.lit(n_buckets)).alias("b")
        )
        .distinct()
        .collect()
    )
    if not buckets:
        # zero tokenizable phrases is a LEGITIMATE probe set (shingle
        # extraction over a blank/short benchmark slice produces no
        # rows) — return the empty result the docstring promises, not
        # an error (r12 advice: a decontam run must not crash on it)
        # doc_id type must follow the INDEX's id column (id_col is
        # caller-chosen and never cast at build), or the empty-probe
        # frame would type-mismatch the non-empty path in a downstream
        # union/join — read it from the postings parquet schema
        # (footer-only, no data scan)
        id_type = (
            spark.read.parquet(os.path.join(path, "postings"))
            .schema["doc_id"].dataType.simpleString()
        )
        schema = f"phrase string, doc_id {id_type}, n_occurrences long"
        if return_positions:
            schema += ", starts array<int>"
        return spark.createDataFrame([], schema)
    return _phrase_match_kernel(
        spark, path, slots, counts, buckets,
        k=k, within=within, max_term_df=max_term_df,
        return_positions=return_positions,
        n_live_docs=int(meta["n_docs"]),
        entry_name="multi_phrase_query_index_df",
    )


def _phrase_match_kernel(
    spark,
    path: str,
    slots: DataFrame,
    counts: DataFrame,
    buckets: list[int],
    *,
    k: int | None,
    within: int | None,
    max_term_df: float | int | None = None,
    return_positions: bool = False,
    n_live_docs: int | None = None,
    entry_name: str = "multi_phrase_query_index",
    term_req: DataFrame | None = None,
    n_req: DataFrame | None = None,
    probe_terms: list[str] | None = None,
) -> DataFrame:
    """Shared phrase-matching plan behind both multi-phrase entry
    points. ``slots`` is (phrase, slot, term), ``counts`` is (phrase,
    _n_slots); the list path passes them broadcast, the DataFrame path
    passes them as-is (they scale with the probe set).

    ``term_req`` (phrase, term — distinct), ``n_req`` (phrase, _n_req)
    and ``probe_terms`` may be passed precomputed when the probe set is
    driver data (the list path): they are pure functions of the slot
    table, and computing them as literal relations removes two
    aggregate+exchange subtrees per probe. When omitted they are
    derived from ``slots`` distributively (the DataFrame path's
    contract — its probe set never touches the driver).

    Intersect-before-positions (the classic phrase-query optimization):
    position arrays are exploded ONLY for (phrase, doc) pairs whose doc
    contains EVERY distinct term of the phrase — containment is decided
    on the narrow (doc, term) projection first, so a phrase with one
    rare term collapses the exploded volume from the sum of its terms'
    postings to the rare term's candidate docs. A stopword-heavy
    phrase ("of the") degrades gracefully to the old cost, never
    worse asymptotically (the candidate filter is one extra narrow
    aggregate over the already-pruned postings)."""
    from pyspark.sql import Window

    rel = (
        spark.read.parquet(os.path.join(path, "positions"))
        .filter(F.col("bucket").isin(buckets))  # partition pruning
        .select("doc_id", "term", "positions")
    )
    if probe_terms is not None:
        # list path: the probe term set is driver data, so push it
        # into the scan as a PushedFilters In-predicate (guide §6) —
        # a probed bucket holds every term hashing to it, and the
        # broadcast term_req join (which this predicate subsumes: all
        # downstream joins are on term ∈ probe_terms) cannot prune the
        # scan itself. With the index written term-sorted within
        # buckets, row groups of non-probed terms never decode. The
        # DataFrame path's probe set never touches the driver, so it
        # keeps bucket-level pruning only.
        rel = rel.filter(F.col("term").isin(list(probe_terms)))
    rel = indexdir.drop_tombstoned(spark, path, rel, "doc_id")  # MoR deletes
    _validate_max_term_df(max_term_df)
    if max_term_df is not None:
        # stopword-probe guard: drop probe phrases whose terms are so
        # common the "match set" would be most of the corpus. df is
        # append-fresh from the tombstone-filtered positions relation
        # (narrow (doc,term) projection of the already-pruned buckets),
        # same freshness contract as bm25_query_index's idf. The one
        # driver-side action here is a single dropped-phrase COUNT —
        # the guard must be LOUD, and the count is a scalar however
        # large the probe relation is.
        import sys as _sys

        # live doc count comes from the caller's already-loaded meta
        # (one source of truth per query); fall back to a read only if
        # the kernel is invoked directly
        n_live = (
            int(n_live_docs)
            if n_live_docs is not None
            else int(indexdir.load_meta(path)["n_docs"])
        )
        if isinstance(max_term_df, float) and max_term_df <= 1.0:
            cutoff = int(max_term_df * n_live)
        else:
            cutoff = int(max_term_df)
        from implementation_of_an_etl_process_spark.plans import (
            local_rows_df,
        )

        probe_terms_df = (
            local_rows_df(
                spark, [(t,) for t in sorted(set(probe_terms))],
                "term string",
            )
            if probe_terms is not None
            else slots.select("term").distinct()
        )
        hot = (
            rel.select("doc_id", "term")
            .join(probe_terms_df, "term", "left_semi")
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > cutoff)
            .select("term")
        )
        dropped = (
            slots.join(hot, "term", "left_semi")
            .select("phrase")
            .distinct()
            # the guard's df screen (pruned-postings groupBy) would
            # otherwise run THREE times — once for this eager count
            # and once inside each left_anti below (r13 advice:
            # paid-twice at million-shingle scale); persist the
            # phrase-only relation (tiny vs the postings it was
            # computed from) so the screen runs exactly once
            .persist()
        )
        n_dropped = dropped.count()
        if n_dropped:
            print(
                f"{entry_name}: max_term_df guard dropped "
                f"{n_dropped} probe phrase(s) containing terms with "
                f"df > {cutoff} (of {n_live} live docs) — "
                "stopword-scale probes carry no phrase signal; pass "
                "max_term_df=None for exhaustive matching",
                file=_sys.stderr,
            )
            slots = slots.join(dropped, "phrase", "left_anti")
            counts = counts.join(dropped, "phrase", "left_anti")
            if term_req is not None:
                # keep the precomputed requirement relations consistent
                # with the surviving probe set
                term_req = term_req.join(dropped, "phrase", "left_anti")
            if n_req is not None:
                n_req = n_req.join(dropped, "phrase", "left_anti")
        else:
            dropped.unpersist()
    if term_req is None:
        term_req = slots.select("phrase", "term").distinct()
    if n_req is None:
        n_req = term_req.groupBy("phrase").agg(
            F.count(F.lit(1)).alias("_n_req")
        )
    cand = (
        rel.select("doc_id", "term")
        .join(term_req, "term")
        .groupBy("phrase", "doc_id")
        .agg(F.count(F.lit(1)).alias("_n_have"))
        .join(n_req, "phrase")
        .filter(F.col("_n_have") == F.col("_n_req"))
        .select("phrase", "doc_id")
    )
    ex = (
        rel.join(term_req, "term")
        .join(cand, ["phrase", "doc_id"], "left_semi")
        .select(
            "phrase", "doc_id", "term",
            F.explode("positions").alias("pos"),
        )
        .join(slots, ["phrase", "term"])
    )
    if within:
        # True ordered slop: slot i may sit anywhere in start+i ..
        # start+i+W, but every slot must bind a DISTINCT position and
        # positions must be STRICTLY INCREASING across slots (r12
        # advice: plain slot-coverage counting let one token satisfy
        # two slots of a repeated-term phrase, and let W>=2 windows
        # match inverted term order). Existence of such an assignment
        # is decided by a greedy fold over the slot-sorted candidates
        # — take each slot's smallest position past the previous
        # slot's — which is exact because all slots' windows share one
        # width (the classic exchange argument). The fold runs on a
        # per-(phrase,doc,start) array of at most n_slots*(W+1)
        # candidate pairs, so it adds no corpus-scale state.
        w = int(within)
        starts = ex.select(
            "phrase",
            "doc_id",
            "slot",
            "pos",
            F.explode(
                F.sequence(
                    F.col("pos") - F.col("slot") - F.lit(w),
                    F.col("pos") - F.col("slot"),
                )
            ).alias("start"),
        ).filter(F.col("start") >= 0)
        occ = (
            starts.groupBy("phrase", "doc_id", "start")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("slot", "pos"))
                ).alias("_sp")
            )
            .withColumn(
                "_ns",
                F.aggregate(
                    "_sp",
                    F.struct(
                        F.lit(0).alias("nxt"), F.lit(-1).alias("last")
                    ),
                    lambda acc, x: F.when(
                        (x["slot"] == acc["nxt"])
                        & (x["pos"] > acc["last"]),
                        F.struct(
                            (acc["nxt"] + F.lit(1)).alias("nxt"),
                            x["pos"].alias("last"),
                        ),
                    ).otherwise(acc),
                )["nxt"],
            )
            .join(counts, "phrase")
            .filter(F.col("_ns") == F.col("_n_slots"))
        )
    else:
        starts = ex.select(
            "phrase",
            "doc_id",
            "slot",
            (F.col("pos") - F.col("slot")).alias("start"),
        ).filter(F.col("start") >= 0)
        occ = (
            starts.groupBy("phrase", "doc_id", "start")
            .agg(F.count_distinct("slot").alias("_ns"))
            .join(counts, "phrase")
            .filter(F.col("_ns") == F.col("_n_slots"))
        )
    aggs = [F.count(F.lit(1)).alias("n_occurrences")]
    if return_positions:
        # the match START token offsets, sorted — what span-level
        # decontamination needs to EXCISE contaminated spans (feed
        # (start, start + n_slots - 1 + W) spans to
        # pretrain.remove_duplicate_spans-style cutting) instead of
        # dropping whole docs. Bounded by the doc's token count.
        aggs.append(F.sort_array(F.collect_list("start")).alias("starts"))
    out = occ.groupBy("phrase", "doc_id").agg(*aggs)
    if k is not None:
        # per-phrase top-k without a per-phrase query: rank inside the
        # one aggregate's output (WindowGroupLimit keeps this map-side)
        rn = F.row_number().over(
            Window.partitionBy("phrase").orderBy(
                F.desc("n_occurrences"), F.col("doc_id").asc()
            )
        )
        out = out.withColumn("_rn", rn).filter(F.col("_rn") <= k).drop("_rn")
    from implementation_of_an_etl_process_spark.plans import ordered_emit

    # post-aggregate terminal sort (the occurrence groupBy bounds the
    # row count); ordered_emit skips the range-sampling pass on
    # provably-small indexes, plain orderBy past the scale gate
    return ordered_emit(
        out, "phrase", F.desc("n_occurrences"), F.col("doc_id").asc()
    )


def phrase_query_index(
    spark,
    path: str,
    phrase: str,
    *,
    k: int = 50,
    within: int | None = None,
) -> DataFrame:
    """Exact-phrase (and bounded-proximity) search against the
    positional index — the retrieval/contamination ask the bag-of-words
    index couldn't answer (r11 verdict item 3): until now phrase checks
    paid a full corpus re-tokenize per query; this scans only the
    phrase terms' bucket partitions.

    The phrase is tokenized with the index's own tokenizer (lower,
    whitespace split). A match at ``start`` means token ``start + i``
    equals phrase slot ``i`` for every slot — computed by the
    position-adjacency intersection in
    :func:`multi_phrase_query_index` (this is its single-phrase
    projection: same plan, minus the constant phrase column). Repeated
    phrase terms are handled per-slot, overlapping matches all count,
    and ``within=W`` relaxes adjacency to slop-W ordered proximity:
    slot ``i`` binds a DISTINCT position in ``start+i .. start+i+W``,
    strictly increasing across slots, so one token can't satisfy two
    slots and inverted term order never matches (r12 advice).
    Returns (doc_id, n_occurrences) ordered by count desc, doc_id asc,
    top-k."""
    return (
        multi_phrase_query_index(
            spark, path, [phrase], k=k, within=within
        )
        .drop("phrase")
        .orderBy(F.desc("n_occurrences"), F.col("doc_id").asc())
        .limit(k)
    )


def delete_from_text_index(spark, path: str, doc_ids) -> dict:
    """Merge-on-read DELETE (takedown/GDPR lifecycle): append the ids
    to a ``_deletes`` tombstone relation and adjust the meta stats
    (N, total_len) by the deleted docs' exact contributions, under the
    writer marker. Queries anti-join the tombstones, so results are
    immediately EXACT — identical to an index rebuilt without those
    docs (df is computed from the anti-joined postings; N/avgdl come
    from the adjusted meta). Compaction later drops tombstoned
    postings physically and clears the relation. Unknown ids are
    no-ops. Returns {"deleted_docs": n, "deleted_tokens": t}.

    The marker is released only on success (see
    :mod:`..sources.indexdir`): a failure between the tombstone append
    and the meta adjustment must not score tombstone-filtered postings
    with stale N/avgdl."""
    meta = indexdir.load_meta(path)
    ids = indexdir.id_frame(spark, doc_ids, "doc_id")
    with indexdir.writer(path):
        postings = spark.read.parquet(os.path.join(path, "postings"))
        # ignore ids already tombstoned (stats were adjusted then)
        ids = indexdir.drop_tombstoned(spark, path, ids, "doc_id")
        # exact contributions of the docs being removed: one row per
        # (doc, term) carries dlen, so per-doc length = first(dlen)
        hit = (
            postings.join(F.broadcast(ids), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.first("dlen").alias("dlen"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("dlen"), F.lit(0)).alias("tl"),
            )
            .first()
        )
        n_del, tl_del = int(hit["n"]), int(hit["tl"])
        # posting-less members (zero-token docs) still count toward N:
        # they were added to n_docs at build/append time via the
        # _emptydocs relation, so deleting one must decrement N too —
        # otherwise post-delete scores diverge from a rebuilt index
        n_empty_del = _drop_empty_docs(spark, path, ids)
        if n_del:
            indexdir.add_tombstones(spark, path, ids, postings, "doc_id")
        if n_del or n_empty_del:
            meta["n_docs"] = int(meta["n_docs"]) - n_del - n_empty_del
            meta["total_len"] = int(meta["total_len"]) - tl_del
            indexdir.write_meta(path, meta)
    return {"deleted_docs": n_del + n_empty_del, "deleted_tokens": tl_del}


def _drop_empty_docs(spark, path: str, ids_df: DataFrame) -> int:
    """Remove deleted ids from the ``_emptydocs`` membership relation
    (tiny: zero-token docs only) and return how many were dropped.
    Survivors are swapped in; a fully emptied relation removes the
    directory (an empty parquet dir is unreadable)."""
    empties = os.path.join(path, "_emptydocs")
    if not os.path.exists(empties):
        return 0
    rel = spark.read.parquet(empties)
    hit = rel.join(F.broadcast(ids_df), "doc_id", "left_semi").count()
    if not hit:
        return 0
    survivors = rel.join(F.broadcast(ids_df), "doc_id", "left_anti")
    if survivors.isEmpty():
        shutil.rmtree(empties)
    else:
        indexdir.replace_dir(empties, survivors.write.parquet, suffix=".tmp")
    return int(hit)


def compact_text_index(spark, path: str) -> dict:
    """Rewrite postings to ~one file per bucket — every append adds a
    file per touched bucket, and a long ingest loop re-creates the
    small-file layout that taxes every query (the ANN index's measured
    regime). Tombstoned postings (merge-on-read deletes) are dropped
    PHYSICALLY here and the ``_deletes`` relation cleared — query
    results are identical before and after by construction. Each
    relation is swapped in with rollback; the marker is released when
    the postings directory exists."""
    indexdir.load_meta(path)
    postings = os.path.join(path, "postings")
    pos_dir = os.path.join(path, "positions")
    dels = os.path.join(path, indexdir.DELETES)
    with indexdir.writer(path, intact=lambda: os.path.exists(postings)):
        dirs = [postings] + ([pos_dir] if os.path.exists(pos_dir) else [])
        before = sum(indexdir.count_parquet(d) for d in dirs)
        for d in dirs:
            rel = indexdir.drop_tombstoned(
                spark, path, spark.read.parquet(d), "doc_id"
            )
            indexdir.replace_dir(
                d,
                rel.repartition(F.col("bucket"))
                # keep the build-time term-sorted layout (row-group
                # stats pruning) through compaction
                .sortWithinPartitions("bucket", "term")
                .write.partitionBy("bucket")
                .parquet,
            )
        if os.path.exists(dels):
            shutil.rmtree(dels)  # physically applied — clear tombstones
        return {
            "files_before": before,
            "files_after": sum(indexdir.count_parquet(d) for d in dirs),
        }


def text_index_stats(path: str) -> dict:
    """Read-only operational snapshot of the index — what an ingest
    loop's monitoring and compaction policy consume. Pure filesystem
    metadata (meta.json + directory walks): no Spark session, no data
    read, safe to poll at any frequency. Reports the torn-state marker
    instead of raising so an operator dashboard can SEE a wedged
    index."""
    meta = indexdir.load_meta(path)
    n_buckets = int(meta["n_buckets"])
    files_postings = indexdir.count_parquet(os.path.join(path, "postings"))
    dels = os.path.join(path, indexdir.DELETES)
    return {
        "n_docs": int(meta["n_docs"]),
        "total_len": int(meta["total_len"]),
        "n_buckets": n_buckets,
        "positions": bool(meta.get("positions", False)),
        "files_postings": files_postings,
        "files_positions": indexdir.count_parquet(
            os.path.join(path, "positions")
        ),
        "files_per_bucket": files_postings / max(n_buckets, 1),
        "has_tombstones": os.path.exists(dels),
        "files_tombstones": indexdir.count_parquet(dels),
        "committed_batches": len(indexdir.committed_batches(path)),
        "pending_append": os.path.exists(os.path.join(path, indexdir.MARKER)),
    }


def maybe_compact_text_index(
    spark, path: str, *, max_files_per_bucket: float = 4.0
) -> dict | None:
    """Threshold-driven compaction for the steady-state ingest loop:
    every append adds ~one file per touched bucket, and the 2M-doc leg
    measured the small-file tax on probes — but compacting after every
    batch would pay a corpus rewrite per batch. This policy compacts
    only when the mean postings-file count per bucket exceeds
    ``max_files_per_bucket`` (appends since last compaction ~
    threshold - 1). Returns compact_text_index's stats when it ran,
    None when the index is still healthy — callers just invoke it
    after each append."""
    stats = text_index_stats(path)
    if stats["files_per_bucket"] <= max_files_per_bucket and not stats[
        "has_tombstones"
    ]:
        return None
    return compact_text_index(spark, path)
