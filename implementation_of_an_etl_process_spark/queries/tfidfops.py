"""Battery entries: TF-IDF weighted similarity and source-mixture
weighting — the two corpus-level primitives a pretraining data
pipeline layers on top of dedup/filtering (reference scope ends at
join/aggregate, `ETL.java:1`; these are additive capabilities).

Oracle-parity notes:
- tf-idf follows the repo's integer-quantization convention: idf is an
  int64 microscale, every sum (dot, norm2) is int64 — summation-order
  independent, so Spark's shuffled partial aggregation and DuckDB's
  single-node scan agree exactly. Every DuckDB SUM over BIGINT is
  CAST back to BIGINT in the oracle text (DuckDB widens to HUGEINT,
  whose wire format hash-diverges from Spark's int64 — r5 driver
  finding). The ranking/hashed column is the INTEGER squared-cosine
  cross-ratio (operators/tfidf.py COS_PRESCALE/COS2_SCALE); the double
  cosine never reaches a hashed output.
- mixture weights quantize pow(n_tokens, alpha) to int64 BEFORE any
  sum for the same reason; the only cross-engine floating op is pow
  itself (sub-ulp identical on identical int inputs in practice; the
  microscale rounding window makes a divergence ~1e-13-probable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark.operators.tfidf import (
    COS2_SCALE as _COS2_SCALE,
    COS_PRESCALE as _COS_PRESCALE,
    IDF_SCALE,
    tfidf_topk_pairs,
)
from implementation_of_an_etl_process_spark.sources.parquet import read_table

# Keep in sync between engine call and oracle text.
_K = 50
_MIN_DF = 2
_MAX_DF_FRAC = 0.9
_ALPHA = 0.7
_POW_SCALE = 1_000
_W_SCALE = 1_000_000


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from implementation_of_an_etl_process_spark.plans import spread

    return spread(read_table(spark, sf_dir, "documents"))


def tfidf_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most-similar document pairs by tf-idf cosine, via the
    df-banded inverted index (`operators/tfidf.py`). The hashed battery
    output carries only integer columns (dot, cos2_q) — the double
    `cosine` convenience column is dropped here so no float-derived
    value is ever oracle-hashed."""
    return tfidf_topk_pairs(
        _docs(spark, sf_dir),
        k=_K,
        min_df=_MIN_DF,
        max_df_frac=_MAX_DF_FRAC,
    ).drop("cosine")


TFIDF_TOPK_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tok WHERE term <> '' GROUP BY doc_id, term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), vocab AS (
  SELECT term,
         CAST(round(ln((n.n_docs + 1.0) / (df + 1.0)) * {IDF_SCALE})
              AS BIGINT) AS idf_q
  FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), n
  WHERE df >= {_MIN_DF} AND df <= CAST(floor({_MAX_DF_FRAC} * n.n_docs) AS BIGINT)
), w AS (
  SELECT tf.doc_id, tf.term, tf.tf * v.idf_q AS w
  FROM tf JOIN vocab v USING (term)
), norms AS (
  SELECT doc_id, SUM(w * w) AS norm2 FROM w GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, SUM(a.w * b.w) AS dot
  FROM w a JOIN w b USING (term)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d.doc1, d.doc2, CAST(d.dot AS BIGINT) AS dot,
       CAST((CAST(d.dot // {_COS_PRESCALE} AS HUGEINT)
             * (d.dot // {_COS_PRESCALE}) * {_COS2_SCALE})
            // (GREATEST(na.norm2 // {_COS_PRESCALE}, 1)
                * CAST(GREATEST(nb.norm2 // {_COS_PRESCALE}, 1) AS HUGEINT))
            AS BIGINT) AS cos2_q
FROM dots d
JOIN norms na ON na.doc_id = d.doc1
JOIN norms nb ON nb.doc_id = d.doc2
ORDER BY cos2_q DESC, d.doc1, d.doc2
LIMIT {_K}
"""


_BM25_QUERY = ("vector", "stream", "merge", "hash")
# SQL literal list built explicitly (a Python tuple repr is a syntax
# error for 1-term queries and quotes apostrophes Python-style)
assert all(t and "'" not in t for t in _BM25_QUERY)
_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_QUERY)
_BM25_K = 50


def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 query-relevance retrieval (`operators/tfidf.py::bm25_topk`):
    top-50 documents for a fixed 4-term query — the scorer a curation
    pipeline uses to pull domain-relevant documents from a web-scale
    corpus given seed terms. Integer-exact scoring (the only float is
    the quantized Robertson/Lucene idf), so the hashed output carries
    no float-derived column."""
    from implementation_of_an_etl_process_spark.operators.tfidf import (
        bm25_topk,
    )

    return bm25_topk(
        _docs(spark, sf_dir), list(_BM25_QUERY), k=_BM25_K
    )


BM25_TOPK_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents
), tok2 AS (
  SELECT doc_id, term FROM tok WHERE term <> ''
), lens AS (
  SELECT doc_id, COUNT(*) AS len FROM tok2 GROUP BY doc_id
), stats AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT SUM(len) FROM lens) AS total_len
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tok2
  WHERE term IN ({_BM25_IN})
  GROUP BY doc_id, term
), dfq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), idf AS (
  SELECT term, n_docs, total_len,
         CAST(round(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                    * {IDF_SCALE}) AS BIGINT) AS idf_q
  FROM dfq, stats
), sc AS (
  SELECT tf.doc_id,
         CAST(CAST(idf_q AS HUGEINT) * (2200 * tf.tf) * total_len
              // (CAST(1000 AS HUGEINT) * tf.tf * total_len
                  + 300 * total_len + 900 * l.len * n_docs)
              AS BIGINT) AS s
  FROM tf JOIN idf USING (term) JOIN lens l ON l.doc_id = tf.doc_id
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
       CAST(SUM(s) AS BIGINT) AS score_q
FROM sc GROUP BY doc_id
ORDER BY score_q DESC, doc_id
LIMIT {_BM25_K}
"""


_BM25_IDX_QUERY = ("sort", "filter", "join", "batch")
assert all(t and "'" not in t for t in _BM25_IDX_QUERY)
_BM25_IDX_IN = ", ".join(f"'{t}'" for t in _BM25_IDX_QUERY)
_BM25_IDX_K = 40


def _bm25_index_oracle(extra_cols: str = "") -> str:
    """The inline-BM25 closed form re-targeted at the index entries'
    terms/k — the persisted-index path must be row-identical to the
    inline scorer, so ONE oracle covers both (plus optional pinned
    invariant columns for the incremental entry)."""
    return rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents
), tok2 AS (
  SELECT doc_id, term FROM tok WHERE term <> ''
), lens AS (
  SELECT doc_id, COUNT(*) AS len FROM tok2 GROUP BY doc_id
), stats AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT SUM(len) FROM lens) AS total_len
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tok2
  WHERE term IN ({_BM25_IDX_IN})
  GROUP BY doc_id, term
), dfq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), idf AS (
  SELECT term, n_docs, total_len,
         CAST(round(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                    * {IDF_SCALE}) AS BIGINT) AS idf_q
  FROM dfq, stats
), sc AS (
  SELECT tf.doc_id,
         CAST(CAST(idf_q AS HUGEINT) * (2200 * tf.tf) * total_len
              // (CAST(1000 AS HUGEINT) * tf.tf * total_len
                  + 300 * total_len + 900 * l.len * n_docs)
              AS BIGINT) AS s
  FROM tf JOIN idf USING (term) JOIN lens l ON l.doc_id = tf.doc_id
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
       CAST(SUM(s) AS BIGINT) AS score_q{extra_cols}
FROM sc GROUP BY doc_id
ORDER BY score_q DESC, doc_id
LIMIT {_BM25_IDX_K}
"""


def bm25_index_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED full-text index under the driver gate
    (`operators/textindex.py`): build the bucket-partitioned inverted
    index (postings denormalize doc length; meta carries N/total_len),
    then answer the fixed 4-term query from the index — the query's
    terms prune to their bucket partitions (PartitionFilters, pinned
    in tests/test_textindex.py) and scoring reuses the inline BM25's
    integer-exact formula, so the oracle is the SAME closed form as
    `bm25_topk_docs` (re-targeted terms/k). Index dir rebuilt every
    call (overwrite) so the entry is self-contained."""
    import hashlib
    import os
    import tempfile

    from implementation_of_an_etl_process_spark.operators import (
        textindex as TI,
    )

    docs = _docs(spark, sf_dir)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    idx = os.path.join(tempfile.gettempdir(), f"txtidx_{tag}")
    TI.write_text_index(docs, idx, n_buckets=32)
    return TI.bm25_query_index(
        spark, idx, list(_BM25_IDX_QUERY), k=_BM25_IDX_K
    )


BM25_INDEX_SQL = _bm25_index_oracle()


def bm25_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted text-index INGEST-LOOP gate: base write + append +
    a RETRIED append of the same batch_id (must no-op via the
    `_batches.json` ledger, checked under the writer marker), then the
    query — which must be row-identical to the one-shot index of the
    full corpus, because df/idf are computed append-fresh from the
    postings and N/avgdl accumulate exactly in meta. The oracle is the
    same closed form with two pinned invariant bits: the retry added
    no postings, and meta's n_docs equals the corpus count."""
    import hashlib
    import os
    import tempfile

    from implementation_of_an_etl_process_spark.operators import (
        textindex as TI,
    )

    docs = _docs(spark, sf_dir)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    idx = os.path.join(tempfile.gettempdir(), f"txtidx_inc_{tag}")
    third = F.pmod(F.col("doc_id"), F.lit(3))
    TI.write_text_index(docs.filter(third != 0), idx, n_buckets=32)
    batch = docs.filter(third == 0)
    TI.append_text_index(batch, idx, batch_id=0)
    postings = os.path.join(idx, "postings")
    n_after = spark.read.parquet(postings).count()
    TI.append_text_index(batch, idx, batch_id=0)  # re-delivery: no-op
    retry_noop = int(spark.read.parquet(postings).count() == n_after)
    meta_ok = int(
        TI.text_index_stats(idx)["n_docs"] == docs.count()
    )
    return TI.bm25_query_index(
        spark, idx, list(_BM25_IDX_QUERY), k=_BM25_IDX_K
    ).select(
        "*",
        F.lit(retry_noop).alias("retry_noop"),
        F.lit(meta_ok).alias("meta_ok"),
    )


BM25_INDEX_INC_SQL = _bm25_index_oracle(
    ",\n       1 AS retry_noop,\n       1 AS meta_ok"
)


def bm25_index_delete_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE under the driver gate (takedown/GDPR
    lifecycle): build the index on the full corpus, tombstone every
    doc_id % 7 == 0 (`delete_from_text_index` — ids to `_deletes`,
    meta N/total_len adjusted by the victims' exact contributions),
    then query. Results must be IDENTICAL to an index that never held
    those docs — the oracle scores the closed BM25 form over
    `documents WHERE doc_id % 7 <> 0`. A second delete of the same ids
    plus an unknown id must be a no-op (pinned as an invariant bit)."""
    import hashlib
    import os
    import tempfile

    from implementation_of_an_etl_process_spark.operators import (
        textindex as TI,
    )

    docs = _docs(spark, sf_dir)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    idx = os.path.join(tempfile.gettempdir(), f"txtidx_del_{tag}")
    TI.write_text_index(docs, idx, n_buckets=32)
    victims = docs.filter(F.pmod(F.col("doc_id"), F.lit(7)) == 0).select(
        "doc_id"
    )
    TI.delete_from_text_index(spark, idx, victims)
    again = TI.delete_from_text_index(spark, idx, victims)
    redelete_noop = int(again["deleted_docs"] == 0)
    return TI.bm25_query_index(
        spark, idx, list(_BM25_IDX_QUERY), k=_BM25_IDX_K
    ).select("*", F.lit(redelete_noop).alias("redelete_noop"))


# the replace rewrites BOTH corpus references (the tok CTE and the
# stats subquery) — the oracle is the closed form over the surviving
# documents only, which is exactly the delete contract
BM25_INDEX_DEL_SQL = _bm25_index_oracle(
    ",\n       1 AS redelete_noop"
).replace("FROM documents", "FROM documents WHERE doc_id % 7 <> 0")


def takedown_all_stores_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-INDEX takedown under the driver gate (r13 verdict item 8's
    composed flow, oracle-gated end to end): materialize all FOUR
    stores a curation pipeline derives from the corpus — the corpus
    parquet itself, the BM25 text index, the dedup history index, and
    the IVF-PQ ANN index over the 1:1 embeddings — then remove every
    ``doc_id % 7 == 0`` from ALL of them in one
    ``operators/takedown.py::takedown_docs`` call. The post-takedown
    BM25 top-k must be row-identical to an index that never held the
    victims (the oracle scores the closed form over ``documents WHERE
    doc_id % 7 <> 0`` — the same surviving-corpus contract as
    ``bm25_index_delete_docs``, now reached through the composed
    operator). Pinned invariant bits:

    - ``ledger_exact``: each store's removed count equals the victim
      count (every victim was present everywhere — embeddings share
      the doc keyspace 1:1 — so all four ledgers must agree).
    - ``rerun_noop``: the crash-recovery contract — rerunning the SAME
      takedown removes nothing anywhere (tombstones and the corpus
      rewrite are idempotent).
    - ``corpus_rows_ok``: the rewritten corpus parquet holds exactly
      the survivors.
    - ``ann_clean``: no tombstoned id surfaces in any post-takedown
      ANN top-k (the ANN delete is exact for queries, not lazy).
    - ``verified_clean``: the auditor's residual probe
      (``verify_takedown`` — distinct victim ids still served by any
      store's live view) reads zero everywhere.

    At 100 TB the three index deletes are id-set-sized tombstone
    appends and only the corpus rewrite is data-scale (one broadcast
    anti-join scan) — see the takedown module docstring for the
    ordering/atomicity story."""
    import os
    import shutil
    import tempfile

    from implementation_of_an_etl_process_spark.operators import (
        dedup as D,
        similarity as S,
        takedown as TD,
        textindex as TI,
    )
    from implementation_of_an_etl_process_spark.queries.similarity import (
        _EMB_DIM,
        _emb,
    )

    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    victims = docs.filter(F.pmod(F.col("doc_id"), F.lit(7)) == 0).select(
        "doc_id"
    )
    n_victims = victims.count()
    n_docs = docs.count()
    # private per-call root: the corpus swap-rewrite renames directories,
    # so a fixed shared path would race a concurrent run
    root = tempfile.mkdtemp(prefix="takedown_")
    corp = os.path.join(root, "corpus")
    txt = os.path.join(root, "txtidx")
    ded = os.path.join(root, "dedupidx")
    ann = os.path.join(root, "annidx")
    try:
        docs.write.parquet(corp)
        TI.write_text_index(docs, txt, n_buckets=32)
        D.write_dedup_index(docs, ded, "doc_id", "text")
        cents = S.train_ivf_centroids(
            emb, corpus_vec="embedding", corpus_id="vec_id",
            n_cells=16, n_train=4096,
        )
        books = S.train_pq_codebooks_distributed(
            emb, corpus_vec="embedding", corpus_id="vec_id",
            m=16, n_codes=64, dim=_EMB_DIM, centroids=cents,
        )
        S.write_ivfpq_index(
            emb, ann, books, cents,
            corpus_id="vec_id", corpus_vec="embedding",
        )
        targets = dict(
            corpus_path=corp, text_index=txt,
            dedup_index=ded, ann_index=ann,
        )
        ledger = TD.takedown_docs(spark, victims, **targets)
        ledger_exact = int(
            ledger["text_deleted"] == n_victims
            and ledger["dedup_deleted"] == n_victims
            and ledger["ann_deleted"] == n_victims
            and ledger["corpus_deleted"] == n_victims
        )
        again = TD.takedown_docs(spark, victims, **targets)
        rerun_noop = int(
            again["text_deleted"] == 0
            and again["dedup_deleted"] == 0
            and again["ann_deleted"] == 0
            and again["corpus_deleted"] == 0
        )
        corpus_rows_ok = int(
            spark.read.parquet(corp).count() == n_docs - n_victims
        )
        # the auditor's half (r14): the residual probe must see zero
        # victims served by ANY store through the live views
        verified_clean = int(
            TD.verify_takedown(spark, victims, **targets)["clean"]
        )
        got = S.ivfpq_query_index(
            spark, ann, emb.filter(F.col("vec_id") < 8), emb,
            query_id="vec_id", query_vec="embedding",
            corpus_id="vec_id", corpus_vec="embedding",
            k=5, n_probe=12, shortlist=50,
        )
        ann_clean = int(
            got.filter(F.pmod(F.col("cid"), F.lit(7)) == 0).count() == 0
        )
        out = TI.bm25_query_index(
            spark, txt, list(_BM25_IDX_QUERY), k=_BM25_IDX_K
        ).select(
            "*",
            F.lit(ledger_exact).alias("ledger_exact"),
            F.lit(rerun_noop).alias("rerun_noop"),
            F.lit(corpus_rows_ok).alias("corpus_rows_ok"),
            F.lit(ann_clean).alias("ann_clean"),
            F.lit(verified_clean).alias("verified_clean"),
        )
        # materialize before the index directories disappear
        out = out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


TAKEDOWN_ALL_STORES_SQL = _bm25_index_oracle(
    ",\n       1 AS ledger_exact,\n       1 AS rerun_noop,"
    "\n       1 AS corpus_rows_ok,\n       1 AS ann_clean,"
    "\n       1 AS verified_clean"
).replace("FROM documents", "FROM documents WHERE doc_id % 7 <> 0")


# two phrases: a plain bigram, and a repeated-term bigram ("table
# table") — the latter pins per-slot matching (count(distinct slot),
# not term-level dedup) and overlap counting ("table table table" is
# TWO occurrences)
_PHRASES = ["value table", "table table"]
_PHRASE_K = 100


def bm25_index_phrase_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHRASE search against the positional text index (r11 verdict
    item 3 — the first thing a retrieval/contamination user asks of a
    full-text index that bag-of-words postings can't answer): build
    the index with ``store_positions=True`` (parallel ``positions/``
    relation, same bucket partitioning, so BM25 postings stay narrow),
    then answer two exact phrases by position-adjacency intersection
    scoped to the phrase terms' bucket partitions (PartitionFilters,
    pinned in tests/test_textindex.py). Occurrence counts include
    overlapping matches; repeated phrase terms match per-slot. The
    oracle replays the adjacency intersection in SQL over a zipped
    token/position unnest."""
    import hashlib
    import os
    import tempfile

    from implementation_of_an_etl_process_spark.operators import (
        textindex as TI,
    )

    docs = _docs(spark, sf_dir)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    idx = os.path.join(tempfile.gettempdir(), f"txtidx_phr_{tag}")
    TI.write_text_index(docs, idx, n_buckets=32, store_positions=True)
    # ONE scan for both phrases (multi_phrase_query_index unions the
    # slot tables and prunes to the union of the terms' buckets) — the
    # benchmark-contamination shape, not one query per phrase
    return TI.multi_phrase_query_index(
        spark, idx, list(_PHRASES), k=_PHRASE_K
    )


_PHRASE_SLOT_ROWS = ",\n         ".join(
    f"('{p}', {i}, '{t}')"
    for p in _PHRASES
    for i, t in enumerate(p.split())
)

BM25_INDEX_PHRASE_SQL = rf"""
WITH l AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), tok AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(1, len(toks))) AS pos
  FROM l
), slots(phrase, slot, term) AS (
  VALUES {_PHRASE_SLOT_ROWS}
), nslots AS (
  SELECT phrase, COUNT(*) AS n FROM slots GROUP BY phrase
), starts AS (
  SELECT s.phrase, t.doc_id, t.pos - s.slot AS start
  FROM tok t JOIN slots s ON t.term = s.term
  GROUP BY s.phrase, t.doc_id, t.pos - s.slot
  HAVING COUNT(DISTINCT s.slot)
         = (SELECT n FROM nslots WHERE nslots.phrase = s.phrase)
)
SELECT phrase, doc_id, n_occurrences FROM (
  SELECT phrase, doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         row_number() OVER (
           PARTITION BY phrase ORDER BY COUNT(*) DESC, doc_id
         ) AS rn
  FROM starts
  GROUP BY phrase, doc_id
)
WHERE rn <= {_PHRASE_K}
ORDER BY phrase, n_occurrences DESC, doc_id
"""


_PROX_PHRASES = ["fast table", "scan query"]
_PROX_W = 1  # slop window: slot i may sit at start+i .. start+i+W


def bm25_index_proximity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slop-W ordered PROXIMITY search on the positional index (the
    phrase entry's relaxation): slot ``i`` of each probe phrase may
    match any position in ``start+i .. start+i+W``, W=1 here — the
    'terms near each other, in order' retrieval ask. Same single-scan
    multi-phrase kernel as `bm25_index_phrase_docs` (the window only
    widens each exploded position into W+1 candidate starts before the
    per-(phrase,doc,start) slot-coverage count); the oracle replays
    the windowed expansion in SQL."""
    import hashlib
    import os
    import tempfile

    from implementation_of_an_etl_process_spark.operators import (
        textindex as TI,
    )

    docs = _docs(spark, sf_dir)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    idx = os.path.join(tempfile.gettempdir(), f"txtidx_prox_{tag}")
    TI.write_text_index(docs, idx, n_buckets=32, store_positions=True)
    return TI.multi_phrase_query_index(
        spark, idx, list(_PROX_PHRASES), k=_PHRASE_K, within=_PROX_W
    )


_PROX_SLOT_ROWS = ",\n         ".join(
    f"('{p}', {i}, '{t}')"
    for p in _PROX_PHRASES
    for i, t in enumerate(p.split())
)

BM25_INDEX_PROX_SQL = rf"""
WITH l AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), tok AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(1, len(toks))) AS pos
  FROM l
), slots(phrase, slot, term) AS (
  VALUES {_PROX_SLOT_ROWS}
), nslots AS (
  SELECT phrase, COUNT(*) AS n FROM slots GROUP BY phrase
), expanded AS (
  SELECT s.phrase, t.doc_id, s.slot, t.pos,
         unnest(generate_series(t.pos - s.slot - {_PROX_W},
                                t.pos - s.slot)) AS start
  FROM tok t JOIN slots s ON t.term = s.term
), cov AS (
  -- replay the engine's greedy fold: slots must bind DISTINCT,
  -- strictly increasing positions (one token can't fill two slots;
  -- inverted term order never matches) — acc.s is the next expected
  -- slot, acc.p the last bound position
  SELECT phrase, doc_id, start,
         list_reduce(
           list_prepend({{'s': 0, 'p': -1}},
             list_sort(list({{'s': slot, 'p': pos}}))),
           (acc, x) -> CASE WHEN x.s = acc.s AND x.p > acc.p
                            THEN {{'s': acc.s + 1, 'p': x.p}}
                            ELSE acc END
         ).s AS ns
  FROM expanded
  WHERE start >= 1
  GROUP BY phrase, doc_id, start
), starts AS (
  SELECT c.phrase, c.doc_id
  FROM cov c JOIN nslots n USING (phrase)
  WHERE c.ns = n.n
)
SELECT phrase, doc_id, n_occurrences FROM (
  SELECT phrase, doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         row_number() OVER (
           PARTITION BY phrase ORDER BY COUNT(*) DESC, doc_id
         ) AS rn
  FROM starts
  GROUP BY phrase, doc_id
)
WHERE rn <= {_PHRASE_K}
ORDER BY phrase, n_occurrences DESC, doc_id
"""


_CONTAM_MOD = 97  # "benchmark" = docs with doc_id % 97 == 0
# stopword-probe guard, ON by default for the contamination path (r12
# verdict item 2: the unguarded 2M-doc bulk leg ran 339s before being
# killed on Zipf-HEAD probes): probe bigrams any of whose terms appears
# in > 80% of live docs are dropped — they make most of the corpus a
# candidate and carry no contamination signal
_CONTAM_MAX_TERM_DF = 0.8


def _bench_bigrams(docs):
    """Every consecutive bigram of the 'benchmark' docs
    (``doc_id % _CONTAM_MOD == 0``), extracted distributively — the
    shared probe relation behind all three contamination entries (one
    definition, so the tokenizer and the benchmark rule can't
    silently diverge between them)."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != "",
    )
    return (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(_CONTAM_MOD)) == 0)
        .select(toks.alias("_t"))
        .filter(F.size("_t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_t") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.col("_t")[i],
                        F.col("_t")[i + F.lit(1)],
                    ),
                )
            ).alias("phrase")
        )
    )




def contamination_phrase_index_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Index-backed benchmark contamination (the r11 verdict's stated
    gap: the inline n-gram ops re-tokenize the corpus per check): the
    'benchmark' is every consecutive BIGRAM of the docs with
    ``doc_id % 97 == 0``, extracted DISTRIBUTIVELY (no phrase list
    ever reaches the driver — `multi_phrase_query_index_df` collects
    only the <= n_buckets distinct bucket ints), then matched against
    the whole corpus in ONE pruned positions scan. Output is one row
    per probe bigram: how many corpus docs contain it and the total
    occurrence count — every SURVIVING probe hits at least its source
    doc. The ``max_term_df`` stopword guard is ON here (the
    contamination path's default posture): bigrams whose terms sit in
    > 80% of docs are dropped before the candidate join — the r12
    full-scale legs measured them as the one probe shape that
    degenerates to a corpus-scale position explode, while carrying no
    contamination signal. The oracle replays the identical df screen."""
    import hashlib
    import os
    import tempfile

    from implementation_of_an_etl_process_spark.operators import (
        textindex as TI,
    )

    docs = _docs(spark, sf_dir)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    idx = os.path.join(tempfile.gettempdir(), f"txtidx_cont_{tag}")
    TI.write_text_index(docs, idx, n_buckets=32, store_positions=True)
    bench = _bench_bigrams(docs)
    hits = TI.multi_phrase_query_index_df(
        spark, idx, bench, max_term_df=_CONTAM_MAX_TERM_DF
    )
    return (
        hits.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_docs_hit"),
            F.sum("n_occurrences").alias("total_occurrences"),
        )
        .orderBy("phrase")
    )


CONTAM_PHRASE_SQL = rf"""
WITH l AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), bench AS (
  SELECT DISTINCT toks[i] || ' ' || toks[i + 1] AS phrase
  FROM l, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
  WHERE doc_id % {_CONTAM_MOD} = 0
), allslots AS (
  SELECT phrase,
         unnest(string_split(phrase, ' ')) AS term,
         unnest(generate_series(1, len(string_split(phrase, ' ')))) AS slot
  FROM bench
), tok AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(1, len(toks))) AS pos
  FROM l
), tdf AS (
  -- stopword-probe guard (max_term_df={_CONTAM_MAX_TERM_DF}): per-term
  -- doc frequency; probe phrases with ANY term above the cutoff drop
  SELECT term, COUNT(DISTINCT doc_id) AS d FROM tok GROUP BY term
), slots AS (
  SELECT a.* FROM allslots a
  WHERE a.phrase NOT IN (
    SELECT DISTINCT s.phrase
    FROM allslots s JOIN tdf USING (term)
    WHERE tdf.d > CAST(floor({_CONTAM_MAX_TERM_DF} *
          (SELECT COUNT(*) FROM documents)) AS BIGINT)
  )
), nslots AS (
  SELECT phrase, COUNT(*) AS n FROM slots GROUP BY phrase
), cov AS (
  SELECT s.phrase, t.doc_id, t.pos - (s.slot - 1) AS start,
         COUNT(DISTINCT s.slot) AS ns
  FROM tok t JOIN slots s ON t.term = s.term
  WHERE t.pos - (s.slot - 1) >= 1
  GROUP BY s.phrase, t.doc_id, t.pos - (s.slot - 1)
), per_doc AS (
  SELECT c.phrase, c.doc_id, COUNT(*) AS cnt
  FROM cov c JOIN nslots n USING (phrase)
  WHERE c.ns = n.n
  GROUP BY c.phrase, c.doc_id
)
SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_docs_hit,
       CAST(SUM(cnt) AS BIGINT) AS total_occurrences
FROM per_doc
GROUP BY phrase
ORDER BY phrase
"""


def curation_span_decontam_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SPAN-LEVEL decontamination (r13: the surgical alternative to
    `curation_decontam_stats`' drop-the-doc policy): find every
    benchmark bigram's match via the positional index
    (`return_positions=True` — ONE pruned positions scan for all
    probes), turn the match offsets into token spans, and EXCISE just
    those spans with `pretrain.excise_token_spans`, keeping the rest
    of each document. Output is the per-source surgery ledger a
    curation run reports: docs, docs touched, tokens removed, tokens
    kept. Benchmark docs themselves get (almost) fully excised — every
    one of their bigrams is a probe — which is the honest semantics.
    The ``max_term_df`` stopword guard is ON at the same cutoff as the
    sibling contamination entry (one posture for the whole
    contamination path; stopword-scale probes carry no signal and are
    the measured scale-killer). The oracle recomposes the df screen,
    shingles, adjacency matching, span coverage, and the aggregate in
    SQL."""
    import hashlib
    import os
    import tempfile

    from implementation_of_an_etl_process_spark.operators import (
        textindex as TI,
    )
    from implementation_of_an_etl_process_spark.operators.pretrain import (
        excise_token_spans,
    )

    docs = _docs(spark, sf_dir)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    idx = os.path.join(tempfile.gettempdir(), f"txtidx_span_{tag}")
    TI.write_text_index(docs, idx, n_buckets=32, store_positions=True)
    bench = _bench_bigrams(docs)
    hits = TI.multi_phrase_query_index_df(
        spark, idx, bench, return_positions=True,
        max_term_df=_CONTAM_MAX_TERM_DF,
    )
    spans = hits.select(
        "doc_id", F.explode("starts").alias("span_start")
    ).select(
        "doc_id",
        "span_start",
        (F.col("span_start") + F.lit(1)).alias("span_end"),
    )
    cleaned = excise_token_spans(
        docs.select("doc_id", "text"), spans, one_based=False
    )
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != "",
    )
    per_doc = cleaned.join(
        docs.select("doc_id", "source", F.size(toks).alias("_n")),
        "doc_id",
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("n_removed_tokens") > 0, 1).otherwise(0)
            ).cast("long").alias("n_docs_touched"),
            F.sum("n_removed_tokens").alias("tokens_removed"),
            F.sum(F.col("_n") - F.col("n_removed_tokens")).alias(
                "tokens_kept"
            ),
        )
        .orderBy("source")
    )


CURATION_SPAN_DECONTAM_SQL = rf"""
WITH l AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), bench AS (
  SELECT DISTINCT toks[i] || ' ' || toks[i + 1] AS phrase
  FROM l, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
  WHERE doc_id % {_CONTAM_MOD} = 0
), allslots AS (
  SELECT phrase,
         unnest(string_split(phrase, ' ')) AS term,
         unnest(generate_series(1, len(string_split(phrase, ' ')))) AS slot
  FROM bench
), tok AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(1, len(toks))) AS pos
  FROM l
), tdf AS (
  -- the same stopword-probe guard as the sibling contamination entry
  -- (max_term_df={_CONTAM_MAX_TERM_DF}): the contamination path's
  -- default posture is consistent across both entries
  SELECT term, COUNT(DISTINCT doc_id) AS d FROM tok GROUP BY term
), slots AS (
  SELECT a.* FROM allslots a
  WHERE a.phrase NOT IN (
    SELECT DISTINCT s.phrase
    FROM allslots s JOIN tdf USING (term)
    WHERE tdf.d > CAST(floor({_CONTAM_MAX_TERM_DF} *
          (SELECT COUNT(*) FROM documents)) AS BIGINT)
  )
), nslots AS (
  SELECT phrase, COUNT(*) AS n FROM slots GROUP BY phrase
), cov AS (
  SELECT s.phrase, t.doc_id, t.pos - (s.slot - 1) AS start,
         COUNT(DISTINCT s.slot) AS ns
  FROM tok t JOIN slots s ON t.term = s.term
  WHERE t.pos - (s.slot - 1) >= 1
  GROUP BY s.phrase, t.doc_id, t.pos - (s.slot - 1)
), match AS (
  SELECT DISTINCT c.doc_id, c.start
  FROM cov c JOIN nslots n USING (phrase)
  WHERE c.ns = n.n
), removed AS (
  SELECT t.doc_id, t.pos
  FROM tok t JOIN match m
    ON m.doc_id = t.doc_id AND t.pos BETWEEN m.start AND m.start + 1
  GROUP BY t.doc_id, t.pos
), per_doc AS (
  SELECT l.doc_id, len(l.toks) AS n, COALESCE(r.nr, 0) AS nr
  FROM l LEFT JOIN (
    SELECT doc_id, COUNT(*) AS nr FROM removed GROUP BY doc_id
  ) r USING (doc_id)
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN p.nr > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_touched,
       CAST(SUM(p.nr) AS BIGINT) AS tokens_removed,
       CAST(SUM(p.n - p.nr) AS BIGINT) AS tokens_kept
FROM per_doc p JOIN documents d USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""


def curation_decontam_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION as a composed curation stage: the
    training corpus is screened against the 'benchmark' (every bigram
    of the ``doc_id % 97 == 0`` docs) THROUGH the positional index —
    one pruned positions scan finds every contaminated doc (any doc
    containing any benchmark bigram, which includes the benchmark
    docs themselves), an anti-join drops them, and the output is the
    per-source keep/drop ledger a curation run reports (docs kept,
    docs dropped, tokens surviving). The probe phrases never reach
    the driver (`multi_phrase_query_index_df`); the oracle recomposes
    shingle extraction, adjacency matching, and the per-source
    aggregate in SQL."""
    import hashlib
    import os
    import tempfile

    from implementation_of_an_etl_process_spark.operators import (
        textindex as TI,
    )

    docs = _docs(spark, sf_dir)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    idx = os.path.join(tempfile.gettempdir(), f"txtidx_dect_{tag}")
    TI.write_text_index(docs, idx, n_buckets=32, store_positions=True)
    bench = _bench_bigrams(docs)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != "",
    )
    hits = (
        # deliberately exhaustive: a decontam LEDGER must count every
        # contaminated doc, and the oracle below models no df screen —
        # the loud opt-out the bulk path's guarded default documents
        TI.multi_phrase_query_index_df(spark, idx, bench, max_term_df=None)
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    ledger = docs.select(
        "doc_id", "source", F.size(toks).alias("_n_toks")
    ).join(hits, "doc_id", "left")
    return (
        ledger.groupBy("source")
        .agg(
            F.count(F.when(F.col("_hit").isNull(), 1)).alias("n_docs_kept"),
            F.count(F.when(F.col("_hit").isNotNull(), 1)).alias(
                "n_docs_dropped"
            ),
            F.coalesce(
                F.sum(F.when(F.col("_hit").isNull(), F.col("_n_toks"))),
                F.lit(0),
            )
            .cast("long")
            .alias("tokens_kept"),
        )
        .orderBy("source")
    )


CURATION_DECONTAM_SQL = rf"""
WITH l AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), bench AS (
  SELECT DISTINCT toks[i] || ' ' || toks[i + 1] AS phrase
  FROM l, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
  WHERE doc_id % {_CONTAM_MOD} = 0
), slots AS (
  SELECT phrase,
         unnest(string_split(phrase, ' ')) AS term,
         unnest(generate_series(1, len(string_split(phrase, ' ')))) AS slot
  FROM bench
), nslots AS (
  SELECT phrase, COUNT(*) AS n FROM slots GROUP BY phrase
), tok AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(1, len(toks))) AS pos
  FROM l
), cov AS (
  SELECT s.phrase, t.doc_id, t.pos - (s.slot - 1) AS start,
         COUNT(DISTINCT s.slot) AS ns
  FROM tok t JOIN slots s ON t.term = s.term
  WHERE t.pos - (s.slot - 1) >= 1
  GROUP BY s.phrase, t.doc_id, t.pos - (s.slot - 1)
), hits AS (
  SELECT DISTINCT c.doc_id
  FROM cov c JOIN nslots n USING (phrase)
  WHERE c.ns = n.n
)
SELECT d.source,
       CAST(COUNT(*) FILTER (WHERE h.doc_id IS NULL) AS BIGINT)
         AS n_docs_kept,
       CAST(COUNT(*) FILTER (WHERE h.doc_id IS NOT NULL) AS BIGINT)
         AS n_docs_dropped,
       CAST(COALESCE(
         SUM(len(l.toks)) FILTER (WHERE h.doc_id IS NULL), 0
       ) AS BIGINT) AS tokens_kept
FROM l
JOIN documents d USING (doc_id)
LEFT JOIN hits h ON h.doc_id = l.doc_id
GROUP BY d.source
ORDER BY d.source
"""


_CURATION_K = 200


def curation_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed retrieve-then-clean curation flow in ONE lazy plan:
    BM25 retrieval of the top-200 query-relevant documents -> exact
    dedup (min-id survivor within the retrieved set) -> quality gate
    (alpha_ratio >= 0.5, n_tokens >= 5) -> deterministic hash split ->
    per-split corpus stats carrying the retrieval scores (so a
    regression in ANY stage, or in how the stages compose, breaks the
    hash). Every stage reuses a battery-proven operator; the oracle
    recomposes the whole chain in SQL.

    Scale shape: the BM25 stage (tokenize-once persisted tf, broadcast
    idf, TakeOrdered top-k) feeds a broadcast-sized id list; everything
    downstream operates on the retrieved subset only. The corpus is
    scanned three times total — BM25's token scan and scalar-stats
    scan, plus the id-probe that fetches the retrieved rows — and the
    expensive work (tokenization) happens exactly once; dedup,
    quality, and split touch only the k retrieved rows.
    """
    from implementation_of_an_etl_process_spark.operators.dedup import (
        drop_exact_duplicates,
    )
    from implementation_of_an_etl_process_spark.operators.pipeline import (
        hash_split,
    )
    from implementation_of_an_etl_process_spark.operators.text import (
        quality_scores,
    )
    from implementation_of_an_etl_process_spark.operators.tfidf import (
        bm25_topk,
    )

    docs = _docs(spark, sf_dir)
    seeds = bm25_topk(docs, list(_BM25_QUERY), k=_CURATION_K).select(
        "doc_id", "score_q"
    )
    relevant = docs.join(F.broadcast(seeds), "doc_id")
    deduped = drop_exact_duplicates(relevant, ["text"], "doc_id")
    kept = quality_scores(deduped, "text").filter(
        (F.col("alpha_ratio") >= 0.5) & (F.col("n_tokens") >= 5)
    )
    return (
        hash_split(kept, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("score_q").alias("relevance_q"),
        )
        .orderBy("split")
    )


_CURATION_BM25_CTE = BM25_TOPK_SQL.replace(
    f"LIMIT {_BM25_K}", f"LIMIT {_CURATION_K}"
).strip()

CURATION_PIPELINE_SQL = rf"""
WITH seeds AS (
  {_CURATION_BM25_CTE}
), rel AS (
  SELECT d.doc_id, d.text, s.score_q FROM documents d
  JOIN seeds s USING (doc_id)
), reps AS (
  SELECT MIN(doc_id) AS doc_id FROM rel GROUP BY text
), ded AS (
  SELECT r.doc_id, r.text, r.score_q FROM rel r
  JOIN reps USING (doc_id)
), q AS (
  SELECT doc_id, score_q,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER)
           AS n_tokens,
         CASE WHEN length(text) > 0
              THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        AS DOUBLE) / length(text)
              ELSE 0.0 END AS alpha_ratio
  FROM ded
), kept AS (
  SELECT doc_id, n_tokens, score_q FROM q
  WHERE alpha_ratio >= 0.5 AND n_tokens >= 5
), sp AS (
  SELECT CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   ::UBIGINT % 10000 < 100 THEN 'val'
              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   ::UBIGINT % 10000 < 200 THEN 'test'
              ELSE 'train' END AS split,
         n_tokens, score_q
  FROM kept
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(score_q) AS BIGINT) AS relevance_q
FROM sp GROUP BY split ORDER BY split
"""


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (alpha-sampling): per corpus
    source, token mass and the alpha=0.7 sampling weight
    p_i = n_i^alpha / sum_j n_j^alpha — the standard recipe for
    up-weighting small high-quality sources when composing a training
    mixture. `oversample_q` is the ratio of the alpha-weight to the
    proportional-to-tokens weight (micro-quantized), i.e. how many
    times over-represented each source is relative to raw token share.

    Scale shape: one narrow aggregate of the corpus (shuffle on the
    source key), a 20-row broadcastable total, no collect of data rows.
    The alpha-powers are quantized to int64 BEFORE summation so the
    total is summation-order independent (see module docstring).
    """
    per = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.trim("text"), r"\s+")))
            .cast("long")
            .alias("n_tokens"),
        )
        .withColumn(
            "pw_q",
            F.round(F.pow(F.col("n_tokens"), F.lit(_ALPHA)) * _POW_SCALE)
            .cast("long"),
        )
    )
    tot = per.agg(
        F.sum("pw_q").alias("tot_pw"), F.sum("n_tokens").alias("tot_tokens")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("pw_q") / F.col("tot_pw") * _W_SCALE)
            .cast("long")
            .alias("weight_q"),
            F.round(
                (F.col("pw_q").cast("double") * F.col("tot_tokens"))
                / (F.col("tot_pw").cast("double") * F.col("n_tokens"))
                * _W_SCALE
            )
            .cast("long")
            .alias("oversample_q"),
        )
        .orderBy("source")
    )


SOURCE_MIXTURE_SQL = rf"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS n_tokens
  FROM documents GROUP BY source
), perq AS (
  SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(round(pow(n_tokens, {_ALPHA}) * {_POW_SCALE}) AS BIGINT) AS pw_q
  FROM per
), tot AS (
  SELECT SUM(pw_q) AS tot_pw, SUM(n_tokens) AS tot_tokens FROM perq
)
SELECT source, n_docs, n_tokens,
       CAST(round(pw_q / CAST(tot_pw AS DOUBLE) * {_W_SCALE}) AS BIGINT)
         AS weight_q,
       CAST(round((CAST(pw_q AS DOUBLE) * tot_tokens)
                  / (CAST(tot_pw AS DOUBLE) * n_tokens) * {_W_SCALE})
            AS BIGINT) AS oversample_q
FROM perq, tot
ORDER BY source
"""


def unigram_surprisal_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free perplexity-proxy quality score: per-doc average
    unigram surprisal against corpus statistics (`operators/text.py`)."""
    from implementation_of_an_etl_process_spark.operators.text import (
        unigram_surprisal,
    )

    return unigram_surprisal(_docs(spark, sf_dir)).orderBy("doc_id")


UNIGRAM_SURPRISAL_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents
), tok2 AS (
  SELECT doc_id, term FROM tok WHERE term <> ''
), vocab AS (
  SELECT term, COUNT(*) AS cnt FROM tok2 GROUP BY term
), tot AS (
  SELECT SUM(cnt) AS t FROM vocab
), vq AS (
  SELECT term,
         CAST(round(ln(CAST(t AS DOUBLE) / cnt) * 1000000) AS BIGINT) AS sup_q
  FROM vocab, tot
)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(sup_q) AS BIGINT) AS sum_surprisal_q,
       CAST(CAST(sign(SUM(sup_q)) AS BIGINT)
            * ((2 * abs(SUM(sup_q)) + COUNT(*)) // (2 * COUNT(*)))
            AS BIGINT) AS avg_surprisal_q
FROM tok2 JOIN vq USING (term)
GROUP BY doc_id
ORDER BY doc_id
"""

def bigram_lm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-perplexity quality filter, full model form: per-
    doc average NLL under a corpus-trained add-one bigram LM
    (`operators/text.py::bigram_lm_score`; unigram_surprisal_docs is
    the model-free proxy of this)."""
    from implementation_of_an_etl_process_spark.operators.text import (
        bigram_lm_score,
    )

    return bigram_lm_score(_docs(spark, sf_dir)).orderBy("doc_id")


BIGRAM_LM_SQL = r"""
WITH arrs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     t -> t <> '') AS arr
  FROM documents
), pairs0 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(arr)),
                i -> struct_pack(w1 := arr[i], w2 := arr[i + 1]))) AS bg
  FROM arrs
), pairs AS (
  SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM pairs0
), model AS (
  SELECT w1, w2, COUNT(*) AS b FROM pairs GROUP BY w1, w2
), v AS (
  SELECT COUNT(*) AS v FROM (
    SELECT w1 AS w FROM model UNION SELECT w2 FROM model
  )
), ctx AS (
  SELECT w1, SUM(b) AS c FROM model GROUP BY w1
), scored AS (
  SELECT w1, w2,
         CAST(round(ln(CAST(c + v AS DOUBLE) / CAST(b + 1 AS DOUBLE))
                    * 1000000) AS BIGINT) AS nll_q
  FROM model JOIN ctx USING (w1), v
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(nll_q) AS BIGINT) AS sum_nll_q,
       CAST(CAST(sign(SUM(nll_q)) AS BIGINT)
            * ((2 * abs(SUM(nll_q)) + COUNT(*)) // (2 * COUNT(*)))
            AS BIGINT) AS avg_nll_q
FROM pairs JOIN scored USING (w1, w2)
GROUP BY doc_id
ORDER BY doc_id
"""


def bigram_lm_pruned_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bigram LM with CCNet-style model pruning (min_count=2):
    hapax bigrams leave the MODEL (Zipf: roughly half the unique-bigram
    table at web scale) and score the smoothed-unseen NLL instead —
    the knob that bounds the model table at 100 TB. Pins the pruned
    semantics against the oracle; bigram_lm_docs pins the unpruned
    default."""
    from implementation_of_an_etl_process_spark.operators.text import (
        bigram_lm_score,
    )

    return bigram_lm_score(_docs(spark, sf_dir), min_count=2).orderBy(
        "doc_id"
    )


BIGRAM_LM_PRUNED_SQL = r"""
WITH arrs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     t -> t <> '') AS arr
  FROM documents
), pairs0 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(arr)),
                i -> struct_pack(w1 := arr[i], w2 := arr[i + 1]))) AS bg
  FROM arrs
), pairs AS (
  SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM pairs0
), model AS (
  SELECT w1, w2, COUNT(*) AS b FROM pairs GROUP BY w1, w2
  HAVING COUNT(*) >= 2
), v AS (
  SELECT COUNT(*) AS v FROM (
    SELECT w1 AS w FROM model UNION SELECT w2 FROM model
  )
), ctx AS (
  SELECT w1, SUM(b) AS c FROM model GROUP BY w1
), scored AS (
  SELECT w1, w2,
         CAST(round(ln(CAST(c + v AS DOUBLE) / CAST(b + 1 AS DOUBLE))
                    * 1000000) AS BIGINT) AS nll_q
  FROM model JOIN ctx USING (w1), v
), per_pair AS (
  SELECT doc_id,
         COALESCE(s.nll_q,
                  CAST(round(ln(CAST(GREATEST(COALESCE(ctx.c, 0) + v.v, 1)
                                     AS DOUBLE))
                             * 1000000) AS BIGINT)) AS nll_q
  FROM pairs p
  LEFT JOIN scored s USING (w1, w2)
  LEFT JOIN ctx USING (w1)
  CROSS JOIN v
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(nll_q) AS BIGINT) AS sum_nll_q,
       CAST(CAST(sign(SUM(nll_q)) AS BIGINT)
            * ((2 * abs(SUM(nll_q)) + COUNT(*)) // (2 * COUNT(*)))
            AS BIGINT) AS avg_nll_q
FROM per_pair
GROUP BY doc_id
ORDER BY doc_id
"""


_DSIR_TARGET = "src0"
_DSIR_K = 100
_DSIR_BUCKETS = 10_000


def dsir_selection_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling selection (`operators/selection.py`,
    Xie et al. NeurIPS 2023): hashed 1-2-gram bag-of-words importance
    weights fit on target=source 'src0' vs the raw pool, every raw doc
    scored by its quantized total log-likelihood ratio, top-100 kept.
    Output columns are all integers (doc_id, n_feats, score_q) —
    nothing float-derived is hashed."""
    from implementation_of_an_etl_process_spark.operators.selection import (
        dsir_select,
    )

    return dsir_select(
        _docs(spark, sf_dir),
        "doc_id",
        "text",
        is_target=F.col("source") == _DSIR_TARGET,
        k=_DSIR_K,
        n_buckets=_DSIR_BUCKETS,
    )


DSIR_SELECTION_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source = '{_DSIR_TARGET}' AS is_t,
         regexp_split_to_array(lower(trim(text)), '\s+') AS ts
  FROM documents
), grams AS (
  SELECT doc_id, is_t, g FROM (
    SELECT doc_id, is_t, unnest(ts) AS g FROM toks
    UNION ALL
    SELECT doc_id, is_t,
           unnest([ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))]) AS g
    FROM toks WHERE len(ts) >= 2
  ) WHERE g <> ''
), feats AS (
  SELECT doc_id, is_t,
         CAST(('0x' || substr(md5(g), 1, 8))::UBIGINT % {_DSIR_BUCKETS}
              AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM grams GROUP BY doc_id, is_t, bucket
), t AS (
  SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS tc FROM feats WHERE is_t GROUP BY bucket
), r AS (
  SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS rc FROM feats WHERE NOT is_t GROUP BY bucket
), tot AS (
  SELECT (SELECT COALESCE(CAST(SUM(tc) AS BIGINT), 0) FROM t) AS t_tot,
         (SELECT COALESCE(CAST(SUM(rc) AS BIGINT), 0) FROM r) AS r_tot
), w AS (
  SELECT COALESCE(t.bucket, r.bucket) AS bucket,
         CAST(round(ln(
           CAST((COALESCE(tc, 0) + 1) * (r_tot + {_DSIR_BUCKETS}) AS DOUBLE)
           / CAST((COALESCE(rc, 0) + 1) * (t_tot + {_DSIR_BUCKETS}) AS DOUBLE)
         ) * 1000000) AS BIGINT) AS w_q
  FROM t FULL JOIN r ON t.bucket = r.bucket, tot
)
SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_feats,
       CAST(SUM(cnt * w_q) AS BIGINT) AS score_q
FROM feats JOIN w USING (bucket)
WHERE NOT is_t
GROUP BY doc_id
ORDER BY score_q DESC, doc_id
LIMIT {_DSIR_K}
"""


_MIX_BUDGET = 300_000
_MIX_BUCKETS = 10_000


def mixture_materialize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized alpha-sampling mixture, summarized per source:
    `operators/pipeline.py::materialize_mixture` turns the
    `source_mixture_weights` temperature weights plus a 300k-token
    budget into the actual (doc, epoch) copy list — sources pushed
    past 1x repeat in full epochs, the fractional remainder filled by
    deterministic md5-bucket sampling. The hashed battery output is
    the per-source roll-up of that copy list (docs sampled, total
    copies, deepest epoch, materialized token mass, realized share of
    the budget in basis points) — every column integer, every copy a
    pure function of (doc_id, corpus stats).

    The oracle never explodes: it computes each doc's copy count
    analytically and aggregates, so it cross-checks the Spark side's
    sequence/explode materialization rather than mirroring it.

    Scale shape: one map-side-combined per-source aggregate + scalar
    total, broadcast joined back, narrow explode; output ~budget
    tokens regardless of corpus size. No window, no collect.
    """
    from implementation_of_an_etl_process_spark.operators.pipeline import (
        materialize_mixture,
    )

    out = materialize_mixture(
        _docs(spark, sf_dir),
        "source",
        "text",
        token_budget=_MIX_BUDGET,
        alpha=_ALPHA,
        pow_scale=_POW_SCALE,
    )
    return (
        out.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs_sampled"),
            F.count(F.lit(1)).alias("n_copies"),
            F.max("epoch").alias("max_epoch"),
            F.sum("n_tokens").cast("long").alias("materialized_tokens"),
        )
        .withColumn(
            "realized_bp",
            F.expr(
                "CAST(materialized_tokens AS DECIMAL(38,0)) * "
                f"{_MIX_BUCKETS} div {_MIX_BUDGET}"
            ),
        )
        .orderBy("source")
    )


MIXTURE_MATERIALIZE_SQL = rf"""
WITH perdoc AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
  FROM documents
), per AS (
  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens_src,
         CAST(round(pow(SUM(n_tok), {{_ALPHA}}) * {{_POW_SCALE}}) AS BIGINT)
           AS pw_q
  FROM perdoc GROUP BY source
), tot AS (
  SELECT SUM(pw_q) AS tot_pw FROM per
), rates AS (
  SELECT source,
         CAST(CAST(CAST(pw_q AS HUGEINT) * {{_MIX_BUDGET}} // tot_pw
                   AS HUGEINT) * {{_MIX_BUCKETS}} // n_tokens_src
              AS BIGINT) AS r
  FROM per, tot
), copies AS (
  SELECT d.doc_id, d.source, d.n_tok,
         (r // {{_MIX_BUCKETS}})
         + CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                     ::UBIGINT % {{_MIX_BUCKETS}} < r % {{_MIX_BUCKETS}}
                THEN 1 ELSE 0 END AS n_copies
  FROM perdoc d JOIN rates USING (source)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs_sampled,
       CAST(SUM(n_copies) AS BIGINT) AS n_copies,
       CAST(MAX(n_copies) - 1 AS BIGINT) AS max_epoch,
       CAST(SUM(CAST(n_tok AS BIGINT) * n_copies) AS BIGINT)
         AS materialized_tokens,
       CAST(CAST(SUM(CAST(n_tok AS BIGINT) * n_copies) AS HUGEINT)
            * {{_MIX_BUCKETS}} // {{_MIX_BUDGET}} AS BIGINT) AS realized_bp
FROM copies
WHERE n_copies > 0
GROUP BY source
HAVING SUM(n_copies) > 0
ORDER BY source
"""
MIXTURE_MATERIALIZE_SQL = MIXTURE_MATERIALIZE_SQL.format(
    _ALPHA=_ALPHA,
    _POW_SCALE=_POW_SCALE,
    _MIX_BUDGET=_MIX_BUDGET,
    _MIX_BUCKETS=_MIX_BUCKETS,
)


QUERIES = {
    "tfidf_topk_docs": tfidf_topk_docs,
    "source_mixture_weights": source_mixture_weights,
    "unigram_surprisal_docs": unigram_surprisal_docs,
    "bigram_lm_docs": bigram_lm_docs,
    "bigram_lm_pruned_docs": bigram_lm_pruned_docs,
    "dsir_selection_docs": dsir_selection_docs,
    "mixture_materialize_docs": mixture_materialize_docs,
    "bm25_topk_docs": bm25_topk_docs,
    "bm25_index_topk_docs": bm25_index_topk_docs,
    "bm25_index_incremental": bm25_index_incremental,
    "bm25_index_delete_docs": bm25_index_delete_docs,
    "takedown_all_stores_docs": takedown_all_stores_docs,
    "bm25_index_phrase_docs": bm25_index_phrase_docs,
    "bm25_index_proximity_docs": bm25_index_proximity_docs,
    "contamination_phrase_index_docs": contamination_phrase_index_docs,
    "curation_span_decontam_stats": curation_span_decontam_stats,
    "curation_decontam_stats": curation_decontam_stats,
    "curation_pipeline_stats": curation_pipeline_stats,
}

ORACLES = {
    "tfidf_topk_docs": TFIDF_TOPK_SQL,
    "source_mixture_weights": SOURCE_MIXTURE_SQL,
    "unigram_surprisal_docs": UNIGRAM_SURPRISAL_SQL,
    "bigram_lm_docs": BIGRAM_LM_SQL,
    "bigram_lm_pruned_docs": BIGRAM_LM_PRUNED_SQL,
    "dsir_selection_docs": DSIR_SELECTION_SQL,
    "mixture_materialize_docs": MIXTURE_MATERIALIZE_SQL,
    "bm25_topk_docs": BM25_TOPK_SQL,
    "bm25_index_topk_docs": BM25_INDEX_SQL,
    "bm25_index_incremental": BM25_INDEX_INC_SQL,
    "bm25_index_delete_docs": BM25_INDEX_DEL_SQL,
    "takedown_all_stores_docs": TAKEDOWN_ALL_STORES_SQL,
    "bm25_index_phrase_docs": BM25_INDEX_PHRASE_SQL,
    "bm25_index_proximity_docs": BM25_INDEX_PROX_SQL,
    "contamination_phrase_index_docs": CONTAM_PHRASE_SQL,
    "curation_span_decontam_stats": CURATION_SPAN_DECONTAM_SQL,
    "curation_decontam_stats": CURATION_DECONTAM_SQL,
    "curation_pipeline_stats": CURATION_PIPELINE_SQL,
}
