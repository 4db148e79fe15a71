"""Cross-index takedown: ONE doc-id set removed from every place the
pipeline stored derived state — the corpus parquet, the BM25/positional
text index, the dedup history index, and the IVF-PQ ANN index — in one
call (r13 verdict item 8: decontamination and GDPR/takedown flows touch
all four as separate atomic units; this composes them).

Design (and why it is NOT a distributed transaction):

- Each index keeps its OWN atomicity: the per-index ``delete_from_*``
  operators run under their existing ``_pending_append`` markers and
  are individually crash-safe (tombstone append + stats adjust, or
  loud torn-state). This helper sequences them; it does not wrap them
  in a new transaction layer, because each unit is already idempotent —
  unknown/already-tombstoned ids are no-ops — so the recovery story
  for a crash mid-takedown is simply RERUN THE SAME CALL: completed
  units no-op, the failed unit retries under its own marker.
- The corpus is rewritten LAST, after every derived index has stopped
  serving the docs: a crash window where an index still returns a
  doc_id whose corpus row was already removed would break every
  join-back-to-text consumer, while the reverse (row still present,
  indexes silent) is merely a not-yet-finished takedown.
- The corpus rewrite uses the index compactions' swap with rollback
  (:mod:`..sources.indexdir`) under an exclusive ``_pending_takedown``
  marker beside the corpus, so concurrent rewrites collide loudly and
  a torn swap is recoverable in place.

At 100 TB: the three index deletes are tombstone APPENDS (cost: the
id set, not the index — physical removal rides the next compaction);
only the corpus rewrite scans corpus-scale data, and it is one
anti-join scan + write with the id set broadcast. A production lake
format (Iceberg/Delta) would make that a delete-file commit instead;
plain parquet's honest answer is the swap rewrite.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark.sources import indexdir

__all__ = ["takedown_docs", "verify_takedown"]


def _ids_df(spark, doc_ids, id_col: str) -> DataFrame:
    """The id set as a distinct ``id_col long`` frame; a DataFrame
    without ``id_col`` contributes its first column."""
    if isinstance(doc_ids, DataFrame) and id_col not in doc_ids.columns:
        doc_ids = doc_ids.select(F.col(doc_ids.columns[0]).alias(id_col))
    return indexdir.id_frame(spark, doc_ids, id_col)


def _rewrite_corpus(spark, path: str, ids: DataFrame, id_col: str) -> int:
    """Swap-rewrite ``path`` without the ids; returns rows removed."""
    path = path.rstrip("/")
    # the marker sits beside the corpus; it is released when the corpus
    # directory exists (untouched, rolled back, or swapped)
    with indexdir.writer(
        os.path.dirname(path) or ".",
        marker="_pending_takedown." + os.path.basename(path),
        intact=lambda: os.path.exists(path),
    ):
        rel = spark.read.parquet(path)
        n_hit = int(
            rel.join(F.broadcast(ids), id_col, "left_semi").count()
        )
        if not n_hit:
            return 0
        indexdir.replace_dir(
            path,
            rel.join(F.broadcast(ids), id_col, "left_anti").write.parquet,
            suffix=".takedown",
        )
        # the swap replaced every part file under an unchanged path:
        # invalidate this session's cached file listings (Spark's
        # FileStatusCache has no TTL by default), or the next read
        # through a pre-swap relation dies with FILE_NOT_EXIST
        spark.catalog.refreshByPath(path)
        return n_hit


def takedown_docs(
    spark,
    doc_ids,
    *,
    corpus_path: str | None = None,
    text_index: str | None = None,
    dedup_index: str | None = None,
    ann_index: str | None = None,
    id_col: str = "doc_id",
    audit_path: str | None = None,
) -> dict:
    """Remove ``doc_ids`` (iterable of ints, or a DataFrame whose
    ``id_col`` — or single column — holds them) from every given
    target. Targets are optional but at least one is required; pass
    exactly the stores your pipeline materialized for these docs.

    Order: text index -> dedup index -> ANN index (tombstone appends,
    each under its own writer marker, each immediately EXACT for
    queries) -> corpus rewrite last (see module docstring for why).
    Idempotent end to end: rerunning after a crash no-ops the
    completed units and retries the failed one.

    The ANN index's ids are its ``cid`` column — the pipeline contract
    is that vector ids share the document keyspace (the embeddings
    were derived one per doc); pass ``ann_index=None`` when they
    don't and tombstone it separately.

    ``audit_path`` appends one JSON line per completed takedown — UTC
    timestamp, id count, an order-insensitive digest of the id set,
    and the per-store removed counts — the who/what/when record a
    GDPR/takedown process has to produce. Append-only local file
    (one ``os.write`` of one line in O_APPEND mode); a production
    lake would write this into its commit log instead.

    Returns a ledger dict: per-target removed counts (None for
    targets not passed)."""
    targets = (corpus_path, text_index, dedup_index, ann_index)
    if not any(t is not None for t in targets):
        raise ValueError(
            "takedown_docs needs at least one target "
            "(corpus_path / text_index / dedup_index / ann_index)"
        )
    ids = _ids_df(spark, doc_ids, id_col)
    out: dict = {
        "text_deleted": None,
        "text_deleted_tokens": None,
        "dedup_deleted": None,
        "ann_deleted": None,
        "corpus_deleted": None,
    }
    if text_index is not None:
        from implementation_of_an_etl_process_spark.operators.textindex import (
            delete_from_text_index,
        )

        # the text index's tombstone column is its postings' doc_id
        r = delete_from_text_index(
            spark, text_index, ids.select(F.col(id_col).alias("doc_id"))
        )
        out["text_deleted"] = r["deleted_docs"]
        out["text_deleted_tokens"] = r["deleted_tokens"]
    if dedup_index is not None:
        from implementation_of_an_etl_process_spark.operators.dedup import (
            _load_meta as _dedup_load_meta,
            delete_from_dedup_index,
        )

        # the dedup index remembers ITS id column in meta; align names
        ded_id = _dedup_load_meta(dedup_index)["id_col"]
        r = delete_from_dedup_index(
            spark, dedup_index, ids.select(F.col(id_col).alias(ded_id))
        )
        out["dedup_deleted"] = r["deleted"]
    if ann_index is not None:
        from implementation_of_an_etl_process_spark.operators.similarity import (
            delete_from_ivfpq_index,
        )

        r = delete_from_ivfpq_index(
            spark, ann_index, ids.select(F.col(id_col).alias("cid"))
        )
        out["ann_deleted"] = r["deleted"]
    if corpus_path is not None:
        out["corpus_deleted"] = _rewrite_corpus(
            spark, corpus_path, ids, id_col
        )
    if audit_path is not None:
        import datetime
        import json

        # order-insensitive id-set digest: commutative crc32 sum +
        # count — one tiny job sized by the id set, never the stores
        agg = ids.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.col(id_col).cast("string"))).alias("d"),
        ).first()
        line = (
            json.dumps(
                {
                    "ts": datetime.datetime.now(
                        datetime.timezone.utc
                    ).isoformat(timespec="seconds"),
                    "n_ids": int(agg["n"]),
                    "ids_crc32_sum": int(agg["d"] or 0),
                    **out,
                },
                sort_keys=True,
            )
            + "\n"
        )
        fd = os.open(audit_path, os.O_CREAT | os.O_APPEND | os.O_WRONLY, 0o644)
        try:
            os.write(fd, line.encode())
        finally:
            os.close(fd)
    return out


def verify_takedown(
    spark,
    doc_ids,
    *,
    corpus_path: str | None = None,
    text_index: str | None = None,
    dedup_index: str | None = None,
    ann_index: str | None = None,
    id_col: str = "doc_id",
) -> dict:
    """The auditor's half of the takedown contract ("prove it's
    gone"): count what each store still SERVES for ``doc_ids``,
    through the same live views the queries consume — tombstone-
    filtered index relations, the rewritten corpus — and never mutate
    anything. Returns per-store residual counts (distinct victim ids
    still visible in ANY of the store's relations; row count for the
    corpus) with ``None`` for stores not passed, plus ``clean``:
    True iff every passed store serves zero.

    Cost shape matches the takedown itself: each index probe is a
    broadcast semi-join of the id set against one index scan; the
    corpus probe is the only data-scale scan. Run it after
    :func:`takedown_docs` for the audit record, or standalone to
    answer "does anything still reference these ids?" before one."""
    targets = (corpus_path, text_index, dedup_index, ann_index)
    if not any(t is not None for t in targets):
        raise ValueError(
            "verify_takedown needs at least one target "
            "(corpus_path / text_index / dedup_index / ann_index)"
        )
    ids = _ids_df(spark, doc_ids, id_col)
    out: dict = {
        "corpus_residual": None,
        "text_residual": None,
        "dedup_residual": None,
        "ann_residual": None,
    }
    if text_index is not None:
        vis = indexdir.drop_tombstoned(
            spark,
            text_index,
            spark.read.parquet(os.path.join(text_index, "postings")),
            "doc_id",
        ).select("doc_id")
        pos = os.path.join(text_index, "positions")
        if os.path.exists(pos):
            vis = vis.unionByName(
                indexdir.drop_tombstoned(
                    spark, text_index, spark.read.parquet(pos), "doc_id"
                ).select("doc_id")
            )
        out["text_residual"] = int(
            vis.join(
                F.broadcast(ids.select(F.col(id_col).alias("doc_id"))),
                "doc_id",
                "left_semi",
            )
            .distinct()
            .count()
        )
    if dedup_index is not None:
        from implementation_of_an_etl_process_spark.operators.dedup import (
            _load_meta as _dedup_load_meta,
        )

        ded_id = _dedup_load_meta(dedup_index)["id_col"]
        vis = indexdir.drop_tombstoned(
            spark,
            dedup_index,
            spark.read.parquet(os.path.join(dedup_index, "md5"))
            .select(ded_id)
            .unionByName(
                spark.read.parquet(os.path.join(dedup_index, "bands"))
                .select(ded_id)
            ),
            ded_id,
        )
        out["dedup_residual"] = int(
            vis.join(
                F.broadcast(ids.select(F.col(id_col).alias(ded_id))),
                ded_id,
                "left_semi",
            )
            .distinct()
            .count()
        )
    if ann_index is not None:
        vis = indexdir.drop_tombstoned(
            spark,
            ann_index,
            spark.read.parquet(os.path.join(ann_index, "codes")).select("cid"),
            "cid",
        )
        out["ann_residual"] = int(
            vis.join(
                F.broadcast(ids.select(F.col(id_col).alias("cid"))),
                "cid",
                "left_semi",
            )
            .distinct()
            .count()
        )
    if corpus_path is not None:
        out["corpus_residual"] = int(
            spark.read.parquet(corpus_path)
            .join(F.broadcast(ids), id_col, "left_semi")
            .count()
        )
    out["clean"] = all(v in (None, 0) for v in out.values())
    return out
