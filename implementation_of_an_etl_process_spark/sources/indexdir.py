"""The index-directory protocol: one on-disk discipline shared by the
persisted indexes (dedup history, IVF-PQ ANN, BM25 text) and the
cross-index takedown.

Every index directory holds::

    meta.json         parameters and stats, replaced atomically
    _pending_append   exclusive writer marker
    _batches.json     committed append batch ids (the retry ledger)
    _deletes/         merge-on-read tombstones: one id column

Crash rules:

- Every write holds the marker, rebuilds included, so two writers
  collide loudly instead of interleaving parquet commits, and readers
  refuse a directory whose marker is present. A crash inside the
  window therefore reads as a loud torn-state error, never as a
  silently inconsistent meta/data pair.
- The marker is released on success. After a failure it is released
  only when the writer's ``intact()`` says the directory is whole:
  builds and appends leave it (the relations may disagree), a
  tombstone-only delete releases it (a partial tombstone append is
  harmless), a swap releases it when the swapped directory exists.
- The append ledger is read UNDER the marker, so check-then-write is
  atomic: a re-delivered batch id is a no-op.
- A rebuild (``mode="overwrite"``) starts from :func:`reset`: it drops
  a stale marker (repairing torn state), the tombstones and the ledger.
- Relations are rewritten aside and swapped in with two renames; if
  the second fails the first is rolled back (:func:`replace_dir`).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MARKER = "_pending_append"
LEDGER = "_batches.json"
DELETES = "_deletes"


def load_meta(path: str) -> dict:
    """The directory's ``meta.json``; a never-built or half-built index
    (no meta) is refused with the rebuild instruction."""
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        raise ValueError(
            f"no meta.json at {path}: index incomplete or never built — "
            "build it with mode='overwrite'"
        )
    with open(meta_path) as f:
        return json.load(f)


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def write_meta(path: str, meta: dict) -> None:
    _write_json(os.path.join(path, "meta.json"), meta)


def _marked(marker_path: str) -> ValueError:
    return ValueError(
        f"{os.path.dirname(marker_path)}: {os.path.basename(marker_path)} "
        "marker present — a write collision (another writer holds it; "
        "one writer at a time) or a torn append/rewrite (a write crashed "
        "inside its window). If no writer is running, rebuild the index "
        "with mode='overwrite' (a torn corpus takedown: restore the "
        "corpus from its .old copy, then delete the marker)"
    )


def check_unmarked(path: str) -> None:
    """Reader refusal: a directory whose writer marker is present is
    mid-write or torn."""
    marker_path = os.path.join(path, MARKER)
    if os.path.exists(marker_path):
        raise _marked(marker_path)


def acquire_marker(marker_path: str) -> None:
    """Create the writer marker exclusively: of two racing writers
    exactly one wins, the other fails loudly."""
    try:
        fd = os.open(marker_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise _marked(marker_path) from None
    with os.fdopen(fd, "w") as f:
        f.write("append in progress\n")


@contextmanager
def writer(
    path: str,
    *,
    intact: Callable[[], bool] | None = None,
    marker: str = MARKER,
) -> Iterator[None]:
    """Hold the writer marker ``path/marker`` for the block. Released
    on success (an early ``return`` included); after an exception only
    when ``intact()`` says the directory is whole."""
    marker_path = os.path.join(path, marker)
    acquire_marker(marker_path)
    try:
        yield
    except BaseException:
        if intact is not None and intact():
            os.remove(marker_path)
        raise
    os.remove(marker_path)


def reset(path: str) -> None:
    """Start a rebuild: create ``path`` and drop a stale marker, the
    tombstones and the batch ledger (a rebuilt index has no deletes and
    no ingest history)."""
    os.makedirs(path, exist_ok=True)
    for name in (MARKER, LEDGER):
        if os.path.exists(os.path.join(path, name)):
            os.remove(os.path.join(path, name))
    if os.path.exists(os.path.join(path, DELETES)):
        shutil.rmtree(os.path.join(path, DELETES))


def committed_batches(path: str) -> list[int]:
    ledger = os.path.join(path, LEDGER)
    if not os.path.exists(ledger):
        return []
    with open(ledger) as f:
        return json.load(f)


def commit_batch(path: str, batch_id: int) -> None:
    """Record ``batch_id`` in the ledger (inside the writer window)."""
    _write_json(
        os.path.join(path, LEDGER), committed_batches(path) + [int(batch_id)]
    )


def id_frame(spark, ids, col: str) -> DataFrame:
    """Ids (an iterable of ints, or a DataFrame with column ``col``) as
    a distinct one-column ``col long`` frame. Built before a writer
    takes the marker, so a frame without ``col`` fails outside it."""
    if isinstance(ids, DataFrame):
        return ids.select(F.col(col).cast("long").alias(col)).distinct()
    from implementation_of_an_etl_process_spark.plans import local_rows_df

    return local_rows_df(
        spark, [(int(i),) for i in ids], f"{col} long"
    ).distinct()


def drop_tombstoned(spark, path: str, rel: DataFrame, id_col: str) -> DataFrame:
    """``rel`` without the tombstoned ids (broadcast anti-join)."""
    dels = os.path.join(path, DELETES)
    if not os.path.exists(dels):
        return rel
    return rel.join(
        F.broadcast(spark.read.parquet(dels).select(id_col)), id_col, "left_anti"
    )


def add_tombstones(
    spark, path: str, ids: DataFrame, held: DataFrame, id_col: str
) -> int:
    """Append to ``_deletes`` the ids the index relation ``held`` still
    serves (unknown and already-tombstoned ids are no-ops); returns how
    many were added."""
    fresh = drop_tombstoned(spark, path, ids, id_col).join(
        held.select(id_col), id_col, "left_semi"
    )
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(os.path.join(path, DELETES))
    return n


def replace_dir(
    dst: str, write: Callable[[str], None], *, suffix: str = ".compact"
) -> None:
    """Rewrite ``dst`` through ``write(tmp)`` beside it, then swap:
    ``dst -> dst.old``, ``tmp -> dst``; if the second rename fails the
    first is rolled back, so ``dst`` is never left only in ``.old``. A
    missing ``dst`` is simply renamed into place."""
    dst = dst.rstrip("/")
    tmp, aside = dst + suffix, dst + ".old"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    write(tmp)
    if os.path.exists(aside):
        shutil.rmtree(aside)
    live = os.path.exists(dst)
    if live:
        os.rename(dst, aside)
    try:
        os.rename(tmp, dst)
    except BaseException:
        if live:
            os.rename(aside, dst)  # roll the first rename back
        raise
    if live:
        shutil.rmtree(aside)


def count_parquet(d: str) -> int:
    """Parquet files under ``d`` (0 when it does not exist)."""
    return sum(
        1
        for _root, _dirs, files in os.walk(d)
        for f in files
        if f.endswith(".parquet")
    )
