"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same
arguments write byte-identical files. The program under test only ever
sees the files; the answer keys the checks need (the planted duplicate
pairs) are derived here from the same arrays.

Inputs are cached per (workload, seed, size) under the cache root, so a
repeated seed skips generation; at most ``KEEP_PER_WORKLOAD`` entries
per workload are kept.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

KEEP_PER_WORKLOAD = 3

# 16-byte big-endian invoice record (the reference's binary layout).
INVOICE_DTYPE = np.dtype(
    [
        ("id", ">i4"),
        ("id_contract", ">i4"),
        ("time", "i1"),
        ("amount", ">f4"),
        ("consumption", ">i2"),
        ("pad", "V1"),
    ]
)

DOC_WORDS = 40
DOC_VOCAB = 50_000


def cached(root: str, workload: str, seed: int, size: dict, make) -> str:
    """Directory holding ``make(dir, seed, **size)``'s output, generated
    on first use. A ``_DONE`` marker is written last, so an interrupted
    generation is redone rather than read half-written."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    base = os.path.join(root, workload)
    path = os.path.join(base, f"seed{seed}-{tag}")
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        make(path, seed, **size)
        with open(done, "w") as fh:
            json.dump({"workload": workload, "seed": seed, **size}, fh)
    _evict(base, keep=path)
    return path


def _evict(base: str, keep: str) -> None:
    entries = sorted(
        (os.path.join(base, d) for d in os.listdir(base)),
        key=os.path.getmtime,
        reverse=True,
    )
    os.utime(keep)
    stale = [e for e in entries if e != keep][KEEP_PER_WORKLOAD - 1:]
    for e in stale:
        shutil.rmtree(e, ignore_errors=True)


def _write_csv(path: str, columns: dict[str, np.ndarray]) -> None:
    table = pa.table({k: pa.array(v) for k, v in columns.items()})
    pacsv.write_csv(
        table, path, pacsv.WriteOptions(quoting_style="none")
    )


# --- star schema (clients.csv, contracts.csv, invoices.bin) ---------------


def star_schema(
    out: str, seed: int, *, clients: int, contracts: int, invoices: int
) -> None:
    """The reference data layout with its value domains: clients
    (type 1-5, geo 1-578, misc 1-6), contracts (client uniform, nature
    1-5, constant start/end), and 16-byte big-endian invoice records
    (contract uniform, time 1-36, two-decimal amount, consumption
    0-31999)."""
    rng = np.random.default_rng([seed, 1])
    _write_csv(
        os.path.join(out, "clients.csv"),
        {
            "id": np.arange(1, clients + 1, dtype=np.int32),
            "type": rng.integers(1, 6, clients, dtype=np.int32),
            "geo": rng.integers(1, 579, clients, dtype=np.int32),
            "misc": rng.integers(1, 7, clients, dtype=np.int32),
        },
    )
    _write_csv(
        os.path.join(out, "contracts.csv"),
        {
            "id": np.arange(1, contracts + 1, dtype=np.int32),
            "id_client": rng.integers(1, clients + 1, contracts, dtype=np.int32),
            "nature": rng.integers(1, 6, contracts, dtype=np.int32),
            "start": np.full(contracts, 201410, dtype=np.int32),
            "end": np.full(contracts, 201710, dtype=np.int32),
        },
    )
    rec = np.zeros(invoices, dtype=INVOICE_DTYPE)
    rec["id"] = np.arange(1, invoices + 1)
    rec["id_contract"] = rng.integers(1, contracts + 1, invoices)
    rec["time"] = rng.integers(1, 37, invoices)
    rec["amount"] = rng.integers(100, 100_000, invoices).astype(np.float32) / 100
    rec["consumption"] = rng.integers(0, 32_000, invoices)
    rec.tofile(os.path.join(out, "invoices.bin"))


def read_invoices(path: str) -> np.ndarray:
    return np.fromfile(path, dtype=INVOICE_DTYPE)


# --- document corpus with planted duplicates ------------------------------


def _zipf_words(rng: np.random.Generator, shape) -> np.ndarray:
    """Log-uniform word ranks in [1, DOC_VOCAB): P(rank w) ~ 1/w."""
    u = rng.random(shape)
    return np.floor(np.exp(u * np.log(DOC_VOCAB))).astype(np.int64)


def corpus_ranks(seed: int, docs: int) -> np.ndarray:
    """(docs, DOC_WORDS) word ranks with the planted duplicate scheme:
    a doc with id % 100 == 50 is an exact copy of id - 2, and a doc
    with id % 100 == 99 is a near copy of id - 1 whose last word is
    replaced by a different word (word 3-shingle Jaccard 37/39)."""
    rng = np.random.default_rng([seed, 2])
    ranks = _zipf_words(rng, (docs, DOC_WORDS))
    ids = np.arange(docs)
    exact = ids[(ids % 100 == 50)]
    ranks[exact] = ranks[exact - 2]
    near = ids[(ids % 100 == 99)]
    ranks[near] = ranks[near - 1]
    last = _zipf_words(rng, near.size)
    # a replacement equal to the original word would make an exact copy
    same = last == ranks[near, -1]
    last[same] = last[same] % (DOC_VOCAB - 1) + 1
    ranks[near, -1] = last
    return ranks


def planted_pairs(docs: int) -> tuple[set, set]:
    """(exact, near) planted pair sets as (lower id, higher id)."""
    ids = np.arange(docs)
    exact = {(int(i) - 2, int(i)) for i in ids[ids % 100 == 50]}
    near = {(int(i) - 1, int(i)) for i in ids[ids % 100 == 99]}
    return exact, near


def doc_corpus(out: str, seed: int, *, docs: int) -> None:
    """docs.parquet: (doc_id bigint, text string), one file per 64k docs."""
    ranks = corpus_ranks(seed, docs)
    vocab = np.array([f"w{r}" for r in range(DOC_VOCAB + 1)], dtype=object)
    words = vocab[ranks]
    text = [" ".join(row) for row in words]
    table = pa.table({"doc_id": pa.array(np.arange(docs, dtype=np.int64)),
                      "text": pa.array(text, pa.string())})
    os.makedirs(os.path.join(out, "docs.parquet"))
    step = 1 << 16
    for i, lo in enumerate(range(0, docs, step)):
        pq.write_table(
            table.slice(lo, step),
            os.path.join(out, "docs.parquet", f"part-{i:05d}.parquet"),
        )
