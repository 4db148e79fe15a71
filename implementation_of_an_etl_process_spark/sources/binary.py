"""Fixed-width binary fact scan (the reference's native invoice format).

Format (reference ``README.md:66``, decoded at ``ETL.java:147-152``):
16-byte big-endian records — int id, int id_contract, byte time,
float amount, short consumption, 1 pad byte. The reference reads the
file in lock-guarded chunks across N threads (``ETL.java:129-152``).

Spark-first equivalent: plan byte-range splits on the driver (metadata
only, ``plan_splits``), then decode each split inside ``mapInArrow``
with a vectorized numpy structured-dtype view (``decode``) — Arrow
batches out, zero per-record Python. The split list never becomes
Python rows: ``spark.range`` numbers the splits in the JVM, one per
partition, and the decode closure maps split number i to its byte range
(``FileSplits``). Splits are independent, so this scales exactly like a
parquet scan: more files/bytes -> more splits -> more tasks. The
``invoicebin`` Python DataSource (``invoice_datasource.py``) uses the
same record dtype, split planner and decoder.
"""

from __future__ import annotations

import bisect
import glob
import itertools
import os
from collections.abc import Iterable, Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from implementation_of_an_etl_process_spark import schemas

# The one on-disk record layout, shared by every reader and the writer.
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
RECORD_LEN = INVOICE_DTYPE.itemsize
# decoded column -> numpy type handed to Arrow (matches schemas.INVOICES)
_DECODED = {
    "id": "int32",
    "id_contract": "int32",
    "time": "int32",
    "amount": "float32",
    "consumption": "int32",
}

# Default split: 32 MiB = 2M records per task. Must be a multiple of the
# record length (the reference enforces the same invariant on its chunk
# size, ETL.java:287-290).
DEFAULT_SPLIT_BYTES = 32 * 1024 * 1024


class FileSplits(Sequence):
    """The ``(file, offset, nbytes)`` splits of ``(file, start, end)``
    byte spans, cut every ``split_bytes``, found by number: split i is
    located by a binary search over cumulative per-span split counts.
    An instance holds one entry per span, so it pickles to the same
    size however many splits the spans cut into."""

    def __init__(self, spans: Iterable[tuple[str, int, int]], split_bytes: int):
        if split_bytes <= 0 or split_bytes % RECORD_LEN:
            raise ValueError(
                f"split_bytes must be a positive multiple of {RECORD_LEN}"
            )
        self.spans = list(spans)
        self.split_bytes = split_bytes
        self.ends = list(
            itertools.accumulate(
                len(range(start, end, split_bytes)) for _, start, end in self.spans
            )
        )

    def __len__(self) -> int:
        return self.ends[-1] if self.ends else 0

    def __getitem__(self, i: int) -> tuple[str, int, int]:
        if not 0 <= i < len(self):
            raise IndexError(i)
        k = bisect.bisect_right(self.ends, i)
        path, start, end = self.spans[k]
        offset = start + (i - (self.ends[k - 1] if k else 0)) * self.split_bytes
        return path, offset, min(self.split_bytes, end - offset)


def plan_splits(path: str, split_bytes: int) -> FileSplits:
    """Metadata-only split planning for a file or glob."""
    files = sorted(glob.glob(path)) if any(c in path for c in "*?[") else [path]
    if not files:
        raise FileNotFoundError(f"no files match {path!r}")
    # Writer-produced directories carry a _SUCCESS commit marker;
    # part-files without one mean a partially-committed overwrite
    # (driver crash mid-commit) — fail loudly instead of silently
    # reading partial data. Raw reference-style .bin files (not named
    # part-*.bin) are exempt.
    for d in {os.path.dirname(f) for f in files}:
        parts = [
            b for b in os.listdir(d or ".")
            if b.startswith("part-") and b.endswith(".bin")
        ]
        if parts and not os.path.exists(os.path.join(d, "_SUCCESS")):
            raise ValueError(
                f"{d}: part-*.bin present but no _SUCCESS marker — "
                "the directory holds a partially-committed write; "
                "re-run the writer (overwrite) to repair"
            )
    spans = []
    for f in files:
        size = os.path.getsize(f)
        if size % RECORD_LEN:
            raise ValueError(
                f"{f}: size {size} is not a multiple of "
                f"{RECORD_LEN}-byte records"
            )
        spans.append((f, 0, size))
    return FileSplits(spans, split_bytes)


def decode(
    path: str, offset: int, nbytes: int, keep_id: bool = True
) -> Iterator["pa.RecordBatch"]:
    """Decode one byte range into an Arrow batch. The numpy views go
    straight into Arrow arrays, with no pandas block construction in
    between (measured ~25% off the cold decode stage at 57.6M records
    against mapInPandas)."""
    import pyarrow as pa

    with open(path, "rb") as fh:
        fh.seek(offset)
        arr = np.frombuffer(fh.read(nbytes), dtype=INVOICE_DTYPE)
    names = [n for n in _DECODED if keep_id or n != "id"]
    yield pa.RecordBatch.from_arrays(
        [pa.array(arr[n].astype(_DECODED[n])) for n in names], names=names
    )


def read_invoices_bin(
    spark: SparkSession,
    path: str,
    *,
    split_bytes: int = DEFAULT_SPLIT_BYTES,
    keep_id: bool = True,
) -> DataFrame:
    """Scan fixed-width binary invoice records into a DataFrame.

    ``keep_id=False`` mirrors the reference, which discards the id field
    during decode (``ETL.java:147``). Unlike a parquet scan, a
    ``mapInArrow`` source can NOT be column-pruned by Catalyst — the
    Python side ships whatever it yields — so the flag is pushed into
    the decoder: with ``keep_id=False`` the id bytes never cross the
    Arrow boundary (230 MB saved at the 57.6M-record benchmark scale).
    """
    splits = plan_splits(path, split_bytes)

    def decode_splits(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield from decode(*splits[i], keep_id)

    schema = (
        schemas.INVOICES
        if keep_id
        else T.StructType([f for f in schemas.INVOICES if f.name != "id"])
    )
    # One task per split, numbered by the JVM: no Python split rows and
    # no exchange below the decode.
    return spark.range(
        len(splits), numPartitions=max(1, len(splits))
    ).mapInArrow(decode_splits, schema=schema)
