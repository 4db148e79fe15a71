"""Spark 4 Python DataSource for the fixed-width binary invoice format.

A first-class source and sink over the same record dtype, split planner
and decoder as ``binary.read_invoices_bin`` (the batch reader the
pipeline uses), usable as

    spark.dataSource.register(InvoiceBinaryDataSource)
    spark.read.format("invoicebin").option("path", p).load()
    spark.readStream.format("invoicebin").option("path", dir).load()
    df.write.format("invoicebin").option("path", dir).save()

``partitions()`` is the metadata-only split plan; ``read()`` yields the
Arrow RecordBatches of ``binary.decode`` — so each task streams batches
without per-row Python. On a cluster the source parallelizes
identically to a parquet scan (one task per split).

Record layout (reference README.md:66, decode ETL.java:147-152):
16-byte big-endian — int id, int id_contract, byte time, float amount,
short consumption, 1 pad byte.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from implementation_of_an_etl_process_spark import schemas
from implementation_of_an_etl_process_spark.sources.binary import (
    DEFAULT_SPLIT_BYTES,
    INVOICE_DTYPE,
    RECORD_LEN,
    FileSplits,
    decode,
    plan_splits,
)


class InvoiceSplit(InputPartition):
    def __init__(self, path: str, offset: int, nbytes: int):
        self.path = path
        self.offset = offset
        self.nbytes = nbytes


class InvoiceBinaryReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("invoicebin source requires option 'path'")
        self.split_bytes = int(options.get("split_bytes", DEFAULT_SPLIT_BYTES))

    def partitions(self) -> Sequence[InputPartition]:
        return [
            InvoiceSplit(*split)
            for split in plan_splits(self.path, self.split_bytes)
        ]

    def read(self, partition: InvoiceSplit) -> Iterator:
        return decode(partition.path, partition.offset, partition.nbytes)


class InvoiceBinaryStreamReader(DataSourceStreamReader):
    """Micro-batch stream over a directory of fixed-width binary files.

    Offsets are ``{"files": {path: bytes_processed}}`` — new files AND
    appended bytes both advance the offset, so the source models a
    continuously-written invoice feed (the streaming face of the
    reference's one-shot ``ETL.java`` ingest). Partial trailing records
    (a writer mid-append) stay unread until complete: per-file offsets
    are floored to the 16-byte record length. Each micro-batch plans
    byte-range splits exactly like the batch source — per-split tasks,
    vectorized numpy decode, no per-row Python.
    """

    def __init__(self, options: dict):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("invoicebin stream requires option 'path'")
        self.split_bytes = int(options.get("split_bytes", DEFAULT_SPLIT_BYTES))

    def initialOffset(self) -> dict:
        return {"files": {}}

    def latestOffset(self) -> dict:
        pattern = (
            self.dir
            if any(c in self.dir for c in "*?[")
            else os.path.join(self.dir, "*.bin")
        )
        sizes = {}
        for f in sorted(glob.glob(pattern)):
            size = os.path.getsize(f)
            sizes[f] = size - size % RECORD_LEN
        return {"files": sizes}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        seen = start.get("files", {})
        spans = [
            (f, seen.get(f, 0), upto)
            for f, upto in end.get("files", {}).items()
        ]
        out: list[InputPartition] = [
            InvoiceSplit(*split)
            for split in FileSplits(spans, self.split_bytes)
        ]
        if not out:  # Spark requires >= 1 partition per batch
            out.append(InvoiceSplit("", 0, 0))
        return out

    def read(self, partition: InvoiceSplit):
        if not partition.path:
            return iter(())
        return decode(partition.path, partition.offset, partition.nbytes)

    def commit(self, end: dict) -> None:
        pass  # offsets are recomputable from the filesystem


class InvoiceBinaryDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "invoicebin"

    def schema(self):
        return schemas.INVOICES

    def reader(self, schema) -> DataSourceReader:
        return InvoiceBinaryReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return InvoiceBinaryStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        expected = [f.name for f in schemas.INVOICES]
        got = [f.name for f in schema]
        if got != expected:
            raise ValueError(
                f"invoicebin writer needs columns {expected}, got {got}"
            )
        # NOTE: no destination cleanup here — writer() runs at planning
        # time, before any task, so deleting now would destroy the old
        # data with nothing to roll back if the job then fails. The old
        # part files are swapped out in commit() instead (same two-phase
        # discipline as the temp-file renames).
        return InvoiceBinaryArrowWriter(self.options, overwrite)


class _InvoicePartFile(WriterCommitMessage):
    def __init__(self, tmp: str, final: str):
        self.tmp = tmp
        self.final = final


class InvoiceBinaryArrowWriter(DataSourceArrowWriter):
    """Arrow-batched writer for the fixed-width binary format — the
    inverse of the readers, completing native-format round-trip parity
    with the reference. Standard two-phase protocol: each task encodes
    its batches with one numpy structured-array view per batch (no
    per-row Python) into a hidden temp file; commit renames all temp
    files into place and drops a _SUCCESS marker; abort removes them.
    """

    def __init__(self, options: dict, overwrite: bool):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("invoicebin writer requires option 'path'")
        self.overwrite = overwrite

    def write(self, iterator):
        import uuid

        import numpy as np

        os.makedirs(self.dir, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.bin"
        tmp = os.path.join(self.dir, f"._tmp_{name}")
        with open(tmp, "wb") as fh:
            for batch in iterator:
                cols = {c: batch.column(c).to_numpy() for c in
                        ["id", "id_contract", "time", "amount", "consumption"]}
                t = cols["time"]
                if len(t) and (t.min() < -128 or t.max() > 127):
                    raise ValueError(
                        "invoicebin: 'time' outside the format's int8 "
                        f"range [-128, 127]: min={t.min()} max={t.max()}"
                    )
                rec = np.zeros(batch.num_rows, dtype=INVOICE_DTYPE)
                rec["id"] = cols["id"]
                rec["id_contract"] = cols["id_contract"]
                rec["time"] = t
                rec["amount"] = cols["amount"]
                rec["consumption"] = cols["consumption"]
                fh.write(rec.tobytes())
        return _InvoicePartFile(tmp, os.path.join(self.dir, name))

    def commit(self, messages):
        # Crash-safe ordering: (1) drop _SUCCESS — UNCONDITIONALLY, so
        # a crash inside this window leaves the directory visibly
        # uncommitted in append mode too (a partial append alongside a
        # stale marker would otherwise be silently read back), (2)
        # rename the new uuid-named parts into place (no collision with
        # old names), (3) only THEN retire the previous output when
        # overwriting, (4) restore _SUCCESS. A crash at any point
        # leaves the directory either complete-and-marked or
        # visibly uncommitted — never partially-committed-and-marked.
        success = os.path.join(self.dir, "_SUCCESS")
        try:
            os.remove(success)
        except OSError:
            pass
        for m in messages:
            os.rename(m.tmp, m.final)
        if self.overwrite:
            # all tasks renamed — NOW retire the previous output.
            # Remove EVERY non-temp .bin not written by this job
            # (readers glob dir/*.bin, so a stale differently-named
            # invoices.bin would silently be read back mixed with the
            # new parts); leave unrelated files alone.
            new = {os.path.basename(m.final) for m in messages}
            for f in os.listdir(self.dir):
                old = f.endswith(".bin") and not f.startswith("._tmp_")
                if old and f not in new:
                    try:
                        os.remove(os.path.join(self.dir, f))
                    except OSError:
                        pass
        with open(success, "w"):
            pass

    def abort(self, messages):
        for m in messages:
            try:
                os.remove(m.tmp)
            except OSError:
                pass
