"""Source/sink tests: Python DataSource parity, reference CSV format."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def bin_path(ref_sample):
    return os.path.join(ref_sample, "invoices.bin")


def test_invoice_datasource_matches_mapinarrow_reader(spark, bin_path):
    from implementation_of_an_etl_process_spark.sources import read_invoices_bin
    from implementation_of_an_etl_process_spark.sources.invoice_datasource import (
        InvoiceBinaryDataSource,
    )

    spark.dataSource.register(InvoiceBinaryDataSource)
    via_ds = (
        spark.read.format("invoicebin").option("path", bin_path).load()
    )
    via_arrow = read_invoices_bin(spark, bin_path)
    assert via_ds.schema.fieldNames() == via_arrow.schema.fieldNames()
    assert via_ds.count() == via_arrow.count() == os.path.getsize(bin_path) // 16
    a = via_ds.orderBy("id", "id_contract", "time", "consumption").toPandas()
    b = via_arrow.orderBy("id", "id_contract", "time", "consumption").toPandas()
    assert a.equals(b)


def test_invoice_datasource_split_partitioning(spark, bin_path):
    from implementation_of_an_etl_process_spark.sources.invoice_datasource import (
        InvoiceBinaryDataSource,
    )

    spark.dataSource.register(InvoiceBinaryDataSource)
    df = (
        spark.read.format("invoicebin")
        .option("path", bin_path)
        .option("split_bytes", 16 * 4096)
        .load()
    )
    size = os.path.getsize(bin_path)
    assert df.rdd.getNumPartitions() == -(-size // (16 * 4096))
    assert df.count() == size // 16


def test_write_reference_csv_format(spark, tmp_path):
    from implementation_of_an_etl_process_spark.sources.sinks import (
        write_reference_csv,
    )

    df = spark.createDataFrame(
        [
            (1, 1, 1, 1, 1, 10, 0.47, 1, 2, 3),
            (2, 1, 1, 1, 1, 10, -0.3, 1, 2, 3),
            (3, 1, 1, 1, 1, 10, 12.0, 1, 2, 3),
        ],
        "geo int, type int, misc int, nature int, time int, consumption long,"
        "amount double, nclients long, ncontracts long, ninvoices long",
    )
    out = write_reference_csv(df.orderBy("geo"), str(tmp_path / "ref.csv"))
    lines = open(out).read().splitlines()
    assert lines[0] == (
        "geo,type,misc,nature,time,consumption,amount,nclients,ncontrats,ninvoices"
    )
    amounts = [ln.split(",")[6] for ln in lines[1:]]
    assert amounts == [".47", "-.30", "12.00"]


def test_single_file_csv_stitch_preserves_global_sort(spark, tmp_path):
    """The parallel parts + driver-stitch single-file sink must emit the
    SAME globally sorted byte stream the one-task coalesce(1) spelling
    would — range partitions concatenated in part order ARE the total
    order."""
    from pyspark.sql import functions as F

    from implementation_of_an_etl_process_spark.sources.sinks import write_csv

    df = spark.range(0, 10_000).select(
        (F.col("id") * 37 % 10_000).alias("k"), F.col("id").alias("v")
    )
    out = write_csv(
        df.orderBy("k").repartition(8).sortWithinPartitions("k"),  # decoy layout
        str(tmp_path / "unsorted.csv"),
        single_file=True,
        header=True,
    )
    # the contract is: caller sorts, sink preserves — use the sorted frame
    out = write_csv(
        df.orderBy("k"), str(tmp_path / "sorted.csv"), single_file=True
    )
    lines = open(out).read().splitlines()
    assert lines[0] == "k,v"
    keys = [int(ln.split(",")[0]) for ln in lines[1:]]
    assert keys == sorted(keys)
    assert len(keys) == 10_000


def test_invoicebin_stream_exactly_once_across_restart(spark, bin_path, tmp_path):
    """Streaming face of the binary source: new files AND appended
    bytes advance the offset; a restarted query with the same
    checkpoint reads only the delta (exactly-once into a file sink)."""
    from implementation_of_an_etl_process_spark.sources.invoice_datasource import (
        InvoiceBinaryDataSource,
    )

    spark.dataSource.register(InvoiceBinaryDataSource)
    raw = open(bin_path, "rb").read()
    n_rec = len(raw) // 16
    third = (n_rec // 3) * 16
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "a.bin").write_bytes(raw[:third])

    def run_once():
        q = (
            spark.readStream.format("invoicebin")
            .option("path", str(feed))
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "sink"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    sink = spark.read.parquet(str(tmp_path / "sink"))
    assert sink.count() == third // 16

    # while the query is DOWN: one file grows, one new file arrives
    with open(feed / "a.bin", "ab") as fh:
        fh.write(raw[third : 2 * third])
    (feed / "b.bin").write_bytes(raw[2 * third :])
    run_once()
    sink = spark.read.parquet(str(tmp_path / "sink"))
    assert sink.count() == n_rec
    # exactly-once: the streamed multiset equals the batch scan
    # row-for-row (the sample contains duplicate ids — bin != csv
    # divergence, SURVEY.md §1.4 — so compare whole rows, not ids)
    cols = ["id", "id_contract", "time", "consumption"]
    a = sink.orderBy(*cols).select(*cols).toPandas()
    b = (
        spark.read.format("invoicebin").option("path", bin_path).load()
        .orderBy(*cols).select(*cols).toPandas()
    )
    assert a.equals(b)


def test_invoicebin_writer_roundtrip(spark, bin_path, tmp_path):
    """format('invoicebin') writer: the 16-byte-record encoder is the
    exact inverse of the reader — sample bin -> write -> re-read equals
    the original multiset, and every part file is record-aligned."""
    from implementation_of_an_etl_process_spark.sources.invoice_datasource import (
        InvoiceBinaryDataSource,
    )

    spark.dataSource.register(InvoiceBinaryDataSource)
    src = spark.read.format("invoicebin").option("path", bin_path).load()
    out = str(tmp_path / "rt")
    src.write.format("invoicebin").option("path", out).mode("overwrite").save()
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    for f in os.listdir(out):
        if f.endswith(".bin"):
            assert os.path.getsize(os.path.join(out, f)) % 16 == 0
    back = (
        spark.read.format("invoicebin").option("path", f"{out}/*.bin").load()
    )
    cols = ["id", "id_contract", "time", "amount", "consumption"]
    a = back.orderBy(*cols).toPandas()
    b = src.orderBy(*cols).toPandas()
    assert a.equals(b)


def test_invoicebin_overwrite_swaps_old_parts_at_commit(spark, bin_path, tmp_path):
    """Overwrite must be two-phase like the part renames: a second
    overwrite replaces the first write's part files (no stale parts
    double-counted on re-read), and cleanup happens at commit — there
    is no planning-time rmtree, so unrelated files in the destination
    survive."""
    from implementation_of_an_etl_process_spark.sources.invoice_datasource import (
        InvoiceBinaryDataSource,
    )

    spark.dataSource.register(InvoiceBinaryDataSource)
    src = spark.read.format("invoicebin").option("path", bin_path).load()
    out = str(tmp_path / "ow")
    half = src.limit(100)
    half.write.format("invoicebin").option("path", out).mode("overwrite").save()
    marker = os.path.join(out, "unrelated.txt")
    with open(marker, "w") as fh:
        fh.write("keep")
    # a stale NON-part .bin (e.g. a reference-produced invoices.bin):
    # readers glob *.bin, so overwrite must retire it too or re-reads
    # double-count
    import shutil as _sh

    _sh.copy(bin_path, os.path.join(out, "invoices.bin"))
    src.write.format("invoicebin").option("path", out).mode("overwrite").save()
    n = (
        spark.read.format("invoicebin").option("path", f"{out}/*.bin").load()
    ).count()
    assert n == src.count()  # old parts AND stale .bin gone, not appended
    assert not os.path.exists(os.path.join(out, "invoices.bin"))
    assert os.path.exists(marker)  # no blanket rmtree of the destination


def test_invoicebin_writer_rejects_out_of_range_time(spark, bin_path, tmp_path):
    """'time' is an int8 field on disk; values outside [-128, 127] must
    raise instead of silently truncating."""
    from implementation_of_an_etl_process_spark.sources.invoice_datasource import (
        InvoiceBinaryDataSource,
    )

    spark.dataSource.register(InvoiceBinaryDataSource)
    bad = (
        spark.read.format("invoicebin").option("path", bin_path).load()
        .limit(10)
        .withColumn("time", F.lit(1000))
        .select("id", "id_contract", "time", "amount", "consumption")
    )
    out = str(tmp_path / "bad")
    # surfaces as a Py4J-wrapped SparkException carrying the worker's
    # ValueError text
    with pytest.raises(Exception, match="int8"):
        bad.write.format("invoicebin").option("path", out).mode(
            "overwrite"
        ).save()
    assert not os.path.exists(os.path.join(out, "_SUCCESS"))


def test_nested_parquet_scan_prunes_to_leaf_fields(spark):
    """The nested-struct entry must push leaf selection into the
    parquet ReadSchema: the aggregate touches amounts.priority and
    amounts.total only, so the scan must NOT read the keys struct —
    nested schema pruning is the difference between scanning 2 leaves
    and the whole struct at 100 TB."""
    from implementation_of_an_etl_process_spark.plans import explain_str
    from implementation_of_an_etl_process_spark.queries.formats import (
        nested_parquet_pruned,
    )
    from tests.conftest import SF_ORACLE

    plan = explain_str(nested_parquet_pruned(spark, SF_ORACLE))
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "amounts" in read_schema
    assert "keys" not in read_schema, read_schema


def test_zorder_column_all_null_and_empty_inputs(spark):
    """min/max of an all-NULL or empty column come back None — the
    z-order bucketing must degrade to the constant-column case, not
    TypeError on None comparison."""
    from implementation_of_an_etl_process_spark.sources.sinks import zorder_column

    df = spark.range(5).select(
        F.col("id"), F.lit(None).cast("double").alias("dead")
    )
    out = df.withColumn("_z", zorder_column(df, ["id", "dead"])).collect()
    assert len(out) == 5  # nulls fold into one bucket; ids still spread
    assert len({r["_z"] for r in out}) > 1
    empty = spark.range(0).select(F.col("id"))
    assert (
        empty.withColumn("_z", zorder_column(empty, ["id"])).count() == 0
    )


def test_invoice_reader_numbers_splits_in_the_jvm(spark, bin_path):
    """The split list is a JVM range, one partition per split, so the
    decode has no exchange (and no Python split stage) below it."""
    from implementation_of_an_etl_process_spark.plans import explain_str
    from implementation_of_an_etl_process_spark.sources import read_invoices_bin
    from implementation_of_an_etl_process_spark.sources.binary import plan_splits

    split_bytes = 16 * 4096
    df = read_invoices_bin(spark, bin_path, split_bytes=split_bytes)
    plan = explain_str(df, "simple")
    assert "MapInArrow" in plan and "Range" in plan, plan
    assert "Exchange" not in plan, plan
    n = len(plan_splits(bin_path, split_bytes))
    assert n == -(-os.path.getsize(bin_path) // split_bytes) > 1
    assert df.rdd.getNumPartitions() == n
    assert df.count() == os.path.getsize(bin_path) // 16


def test_invoice_frame_stays_unknown_size_to_the_gates(spark, bin_path, tmp_path):
    """A range-numbered invoice frame sizes like the pickled split RDD
    it replaced (``spark.sql.defaultSizeInBytes``): never small, never
    broadcast. Other frames keep their leaf sizes."""
    from implementation_of_an_etl_process_spark.plans import (
        leaf_scan_bytes,
        local_rows_df,
        maybe_broadcast,
        small_leaf_input,
    )
    from implementation_of_an_etl_process_spark.sources import read_invoices_bin

    unknown = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    rdd_backed = spark.createDataFrame([(1,)], "a int").repartition(2)
    assert leaf_scan_bytes(rdd_backed) == unknown
    invoices = read_invoices_bin(spark, bin_path)
    for df in (invoices, invoices.select("id_contract").filter("time > 0")):
        assert leaf_scan_bytes(df) == unknown
        assert not small_leaf_input(df)
        assert maybe_broadcast(df) is df

    def ident(batches):
        yield from batches

    spark.range(100).write.parquet(str(tmp_path / "ids"))
    ids = spark.read.parquet(str(tmp_path / "ids"))
    mapped = ids.mapInArrow(ident, ids.schema)
    assert 0 < leaf_scan_bytes(mapped) == leaf_scan_bytes(ids) < unknown
    assert leaf_scan_bytes(local_rows_df(spark, [(1,)], "a int")) == 8


def test_invoice_reader_closure_grows_with_files_not_splits(spark, tmp_path):
    """The decode closure carries the file list, not the split list:
    one file cut 10 or 10,000 ways pickles to within 1 KB."""
    import numpy as np

    from implementation_of_an_etl_process_spark.sources import read_invoices_bin

    path = tmp_path / "invoices.bin"
    np.zeros(10_000, dtype="V16").tofile(path)

    def command_bytes(split_bytes: int) -> int:
        df = read_invoices_bin(spark, str(path), split_bytes=split_bytes)
        node = df._jdf.queryExecution().analyzed()
        assert node.nodeName() == "MapInArrow"
        assert df.rdd.getNumPartitions() == 160_000 // split_bytes
        return node.functionExpr().func().command().length()

    assert abs(command_bytes(16_000) - command_bytes(16)) < 1024


def test_invoice_reader_glob_matches_datasource(spark, bin_path, tmp_path):
    """Two files under one glob: the range-numbered reader cuts each
    file into the DataSource's splits and decodes the same rows."""
    from implementation_of_an_etl_process_spark.sources import read_invoices_bin
    from implementation_of_an_etl_process_spark.sources.invoice_datasource import (
        InvoiceBinaryDataSource,
    )

    data = open(bin_path, "rb").read()
    cut = 16 * 1001
    (tmp_path / "a.bin").write_bytes(data[:cut])
    (tmp_path / "b.bin").write_bytes(data[cut:])
    pattern = str(tmp_path / "*.bin")
    split_bytes = 16 * 4096
    spark.dataSource.register(InvoiceBinaryDataSource)
    via_ds = (
        spark.read.format("invoicebin")
        .option("path", pattern)
        .option("split_bytes", split_bytes)
        .load()
    )
    via_range = read_invoices_bin(spark, pattern, split_bytes=split_bytes)
    assert via_range.rdd.getNumPartitions() == via_ds.rdd.getNumPartitions() == (
        1 + -(-(len(data) - cut) // split_bytes)
    )
    order = ["id", "id_contract", "time", "consumption", "amount"]
    a = via_ds.orderBy(*order).toPandas()
    b = via_range.orderBy(*order).toPandas()
    assert len(b) == len(data) // 16
    assert a.equals(b)


def test_file_splits_index_like_enumerated_ranges():
    """Split i found by arithmetic is split i of the enumerated cut,
    for empty, truncated, offset and multi-span inputs."""
    import random

    from implementation_of_an_etl_process_spark.sources.binary import FileSplits

    def enumerated(spans, split_bytes):
        return [
            (f, off, min(split_bytes, end - off))
            for f, start, end in spans
            for off in range(start, end, split_bytes)
        ]

    rng = random.Random(7)
    for _ in range(200):
        spans = [
            (f"f{k}", 16 * rng.randrange(0, 20), 16 * rng.randrange(0, 40))
            for k in range(rng.randrange(0, 6))
        ]
        split_bytes = 16 * rng.randrange(1, 9)
        splits = FileSplits(spans, split_bytes)
        assert list(splits) == enumerated(spans, split_bytes)
        assert len(splits) == len(enumerated(spans, split_bytes))
        with pytest.raises(IndexError):
            splits[len(splits)]
    with pytest.raises(ValueError, match="multiple of 16"):
        FileSplits([("f", 0, 32)], 24)
