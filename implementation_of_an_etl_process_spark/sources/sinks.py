"""Sinks. The reference's only sink is an ordered header CSV
(reference ``ETL.java:254-270``)."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_csv(
    df: DataFrame,
    path: str,
    *,
    single_file: bool = False,
    header: bool = True,
    mode: str = "overwrite",
) -> str:
    """Write a CSV sink.

    ``single_file=True`` reproduces the reference's one-output-file
    convention WITHOUT a single-writer task: every partition formats its
    rows in parallel, then the driver stitches the part files in
    partition order (a sorted DataFrame's range partitions concatenate
    to the globally sorted file). ``coalesce(1)`` — the obvious spelling
    — would collapse the upstream sort AND the CSV formatting of every
    row into one task: measured minutes at 3.12M output rows. Stitching
    is sequential I/O over final bytes only. Leave it False at scale —
    a 100 TB result wants one file per task.
    """
    if not single_file:
        df.write.mode(mode).csv(path, header=header)
        return path
    if mode != "overwrite" and os.path.exists(path):
        raise FileExistsError(f"{path} exists and mode={mode!r}")
    tmp = path + ".spark-tmp"
    df.write.mode("overwrite").csv(tmp, header=False)
    parts = sorted(glob.glob(os.path.join(tmp, "part-*.csv")))
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)

    def quote(name: str) -> str:
        # same minimal quoting Spark's CSV writer applies to headers
        if any(ch in name for ch in ',"\n\r'):
            return '"' + name.replace('"', '""') + '"'
        return name

    with open(path, "wb") as out:
        if header:
            out.write((",".join(quote(c) for c in df.columns) + "\n").encode())
        for p in parts:
            with open(p, "rb") as fh:
                shutil.copyfileobj(fh, out, 1 << 20)
    shutil.rmtree(tmp)
    return path


def write_reference_csv(df: DataFrame, path: str) -> str:
    """Byte-format parity with the reference's output conventions
    (SURVEY.md §2 X1/K1):

    - header spells ``ncontrats`` (the reference's typo, ETL.java:258)
    - ``amount`` printed DecimalFormat("#.00")-style: two decimals with
      NO leading zero before the point (0.47 -> ".47", -0.3 -> "-.30",
      ETL.java:255,266)
    """
    out = df.selectExpr(
        "geo", "type", "misc", "nature", "time", "consumption",
        # r'' keeps the regex free of SQL escape handling
        r"regexp_replace(format_string('%.2f', amount), r'^(-?)0\.', '$1.')"
        " AS amount",
        "nclients",
        "ncontracts AS ncontrats",
        "ninvoices",
    )
    return write_csv(out, path, single_file=True)


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    *,
    mode: str = "overwrite",
) -> str:
    """Hive-style partitioned parquet: queries filtering on the
    partition columns prune directories at planning time (zero I/O for
    excluded partitions) — the layout a 100 TB fact table wants."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
    return path


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    *,
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> str:
    """Bucketed managed table: co-locates rows by hash(bucket_cols) at
    WRITE time, so joins/aggregations on those columns skip the shuffle
    entirely (the biggest cost at scale). Both sides of a join bucketed
    the same way -> SortMergeJoin with NO Exchange in the plan."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table, format="parquet")
    return table


def zorder_column(
    df: DataFrame, cols: list[str], *, bits: int = 8
) -> "Column":
    """Morton (Z-order) interleave of ``cols`` as a single long Column.

    Each column is first mapped to a ``bits``-wide bucket with
    ``width_bucket`` between its min and max (one bounded 2-value
    aggregate per column — same contract as a broadcast; swap in
    approxQuantile boundaries for heavily skewed columns), then bucket
    bits are interleaved (``operators/layout.py::interleave_bits`` —
    the canonical Morton core; that module also carries the exact
    integer-domain variant with its engine-portable SQL rendering for
    the ``zorder_key_events`` oracle). Everything after the min/max
    probe is a pure codegen'd expression.
    """
    from pyspark.sql import functions as F

    lo_hi = df.agg(
        *[F.min(c).cast("double").alias(f"_lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_hi_{c}") for c in cols],
    ).first()
    n = 1 << bits
    bucketed = []
    for c in cols:
        lo, hi = lo_hi[f"_lo_{c}"], lo_hi[f"_hi_{c}"]
        # None min/max (all-NULL column or empty input) degrades to the
        # constant-column case rather than a TypeError on None <= None
        if lo is None or hi is None or hi <= lo:  # constant column: single bucket
            bucketed.append(F.lit(0).cast("long"))
            continue
        # width_bucket returns 1..n+1; clamp into 0..n-1
        b = F.width_bucket(F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(n))
        bucketed.append(F.least(F.greatest(b - 1, F.lit(0)), F.lit(n - 1)).cast("long"))
    if len(bucketed) == 1:
        return bucketed[0]
    from implementation_of_an_etl_process_spark.operators.layout import (
        interleave_bits,
    )

    return interleave_bits(bucketed, bits)


def write_zordered_parquet(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    n_files: int = 8,
    bits: int = 8,
    mode: str = "overwrite",
) -> str:
    """Z-order-clustered parquet (the Delta OPTIMIZE ZORDER BY idea,
    plain-Spark): range-partition + sort by the Morton code so parquet
    row-group min/max stats become tight in EVERY clustered dimension —
    a filter on any one of ``cols`` skips most row groups, where a
    single-column sort only helps its leading column. Pure layout
    optimization: rewrites bytes, never values."""
    z = zorder_column(df, cols, bits=bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
    return path


def detect_hive_partition_cols(src: str) -> list[str]:
    """Partition columns of a hive-layout parquet directory, inferred
    from the ``key=value`` directory names (outermost first). Returns
    [] for an unpartitioned table."""
    cols: list[str] = []
    level = src
    while True:
        subs = [
            e
            for e in os.scandir(level)
            if e.is_dir() and "=" in e.name and not e.name.startswith("_")
        ]
        if not subs:
            return cols
        names = {e.name.split("=", 1)[0] for e in subs}
        if len(names) != 1:  # mixed keys at one level: not hive layout
            return cols
        cols.append(names.pop())
        level = subs[0].path


def compact_parquet(
    spark,
    src: str,
    dst: str,
    *,
    target_file_bytes: int = 128 << 20,
    zorder_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> int:
    """Rewrite a parquet directory into ~target-size files — the
    OPTIMIZE/compaction maintenance pass every long-lived table needs
    (streaming sinks and incremental ingests accrete small files; at
    100 TB the file count, not the byte count, is what kills listing,
    task scheduling, and footer-stat pruning). File count is sized
    from the SOURCE bytes (compression ratio carries over since the
    data is the same), minimum 1.

    Hive-partitioned sources KEEP their partitioning: ``partition_by``
    defaults to the layout auto-detected from the ``key=value``
    directory names, so downstream readers keep partition pruning
    (pass ``partition_by=[]`` to deliberately flatten). Partitioned
    rewrites shuffle on the partition key (plus a deterministic salt
    when a single key's data would exceed several target files) so
    each output directory holds few well-sized files instead of one
    file per input task. With ``zorder_cols`` the rewrite also
    re-clusters along the Z-curve — one range shuffle for flat tables;
    within-partition sort (row-group-level pruning) for partitioned
    ones. Returns the output data-file count, counted recursively."""
    import math

    # recursive: partitioned (hive-layout) tables keep their data files
    # in key=... subdirectories — a top-level scan would size them at 0
    # and funnel the whole table into one file
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    if partition_by is None:
        partition_by = detect_hive_partition_cols(src)
    df = spark.read.parquet(src)
    if partition_by:
        # one leaf directory per distinct key; size the per-key salt
        # from the GLOBAL average (no extra per-key pass — compaction
        # is a maintenance job, close-enough sizing is the contract)
        n_keys = max(
            1,
            sum(
                1
                for root, dirs, files in os.walk(src)
                if not dirs and any(f.endswith(".parquet") for f in files)
            ),
        )
        per_key = max(1, math.ceil(n_files / n_keys))
        out = df
        shuffle_cols = list(partition_by)
        if per_key > 1:
            # deterministic salt (hash of the row, not rand()) so
            # re-runs produce the same layout; MapType columns are not
            # hashable in Spark — salt over the hashable subset, or
            # fall back to the scan partition id (still stable for an
            # unchanged source) when nothing is hashable
            from pyspark.sql.types import MapType

            hashable = [
                f.name
                for f in df.schema.fields
                if not isinstance(f.dataType, MapType)
            ]
            salt = (
                F.pmod(
                    F.xxhash64(F.struct(*hashable)), F.lit(per_key)
                )
                if hashable
                else F.pmod(F.spark_partition_id(), F.lit(per_key))
            )
            out = out.withColumn("_salt", salt)
            shuffle_cols.append("_salt")
        if zorder_cols:
            z = zorder_column(out, zorder_cols)
            out = (
                out.withColumn("_z", z)
                .repartition(n_files, *shuffle_cols)
                .sortWithinPartitions(*partition_by, "_z")
                .drop("_z", "_salt")
            )
        else:
            out = out.repartition(n_files, *shuffle_cols).drop("_salt")
        out.write.mode(mode).partitionBy(*partition_by).parquet(dst)
    else:
        if zorder_cols:
            from implementation_of_an_etl_process_spark.operators.layout import (
                zorder_repartition,
            )

            out = zorder_repartition(df, zorder_cols, num_files=n_files)
        else:
            out = df.repartition(n_files)
        out.write.mode(mode).parquet(dst)
    return sum(
        1
        for root, _, files in os.walk(dst)
        for f in files
        if f.endswith(".parquet")
    )
