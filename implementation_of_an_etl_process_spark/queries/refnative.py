"""Battery entry for the reference-NATIVE pipeline: fixed-width binary
scan (S3) -> reference hypercube (J1/J2/A1-A3/O1) -> reference CSV
format + single-file sink (X1/K1) -> re-scan.

Closes the round-1 gap where the binary reader and the reference CSV
formatter were pytest-only: this entry drives the whole native path and
hands the driver a hash-checkable result whose oracle is plain SQL over
the SOURCE parquet — if the bin encoder, the split-planned decoder, the
cube, the ``#.00`` amount format, or the single-file sink promotion
corrupt anything, the hash diverges.

Determinism note (why amounts are quantized to QUARTERS): the binary
format carries float32 amounts (reference README.md:66) and the cube
sums them as double in shuffle order. Quarter values (k/4) are exactly
representable in float32 AND their double sums are exact in any
addition order, so Spark's distributed sum equals DuckDB's sequential
sum bit-for-bit with no decimal-accumulator gymnastics. The synthetic
bin maps lineitem -> invoice as: id_contract=l_orderkey,
time=month(l_shipdate), consumption=l_quantity,
amount=round(l_extendedprice*4)/4 (ties impossible: 4x of a 2-dp price
has fractional part in multiples of .04).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark.operators.hypercube import (
    reference_hypercube,
)
from implementation_of_an_etl_process_spark.sources.parquet import read_table
from implementation_of_an_etl_process_spark.sources.binary import (
    INVOICE_DTYPE,
    read_invoices_bin,
)
from implementation_of_an_etl_process_spark.sources.sinks import (
    write_reference_csv,
)

_WORKDIR = "/tmp/implementation_of_an_etl_process_refnative"

# read-back schema: everything as written text, so the compare covers
# the FORMATTED bytes (the `#.00` quirk included), not re-parsed floats
_READBACK_SCHEMA = (
    "geo string, type string, misc string, nature string, time string, "
    "consumption string, amount string, nclients string, "
    "ncontrats string, ninvoices string"
)


def _synth_bin(sf_dir: str) -> str:
    """Encode the sf-dir's lineitem as a reference-format .bin
    (16-byte big-endian records), cached per sf_dir. Driver-side numpy:
    this is the test-fixture ENCODER (the reference ships .bin files;
    we must manufacture one), not part of the engine's read path."""
    import numpy as np
    import pyarrow.parquet as pq

    os.makedirs(_WORKDIR, exist_ok=True)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    path = os.path.join(_WORKDIR, f"invoices_{tag}.bin")
    if os.path.exists(path):
        return path
    t = pq.read_table(
        os.path.join(sf_dir, "lineitem.parquet"),
        columns=["l_orderkey", "l_shipdate", "l_quantity", "l_extendedprice"],
    ).to_pandas()
    rec = np.zeros(len(t), dtype=INVOICE_DTYPE)
    rec["id"] = np.arange(len(t), dtype=np.int64)
    rec["id_contract"] = t["l_orderkey"].to_numpy()
    rec["time"] = t["l_shipdate"].dt.month.to_numpy()
    rec["amount"] = (
        np.round(t["l_extendedprice"].to_numpy(dtype=np.float64) * 4) / 4
    )
    rec["consumption"] = t["l_quantity"].to_numpy()
    tmp = path + ".tmp"
    rec.tofile(tmp)
    os.replace(tmp, path)
    return path


def reference_native_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bin scan -> reference hypercube -> reference CSV -> re-scan.

    Star-schema roles are derived from the TPC-H tables with pure
    integer arithmetic both engines share exactly:
    contracts = orders (id=o_orderkey, id_client=o_custkey,
    nature=o_orderkey%4); clients = customer (id=c_custkey,
    type=c_custkey%5, geo=c_nationkey, misc=c_nationkey+10)."""
    bin_path = _synth_bin(sf_dir)
    invoices = read_invoices_bin(spark, bin_path)
    contracts = (
        read_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").cast("int").alias("id"),
            F.col("o_custkey").cast("int").alias("id_client"),
            (F.col("o_orderkey") % 4).cast("int").alias("nature"),
        )
    )
    clients = (
        read_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").cast("int").alias("id"),
            (F.col("c_custkey") % 5).cast("int").alias("type"),
            F.col("c_nationkey").cast("int").alias("geo"),
            (F.col("c_nationkey") + 10).cast("int").alias("misc"),
        )
    )
    cube = reference_hypercube(clients, contracts, invoices)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    out_csv = os.path.join(_WORKDIR, f"hypercube_{tag}.csv")
    write_reference_csv(cube, out_csv)
    return spark.read.csv(out_csv, header=True, schema=_READBACK_SCHEMA)


REFERENCE_NATIVE_SQL = r"""
WITH inv AS (
  SELECT l_orderkey AS id_contract,
         CAST(EXTRACT(MONTH FROM l_shipdate) AS INTEGER) AS t,
         round(CAST(l_extendedprice AS DOUBLE) * 4) / 4 AS amount,
         CAST(l_quantity AS INTEGER) AS consumption
  FROM lineitem
), contracts AS (
  SELECT o_orderkey AS cid, o_custkey AS client_id, o_orderkey % 4 AS nature
  FROM orders
), clients AS (
  SELECT c_custkey AS client_id, c_custkey % 5 AS type,
         c_nationkey AS geo, c_nationkey + 10 AS misc
  FROM customer
), cube AS (
  SELECT geo, type, misc, nature, t,
         CAST(SUM(consumption) AS BIGINT) AS consumption,
         SUM(amount) AS amount,
         COUNT(DISTINCT clients.client_id) AS nclients,
         COUNT(DISTINCT cid) AS ncontrats,
         COUNT(*) AS ninvoices
  FROM inv
  JOIN contracts ON inv.id_contract = contracts.cid
  JOIN clients ON contracts.client_id = clients.client_id
  GROUP BY 1, 2, 3, 4, 5
)
SELECT CAST(geo AS VARCHAR) AS geo,
       CAST(type AS VARCHAR) AS type,
       CAST(misc AS VARCHAR) AS misc,
       CAST(nature AS VARCHAR) AS nature,
       CAST(t AS VARCHAR) AS time,
       CAST(consumption AS VARCHAR) AS consumption,
       regexp_replace(printf('%.2f', round(amount, 2)), '^(-?)0\.', '\1.')
         AS amount,
       CAST(nclients AS VARCHAR) AS nclients,
       CAST(ncontrats AS VARCHAR) AS ncontrats,
       CAST(ninvoices AS VARCHAR) AS ninvoices
FROM cube
"""


def streaming_hypercube_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incrementally-maintained hypercube under the driver gate:
    the synthesized invoice fact streams in 3 micro-batches
    (maxFilesPerTrigger=1) through the level-1 state upsert
    (streaming/hypercube.py), and the cube derived from the final state
    must hash-match the same SQL cube DuckDB computes in one batch —
    exact nclients/ncontracts from a stream, the thing a naive
    streaming COUNT DISTINCT cannot do. Quarter-quantized amounts make
    the double sums order-independent (see module docstring), so the
    match is exact, not approximate."""
    import shutil
    import tempfile
    import uuid

    from implementation_of_an_etl_process_spark.streaming.hypercube import (
        hypercube_from_lvl1,
        incremental_hypercube_sink,
        streaming_hypercube_lvl1,
    )

    bin_path = _synth_bin(sf_dir)
    invoices = read_invoices_bin(spark, bin_path)
    contracts = (
        read_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").cast("int").alias("id"),
            F.col("o_custkey").cast("int").alias("id_client"),
            (F.col("o_orderkey") % 4).cast("int").alias("nature"),
        )
    )
    clients = (
        read_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").cast("int").alias("id"),
            (F.col("c_custkey") % 5).cast("int").alias("type"),
            F.col("c_nationkey").cast("int").alias("geo"),
            (F.col("c_nationkey") + 10).cast("int").alias("misc"),
        )
    )
    work = tempfile.mkdtemp(prefix=f"stream_cube_{uuid.uuid4().hex[:6]}_")
    try:
        src = os.path.join(work, "src")
        for i in range(3):
            invoices.filter(F.col("id") % 3 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        stream = (
            spark.readStream.schema(invoices.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = incremental_hypercube_sink(
            streaming_hypercube_lvl1(stream, contracts, clients),
            os.path.join(work, "state"),
            os.path.join(work, "ckpt"),
        ).start()
        from implementation_of_an_etl_process_spark.queries.streamingops import (
            await_or_raise,
        )

        await_or_raise(q)
        cube = hypercube_from_lvl1(
            spark.read.parquet(os.path.join(work, "state"))
        )
        return (
            cube.select(
                "geo", "type", "misc", "nature", "time",
                F.col("consumption").cast("long").alias("consumption"),
                F.round("amount", 2).alias("amount"),
                F.col("nclients").cast("long").alias("nclients"),
                F.col("ncontracts").cast("long").alias("ncontrats"),
                F.col("ninvoices").cast("long").alias("ninvoices"),
            )
            .orderBy("geo", "type", "misc", "nature", "time")
            # materialize BEFORE the temp state dir vanishes
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


STREAMING_CUBE_SQL = r"""
WITH inv AS (
  SELECT l_orderkey AS id_contract,
         CAST(EXTRACT(MONTH FROM l_shipdate) AS INTEGER) AS t,
         round(CAST(l_extendedprice AS DOUBLE) * 4) / 4 AS amount,
         CAST(l_quantity AS INTEGER) AS consumption
  FROM lineitem
), contracts AS (
  SELECT o_orderkey AS cid, o_custkey AS client_id, o_orderkey % 4 AS nature
  FROM orders
), clients AS (
  SELECT c_custkey AS client_id, c_custkey % 5 AS type,
         c_nationkey AS geo, c_nationkey + 10 AS misc
  FROM customer
)
SELECT CAST(geo AS INTEGER) AS geo, CAST(type AS INTEGER) AS type,
       CAST(misc AS INTEGER) AS misc, CAST(nature AS INTEGER) AS nature,
       CAST(t AS INTEGER) AS time,
       CAST(SUM(consumption) AS BIGINT) AS consumption,
       round(SUM(amount), 2) AS amount,
       CAST(COUNT(DISTINCT clients.client_id) AS BIGINT) AS nclients,
       CAST(COUNT(DISTINCT cid) AS BIGINT) AS ncontrats,
       CAST(COUNT(*) AS BIGINT) AS ninvoices
FROM inv
JOIN contracts ON inv.id_contract = contracts.cid
JOIN clients ON contracts.client_id = clients.client_id
GROUP BY 1, 2, 3, 4, 5
ORDER BY 1, 2, 3, 4, 5
"""


QUERIES = {
    "reference_native_path": reference_native_path,
    "streaming_hypercube_native": streaming_hypercube_native,
}

ORACLES = {
    "reference_native_path": REFERENCE_NATIVE_SQL,
    "streaming_hypercube_native": STREAMING_CUBE_SQL,
}
