"""Explicit StructTypes for every table the engine reads.

The reference hard-codes schemas as array layouts and column positions
(reference ``ETL.java:33-42,66-70,101-105,147-152``); here they are
declarative StructTypes so Catalyst can prune/push down. No
``inferSchema`` anywhere — inference costs an extra pass and guesses.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- Reference star schema (SURVEY.md §1.1) -----------------------------

# clients.csv: header id,type,geo,misc (reference README.md:12-17)
CLIENTS = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("type", T.IntegerType(), False),
        T.StructField("geo", T.IntegerType(), False),
        T.StructField("misc", T.IntegerType(), False),
    ]
)

# contracts.csv: header id,id_client,nature,start,end
# (reference README.md:20-27; start/end are never read by the engine —
# reference ETL.java:100-110 — Catalyst prunes them when unselected).
CONTRACTS = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("id_client", T.IntegerType(), False),
        T.StructField("nature", T.IntegerType(), False),
        T.StructField("start", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
    ]
)

# invoices — logical schema shared by the CSV form and the 16-byte
# big-endian binary form (reference README.md:30-37,66; decode at
# ETL.java:147-152). Binary payload types: int id, int id_contract,
# byte time, float amount, short consumption, 1 pad byte.
INVOICES = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("id_contract", T.IntegerType(), False),
        T.StructField("time", T.IntegerType(), False),
        T.StructField("amount", T.FloatType(), False),
        T.StructField("consumption", T.IntegerType(), False),
    ]
)

# Output cube schema (reference ETL.java:258; header spells `ncontrats`).
HYPERCUBE = T.StructType(
    [
        T.StructField("geo", T.IntegerType(), False),
        T.StructField("type", T.IntegerType(), False),
        T.StructField("misc", T.IntegerType(), False),
        T.StructField("nature", T.IntegerType(), False),
        T.StructField("time", T.IntegerType(), False),
        T.StructField("consumption", T.LongType(), False),
        T.StructField("amount", T.DoubleType(), False),
        T.StructField("nclients", T.LongType(), False),
        T.StructField("ncontracts", T.LongType(), False),
        T.StructField("ninvoices", T.LongType(), False),
    ]
)

# --- Driver-provided TPC-H-ish tables (TESTDATA.md) ----------------------

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
