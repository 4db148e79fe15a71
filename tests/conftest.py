"""Shared pytest fixtures: one SparkSession per test run, the test
datasets, and the DataFrame-vs-oracle comparison."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
REF_SAMPLE = "/root/reference/data-sample"

# The reference's invoice record (README.md:66), spelled out here rather
# than imported so the tests' decoder stays independent of the engine's.
INVOICE_RECORD = np.dtype(
    [
        ("id", ">i4"),
        ("id_contract", ">i4"),
        ("time", "i1"),
        ("amount", ">f4"),
        ("consumption", ">i2"),
        ("pad", "V1"),
    ]
)


@pytest.fixture(scope="session")
def spark():
    from implementation_of_an_etl_process_spark import get_spark

    # Tests share one small-footprint session; 8 shuffle partitions keep
    # tiny-fixture jobs snappy (AQE coalesces anyway).
    spark = get_spark("pytest", shuffle_partitions=8)
    yield spark


@pytest.fixture
def py4j_commands(spark, monkeypatch):
    """The py4j commands this process sends the JVM during the test,
    as py4j writes them (a method call is ``c``, the target and the
    method name, one per line)."""
    client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
    sent = []
    send = client.send_command

    def record(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", record)
    return sent


@pytest.fixture(scope="session")
def ref_sample(tmp_path_factory) -> str:
    """Directory with the reference layout: clients.csv, contracts.csv
    and invoices.bin (16-byte big-endian records). The reference's own
    sample when present, else a seeded star schema written once per
    session. The generated one keeps the traits the tests lean on: a
    few invoice ids repeat, some invoices name no contract, some
    contracts name no client, and ``time`` includes negative bytes."""
    if os.path.isdir(REF_SAMPLE):
        return REF_SAMPLE
    import pandas as pd

    out = tmp_path_factory.mktemp("ref_sample")
    rng = np.random.default_rng(20141001)
    n_clients, n_contracts, n_invoices = 1_500, 4_000, 58_176
    pd.DataFrame(
        {
            "id": np.arange(1, n_clients + 1),
            "type": rng.integers(1, 6, n_clients),
            "geo": rng.integers(1, 41, n_clients),
            "misc": rng.integers(1, 7, n_clients),
        }
    ).to_csv(out / "clients.csv", index=False)
    pd.DataFrame(
        {
            "id": np.arange(1, n_contracts + 1),
            "id_client": rng.integers(1, n_clients + 11, n_contracts),
            "nature": rng.integers(1, 6, n_contracts),
            "start": 201410,
            "end": 201710,
        }
    ).to_csv(out / "contracts.csv", index=False)
    rec = np.zeros(n_invoices, dtype=INVOICE_RECORD)
    rec["id"] = np.arange(1, n_invoices + 1)
    rec["id"][-100:] = rec["id"][:100]
    rec["id_contract"] = rng.integers(1, n_contracts + 21, n_invoices)
    rec["time"] = rng.integers(-3, 37, n_invoices)
    rec["amount"] = rng.integers(-500, 100_000, n_invoices) / 100
    rec["consumption"] = rng.integers(0, 32_000, n_invoices)
    rec.tofile(out / "invoices.bin")
    return str(out)


@pytest.fixture(scope="session")
def tpch_smoke(spark):
    from implementation_of_an_etl_process_spark.sources import load_tables

    return load_tables(spark, SF_SMOKE)


def assert_df_equals_oracle(df, duck_rel, float_cols=(), tol=1e-9):
    """Compare a Spark DataFrame against a DuckDB relation, order- and
    column-order-insensitively (the driver's comparison model)."""
    import math

    spark_rows = [tuple(r) for r in df.collect()]
    spark_cols = df.columns
    duck_df = duck_rel.df() if hasattr(duck_rel, "df") else duck_rel
    assert sorted(spark_cols) == sorted(duck_df.columns.tolist()), (
        f"column mismatch: {sorted(spark_cols)} vs {sorted(duck_df.columns.tolist())}"
    )
    duck_rows = [
        tuple(rec[c] for c in spark_cols) for rec in duck_df.to_dict("records")
    ]
    assert len(spark_rows) == len(duck_rows), (
        f"row count {len(spark_rows)} vs oracle {len(duck_rows)}"
    )
    float_idx = {spark_cols.index(c) for c in float_cols}

    def key(row):
        return tuple(
            round(v, 6) if i in float_idx and isinstance(v, float) else v
            for i, v in enumerate(row)
        )

    for s, d in zip(sorted(spark_rows, key=key), sorted(duck_rows, key=key)):
        for i, (sv, dv) in enumerate(zip(s, d)):
            if i in float_idx:
                assert sv == dv or math.isclose(sv, dv, rel_tol=tol, abs_tol=tol), (
                    f"float mismatch col {spark_cols[i]}: {sv} vs {dv} in {s} / {d}"
                )
            else:
                assert sv == dv, f"mismatch col {spark_cols[i]}: {s} vs {d}"
