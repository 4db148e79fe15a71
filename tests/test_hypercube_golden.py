"""Golden end-to-end test: the reference query on the reference's own
sample data (or, where that is absent, a seeded sample in the same
layout — ``conftest.ref_sample``), verified against a DuckDB oracle
(SURVEY.md §5 item 1).

The oracle ingests ``invoices.bin`` through an independent numpy decode
(bin != csv — SURVEY.md §1.4), runs ``hypercube.sql`` semantics in
DuckDB, and the Spark result must match row-for-row with amount within
±0.01 (float-summation order tolerance, FIXTURES.md).
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from tests.conftest import INVOICE_RECORD

ORACLE_SQL = """
SELECT geo, type, misc, nature, time,
       SUM(consumption) AS consumption,
       ROUND(SUM(amount), 2) AS amount,
       COUNT(DISTINCT c.id) AS nclients,
       COUNT(DISTINCT k.id) AS ncontracts,
       COUNT(*) AS ninvoices
FROM clients c
JOIN contracts k ON c.id = k.id_client
JOIN invoices i ON i.id_contract = k.id
GROUP BY geo, type, misc, nature, time
ORDER BY geo, type, misc, nature, time
"""
DIMS = ["geo", "type", "misc", "nature", "time"]


def decode_bin_numpy(path: str) -> pd.DataFrame:
    arr = np.fromfile(path, dtype=INVOICE_RECORD)
    return pd.DataFrame(
        {
            "id": arr["id"].astype("int32"),
            "id_contract": arr["id_contract"].astype("int32"),
            "time": arr["time"].astype("int32"),
            "amount": arr["amount"].astype("float64"),
            "consumption": arr["consumption"].astype("int32"),
        }
    )


ROLLUP_SQL = ORACLE_SQL.replace(
    "GROUP BY geo, type, misc, nature, time\nORDER BY geo, type, misc, nature, time",
    "GROUP BY ROLLUP (geo, type, misc, nature, time)",
)


def sorted_cube(df: pd.DataFrame) -> pd.DataFrame:
    """Rows in dim order with subtotal (null) dims first, dims as
    nullable ints, so Spark and DuckDB rollups line up row for row."""
    df = df.sort_values(DIMS, na_position="first", ignore_index=True)
    df[DIMS] = df[DIMS].astype("Int64")
    return df


def oracle_cube(sample: str, sql: str = ORACLE_SQL) -> pd.DataFrame:
    con = duckdb.connect()
    con.register("invoices", decode_bin_numpy(os.path.join(sample, "invoices.bin")))
    con.execute(
        f"CREATE VIEW clients AS SELECT * FROM read_csv_auto('{sample}/clients.csv')"
    )
    con.execute(
        f"CREATE VIEW contracts AS SELECT * FROM read_csv_auto('{sample}/contracts.csv')"
    )
    return con.execute(sql).df()


def read_sample(spark, sample: str):
    from implementation_of_an_etl_process_spark.sources import (
        read_clients,
        read_contracts,
        read_invoices_bin,
    )

    return (
        read_clients(spark, os.path.join(sample, "clients.csv")),
        read_contracts(spark, os.path.join(sample, "contracts.csv")),
        read_invoices_bin(spark, os.path.join(sample, "invoices.bin")),
    )


def assert_cube_equals(got: pd.DataFrame, exp: pd.DataFrame) -> None:
    """Row-for-row equality; amount within ±0.01 for float-sum order
    dependence (FIXTURES.md)."""
    assert list(got.columns) == list(exp.columns)
    assert len(got) == len(exp)
    for c in DIMS:
        assert got[c].equals(exp[c].astype(got[c].dtype)), f"dim {c} mismatch"
    for c in ["consumption", "nclients", "ncontracts", "ninvoices"]:
        assert (
            got[c].to_numpy().astype("int64") == exp[c].to_numpy().astype("int64")
        ).all(), f"measure {c} mismatch"
    assert np.allclose(got["amount"], exp["amount"], atol=0.011), (
        "amount out of tolerance"
    )


def test_binary_reader_matches_numpy(spark, ref_sample):
    from implementation_of_an_etl_process_spark.sources import read_invoices_bin

    path = os.path.join(ref_sample, "invoices.bin")
    df = read_invoices_bin(spark, path)
    expected = decode_bin_numpy(path)
    assert df.count() == len(expected) == os.path.getsize(path) // 16
    got = df.orderBy("id", "id_contract", "time", "consumption").toPandas()
    exp = expected.sort_values(
        ["id", "id_contract", "time", "consumption"]
    ).reset_index(drop=True)
    assert (got["id"].to_numpy() == exp["id"].to_numpy()).all()
    assert (got["id_contract"].to_numpy() == exp["id_contract"].to_numpy()).all()
    assert (got["time"].to_numpy() == exp["time"].to_numpy()).all()
    assert (got["consumption"].to_numpy() == exp["consumption"].to_numpy()).all()
    assert np.allclose(got["amount"].to_numpy(), exp["amount"].to_numpy())


def test_binary_reader_rejects_uncommitted_part_files(spark, ref_sample, tmp_path):
    """A writer-style directory whose part files have no _SUCCESS
    marker holds a partially-committed write: reading it must fail
    instead of silently returning partial data."""
    import shutil

    from implementation_of_an_etl_process_spark.sources import read_invoices_bin

    part = tmp_path / "part-00000.bin"
    shutil.copy(os.path.join(ref_sample, "invoices.bin"), part)
    with pytest.raises(ValueError, match="_SUCCESS"):
        read_invoices_bin(spark, str(tmp_path / "*.bin"))
    (tmp_path / "_SUCCESS").touch()
    assert read_invoices_bin(spark, str(part)).count() == part.stat().st_size // 16


def test_hypercube_golden(spark, ref_sample):
    from implementation_of_an_etl_process_spark.operators import reference_hypercube

    got = reference_hypercube(*read_sample(spark, ref_sample)).toPandas()
    assert_cube_equals(got, oracle_cube(ref_sample))


def test_hypercube_rollup_matches_duckdb(spark, ref_sample):
    """Exact ``grouping="rollup"`` (COUNT DISTINCT over the rollup
    lattice) against DuckDB's GROUP BY ROLLUP: every level of the
    lattice, subtotal rows (null dims) included."""
    from implementation_of_an_etl_process_spark.operators import reference_hypercube

    assert "ROLLUP" in ROLLUP_SQL
    got = sorted_cube(
        reference_hypercube(
            *read_sample(spark, ref_sample), grouping="rollup"
        ).toPandas()
    )
    assert got[DIMS].isna().all(axis=1).sum() == 1  # one grand total
    assert_cube_equals(got, sorted_cube(oracle_cube(ref_sample, ROLLUP_SQL)))


@pytest.mark.parametrize("grouping", ["groupby", "rollup"])
def test_approx_distinct_error_bound(spark, ref_sample, grouping):
    """``distinct_mode="approx"`` (HLL++ at Spark's default 5% relative
    standard deviation) keeps the exact groups, sums and counts; each
    distinct count stays within 4 standard deviations of the exact one,
    or within 1 for the tiny groups where a single register collision
    is the whole error, and the mean relative error stays under 5%.
    The rollup's upper levels carry the large counts (the grand total
    spans every client and contract)."""
    from implementation_of_an_etl_process_spark.operators import reference_hypercube

    got = sorted_cube(
        reference_hypercube(
            *read_sample(spark, ref_sample),
            distinct_mode="approx",
            grouping=grouping,
        ).toPandas()
    )
    exp = sorted_cube(
        oracle_cube(ref_sample, ORACLE_SQL if grouping == "groupby" else ROLLUP_SQL)
    )
    assert len(got) == len(exp)
    for c in DIMS:
        assert got[c].equals(exp[c]), c
    for c in ["consumption", "ninvoices"]:
        assert (got[c].to_numpy() == exp[c].to_numpy()).all(), c
    for c in ["nclients", "ncontracts"]:
        g = got[c].to_numpy().astype(float)
        e = exp[c].to_numpy().astype(float)
        assert (np.abs(g - e) <= np.maximum(1, 4 * 0.05 * e)).all(), c
        assert (np.abs(g - e) / e).mean() <= 0.05, c


def test_hypercube_out_of_byte_range_dims(spark):
    """Dimension and time values far outside the reference's byte-sized
    domains (geo = 2^30, time = 300) still aggregate correctly — the
    cube has no bit budget to overflow."""
    from implementation_of_an_etl_process_spark.operators import reference_hypercube

    clients = spark.createDataFrame(
        [(1, 1, 2**30, 1), (2, 1, 5, 1)], "id int, type int, geo int, misc int"
    )
    contracts = spark.createDataFrame(
        [(1, 1, 2), (2, 2, 2), (3, 2, 2)], "id int, id_client int, nature int"
    )
    invoices = spark.createDataFrame(
        [(1, 300, 1.5, 2), (1, 300, 2.0, 3), (2, 300, 1.0, 1), (3, 300, 1.0, 1)],
        "id_contract int, time int, amount float, consumption int",
    )
    out = [tuple(r) for r in reference_hypercube(clients, contracts, invoices).collect()]
    assert out == [
        (5, 1, 1, 2, 300, 2, 2.0, 1, 2, 2),
        (2**30, 1, 1, 2, 300, 5, 3.5, 1, 1, 2),
    ]


def test_hypercube_duplicate_facts_do_not_inflate_distincts(spark, ref_sample):
    """Property from SURVEY.md §5.3: duplicated fact rows must not change
    nclients/ncontracts (the reference dedupes by id in its per-group
    sets, ETL.java:170,242)."""
    from implementation_of_an_etl_process_spark.operators import reference_hypercube

    clients, contracts, invoices = read_sample(spark, ref_sample)
    doubled = invoices.union(invoices)

    base = reference_hypercube(clients, contracts, invoices).toPandas()
    dup = reference_hypercube(clients, contracts, doubled).toPandas()
    assert (dup["nclients"].to_numpy() == base["nclients"].to_numpy()).all()
    assert (dup["ncontracts"].to_numpy() == base["ncontracts"].to_numpy()).all()
    assert (dup["ninvoices"].to_numpy() == 2 * base["ninvoices"].to_numpy()).all()
