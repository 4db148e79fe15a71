"""CLI end-to-end (D1): run the real `python -m ...cli` entrypoint on
the reference-layout sample (``conftest.ref_sample``) and check the reference-format output file
against an independent DuckDB + numpy oracle, byte-semantics included
(`ncontrats` header, `#.00` amount format, dim-ordered rows)."""

from __future__ import annotations

from implementation_of_an_etl_process_spark import cli
from tests.test_hypercube_golden import oracle_cube


def test_cli_reference_format_end_to_end(ref_sample, tmp_path):
    out = str(tmp_path / "cube.csv")
    rc = cli.main(
        [
            "--data-dir", ref_sample,
            "--output", out,
            "--reference-format",
            "-l", "0",
            "-t", "8",
            "-p", "4",  # parity alias must be accepted
        ]
    )
    assert rc == 0

    oracle = oracle_cube(ref_sample)

    with open(out) as fh:
        header = fh.readline().strip()
        lines = fh.read().splitlines()
    assert header == (
        "geo,type,misc,nature,time,consumption,amount,nclients,"
        "ncontrats,ninvoices"
    )
    assert len(lines) == len(oracle)
    # spot-check full rows (dims ordered ascending => same order as oracle)
    for idx in (0, len(lines) // 2, len(lines) - 1):
        got = lines[idx].split(",")
        exp = oracle.iloc[idx]
        assert [int(x) for x in got[:6]] == [
            int(exp[c]) for c in
            ("geo", "type", "misc", "nature", "time", "consumption")
        ]
        # amount: reference #.00 format, tolerance ±0.01 for float order
        assert abs(float(got[6]) - float(exp["amount"])) <= 0.01
        assert not got[6].startswith("0.") and not got[6].startswith("-0.")
        assert [int(x) for x in got[7:]] == [
            int(exp[c]) for c in ("nclients", "ncontracts", "ninvoices")
        ]
