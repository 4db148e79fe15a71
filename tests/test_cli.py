"""CLI end-to-end (D1): run the real `python -m ...cli` entrypoint on
the reference-layout sample (``conftest.ref_sample``) and check the reference-format output file
against an independent DuckDB + numpy oracle, byte-semantics included
(`ncontrats` header, `#.00` amount format, dim-ordered rows)."""

from __future__ import annotations

import os
import subprocess
import sys

from implementation_of_an_etl_process_spark import class_archive, cli
from tests.test_hypercube_golden import oracle_cube

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
    _check_reference_cube(ref_sample, out)


def test_cli_process_survives_a_garbage_class_archive(ref_sample, tmp_path):
    """A fresh CLI process whose published class archive is garbage:
    the JVM maps it, turns class sharing off and runs on, so the output
    is the same reference-format cube."""
    from pyspark.find_spark_home import _find_spark_home

    java = class_archive.java_binary()
    key = class_archive.key(java, os.path.join(_find_spark_home(), "jars"))
    cache = tmp_path / "cache"
    home = cache / class_archive.CACHE_DIR / key
    home.mkdir(parents=True)
    (home / class_archive.PUBLISHED).write_bytes(os.urandom(4096))
    env = dict(
        os.environ, XDG_CACHE_HOME=str(cache), PYTHONPATH=ROOT,
        SPARK_DRIVER_MEMORY="1g",
    )
    env.pop("SPARK_CONF_DIR", None)
    out = str(tmp_path / "cube.csv")
    done = subprocess.run(
        [sys.executable, "-m", "implementation_of_an_etl_process_spark.cli",
         "--data-dir", ref_sample, "--output", out, "--reference-format",
         "-l", "1", "-t", "4"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert f"class archive used {home / class_archive.PUBLISHED}" in done.stderr
    _check_reference_cube(ref_sample, out)


def _check_reference_cube(ref_sample, out):
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
