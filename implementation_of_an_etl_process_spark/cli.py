"""CLI driver — the reference's ``main`` (ETL.java:272-360), Spark-first.

Runs the full pipeline: CSV dims + binary facts -> hypercube -> CSV.

Flag parity with the reference CLI (README.md:55-71; note the README
documents ``-n`` for threads but the code reads ``-t``, ETL.java:282):
  -t/--threads     local parallelism (reference: worker thread count)
  -s/--split-bytes binary scan split size (reference: -s chunk size,
                   must be a multiple of 16 — same validation)
  -l/--log-level   0 silent, 1 phase timings, 2 verbose (reference's
                   three log levels, ETL.java:297-359)
Phases are logical here — Spark fuses them into one lazy plan; the
timing printed is the end-to-end job, which is the honest number.

Usage:
  python -m implementation_of_an_etl_process_spark.cli \
      --data-dir data-sample --output /tmp/hypercube.csv
"""

from __future__ import annotations

import argparse
import os
import sys
import time

from implementation_of_an_etl_process_spark.session import default_cpus


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="implementation-of-an-etl-process-spark")
    ap.add_argument("--data-dir", required=True,
                    help="directory with clients.csv, contracts.csv, invoices.bin")
    ap.add_argument("--output", required=True, help="output CSV path")
    # -t and -p both map to local parallelism: the reference separates
    # worker threads (-t, ETL.java:282) from an I/O pool size (-p,
    # ETL.java:283); under Spark both are the scheduler's task slots,
    # so -p is accepted for CLI parity and the larger of the two wins.
    ap.add_argument("-t", "--threads", type=int, default=default_cpus(),
                    help="default: SPARK_GRAFT_CPUS, else the host's cores")
    ap.add_argument("-p", "--pool-size", type=int, default=None,
                    help="reference-parity alias: max(threads, pool size) "
                         "becomes local parallelism")
    ap.add_argument("-s", "--split-bytes", type=int, default=16 * 1024 * 1024)
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="default: 4x threads (measured best for the "
                         "full-scale aggregate; smaller tables are "
                         "AQE-coalesced back down anyway)")
    ap.add_argument("-l", "--log-level", type=int, default=1, choices=[0, 1, 2])
    ap.add_argument("--distinct", choices=["exact", "approx"], default="exact",
                    help="exact COUNT DISTINCT or HLL++ approx (scale mode)")
    ap.add_argument("--grouping", choices=["groupby", "rollup", "cube"],
                    default="groupby")
    ap.add_argument("--reference-format", action="store_true",
                    help="byte-format parity with the reference output "
                         "(ncontrats header, #.00 amount format)")
    args = ap.parse_args(argv)

    if args.split_bytes % 16:
        ap.error("--split-bytes must be a multiple of 16")  # ETL.java:287-290
    if args.pool_size is not None:
        if args.pool_size <= 0:
            ap.error("--pool-size must be positive")
        args.threads = max(args.threads, args.pool_size)

    def log(level: int, msg: str) -> None:
        if args.log_level >= level:
            print(msg, file=sys.stderr)

    t0 = time.monotonic()
    from pyspark.sql import SparkSession

    from implementation_of_an_etl_process_spark import class_archive, get_spark

    # getOrCreate may hand us a session some host process (notebook,
    # test harness) already owns — only stop what we created.
    owns_session = SparkSession.getActiveSession() is None
    from implementation_of_an_etl_process_spark.operators import reference_hypercube
    from implementation_of_an_etl_process_spark.sources import (
        read_clients,
        read_contracts,
        read_invoices_bin,
        write_csv,
    )
    from implementation_of_an_etl_process_spark.sources.sinks import (
        write_reference_csv,
    )

    spark = get_spark(
        "etl-cli",
        master=f"local[{args.threads}]",
        shuffle_partitions=args.shuffle_partitions or args.threads * 4,
    )
    log(1, f"session up in {time.monotonic() - t0:.1f}s ({args.threads} threads, "
           f"class archive {class_archive.decision()})")

    t1 = time.monotonic()
    clients = read_clients(spark, os.path.join(args.data_dir, "clients.csv"))
    contracts = read_contracts(spark, os.path.join(args.data_dir, "contracts.csv"))
    invoices = read_invoices_bin(
        spark,
        os.path.join(args.data_dir, "invoices.bin"),
        split_bytes=args.split_bytes,
        keep_id=False,  # reference parity (ETL.java:147) AND the id
        # bytes never cross the Arrow boundary (mapInArrow sources
        # cannot be column-pruned by Catalyst)
    )
    cube = reference_hypercube(
        clients, contracts, invoices,
        distinct_mode=args.distinct, grouping=args.grouping,
    )
    if args.log_level >= 2:
        cube.explain("formatted")
    if args.reference_format:
        write_reference_csv(cube, args.output)
    else:
        write_csv(cube, args.output, single_file=True)
    log(1, f"pipeline (read+join+aggregate+write) in {time.monotonic() - t1:.1f}s")
    log(1, f"total {time.monotonic() - t0:.1f}s -> {args.output}")
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
