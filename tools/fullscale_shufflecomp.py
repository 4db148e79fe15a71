#!/usr/bin/env python
"""Full-scale A/B: shuffle compression ON (lz4, the default) vs OFF.

BASELINE_NOTES' round-3 codec experiment showed the level-1 shuffle is
CPU-bound on lz4 (lz4 21.4s vs zstd 23.8s on the count-only cube); the
one codec point never measured is NO compression. With
``spark.local.dir`` on tmpfs (/dev/shm) the uncompressed shuffle never
touches a real disk, so skipping the compress/decompress CPU on ~1.2 GB
of shuffle data is a plausible win — and on a real cluster the same
trade (compression off for fast local NVMe + fast network) is a known
tuning axis, so the measurement transfers.

``spark.shuffle.compress`` is a core SparkConf setting (not
runtime-settable), so the A/B interleaves at PROCESS level: each leg is
a fresh JVM that runs the end-to-end cube (bin+csv -> cube ->
single-file CSV) ``inner`` times and prints per-run wall times; the
parent alternates legs ABAB and reports per-config minima plus output
md5 equality. JVM startup is excluded (timed window starts after the
session and inputs exist).

Usage: python tools/fullscale_shufflecomp.py [data_dir] [outer] [inner]
Defaults: /tmp/fullscale 2 2.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

DATA = sys.argv[1] if len(sys.argv) > 1 else "/tmp/fullscale"
OUTER = int(sys.argv[2]) if len(sys.argv) > 2 else 2
INNER = int(sys.argv[3]) if len(sys.argv) > 3 else 2

_LEG = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from implementation_of_an_etl_process_spark import get_spark
from implementation_of_an_etl_process_spark.operators import reference_hypercube
from implementation_of_an_etl_process_spark.sources import (
    read_clients, read_contracts, read_invoices_bin, write_csv)

compress = {compress!r}
spark = get_spark(
    "shufflecomp-" + compress, master="local[32]", shuffle_partitions=128,
    extra_conf={{
        "spark.shuffle.compress": compress,
        "spark.shuffle.spill.compress": compress,
    }},
)
data = {data!r}
clients = read_clients(spark, os.path.join(data, "clients.csv"))
contracts = read_contracts(spark, os.path.join(data, "contracts.csv"))
invoices = read_invoices_bin(
    spark, os.path.join(data, "invoices.bin"),
    split_bytes=16 * 1024 * 1024, keep_id=False)
times = []
for i in range({inner}):
    t0 = time.monotonic()
    cube = reference_hypercube(clients, contracts, invoices)
    write_csv(cube, {out!r}, single_file=True)
    times.append(time.monotonic() - t0)
print("LEGRESULT " + json.dumps(times), flush=True)
spark.stop()
"""


def md5(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as fh:
        while chunk := fh.read(1 << 20):
            h.update(chunk)
    return h.hexdigest()


def run_leg(compress: str, out: str) -> list[float]:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = _LEG.format(
        repo=repo, compress=compress, data=DATA, inner=INNER, out=out
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True
    )
    for line in proc.stdout.splitlines():
        if line.startswith("LEGRESULT "):
            return json.loads(line[len("LEGRESULT "):])
    print(proc.stdout[-2000:], file=sys.stderr)
    print(proc.stderr[-2000:], file=sys.stderr)
    raise RuntimeError(f"leg compress={compress} produced no result")


def main() -> None:
    times: dict[str, list[float]] = {"true": [], "false": []}
    outs = {"true": "/tmp/ab_comp_on.csv", "false": "/tmp/ab_comp_off.csv"}
    for r in range(OUTER):
        for compress in ("true", "false"):
            ts = run_leg(compress, outs[compress])
            times[compress].extend(ts)
            print(
                f"outer {r} compress={compress}: "
                f"{[round(t, 1) for t in ts]}",
                flush=True,
            )
    h_on, h_off = md5(outs["true"]), md5(outs["false"])
    print(f"md5 on={h_on} off={h_off} identical={h_on == h_off}")
    for compress, ts in times.items():
        print(
            f"compress={compress}: min={min(ts):.1f}s "
            f"all={[round(t, 1) for t in ts]}"
        )


if __name__ == "__main__":
    main()
