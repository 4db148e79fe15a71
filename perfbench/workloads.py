"""The benchmark workloads.

A workload owns its input sizes, its generator, the program calls that
make up one iteration, and the checks of their outputs. ``run`` is the
untraced iteration; ``run_traced`` does the same work under spans, plus
the prefix materialisations that split it into layers.

Spark is lazy, so a layer's time is measured by running each prefix of
the pipeline to the ``noop`` sink and taking differences: for the
hypercube, scan alone, scan plus cube, then the full pipeline.
"""

from __future__ import annotations

import hashlib
import os

import checks
import gen
from tracing import duration

PACKAGE = "implementation_of_an_etl_process_spark"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Outcome:
    """Checked result of one iteration: the problems found in each
    operation's output, and the share of the expected answer found."""

    def __init__(self, op_problems: list[list[str]], recall: float):
        self.ops = len(op_problems)
        self.failed = sum(1 for p in op_problems if p)
        self.problems = [msg for p in op_problems for msg in p]
        self.recall = recall


class HypercubeEtl:
    """The paper's query, run the way the CLI runs it with
    ``--reference-format``: CSV dimensions and binary invoices in, the
    ordered five-dimension cube out as one CSV file."""

    name = "hypercube_etl"
    size = {"clients": 50_000, "contracts": 80_000, "invoices": 288_000}
    generate = staticmethod(gen.star_schema)
    nominal_s = 3.7

    def __init__(self, data_dir: str, work_dir: str, seed: int, cpus: int):
        self.data = data_dir
        self.out = os.path.join(work_dir, "hypercube.csv")
        self.cpus = cpus
        self.rows = self.size["invoices"]
        # the CLI's -s: one split per core, so the scan and the
        # aggregates run in parallel rather than in a single task
        records = -(-self.rows // cpus)
        self.split_bytes = records * gen.INVOICE_DTYPE.itemsize
        self._oracle = None
        self._verified: set[str] = set()

    def prepare(self) -> None:
        self._oracle = checks.cube_oracle(self.data)

    def session(self, get_spark, extra_conf=None):
        # the CLI's session shape: local[threads], 4x threads partitions
        return get_spark(
            "perfbench-hypercube-etl",
            master=f"local[{self.cpus}]",
            shuffle_partitions=4 * self.cpus,
            extra_conf=extra_conf,
        )

    def _inputs(self, spark):
        from implementation_of_an_etl_process_spark.sources import (
            read_clients,
            read_contracts,
            read_invoices_bin,
        )

        return (
            read_clients(spark, os.path.join(self.data, "clients.csv")),
            read_contracts(spark, os.path.join(self.data, "contracts.csv")),
            read_invoices_bin(
                spark,
                os.path.join(self.data, "invoices.bin"),
                split_bytes=self.split_bytes,
                keep_id=False,
            ),
        )

    def run(self, spark) -> str:
        from implementation_of_an_etl_process_spark.operators import (
            reference_hypercube,
        )
        from implementation_of_an_etl_process_spark.sources.sinks import (
            write_reference_csv,
        )

        return write_reference_csv(
            reference_hypercube(*self._inputs(spark)), self.out
        )

    def run_traced(self, spark, tracer):
        from implementation_of_an_etl_process_spark.operators import (
            reference_hypercube,
        )

        with tracer.span("iteration"):
            with tracer.span("sources.csv") as csv:
                clients, contracts, _ = self._inputs(spark)
                _noop(clients)
                _noop(contracts)
            with tracer.span("sources.binary") as binary:
                _noop(self._inputs(spark)[2])
            with tracer.span("prefix.cube") as cube:
                _noop(reference_hypercube(*self._inputs(spark)))
            with tracer.span("pipeline") as full:
                out = self.run(spark)
        with open(out, "rb") as fh:
            groups = sum(1 for _ in fh) - 1
        scan = duration(csv) + duration(binary)
        layers = {
            "sources.csv.scan_s": duration(csv),
            "sources.binary.scan_s": duration(binary),
            "sources.binary.rows_per_s": self.rows / duration(binary),
            "operators.hypercube.self_s": duration(cube) - scan,
            "operators.hypercube.groups_out": groups,
            "sources.sinks.self_s": duration(full) - duration(cube),
            "sources.sinks.bytes_out": os.path.getsize(out),
        }
        return out, layers, [full["id"]], duration(full)

    def check(self, out: str) -> Outcome:
        with open(out, "rb") as fh:
            digest = hashlib.sha256(fh.read()).hexdigest()
        if digest in self._verified:
            return Outcome([[]], 1.0)
        problems = checks.check_cube(checks.read_reference_csv(out), self._oracle)
        if not problems:
            self._verified.add(digest)
        return Outcome([problems], 0.0 if problems else 1.0)


class DocDedup:
    """Exact-duplicate groups, then MinHash-LSH near-duplicate pairs,
    over a generated corpus with planted duplicates."""

    name = "doc_dedup"
    size = {"docs": 5_000}
    generate = staticmethod(gen.doc_corpus)
    nominal_s = 3.2
    recall_floor = 0.99

    def __init__(self, data_dir: str, work_dir: str, seed: int, cpus: int):
        self.data = data_dir
        self.seed = seed
        self.rows = self.size["docs"]
        self._key = None

    def prepare(self) -> None:
        self._key = checks.DedupKey(self.seed, self.rows)

    def session(self, get_spark, extra_conf=None):
        return get_spark("perfbench-doc-dedup", extra_conf=extra_conf)

    def _docs(self, spark):
        from implementation_of_an_etl_process_spark.sources.parquet import (
            read_table,
        )

        return read_table(spark, self.data, "docs")

    def _exact(self, spark) -> list[tuple[int, int]]:
        from implementation_of_an_etl_process_spark.operators.dedup import (
            exact_dedup_groups,
        )

        groups = exact_dedup_groups(self._docs(spark), ["text"], "doc_id")
        return [
            (r.rep_id, r.n_dups)
            for r in groups.filter("n_dups > 1").select("rep_id", "n_dups").collect()
        ]

    def _near(self, spark) -> list[tuple[int, int, float]]:
        from implementation_of_an_etl_process_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        pairs = minhash_lsh_pairs(self._docs(spark), "doc_id", "text")
        return [(r.id_a, r.id_b, r.jaccard) for r in pairs.collect()]

    def run(self, spark):
        return self._exact(spark), self._near(spark)

    def run_traced(self, spark, tracer):
        with tracer.span("iteration"):
            with tracer.span("sources.parquet") as scan:
                _noop(self._docs(spark))
            with tracer.span("operators.dedup.exact") as exact:
                groups = self._exact(spark)
            with tracer.span("operators.dedup.minhash") as near:
                pairs = self._near(spark)
        layers = {
            "sources.parquet.scan_s": duration(scan),
            "operators.dedup.exact_s": duration(exact),
            "operators.dedup.minhash_s": duration(near),
            "operators.dedup.pairs_out": len(pairs),
        }
        wall = duration(exact) + duration(near)
        return (groups, pairs), layers, [exact["id"], near["id"]], wall

    def check(self, out) -> Outcome:
        groups, pairs = out
        problems = checks.check_exact_groups(self._key, groups)
        near_problems, recall = checks.check_near_pairs(
            self._key, pairs, self.recall_floor
        )
        return Outcome([problems, near_problems], recall)


WORKLOADS = {w.name: w for w in (HypercubeEtl, DocDedup)}
