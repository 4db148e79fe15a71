"""Plan shaping helpers.

``spread`` fixes the small-input parallelism trap: a row-expanding or
compute-heavy operator downstream of a small scan inherits the scan's
split count (often 1 task for a sub-128MB file), serializing work that
should fan out. At 100 TB inputs arrive pre-split so this is a no-op;
on small inputs it buys linear speedup for explode/score-heavy stages
(measured 17.5s -> 0.45s for shingle explosion of a single-file scan).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Ceiling for a FORCED broadcast hint, against the leaf-scan (on-disk,
# compressed) size. Deliberately conservative: the in-memory hash
# relation runs several times the parquet bytes, and a forced hint
# overrides AQE — past this size we'd rather let runtime stats decide.
BROADCAST_LIMIT_BYTES = 128 << 20


# A Range leaf under one of these numbers the map's work (splits,
# files), so its 8 bytes per row say nothing of what the map reads.
_PYTHON_MAPS = ("MapInArrow", "MapInPandas")


def leaf_scan_bytes(df: DataFrame) -> int:
    """Sum of Catalyst's size estimates over the plan's LEAF relations.

    For the dimension-enrichment plans this engine broadcasts (FK->PK
    joins + projections/filters), output bytes are bounded by roughly
    the sum of the inputs — while Catalyst's own estimate for a join
    node without CBO stats is the *product* of its children (measured:
    a 3 MB x 300 KB join "estimated" at 859 GB), which would veto every
    broadcast. Leaves (parquet scans) carry real file sizes.

    A ``Range`` that feeds a Python map (``read_invoices_bin``'s split
    numbers) counts as ``spark.sql.defaultSizeInBytes``, the unknown
    size a ``LogicalRDD`` leaf reports.
    """
    plan = df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    total, stack = 0, [(plan, "")]
    while stack:  # (node, its parent's name)
        node, parent = stack.pop()
        kids = node.children()
        n = kids.size()
        if n:
            name = node.nodeName()
            stack.extend((kids.apply(i), name) for i in range(n))
        elif parent in _PYTHON_MAPS and node.nodeName() == "Range":
            total += int(node.conf().defaultSizeInBytes())
        else:
            total += int(node.stats().sizeInBytes())
    return total


def maybe_broadcast(df: DataFrame, limit_bytes: int | None = None) -> DataFrame:
    """Broadcast-hint ``df`` only when its leaf-scan bytes are under the
    limit; otherwise return it unhinted so AQE picks the join strategy
    from runtime sizes (broadcast promotion or SMJ, and skew splitting).

    An unconditional ``F.broadcast`` on a dimension side that grows with
    the data works at test scale and OOMs at 100x — the hint overrides
    every safety net. Size-gating keeps the single-probe plan where it's
    safe and degrades to a shuffle join where it isn't.
    """
    limit = BROADCAST_LIMIT_BYTES if limit_bytes is None else limit_bytes
    try:
        size = leaf_scan_bytes(df)
    except Exception:  # un-introspectable plan: let AQE decide
        return df
    return F.broadcast(df) if size <= limit else df


# Physical operators whose output partitioning Spark learns only by
# running jobs: exchanges (shuffle or broadcast, and AQE's wrapper around
# them), cached relations (filled on first read) and subqueries.
_RUNS_JOBS = re.compile(
    r"^[\s:|+-]*(?:\*\(\d+\) )?"
    r"(?:AdaptiveSparkPlan|InMemoryTableScan|\w*(?:Exchange|Subquery)\w*)\b",
    re.M,
)


def spread(
    df: DataFrame,
    min_partitions: int | None = None,
    by: list | None = None,
) -> DataFrame:
    """Repartition up to the session's default parallelism when the
    input has materially fewer partitions; pass through otherwise (no
    gratuitous shuffle on already-parallel inputs).

    Starts no Spark job: the partition count is read only from plans
    without an exchange, cached relation or subquery (a file scan
    knows its splits from the file listing). Any other plan is
    returned unchanged: reading its count would run it up to that
    operator, which already sets its parallelism.

    ``by``: optional columns to HASH-partition on instead of round-robin.
    Two wins when a (reasonably uniform) key exists (guide §2.4/§2.5):
    a keyless ``repartition(n)`` first pays a local sort of its input
    (``spark.sql.execution.sortBeforeRepartition``, needed so task
    retries reproduce the row-to-partition assignment — hash
    partitioning is deterministic per row and skips it), and when
    ``by`` is a subset of a downstream groupBy's keys the aggregation
    reuses this exchange outright (hash partitioning on a key subset
    satisfies the aggregate's ClusteredDistribution), deleting its own
    Exchange from the plan.

    A frame whose logical root already shuffles (a ``repartition``,
    keyed or not) is returned at once, before any physical planning:
    spreading a spread frame again is a no-op."""
    root = df._jdf.logicalPlan()  # noqa: SLF001
    name = root.nodeName()
    if name == "RepartitionByExpression" or (name == "Repartition" and root.shuffle()):
        return df
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    if _RUNS_JOBS.search(plan):
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= target:
        if by:
            cols = [F.col(c) if isinstance(c, str) else c for c in by]
            return df.repartition(target, *cols)
        return df.repartition(target)
    return df


def local_rows_df(
    spark,
    rows,
    schema,
    *,
    max_literal_rows: int = 1024,
) -> DataFrame:
    """A small driver-side row set as a JVM-only literal relation.

    PySpark's ``createDataFrame(list)`` routes local data through a
    pickled Python RDD spread over ``defaultParallelism`` partitions:
    every downstream use pays a scan stage of 32 Python-worker tasks
    (profiled ~0.5s per use on local[32]), and ``coalesce(1)`` on it is
    pathological (measured 6.4s: the one task pulls every parent
    partition through the Python I/O channel serially). For probe- and
    metadata-sized row sets the right plan is a literal struct array
    inlined over ``range(1)``: one JVM task, no Python workers, and
    the optimizer can constant-fold it. Falls back to plain
    ``createDataFrame`` past ``max_literal_rows`` — literal expression
    trees grow with row count and would bloat planning (guide §7.3).

    ``schema`` is a DDL string (``"term string"``) or a StructType;
    values are coerced with CAST semantics on the literal path — a
    value that cannot cast becomes NULL (or truncates) silently, where
    ``createDataFrame`` would raise a verification error (r14 advice:
    the two paths differ on malformed rows; callers pass well-typed
    driver data, and arity is still checked strictly either way).
    """
    from pyspark.sql import types as T

    st = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    rows = list(rows)
    if not rows or len(rows) > max_literal_rows:
        return spark.createDataFrame(rows, st)
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                # strict: a short row must fail loudly here exactly as
                # createDataFrame would, not silently drop fields
                for v, f in zip(r, st.fields, strict=True)
            ]
        )
        for r in rows
    ]
    return spark.range(1).select(F.inline(F.array(*structs)))


def ordered_emit(df: DataFrame, *cols) -> DataFrame:
    """Terminal total-order emit for a PROVABLY-SMALL final aggregate.

    ``orderBy`` pays a range-partitioning exchange whose boundary
    sampling is an extra job per query; when the sort input is a tiny
    post-aggregate relation, ``coalesce(1).sortWithinPartitions`` emits
    the identical rows in the identical total order with one task and
    no sampling pass (guide §2.4 — r15 interleaved A/B mins at sf0.1:
    hypercube 1.032→0.908s, q1 0.498→0.449, dedup_exact 0.298→0.267;
    row-for-row equality asserted in the A/B).

    Two safety rules:
    - Only use this on sorts whose input is a POST-SHUFFLE aggregate —
      ``coalesce(1)`` merges every pipelined operator up to the previous
      exchange into one task, so a map-only or window pipeline above it
      would serialize real work.
    - Scale: gated on :func:`small_leaf_input` (leaf scans provably
      under the latency ceiling). Past the gate — or when the input is
      un-introspectable — it falls OPEN to plain ``orderBy``, because
      at scale the single reduce task would ingest one partial row per
      (map task × group) however small the final result is.
    """
    if small_leaf_input(df):
        return df.coalesce(1).sortWithinPartitions(*cols)
    return df.orderBy(*cols)


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string (for tests asserting plan shape)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


#: Leaf-scan ceiling under which an operator may run its internal
#: materializations on a latency session (``session.latency_session``:
#: a private clone of the caller's session with AQE off): below this, a
#: multi-join pipeline's cost is dominated by AQE's per-shuffle-stage
#: job scheduling (~100ms each on local[32] — measured 27 vs 12 jobs,
#: 3.1s vs 1.9s, for the minhash hot-bucket guard at sf0.1), not by
#: data. At scale AQE's runtime re-planning (skew splits, broadcast
#: promotion, partition coalescing) is worth far more than the fixed
#: scheduling cost, so the gate fails OPEN: un-introspectable plans
#: and anything past the limit keep AQE.
LATENCY_MODE_LIMIT_BYTES = 64 << 20


def small_leaf_input(df: DataFrame) -> bool:
    """True iff the plan's leaf relations are provably under the
    latency-mode ceiling (False on estimation failure — fail open to
    the AQE path)."""
    try:
        return leaf_scan_bytes(df) <= LATENCY_MODE_LIMIT_BYTES
    except Exception:
        return False


#: Shuffle partition count of a latency session. It only ever runs
#: PROVABLY-small materializations (leaf scans under
#: LATENCY_MODE_LIMIT_BYTES), where 32-partition exchanges are pure
#: task-scheduling overhead with AQE coalescing off — profiled: the
#: minhash latency pipeline ran 26 stages × 32 tasks = 775 tasks/query
#: at sf0.1 with every task sub-5ms. 8 keeps multi-core parallelism for
#: the real work while cutting the task count 4x. At cluster
#: scale the latency session never engages (the gate fails open), so this
#: constant cannot leak into big-data plans.
LATENCY_MODE_SHUFFLE_PARTITIONS = 8
