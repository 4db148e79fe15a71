"""Plan-quality tests: the physical plans the engine should produce —
pushdown, pruning, broadcast joins, no stray shuffles. Catching a plan
regression here is catching a 100x cost at 100 TB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark.plans import explain_str
from implementation_of_an_etl_process_spark.queries import relational as R
from tests.conftest import SF_ORACLE


def test_hypercube_plan_shape(spark):
    plan = explain_str(R.hypercube(spark, SF_ORACLE))
    # dims broadcast, fact streamed (tree section lists "... Inner ...")
    assert plan.count("BroadcastHashJoin Inner") == 3
    assert "SortMergeJoin" not in plan
    # no Expand: the two-level distinct rewrite is in effect
    assert "Expand" not in plan


def test_maybe_broadcast_degrades_oversized_dim(spark):
    """A dimension past the size gate must NOT carry a forced broadcast
    hint: the join degrades to an AQE-planned shuffle join (SMJ here)
    instead of overriding the safety nets — the behavior that matters
    when a 'small' dim has grown 100x."""
    from implementation_of_an_etl_process_spark.plans import maybe_broadcast

    orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    customer = spark.read.parquet(f"{SF_ORACLE}/customer.parquet")
    # disable auto-broadcast so only the HINT decides (models the
    # at-scale planner seeing a genuinely big dim)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = maybe_broadcast(customer)  # under the default 128 MB gate
        plan = explain_str(
            orders.join(small, orders.o_custkey == small.c_custkey)
        )
        assert "BroadcastHashJoin" in plan

        big = maybe_broadcast(customer, limit_bytes=1)  # modeled "oversized"
        plan = explain_str(orders.join(big, orders.o_custkey == big.c_custkey))
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_embedding_pairs_battery_has_no_cross_join(spark):
    """The exercised near-dup-pairs plan must be the LSH bucket join,
    never the O(n^2) cartesian — the all-pairs form is verification-only."""
    from implementation_of_an_etl_process_spark.queries import similarity as Q

    plan = explain_str(Q.embedding_cosine_pairs(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q1_scan_pruning_and_pushdown(spark):
    plan = explain_str(R.q1_pricing_summary(spark, SF_ORACLE))
    # the shipdate filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # the needed columns are read, plus l_orderkey — the hash-spread
    # key (r15): reading the extra int64 column beats round-robin's
    # sort-before-repartition (interleaved A/B min 1.108 -> 0.958s at
    # sf0.1); everything else stays pruned
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    for col in [
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_orderkey",
    ]:
        assert col in read_schema
    assert "l_partkey" not in read_schema  # pruning still effective
    # the spread exchange is HASH (deterministic, no local sort), never
    # round-robin
    assert "RoundRobinPartitioning" not in plan


def test_semi_join_plans_as_semi(spark):
    plan = explain_str(R.semi_join_customers(spark, SF_ORACLE))
    assert "LeftSemi" in plan


def test_q21_correlated_stack_plans_as_hash_semi_anti(spark):
    """q21's EXISTS/NOT-EXISTS correlation (r15 shape): both predicates
    are per-order min/max AGGREGATES probed via equi semi-joins — the
    exchanges carry one narrow partial row per order instead of full
    lineitem/late rows with residual inequality filters (guide §2.3).
    Pin: two semi joins, the min/max aggregate pair present, and never
    a nested-loop/cartesian for the correlation."""
    from implementation_of_an_etl_process_spark.queries import tpch as T

    plan = explain_str(T.q21_waiting_orders(spark, SF_ORACLE))
    assert plan.count("LeftSemi") >= 2
    assert "min(l_suppkey" in plan and "max(l_suppkey" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_whole_stage_codegen_covers_aggregate(spark):
    # AQE hides codegen stars until execution; disable it to inspect the
    # statically-planned codegen spans ("*(n)" markers in simple mode)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = explain_str(R.q1_pricing_summary(spark, SF_ORACLE), mode="simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "*(" in plan, plan
    # every HashAggregate is inside a whole-stage-codegen span (the
    # "*(n)" marker) — r14: the partial agg now sits above the
    # unsplittable-input spread() repartition rather than fused to the
    # scan, but it must still be codegen'd, never interpreted
    import re

    # no line anchor (r14 advice: ':'-spined branch lines like
    # ':  +- HashAggregate' escaped the old '^\s*\+?-?' prefix) — match
    # every HashAggregate anywhere in the plan and require its codegen
    # star; the word boundary keeps ObjectHashAggregate (never
    # codegen'd) out of the match
    aggs = re.findall(r"(\*\(\d+\) )?\bHashAggregate", plan)
    assert aggs and all(aggs), plan


def test_events_scan_prunes_props(spark):
    plan = explain_str(R.events_sessionize(spark, SF_ORACLE))
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "props" not in read_schema  # sessionize never reads the JSON blob
    assert "value" not in read_schema


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    """Runtime row-level filtering: joining the fact table to a
    selectively-filtered build side should inject a bloom filter on the
    fact scan (bloom_filter_agg on the build side, might_contain above
    the probe scan) — at 100 TB this is the difference between
    shuffling the whole fact table and shuffling only rows that can
    match. Thresholds are lowered for the sf0.01 fixture; the mechanism
    (not the threshold tuning) is what must not regress."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = explain_str(j)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join: a hot key that dwarfs every other partition must
    be split at runtime (OptimizeSkewedJoin) instead of serializing the
    stage on one straggler task — checked on the final adaptive plan
    after execution (skew handling is a runtime decision; the
    pre-execution plan never shows it).

    Two traps this test deliberately avoids, because the skew detector
    reads COMPRESSED shuffle-block sizes from MapStatus: the hot rows
    carry an incompressible varied payload (identical repeated rows
    compress ~100x and never look skewed), and that payload must
    survive column pruning (aggregate it downstream), else the shuffle
    carries only the constant join key. Thresholds lowered for test
    scale; the mechanism is what must not regress."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        hot = spark.range(1_000_000).select(
            F.lit(1).cast("long").alias("l_orderkey"),
            (F.xxhash64("id") % 1_000_000 / 7.0).alias("l_quantity"),
        )
        orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet").select(
            "o_orderkey", "o_orderstatus"
        )
        fact = li.unionAll(hot)
        g = (
            fact.join(orders, fact.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.sum("l_quantity").alias("q"))
        )
        g.collect()  # the skew decision happens during execution
        plan = g._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:1500]
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_reference_cube_plan_shape(spark, ref_sample):
    """The exact reference cube keeps its three-level plan: 2 broadcast
    map joins, no SMJ and no Expand (no COUNT DISTINCT anywhere), one
    hash exchange per aggregation level — on (contract_id, time), then
    (client_id, nature, time), then the five dims — and a single range
    exchange for the final sort. The sample invoices may arrive as one
    partition (exchanges would be elided), so repartition(4) models the
    at-scale multi-partition input the exchange requirements come
    from."""
    import re

    from implementation_of_an_etl_process_spark.operators import (
        reference_hypercube,
    )
    from tests.test_hypercube_golden import read_sample

    clients, contracts, invoices = read_sample(spark, ref_sample)
    plan = explain_str(
        reference_hypercube(clients, contracts, invoices.repartition(4))
    )
    assert plan.count("BroadcastHashJoin Inner") == 2
    assert "SortMergeJoin" not in plan
    assert "Expand" not in plan
    keys = [
        re.findall(r"(\w+)#\d+", args)
        for args in re.findall(r"Arguments: hashpartitioning\((.*), \d+\)", plan)
    ]
    assert keys == [
        ["contract_id", "time"],
        ["client_id", "nature", "time"],
        ["geo", "type", "misc", "nature", "time"],
    ], keys
    assert plan.count("rangepartitioning") == 1


def test_duplicate_spans_plan_candidate_scoped(spark):
    """Substring-dedup shape: the reduced duplicate-hash set joins the
    window probe as a (broadcast) semi join — never a cartesian; the
    interval merge shuffles once on the doc key."""
    from implementation_of_an_etl_process_spark.operators.pretrain import (
        duplicate_span_stats,
    )
    from implementation_of_an_etl_process_spark.queries.relational import _t

    plan = explain_str(
        duplicate_span_stats(_t(spark, SF_ORACLE, "documents"), k=8)
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "LeftSemi" in plan, plan


def test_materialize_mixture_two_scans_no_bnlj(spark):
    """Mixture-materialization shape: the per-source rate table derives
    its global total from a window over the already-aggregated
    source-cardinality rows, so the corpus is scanned exactly twice
    (aggregate pass + per-doc copy pass); rates broadcast back; no
    nested-loop or cartesian join anywhere."""
    from implementation_of_an_etl_process_spark.operators.pipeline import (
        materialize_mixture,
    )
    from implementation_of_an_etl_process_spark.queries.relational import _t

    plan = explain_str(
        materialize_mixture(
            _t(spark, SF_ORACLE, "documents"),
            "source",
            "text",
            token_budget=300_000,
        )
    )
    import re

    # formatted explain lists each node in the tree AND a detail
    # section — count the numbered detail entries
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_latency_session_is_a_scoped_clone(spark):
    """The small-input session is a clone: AQE off and the latency
    shuffle partitions, the caller's other confs copied (time zone),
    the caller's own settings untouched, and a frame rebound to the
    caller plans under the caller's settings again."""
    import re

    from implementation_of_an_etl_process_spark.plans.shape import (
        LATENCY_MODE_SHUFFLE_PARTITIONS,
    )
    from implementation_of_an_etl_process_spark.session import (
        latency_session,
        rebind,
    )

    tz = "spark.sql.session.timeZone"
    before = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions", tz)
    }
    spark.conf.set(tz, "America/Los_Angeles")
    try:
        clone = latency_session(spark)
    finally:
        spark.conf.set(tz, before[tz])
    assert clone.conf.get("spark.sql.adaptive.enabled") == "false"
    assert clone.conf.get("spark.sql.shuffle.partitions") == str(
        LATENCY_MODE_SHUFFLE_PARTITIONS
    )
    assert clone.conf.get(tz) == "America/Los_Angeles"
    assert {k: spark.conf.get(k) for k in before} == before
    assert clone.sparkContext is spark.sparkContext

    agg = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    on_clone = rebind(agg, clone)
    assert "AdaptiveSparkPlan" not in explain_str(on_clone)
    assert re.search(
        rf"hashpartitioning\(\w+#\d+L?, {LATENCY_MODE_SHUFFLE_PARTITIONS}\)",
        explain_str(on_clone),
    )
    back = rebind(on_clone, spark)
    assert "AdaptiveSparkPlan" in explain_str(back)
    assert sorted(back.collect()) == sorted(agg.collect())


def test_spread_starts_no_job(spark, tmp_path):
    """spread() reads partition counts without running the plan: over
    a persisted, shuffled relation (AQE on) it starts no Spark job,
    and a single-file parquet scan is still spread to the default
    parallelism."""
    from implementation_of_an_etl_process_spark.plans import spread

    sc = spark.sparkContext
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    shuffled = (
        spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().persist()
    )
    group = "test_spread_starts_no_job"
    sc.setJobGroup(group, "spread over a persisted aggregate")
    try:
        out = spread(shuffled.select("k", "count"))
    finally:
        sc._jsc.clearJobGroup()  # noqa: SLF001
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        shuffled.unpersist()
    assert jobs == []
    assert out.count() == 7

    spark.range(50).coalesce(1).write.parquet(str(tmp_path / "one"))
    scan = spark.read.parquet(str(tmp_path / "one"))
    assert scan.rdd.getNumPartitions() == 1
    assert spread(scan).rdd.getNumPartitions() == sc.defaultParallelism


def test_spread_of_a_spread_frame_plans_nothing(spark, py4j_commands):
    """A frame whose logical root already repartitions comes back as
    is, before any physical planning; a coalesced frame (a repartition
    without a shuffle) is still spread."""
    from implementation_of_an_etl_process_spark.plans import spread

    narrow = spark.range(100).coalesce(1)
    once = spread(narrow, min_partitions=4)
    assert once.rdd.getNumPartitions() == 4
    keyed = spread(narrow, min_partitions=4, by=["id"])
    assert keyed.rdd.getNumPartitions() == 4
    del py4j_commands[:]
    assert spread(once) is once
    assert spread(keyed, by=["id"]) is keyed
    assert py4j_commands
    assert not any("\nexecutedPlan\n" in c for c in py4j_commands)


def test_minhash_latency_gate_and_conf_restoration(spark):
    """The minhash guard's latency path (small PROVEN input -> AQE off
    for internal materializations) must leave the session conf exactly
    as it found it, and small_leaf_input must fail OPEN on
    un-introspectable plans (RDD-backed frames keep the AQE path)."""
    from implementation_of_an_etl_process_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from implementation_of_an_etl_process_spark.plans import small_leaf_input
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert small_leaf_input(docs)  # 64 KB parquet: provably small
    rdd_backed = spark.createDataFrame(
        docs.limit(5).rdd, docs.schema
    )
    # RDD-backed leaf: Catalyst reports the unknown-size sentinel, so
    # the gate fails open (keeps AQE)
    assert not small_leaf_input(rdd_backed)
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    n = minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.8).count()
    assert n >= 0
    assert spark.conf.get(key) == before


def test_ivfpq_probe_is_partition_pruning(spark, tmp_path):
    """The 100 TB mechanism behind ivfpq_topk stage 1: with the index
    PERSISTED partitioned by ``cell``, the probed-cell ``isin`` filter
    must reach the scan as a PartitionFilter (directory pruning), not a
    post-scan Filter — so the scan touches n_probe/n_cells of the index
    regardless of corpus size. Asserts the filter's placement in the
    physical plan and that the pruned read lists strictly fewer
    partitions than exist."""
    from implementation_of_an_etl_process_spark.operators import similarity as S
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = S.train_ivf_centroids(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        n_cells=16, n_train=4096,
    )
    books = S.train_pq_codebooks_distributed(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        m=16, n_codes=64, dim=64, centroids=cents,
    )
    idx_path = str(tmp_path / "ivfpq_idx")
    S.encode_ivfpq(
        emb, books, cents, corpus_id="vec_id", corpus_vec="embedding"
    ).write.partitionBy("cell").parquet(idx_path)
    index = spark.read.parquet(idx_path)
    n_cells_on_disk = index.select("cell").distinct().count()

    q = emb.filter(F.col("vec_id") < 3)
    # pin_shortlist=False keeps the probe as ONE lazy plan so the scan's
    # PartitionFilters are introspectable here; the default (pinned)
    # path executes the identical subtree eagerly (r14: the pin stops
    # the ADC stage running twice via the broadcast cid side) and its
    # VALUES are pinned equal to this path below.
    out = S.ivfpq_topk(
        q, emb, index, books, cents,
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding",
        k=5, n_probe=4, shortlist=50, pin_shortlist=False,
    )
    plan = explain_str(out)
    # the probe filter must be IN the scan's PartitionFilters clause
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*cell[^\]]*)\]", plan)
    assert m, f"no cell PartitionFilters in plan:\n{plan[:2000]}"
    assert "IN" in m.group(1) or "INSET" in m.group(1).upper(), m.group(1)
    # and with 3 queries x 4 probes the probed set is < cells on disk,
    # so pruning is real, not a full-directory pass-through
    probed = {int(v) for v in re.findall(r"\d+", m.group(1).split("IN")[-1])}
    assert 0 < len(probed) < n_cells_on_disk
    assert out.count() == 15  # 3 queries x k
    # the default (pinned-shortlist) path must return the same rows
    pinned = S.ivfpq_topk(
        q, emb, index, books, cents,
        query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding",
        k=5, n_probe=4, shortlist=50,
    )
    assert sorted(map(tuple, pinned.collect())) == sorted(
        map(tuple, out.collect())
    )


def test_per_group_sample_rank_is_map_side_limited(spark):
    """weighted_sample_per_group's scale story: the rank-then-filter
    plan must carry a WindowGroupLimit BELOW the group-key Exchange —
    every map task sorts ITS OWN partition and ships only its local
    top-k per group, so the heavy sort parallelism follows input
    partitions, not group count (measured: explicit salting is
    redundant against this rewrite, BASELINE_NOTES r10). If an upgrade
    ever drops the rewrite, few-huge-groups sampling silently becomes
    group-count-bounded — this test makes that loud."""
    from implementation_of_an_etl_process_spark.operators.pipeline import (
        weighted_sample_per_group,
    )
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = weighted_sample_per_group(docs, "doc_id", "n_chars", "lang", 10)
    plan = explain_str(out)
    tree = plan.split("\n\n")[0]  # the numbered tree section
    assert tree.count("WindowGroupLimit") >= 2, tree
    below_exchange = tree[tree.rindex("Exchange"):]
    assert "WindowGroupLimit" in below_exchange, tree


def test_multi_phrase_plan_pruned_no_expand_map_side_topk(spark, tmp_path):
    """The 100 TB mechanisms behind multi_phrase_query_index, pinned in
    the physical plan: (a) ONE positions scan for all phrases with the
    union of the phrases' term buckets as a PartitionFilter (directory
    pruning); (b) the count(distinct slot) coverage check plans as a
    two-level aggregate with NO Expand; (c) the per-phrase top-k plans
    as a WindowGroupLimit below the final exchange (map-side rank
    pruning, not a full sort of the matches)."""
    import re

    from implementation_of_an_etl_process_spark.operators import (
        textindex as TI,
    )
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    path = str(tmp_path / "idx")
    TI.write_text_index(docs, path, n_buckets=16, store_positions=True)
    out = TI.multi_phrase_query_index(
        spark, path, ["value table", "table table"], k=10
    )
    plan = explain_str(out)
    m = re.search(r"PartitionFilters: \[([^\]]*bucket[^\]]*)\]", plan)
    assert m, f"no bucket PartitionFilters in plan:\n{plan[:2000]}"
    assert "Expand" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan, plan[:2000]
    # intersect-before-positions: EXACTLY two scans of the positions
    # relation — the narrow candidate pass (doc_id+term only, the
    # array column pruned away) and the explode pass for candidate
    # docs — and EVERY scan is bucket-pruned
    scans = re.findall(
        r"Location: InMemoryFileIndex \[[^\]]*positions", plan
    )
    assert len(scans) == 2, f"expected 2 positions scans: {len(scans)}"
    schemas = [
        s
        for s in re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
        if "doc_id" in s
    ]
    assert any("positions" not in s for s in schemas), (
        f"candidate pass must not read the array column: {schemas}"
    )
    assert plan.count("PartitionFilters: [bucket") >= 2, plan[:2000]
