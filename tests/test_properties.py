"""Property-based tests (SURVEY.md §5.3): partitioning invariance of
deterministic aggregation, dedup invariance under duplication, and the
rolling hash against a pure-Python reference."""

from __future__ import annotations

import random

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark.functions.text_exprs import (
    HASH_BASE,
    HASH_MOD,
    rolling_hash,
)
from implementation_of_an_etl_process_spark.sources import indexdir

_slow = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    values=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=200,
    ),
    n_parts=st.sampled_from([1, 3, 17]),
)
@_slow
def test_decimal_sum_partitioning_invariant(spark, values, n_parts):
    """The decimal-accumulate-to-double sum must not depend on how rows
    are partitioned (the property plain double sums lack)."""
    df = spark.createDataFrame([(v,) for v in values], "v double")
    out = (
        df.repartition(n_parts)
        .agg(F.sum(F.col("v").cast("decimal(24,6)")).cast("double").alias("s"))
        .first()["s"]
    )
    single = (
        df.coalesce(1)
        .agg(F.sum(F.col("v").cast("decimal(24,6)")).cast("double").alias("s"))
        .first()["s"]
    )
    assert out == single  # bitwise, not approx


@given(text=st.text(alphabet=st.characters(codec="ascii"), max_size=300))
@_slow
def test_rolling_hash_matches_python_reference(spark, text):
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(rolling_hash("t").alias("h")).first()["h"]
    expected = 0
    for ch in text:
        expected = (expected * HASH_BASE + ord(ch)) % HASH_MOD
    assert got == expected


@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_matches_python_reference(spark, seed):
    """asof_join vs a brute-force per-row reference on random data,
    INCLUDING NULL payload values on the latest right row — the payload
    must come atomically from ONE right row (a NULL on the winner must
    not be patched with an older row's value)."""
    from implementation_of_an_etl_process_spark.operators.temporal import (
        asof_join,
    )

    rng = random.Random(seed)
    keys = [1, 2, 3]
    right = [
        (
            rng.choice(keys),
            rng.randint(0, 50),
            i,  # unique tiebreak
            rng.choice([None, float(rng.randint(1, 9))]),
            rng.choice([None, rng.randint(100, 999)]),
        )
        for i in range(rng.randint(1, 25))
    ]
    left = [
        (rng.choice(keys), rng.randint(0, 50), 1000 + i)
        for i in range(rng.randint(1, 25))
    ]
    ldf = spark.createDataFrame(left, "k int, ts int, lid int")
    rdf = spark.createDataFrame(right, "k int, rts int, rid int, v double, w int")
    got = {
        r["lid"]: (r["v"], r["w"])
        for r in asof_join(
            ldf,
            rdf,
            by="k",
            left_ts="ts",
            right_ts="rts",
            payload_cols=["v", "w"],
            tiebreak="rid",
        ).collect()
    }
    for k, ts, lid in left:
        cands = [r for r in right if r[0] == k and r[1] <= ts]
        if cands:
            win = max(cands, key=lambda r: (r[1], r[2]))
            assert got[lid] == (win[3], win[4]), (seed, lid)
        else:
            assert got[lid] == (None, None)


@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_salted_group_sum_equals_unsalted(spark, seed):
    """Salting changes partitioning only — results must be identical,
    including on fully-duplicate rows (the deterministic row-content
    salt maps them to one salt; counts must still be exact)."""
    from implementation_of_an_etl_process_spark.operators.skew import (
        salted_group_sum,
    )

    rng = random.Random(seed)
    rows = [
        (rng.randint(1, 3), rng.randint(0, 5)) for _ in range(rng.randint(1, 60))
    ] * 2  # force duplicate rows
    df = spark.createDataFrame(rows, "k int, x int")
    got = {
        r.k: (r.x, r.n)
        for r in salted_group_sum(
            df, ["k"], ["x"], n_salts=4, count_alias="n"
        ).collect()
    }
    exp = {
        r.k: (r.s, r.n)
        for r in df.groupBy("k")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == exp


@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_distinct_counts_duplication_invariant(spark, seed):
    """Duplicating fact rows must not change COUNT DISTINCT (the
    reference dedupes by id in its per-group sets, ETL.java:170,242)."""
    rng = random.Random(seed)
    rows = [
        (rng.randint(1, 5), rng.randint(1, 30)) for _ in range(rng.randint(1, 80))
    ]
    df = spark.createDataFrame(rows, "g int, x int")
    doubled = df.union(df)
    base = {
        r.g: r.d
        for r in df.groupBy("g").agg(F.countDistinct("x").alias("d")).collect()
    }
    dup = {
        r.g: r.d
        for r in doubled.groupBy("g")
        .agg(F.countDistinct("x").alias("d"))
        .collect()
    }
    assert base == dup


@given(
    corpus=st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta eps zeta".split()),
            min_size=3,
            max_size=12,
        ),
        min_size=2,
        max_size=8,
    ),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_tfidf_pair_invariants(spark, corpus):
    """Top-k tf-idf pairs over random small corpora: cosine in (0, 1],
    ordered ids, no NaN, pair count bounded by C(n, 2), and identical
    texts (when both survive the df band) score exactly 1.0."""
    from implementation_of_an_etl_process_spark.operators.tfidf import (
        COS2_SCALE,
        tfidf_topk_pairs,
    )

    rows = [(i, " ".join(words)) for i, words in enumerate(corpus)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tfidf_topk_pairs(df, k=100, min_df=2, max_df_frac=1.0).collect()
    n = len(rows)
    assert len(out) <= n * (n - 1) // 2
    texts = dict(rows)
    for r in out:
        assert r["doc1"] < r["doc2"]
        c = r["cosine"]
        assert c == c, "NaN cosine leaked"
        assert 0.0 < c <= 1.0 + 1e-9
        assert r["dot"] > 0
        # the integer ranking key: Cauchy-Schwarz bounds it by
        # COS2_SCALE up to denominator-truncation inflation (~2e-6 rel)
        assert 0 < r["cos2_q"] <= COS2_SCALE + COS2_SCALE // 100_000
        if texts[r["doc1"]].split() == texts[r["doc2"]].split():
            # identical integer vectors -> exact COS2_SCALE
            assert r["cos2_q"] == COS2_SCALE


@given(
    hist_texts=st.lists(
        st.lists(
            st.sampled_from("aa bb cc dd ee ff gg hh".split()),
            min_size=3,
            max_size=10,
        ),
        min_size=1,
        max_size=4,
    ),
    new_texts=st.lists(
        st.lists(
            st.sampled_from("aa bb cc dd ee ff gg hh".split()),
            min_size=3,
            max_size=10,
        ),
        min_size=1,
        max_size=4,
    ),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_incremental_dedup_partitions_batch(spark, hist_texts, new_texts):
    """Every new doc gets exactly one verdict; an exact copy of any
    history doc is never 'novel'; verdicts are a partition of the
    batch."""
    from implementation_of_an_etl_process_spark.operators.dedup import (
        incremental_dedup,
    )

    hist = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in enumerate(hist_texts)],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(100 + i, " ".join(w)) for i, w in enumerate(new_texts)],
        ["doc_id", "text"],
    )
    out = incremental_dedup(hist, new, "doc_id", "text").collect()
    assert sorted(r["doc_id"] for r in out) == sorted(
        100 + i for i in range(len(new_texts))
    )
    hist_set = {" ".join(w) for w in hist_texts}
    for r in out:
        assert r["verdict"] in ("exact", "near", "novel")
        if " ".join(new_texts[r["doc_id"] - 100]) in hist_set:
            assert r["verdict"] == "exact"


@given(
    seed=st.integers(min_value=0, max_value=2**31),
    budget=st.sampled_from([10, 200, 5_000]),
)
@_slow
def test_materialize_mixture_invariants(spark, seed, budget):
    """Mixture-materialization invariants on random corpora: every
    emitted copy respects its source's integer repeat rate (epochs are
    exactly 0..n_copies-1 per doc), total materialized token mass never
    exceeds the budget by more than one doc per source (floor
    arithmetic under-fills, never over-fills past the fractional-doc
    granularity), and the copy list is a pure function of the input
    (repartitioning invariance is covered by the unit test; here the
    rerun must be identical)."""
    from implementation_of_an_etl_process_spark.operators import pipeline as P

    rng = random.Random(seed)
    n_sources = rng.randint(1, 4)
    rows = []
    did = 0
    for s in range(n_sources):
        for _ in range(rng.randint(1, 8)):
            n_words = rng.randint(1, 12)
            rows.append(
                (did, f"s{s}", " ".join(f"t{rng.randint(0, 30)}" for _ in range(n_words)))
            )
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    out = P.materialize_mixture(
        df, "source", "text", token_budget=budget
    ).collect()
    # epochs per doc are a dense 0..n-1 range
    per_doc: dict[int, list[int]] = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    for doc_id, epochs in per_doc.items():
        assert sorted(epochs) == list(range(len(epochs))), (doc_id, epochs)
    # per-source materialized mass <= target + one max-doc of slack
    # (hash sampling rounds at doc granularity)
    n_tok = {r[0]: len(r[2].split()) for r in rows}
    src_tokens: dict[str, int] = {}
    for r in rows:
        src_tokens[r[1]] = src_tokens.get(r[1], 0) + n_tok[r[0]]
    pw = {s: round(n**0.7 * 1_000) for s, n in src_tokens.items()}
    tot_pw = sum(pw.values())
    mass: dict[str, int] = {}
    for r in out:
        mass[r["source"]] = mass.get(r["source"], 0) + r["n_tokens"]
    for s, m in mass.items():
        target = pw[s] * budget // tot_pw
        # n_copies per doc <= r//B + 1 and (r//B)*src_tokens <= target,
        # so the mass can overshoot the target by at most one full pass
        # over the source (the fractional epoch at doc granularity)
        assert m <= target + src_tokens[s], (s, m, target, src_tokens[s])
    # determinism: rerun equals first run
    out2 = P.materialize_mixture(
        df, "source", "text", token_budget=budget
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(0, 10_000))
def test_weighted_sample_nesting_property(spark, seed):
    """A-ES samples NEST: the top-k1 sample is a subset of the top-k2
    sample for k1 < k2 (both rank by the same deterministic priority) —
    the property that lets a pipeline cheaply grow a sample without
    resampling."""
    import random

    from implementation_of_an_etl_process_spark.operators.pipeline import (
        weighted_sample,
    )

    rng = random.Random(seed)
    rows = [
        (i, rng.randint(1, 500)) for i in range(rng.randint(30, 80))
    ]
    df = spark.createDataFrame(rows, "doc_id long, wt long")
    small = {
        r["doc_id"]
        for r in weighted_sample(df, "doc_id", "wt", 10, seed=f"s{seed}")
        .select("doc_id").collect()
    }
    big = {
        r["doc_id"]
        for r in weighted_sample(df, "doc_id", "wt", 25, seed=f"s{seed}")
        .select("doc_id").collect()
    }
    assert small <= big
    assert len(small) == 10 and len(big) == 25


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(0, 10_000))
def test_zorder_key_monotone_per_dimension(spark, seed):
    """With the other coordinate fixed, the Morton key is strictly
    monotone in each dimension — the property that makes range
    predicates on any single clustered column map to key ranges."""
    import random

    from implementation_of_an_etl_process_spark.operators.layout import (
        zorder_key,
    )

    rng = random.Random(seed)
    y = rng.randrange(0, 4096)
    xs = sorted(rng.sample(range(4096), 20))
    # dedupe: when y happens to be drawn into xs, (y, y) is generated
    # by BOTH batches and the duplicated input row duplicated its
    # (correct) key — a test artifact hypothesis found at seed 1946,
    # not a Morton-injectivity failure
    rows = sorted({(x, y) for x in xs} | {(y, x) for x in xs})
    df = spark.createDataFrame(rows, "x long, y long")
    got = df.select(
        "x", "y", zorder_key(["x", "y"], bits=12).alias("z")
    ).collect()
    by_y = sorted(
        [(r["x"], r["z"]) for r in got if r["y"] == y and (r["x"], r["y"]) in set((x, y) for x in xs)]
    )
    zs = [z for _, z in by_y]
    assert zs == sorted(zs) and len(set(zs)) == len(zs)


def test_energy_hash_scale_invariance():
    """The cross-multiplied threshold makes the fingerprint invariant
    to uniform amplitude scaling — volume changes don't defeat the
    audio dedup."""
    import numpy as np

    from implementation_of_an_etl_process_spark.operators.multimodal import (
        energy_hash_samples,
    )

    rng = np.random.default_rng(7)
    e = rng.integers(0, 100, size=777).astype(np.int64)
    assert energy_hash_samples(e) == energy_hash_samples(e * 3)
    assert energy_hash_samples(e) == energy_hash_samples(e * 11)


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_star_cc_matches_union_find(spark, seed):
    """Star contraction labels equal a pure-python union-find's
    min-of-component on random sparse graphs (mixed shapes: chains,
    stars, cliques emerge at random)."""
    from implementation_of_an_etl_process_spark.operators.graph import (
        connected_components_star,
    )

    rng = random.Random(seed)
    n = rng.randint(2, 60)
    m = rng.randint(1, 2 * n)
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(m)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        edges = [(0, 1)]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    nodes = {v for e in edges for v in e}
    comp: dict[int, int] = {}
    for v in nodes:
        comp.setdefault(find(v), []).append(v)
    want = {
        v: min(members)
        for members in comp.values()
        for v in members
    }
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["_id"]: r["cluster"]
        for r in connected_components_star(df).collect()
    }
    assert got == want


@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_keep_best_matches_union_find_argmax(spark, seed):
    """drop_near_duplicates_keep_best vs a pure-Python reference on
    random graphs: survivors = every unclustered doc plus, per
    connected component (computed by union-find, independent of the
    distributed min-label propagation), the member with max weight and
    min id among ties. Random edge sets include self-contained chains,
    stars, and multi-edges."""
    from implementation_of_an_etl_process_spark.operators.dedup import (
        drop_near_duplicates_keep_best,
    )

    rng = random.Random(seed)
    n = rng.randint(2, 40)
    ids = list(range(1, n + 1))
    weights = {i: rng.randint(0, 5) for i in ids}  # small range -> ties
    n_edges = rng.randint(0, n)
    edges = [
        tuple(rng.sample(ids, 2))
        for _ in range(n_edges)
    ]
    # union-find reference
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps: dict[int, list[int]] = {}
    clustered = {v for e in edges for v in e}
    for i in ids:
        if i in clustered:
            comps.setdefault(find(i), []).append(i)
    expected = {i for i in ids if i not in clustered}
    for members in comps.values():
        expected.add(min(members, key=lambda i: (-weights[i], i)))

    docs = spark.createDataFrame(
        [(i, weights[i]) for i in ids], "doc_id long, w long"
    )
    pairs = spark.createDataFrame(
        edges or [(None, None)], "id_a long, id_b long"
    ).dropna()
    got = {
        r.doc_id
        for r in drop_near_duplicates_keep_best(
            docs, "doc_id", pairs, [F.col("w").desc()]
        ).collect()
    }
    assert got == expected


@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compaction_equals_rebuild_all_three_indexes(
    spark, tmp_path_factory, seed
):
    """r11 verdict item 8 — the uniform merge-on-read invariant, made
    random-driven across the WHOLE persisted-index trilogy (text, ANN,
    dedup): after a random base/append split and a random delete set,
    ``compact(index)`` must be ROW-IDENTICAL to ``write(surviving
    docs)`` — every stored relation, plus the corpus stats the text
    index keeps in meta. Fresh builds are deterministic per doc (tf,
    minhash, PQ codes given a frozen model), so any divergence is a
    compaction bug, not noise."""
    import numpy as np

    from implementation_of_an_etl_process_spark.operators import (
        dedup as D,
    )
    from implementation_of_an_etl_process_spark.operators import (
        similarity as S,
    )
    from implementation_of_an_etl_process_spark.operators import (
        textindex as TI,
    )

    rng = random.Random(seed)
    base = tmp_path_factory.mktemp(f"mor{seed % 10**6}")
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 120)
    )
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 120)
    )
    cut1 = rng.randint(30, 80)
    cut2 = rng.randint(cut1 + 10, 110)
    dead = sorted(rng.sample(range(120), rng.randint(1, 40)))
    dead += [10**6 + 1]  # unknown id: must be a no-op everywhere

    def rows(df):
        out = []
        for r in df.collect():
            out.append(
                tuple(
                    tuple(v) if isinstance(v, list) else v
                    for v in r
                )
            )
        return sorted(out)

    # ---- text index (both relations: postings + positions) ----
    live, fresh = str(base / "txt"), str(base / "txt_fresh")
    TI.write_text_index(
        docs.filter(F.col("doc_id") < cut1), live,
        n_buckets=8, store_positions=True,
    )
    TI.append_text_index(
        docs.filter((F.col("doc_id") >= cut1) & (F.col("doc_id") < cut2)),
        live, batch_id=1,
    )
    TI.append_text_index(
        docs.filter(F.col("doc_id") >= cut2), live, batch_id=2
    )
    TI.delete_from_text_index(spark, live, dead)
    TI.compact_text_index(spark, live)
    TI.write_text_index(
        docs.filter(~F.col("doc_id").isin(dead)), fresh,
        n_buckets=8, store_positions=True,
    )
    for rel in ("postings", "positions"):
        got = rows(spark.read.parquet(f"{live}/{rel}"))
        want = rows(spark.read.parquet(f"{fresh}/{rel}"))
        assert got == want, f"text {rel} diverged (seed={seed})"
    ml, mf = indexdir.load_meta(live), indexdir.load_meta(fresh)
    assert (ml["n_docs"], ml["total_len"]) == (mf["n_docs"], mf["total_len"])

    # ---- dedup index (md5 + bands) ----
    live, fresh = str(base / "dd"), str(base / "dd_fresh")
    kw = dict(k=3, n_hashes=16, bands=4)
    D.write_dedup_index(
        docs.filter(F.col("doc_id") < cut1), live, "doc_id", "text", **kw
    )
    D.write_dedup_index(
        docs.filter(F.col("doc_id") >= cut1), live, "doc_id", "text",
        mode="append", **kw,
    )
    D.delete_from_dedup_index(spark, live, dead)
    D.compact_dedup_index(spark, live)
    D.write_dedup_index(
        docs.filter(~F.col("doc_id").isin(dead)), fresh,
        "doc_id", "text", **kw,
    )
    for rel in ("md5", "bands"):
        got = rows(spark.read.parquet(f"{live}/{rel}"))
        want = rows(spark.read.parquet(f"{fresh}/{rel}"))
        assert got == want, f"dedup {rel} diverged (seed={seed})"

    # ---- IVF-PQ index (codes, frozen model shared by both builds) ----
    cents = S.train_ivf_centroids(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        n_cells=4, n_train=128,
    )
    books = S.train_pq_codebooks_distributed(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        m=8, n_codes=16, dim=64, centroids=cents,
    )
    live, fresh = str(base / "pq"), str(base / "pq_fresh")
    akw = dict(corpus_id="vec_id", corpus_vec="embedding")
    S.write_ivfpq_index(
        emb.filter(F.col("vec_id") < cut1), live, books, cents, **akw
    )
    S.append_ivfpq_index(
        emb.filter(F.col("vec_id") >= cut1), live, corpus_vec="embedding"
    )
    S.delete_from_ivfpq_index(spark, live, dead)
    S.compact_ivfpq_index(spark, live)
    S.write_ivfpq_index(
        emb.filter(~F.col("vec_id").isin(dead)), fresh, books, cents, **akw
    )
    got = rows(spark.read.parquet(f"{live}/codes"))
    want = rows(spark.read.parquet(f"{fresh}/codes"))
    assert got == want, f"ivfpq codes diverged (seed={seed})"
    # tombstone relations are gone after every compaction
    import os

    for p in (base / "txt", base / "dd", base / "pq"):
        assert not os.path.exists(str(p / "_deletes"))


def test_stats_and_auto_compaction_uniform_across_trilogy(
    spark, tmp_path_factory
):
    """The stats + maybe_compact_* surface behaves uniformly across
    the persisted-index trilogy: healthy index -> no-op, fragmented or
    tombstoned index -> compaction fires and the health metric drops
    back under the threshold."""
    from implementation_of_an_etl_process_spark.operators import (
        dedup as D,
        similarity as S,
        textindex as TI,
    )

    base = tmp_path_factory.mktemp("trilogy_stats")
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 100)
    )
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 100)
    )

    # text
    t = str(base / "txt")
    TI.write_text_index(docs.filter(F.col("doc_id") < 50), t, n_buckets=4)
    assert TI.maybe_compact_text_index(spark, t) is None
    for i in range(5):
        TI.append_text_index(
            docs.filter(F.col("doc_id") == 50 + i), t, batch_id=i
        )
    assert TI.text_index_stats(t)["files_per_bucket"] > 4
    assert TI.maybe_compact_text_index(spark, t) is not None
    assert TI.text_index_stats(t)["files_per_bucket"] <= 4

    # dedup
    d = str(base / "dd")
    kw = dict(k=3, n_hashes=16, bands=4)
    D.write_dedup_index(
        docs.filter(F.col("doc_id") < 50), d, "doc_id", "text", **kw
    )
    assert D.maybe_compact_dedup_index(spark, d) is None
    for i in range(5):
        D.write_dedup_index(
            docs.filter(F.col("doc_id") == 50 + i), d, "doc_id", "text",
            mode="append", **kw,
        )
    assert D.dedup_index_stats(d)["files_per_band"] > 4
    assert D.maybe_compact_dedup_index(spark, d) is not None
    assert D.dedup_index_stats(d)["files_per_band"] <= 4

    # ivfpq: tombstones force compaction even when file counts are low
    cents = S.train_ivf_centroids(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        n_cells=4, n_train=128,
    )
    books = S.train_pq_codebooks_distributed(
        emb, corpus_vec="embedding", corpus_id="vec_id",
        m=8, n_codes=16, dim=64, centroids=cents,
    )
    p = str(base / "pq")
    S.write_ivfpq_index(
        emb, p, books, cents, corpus_id="vec_id", corpus_vec="embedding"
    )
    st = S.ivfpq_index_stats(p)
    assert st["n_cells"] == 4 and not st["pending_append"]
    if st["files_per_cell"] <= 4:
        assert S.maybe_compact_ivfpq_index(spark, p) is None
    S.delete_from_ivfpq_index(spark, p, [0, 1])
    assert S.ivfpq_index_stats(p)["has_tombstones"]
    assert S.maybe_compact_ivfpq_index(spark, p) is not None
    st2 = S.ivfpq_index_stats(p)
    assert not st2["has_tombstones"]
    # cell-skew surface (r12 verdict item 6): footer-derived physical
    # counts reconcile with the corpus (post-compaction the two
    # tombstoned rows are gone), the skew ratio is coherent, and the
    # report-only retrain advisory fires exactly on threshold crossing
    assert st2["cell_rows_total"] == emb.count() - 2
    assert st2["cell_rows_max"] >= st2["cell_rows_mean"] > 0
    assert st2["cell_skew_ratio"] == (
        st2["cell_rows_max"] / st2["cell_rows_mean"]
    )
    assert 0 <= st2["n_empty_cells"] < st2["n_cells"]
    assert S.maybe_retrain_ivfpq_index(
        p, max_skew=st2["cell_skew_ratio"] + 0.01
    ) is None
    fired = S.maybe_retrain_ivfpq_index(
        p, max_skew=st2["cell_skew_ratio"] - 0.01
    )
    assert fired is not None and fired["cell_skew_ratio"] == st2[
        "cell_skew_ratio"
    ]


@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_phrase_slop_matches_greedy_reference(spark, seed, tmp_path_factory):
    """Random tiny-vocab corpora vs the pure-Python greedy reference
    for EVERY (phrase, W) probe: the r13 ordered-slop kernel (distinct,
    strictly increasing positions per slot) must agree exactly,
    including repeated-term phrases — tiny vocab maximizes repeats and
    overlap, the regime where the old coverage-counting semantics were
    wrong."""
    import random

    from implementation_of_an_etl_process_spark.operators import (
        textindex as TI,
    )
    from tests.test_textindex import _brute_phrase

    rng = random.Random(seed)
    vocab = ["a", "b", "c"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("slop") / f"idx_{seed}")
    TI.write_text_index(docs, path, n_buckets=4, store_positions=True)
    phrases = ["a b", "a a", "b a c", "c c a"]
    for w in (0, 1, 2):
        got_all = TI.multi_phrase_query_index(
            spark, path, phrases, within=w or None
        ).collect()
        got = {}
        for r in got_all:
            got.setdefault(r.phrase, {})[r.doc_id] = r.n_occurrences
        for p in phrases:
            assert got.get(p, {}) == _brute_phrase(docs, p, within=w), (
                seed, p, w,
            )
