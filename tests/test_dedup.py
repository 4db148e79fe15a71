"""Operator tests for dedup with planted duplicates (pins the semantics
the rows-only battery checks can't)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from implementation_of_an_etl_process_spark.functions.text_exprs import tokens
from implementation_of_an_etl_process_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("warm", "cold")  # one-token mutation
OTHER = (
    "completely different content about spark query engines and columnar "
    "execution with vectorized operators and adaptive partitioning logic"
)


DOC_ROWS = [(1, BASE), (2, BASE), (3, NEAR), (4, OTHER)]
FARM_ROWS = [(i, BASE) for i in range(20)] + [(100, NEAR), (101, OTHER)]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOC_ROWS, ["doc_id", "text"])


@pytest.fixture(params=["local", "parquet"])
def gated_docs(request, spark, tmp_path):
    """Builds (doc_id, text) rows on one side of minhash_lsh_pairs' size
    gate: a local frame (unknown leaf size, so the at-scale scoped
    verify) or a parquet scan (provably small, so the latency-mode
    diamond)."""
    from implementation_of_an_etl_process_spark.plans import small_leaf_input

    def build(rows):
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        if request.param == "parquet":
            df.write.parquet(str(tmp_path / "docs"))
            df = spark.read.parquet(str(tmp_path / "docs"))
        # a gate change must not silently move both cases onto one side
        assert small_leaf_input(df) == (request.param == "parquet")
        return df

    return build


def _pairs(df):
    return {(r.id_a, r.id_b): r.jaccard for r in df.collect()}


def test_exact_dedup_keeps_min_id(docs):
    out = D.drop_exact_duplicates(docs, ["text"], "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 3, 4]


def test_exact_dedup_groups_counts(docs):
    groups = {r.rep_id: r.n_dups for r in D.exact_dedup_groups(docs, ["text"], "doc_id").collect()}
    assert groups == {1: 2, 3: 1, 4: 1}


def test_exact_dedup_fingerprint_typed_injectivity(spark):
    """r14-advice fix: the fingerprint path must group exactly like
    groupBy on the raw keys — array keys hash element-wise (the old
    cast('string') render merged ['a, b'] with ['a','b']), -0.0 and
    0.0 merge (float normalization), and MAP keys are rejected loudly
    instead of silently unsupported."""
    import pytest
    from pyspark.sql import functions as F

    arr = spark.createDataFrame(
        [(1, ["a, b"]), (2, ["a", "b"]), (3, ["a", "b"])],
        "doc_id long, k array<string>",
    )
    groups = {
        r.rep_id: r.n_dups
        for r in D.exact_dedup_groups(
            arr, ["k"], "doc_id", keep_keys=False
        ).collect()
    }
    assert groups == {1: 1, 2: 2}  # render-collision must NOT merge 1 into 2
    flt = spark.createDataFrame(
        [(1, -0.0), (2, 0.0)], "doc_id long, k double"
    )
    fp_groups = sorted(
        (r.rep_id, r.n_dups)
        for r in D.exact_dedup_groups(
            flt, ["k"], "doc_id", keep_keys=False
        ).collect()
    )
    gb_groups = sorted(
        (r.rep_id, r.n_dups)
        for r in D.exact_dedup_groups(
            flt, ["k"], "doc_id", keep_keys=True
        ).select("rep_id", "n_dups").collect()
    )
    assert fp_groups == gb_groups == [(1, 2)]
    mp = spark.createDataFrame(
        [(1, {"a": 1})], "doc_id long, k map<string,int>"
    )
    with pytest.raises(ValueError, match="MAP-typed"):
        D.exact_dedup_groups(mp, ["k"], "doc_id", keep_keys=False)
    # multi-key path goes through the same typed hash
    two = spark.createDataFrame(
        [(1, None, "1"), (2, "1", None), (3, "1", None)],
        "doc_id long, a string, b string",
    )
    g2 = {
        r.rep_id: r.n_dups
        for r in D.exact_dedup_groups(
            two, ["a", "b"], "doc_id", keep_keys=False
        ).collect()
    }
    assert g2 == {1: 1, 2: 2}
    # nested nulls: Spark's hash skips null array elements and struct
    # fields, so these keys must not merge with their null-free twins
    # (nor nested MAP keys slip past the MAP guard)
    nested = spark.createDataFrame(
        [
            (1, ["a", None], (None, "x")),
            (2, ["a"], (None, "x")),
            (3, [None], ("x", None)),
            (4, [], ("x", None)),
            (5, ["a", None], (None, "x")),
            (6, [None, "a"], (None, "x")),
        ],
        "doc_id long, k array<string>, s struct<p:string,q:string>",
    )
    for key in (["k"], ["k", "s"], ["s"]):
        fp = sorted(
            (r.rep_id, r.n_dups)
            for r in D.exact_dedup_groups(
                nested, key, "doc_id", keep_keys=False
            ).collect()
        )
        gb = sorted(
            (r.rep_id, r.n_dups)
            for r in D.exact_dedup_groups(
                nested, key, "doc_id", keep_keys=True
            ).select("rep_id", "n_dups").collect()
        )
        assert fp == gb, (key, fp, gb)
    deep = spark.createDataFrame(
        [(1, [[None], []]), (2, [[], [None]]), (3, [[None], []])],
        "doc_id long, k array<array<string>>",
    )
    groups = sorted(
        (r.rep_id, r.n_dups)
        for r in D.exact_dedup_groups(
            deep, ["k"], "doc_id", keep_keys=False
        ).collect()
    )
    assert groups == [(1, 2), (2, 1)]
    nested_map = spark.createDataFrame(
        [(1, [{"a": 1}])], "doc_id long, k array<map<string,int>>"
    )
    with pytest.raises(ValueError, match="MAP-typed"):
        D.exact_dedup_groups(nested_map, ["k"], "doc_id", keep_keys=False)


def test_ngram_jaccard_finds_planted_pairs(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.5
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical
    assert 0.5 < pairs[(1, 3)] < 1.0  # one-token mutation
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_minhash_lsh_finds_planted_pairs(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, threshold=0.5
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs
    assert (1, 4) not in pairs


def test_minhash_jaccard_values_match_exact(gated_docs):
    """LSH-then-verify must report the same jaccard as brute force, on
    both sides of the size gate."""
    docs = gated_docs(DOC_ROWS)
    exact = _pairs(D.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5))
    lsh = _pairs(D.minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.5))
    assert lsh == exact


@pytest.mark.parametrize("n_hashes, bands", [(4, 8), (30, 8), (32, 0)])
def test_minhash_rejects_unbandable_signature(docs, n_hashes, bands):
    """Fewer hashes than bands would band on no columns (every document
    in one bucket: a quadratic candidate join); a non-divisor would
    silently drop hashes."""
    with pytest.raises(ValueError, match="divide n_hashes"):
        D.minhash_lsh_pairs(docs, "doc_id", "text", n_hashes=n_hashes, bands=bands)


def test_minhash_releases_its_caches(spark, gated_docs):
    """Every cache the call fills (dup-group map, verify shingles) is
    released once its result is pinned, on both sides of the gate."""
    docs = gated_docs(FARM_ROWS)

    def n_cached():
        return spark._jsparkSession.sharedState().cacheManager().cachedData().size()

    before = n_cached()
    D.minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.5).collect()
    assert n_cached() == before


def test_minhash_leaves_caller_session_conf_alone(spark, tmp_path):
    """On the small side of the gate the call plans and runs on a
    private session: a second thread polling the caller's AQE and
    shuffle-partition settings reads the caller's own values for the
    whole call."""
    import threading

    from implementation_of_an_etl_process_spark.plans import small_leaf_input

    rows = [(i, f"{OTHER} {BASE} v{i % 40}") for i in range(400)]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "docs")
    )
    docs = spark.read.parquet(str(tmp_path / "docs"))
    assert small_leaf_input(docs)
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    old_parts = spark.conf.get(keys[1])
    # a value the latency session (8 partitions) cannot be mistaken for
    spark.conf.set(keys[1], "11")
    try:
        own = tuple(spark.conf.get(k) for k in keys)
        seen, done = [], threading.Event()

        def poll():
            while not done.is_set():
                seen.append(tuple(spark.conf.get(k) for k in keys))

        poller = threading.Thread(target=poll)
        poller.start()
        try:
            n = D.minhash_lsh_pairs(docs, "doc_id", "text").count()
        finally:
            done.set()
            poller.join(timeout=60)
    finally:
        spark.conf.set(keys[1], old_parts)
    assert not poller.is_alive()
    assert n > 0
    assert seen and set(seen) == {own}, set(seen)


def _column_api_signature(sh, n_hashes):
    """``minhash_signature`` as the Column API built it before the SQL
    string build: the oracle for the values persisted indexes hold."""
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy("_id").agg(*aggs, F.count(F.lit(1)).alias("_n"))


def _column_api_banded(sig, bands, n_hashes):
    """``_banded`` as the Column API built it (see above)."""
    rows = n_hashes // bands
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(*[F.col(f"h{b * rows + r}") for r in range(rows)]).alias(
                    "bucket"
                ),
            )
            for b in range(bands)
        ]
    )
    return sig.select("_id", "_n", F.explode(band_cols).alias("bb")).select(
        "_id",
        "_n",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


@pytest.mark.parametrize("n_hashes, bands", [(32, 8), (64, 16)])
def test_minhash_bucket_values_cannot_drift(spark, n_hashes, bands):
    """Signature and (band, bucket) values equal the Column-API build's
    on a seeded corpus, so dedup indexes written before stay valid."""
    import random

    rng = random.Random(20)
    words = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 25))))
        for i in range(300)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = D._shingle_table(docs, "doc_id", "text", 3)
    sig = D.minhash_signature(sh, n_hashes=n_hashes, include_size=True)
    want_sig = _column_api_signature(sh, n_hashes)
    assert sig.dtypes == want_sig.dtypes
    assert sorted(sig.collect()) == sorted(want_sig.collect())
    got = D._banded(sig, bands, n_hashes)
    want = _column_api_banded(want_sig, bands, n_hashes)
    assert got.dtypes == want.dtypes
    got_rows = sorted(got.collect())
    assert len(got_rows) == bands * sig.count()
    assert got_rows == sorted(want.collect())


def _column_api_simhash(docs, hash_fn):
    """``simhash_signature`` as the Column API built it before the SQL
    string build: the oracle for its values."""
    token_hash = (
        D.portable_hash64(F.col("tok")) if hash_fn == "md5" else F.xxhash64("tok")
    )
    tok = docs.select(
        F.col("doc_id").alias("_id"), F.explode(tokens("text")).alias("tok")
    ).withColumn("h", token_hash)
    bit_sums = tok.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{j}")
            for j in range(64)
        ]
    )
    sig = F.lit(0).cast("long")
    for j in range(64):
        sig = sig + F.when(
            F.col(f"b{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)
        ).otherwise(F.lit(0).cast("long"))
    return bit_sums.select("_id", sig.alias("simhash"))


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_simhash_values_cannot_drift(spark, py4j_commands, hash_fn):
    """Signatures equal the Column-API build's on a seeded corpus, and
    the SQL-string build stays cheap to plan (the Column build sent
    about 10k py4j commands)."""
    import random

    rng = random.Random(21)
    words = [f"w{i}" for i in range(60)]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 25))))
        for i in range(300)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    del py4j_commands[:]
    sig = D.simhash_signature(docs, "doc_id", "text", hash_fn=hash_fn)
    assert len(py4j_commands) < 1000
    want = _column_api_simhash(docs, hash_fn)
    assert sig.dtypes == want.dtypes
    got = sorted(sig.collect())
    assert got == sorted(want.collect())
    assert len({r.simhash for r in got}) > 250  # the bits really vary


def test_simhash_identical_and_near(docs):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in D.simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0  # identical text -> identical signature
    assert (1, 4) not in pairs  # unrelated text


def test_simhash_rejects_unbandable_hamming(docs):
    with pytest.raises(ValueError):
        D.simhash_pairs(docs, "doc_id", "text", max_hamming=4)


def test_embedding_cosine_pairs_exact_and_lsh(spark):
    base = [1.0, 2.0, -1.0, 0.5] * 16  # 64-dim
    near = list(base)
    near[0] += 0.001
    ortho = ([1.0, -1.0] * 32)
    df = spark.createDataFrame(
        [(1, base), (2, list(base)), (3, near), (4, ortho)],
        "id long, vec array<float>",
    )
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in D.embedding_cosine_pairs(df, "id", "vec", threshold=0.99).collect()
    }
    assert exact[(1, 2)] == 1.0
    assert exact[(1, 3)] > 0.999
    assert all(4 not in p for p in exact)

    # LSH-bucketed path: identical vectors always share a bucket.
    lsh = {
        (r.id_a, r.id_b)
        for r in D.embedding_cosine_pairs(
            df, "id", "vec", threshold=0.99, n_planes=8
        ).collect()
    }
    assert (1, 2) in lsh
    assert lsh <= set(exact)  # never invents pairs


def test_shingles_shorter_than_k(spark):
    df = spark.createDataFrame([(1, "only two"), (2, "one")], ["doc_id", "text"])
    out = D.ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.1)
    assert out.count() == 0  # no shingles -> no pairs, no crash


def test_cluster_pairs_transitive_chain(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], ["id_a", "id_b"]
    )
    got = {
        r._id: r.cluster for r in D.cluster_pairs(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_drop_near_duplicates_keeps_cluster_minimum(spark, docs):
    # chain: 1~2 (exact), 1~3 (near) -> one cluster {1,2,3}; 4 alone
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.5)
    out = D.drop_near_duplicates(docs, "doc_id", pairs)
    assert sorted(r.doc_id for r in out.collect()) == [1, 4]


def test_cluster_pairs_long_chain_converges(spark):
    n = 40  # longer than typical near-dup diameters; still < max_iterations bound via doubling? plain propagation needs ~n rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    got = {r._id: r.cluster for r in D.cluster_pairs(pairs, max_iterations=n + 1).collect()}
    assert set(got.values()) == {0}


# ---------------------------------------------------------------------------
# Hot-bucket guard (exact-copy collapse) — round-5
# ---------------------------------------------------------------------------


def test_hot_bucket_identical_corpus_completes(spark):
    """10k byte-identical docs: without the exact-copy collapse the
    banding self-join materializes bands*n^2 candidate rows before
    distinct (the mirror-farm degenerate case); with it, the plan is
    one md5 groupBy plus the irreducible pair enumeration."""
    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(BASE).alias("text")
    )
    out = D.minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.8)
    assert out.count() == n * (n - 1) // 2
    probe = out.filter((F.col("id_a") == 0) & (F.col("id_b") == 1)).collect()
    assert len(probe) == 1 and probe[0].jaccard == 1.0


def test_hot_bucket_collapse_matches_uncollapsed(gated_docs):
    """Mixed corpus (copy farm + near pair + unrelated): the guard must
    be a pure plan change — identical pairs and jaccard values, equal to
    brute force, on both sides of the size gate."""
    docs = gated_docs(FARM_ROWS)
    kw = dict(k=3, threshold=0.5)
    on = _pairs(D.minhash_lsh_pairs(docs, "doc_id", "text", collapse_exact=True, **kw))
    off = _pairs(D.minhash_lsh_pairs(docs, "doc_id", "text", collapse_exact=False, **kw))
    assert on == off == _pairs(D.ngram_jaccard_pairs(docs, "doc_id", "text", **kw))
    assert on[(0, 19)] == 1.0  # intra-farm pair
    assert 0.5 < on[(0, 100)] < 1.0  # farm member x near mutation


def test_hot_bucket_shingleless_copies_not_paired(spark):
    """Byte-identical docs shorter than k tokens yield no shingles —
    the brute-force oracle never pairs them, so neither may the
    collapse's intra-group emission."""
    docs = spark.createDataFrame(
        [(1, "hi there"), (2, "hi there"), (3, BASE), (4, BASE)],
        ["doc_id", "text"],
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, threshold=0.8
        ).collect()
    }
    assert pairs == {(3, 4)}


def test_corpus_free_of_banding_sensitive_pairs(spark):
    """The LSH battery entries are gated against brute-force oracles;
    the gate is deterministic only because the corpus has no true pair
    in the banding-sensitive window (0.07, 0.9) — see
    ``banding_sensitive_pairs``. A regenerated testdata corpus that
    plants a borderline pair must fail HERE, loudly, not make the
    driver gate intermittently flaky.

    Scope: sf0.01 — the corpus the driver gate and tools/verify_local
    actually run the LSH entries on. (sf0.001, which no LSH gate uses,
    has one true pair at J=0.889, miss probability 4e-4; if a gate ever
    moves to sf0.001, extend this assertion and accept or regenerate.)
    """
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    bad = D.banding_sensitive_pairs(docs, "doc_id", "text").collect()
    assert bad == [], f"borderline pairs {bad[:5]}"


def test_hamming_banded_pairs_collapse_guard_equivalence(spark):
    """The exact-duplicate collapse guard must be output-identical to
    the raw banded join on a mixed corpus (duplicate, near, far
    signatures), and survive a farm of identical signatures whose raw
    candidate join would be bands x n^2."""
    from implementation_of_an_etl_process_spark.operators.dedup import (
        hamming_banded_pairs,
    )

    mixed = [
        (1, 0b1010), (2, 0b1010), (3, 0b1010),      # identical trio
        (4, 0b1011), (5, 0b1000),                    # near (hamming 1-2)
        (6, -42), (7, -42),                          # identical negatives
        (8, 0x7FFFFFFFFFFFFFFF),                     # far
    ]
    df = spark.createDataFrame(mixed, "id long, sig long")
    on = {
        tuple(r)
        for r in hamming_banded_pairs(
            df, "id", "sig", collapse_exact=True
        ).collect()
    }
    off = {
        tuple(r)
        for r in hamming_banded_pairs(
            df, "id", "sig", collapse_exact=False
        ).collect()
    }
    assert on == off
    assert (1, 2, 0) in on and (6, 7, 0) in on and (1, 4, 1) in on

    # farm: 1500 identical signatures -> 1,124,250 intra pairs emitted
    # directly; the unguarded plan would push 4 * 1500^2 = 9M candidate
    # rows into distinct before verification
    farm = spark.range(1500).select(
        F.col("id"), F.lit(123456789).alias("sig")
    )
    n = hamming_banded_pairs(farm, "id", "sig").count()
    assert n == 1500 * 1499 // 2


def test_hamming_banded_pairs_auto_guard(spark):
    """collapse_exact='auto' (round-9): a max-multiplicity probe turns
    the guard on only when some identical-signature group is big
    enough for the quadratic candidate blowup to matter — same output
    in every mode; bogus values rejected."""
    import pytest

    from implementation_of_an_etl_process_spark.operators.dedup import (
        hamming_banded_pairs,
    )

    mixed = [(1, 10), (2, 10), (3, 11), (4, 1 << 40)]
    dup = spark.createDataFrame(mixed, "id long, sig long")
    got = {
        tuple(r)
        for r in hamming_banded_pairs(
            dup, "id", "sig", collapse_exact="auto"
        ).collect()
    }
    want = {
        tuple(r)
        for r in hamming_banded_pairs(
            dup, "id", "sig", collapse_exact=False
        ).collect()
    }
    assert got == want and (1, 2, 0) in got
    distinct = spark.createDataFrame(
        [(1, 10), (2, 11), (3, 1 << 40)], "id long, sig long"
    )
    got2 = {
        tuple(r)
        for r in hamming_banded_pairs(
            distinct, "id", "sig", collapse_exact="auto"
        ).collect()
    }
    assert got2 == {
        tuple(r)
        for r in hamming_banded_pairs(
            distinct, "id", "sig", collapse_exact=True
        ).collect()
    }
    with pytest.raises(ValueError, match="collapse_exact"):
        hamming_banded_pairs(dup, "id", "sig", collapse_exact="yes")
    # a farm over the threshold flips auto to collapse: the count is
    # right and the run completes without the 4n² candidate blowup
    farm = spark.range(300).select(
        F.col("id"), F.lit(77).alias("sig")
    )
    n = hamming_banded_pairs(
        farm, "id", "sig", collapse_exact="auto"
    ).count()
    assert n == 300 * 299 // 2


def test_keep_best_survivor_policy(spark):
    """drop_near_duplicates_keep_best: on a transitive chain a~b~c the
    single survivor is the LONGEST member (not the min id), documents
    outside any cluster pass through untouched, and ties break on
    ascending id."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", 10),
            (2, "alpha beta gamma delta epsilon", 30),  # longest in cluster
            (3, "alpha beta gamma delta zeta", 20),
            (9, "totally unrelated content here", 5),   # unclustered
            (20, "tie one two three", 7),               # tie cluster:
            (21, "tie one two three", 7),               # same length ->
        ],                                              # min id 20 wins
        "doc_id long, text string, n_chars long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (20, 21)], "id_a long, id_b long"
    )
    got = {
        r.doc_id
        for r in D.drop_near_duplicates_keep_best(
            docs, "doc_id", pairs, [F.col("n_chars").desc()]
        ).collect()
    }
    assert got == {2, 9, 20}
    # contrast: the min-id policy keeps 1, not the longest
    min_id = {
        r.doc_id
        for r in D.drop_near_duplicates(docs, "doc_id", pairs).collect()
    }
    assert min_id == {1, 9, 20}


def test_keep_best_survives_cluster_and_rn_column_collisions(spark):
    """The caller's frame may legally carry 'cluster' / '_rn' columns
    (cluster_pairs output is a public relation); the survivor window
    must use collision-safe internal names instead of hitting an
    ambiguous-column AnalysisException (r10 advice)."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "a", 10, 99, 99),
            (2, "b", 30, 99, 99),
            (3, "c", 20, 99, 99),
            (9, "d", 5, 42, 7),
        ],
        "doc_id long, text string, n_chars long, cluster long, _rn long",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = D.drop_near_duplicates_keep_best(
        docs, "doc_id", pairs, [F.col("n_chars").desc()]
    )
    # caller columns preserved verbatim, survivor logic unaffected
    assert out.columns == docs.columns
    rows = {r.doc_id: (r.cluster, r._rn) for r in out.collect()}
    assert set(rows) == {2, 9}
    assert rows[9] == (42, 7)
