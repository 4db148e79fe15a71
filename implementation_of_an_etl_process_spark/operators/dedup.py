"""Deduplication operators for large-scale text/embedding corpora.

Five families, all expressed as distributed DataFrame plans (no driver
loops, no per-row Python):

- exact:     hash groupBy on the key columns (keep lowest id)
- fingerprint: md5/rolling-hash fingerprint equality
- n-gram Jaccard: exact set similarity via inverted-index self-join
- MinHash+LSH: shingle -> minhash signature -> banded bucket join ->
               exact-Jaccard verification of candidates
               (min-wise hashing per Broder, "On the resemblance and
               containment of documents", 1997; banding per
               Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch.3)
- SimHash:   64-bit signature, chunk-banded join, Hamming verification
               (random-projection hashing per Charikar, "Similarity
               estimation techniques from rounding algorithms", 2002)
- embedding cosine: quantized int cosine (see functions.vectors)

Scale notes: the n-gram inverted-index join shuffles on the shingle, so
frequent shingles make it quadratic in their document frequency — it is
the brute-force oracle, not the at-scale path. MinHash banding caps
candidate generation at O(collisions), the 100 TB-safe path; exact
Jaccard re-verifies, so precision is unaffected by banding.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from implementation_of_an_etl_process_spark.functions.text_exprs import (
    tokens,
    word_shingles,
)
from implementation_of_an_etl_process_spark.functions.vectors import (
    int_cosine,
    int_dot,
    quantize_vec,
)
from implementation_of_an_etl_process_spark.plans import spread
from implementation_of_an_etl_process_spark.sources import indexdir

# ---------------------------------------------------------------------------
# Exact / fingerprint dedup
# ---------------------------------------------------------------------------


def _null_marked(c: Column, t: T.DataType) -> Column:
    """``c`` with an isnull marker beside every nested value. Spark's
    hash expressions skip nulls inside arrays and structs too, so
    without markers ['a', null] hashes like ['a'] and [null] like [].
    Primitive columns come back unchanged."""
    if isinstance(t, T.ArrayType):
        return F.transform(
            c, lambda x: F.struct(F.isnull(x), _null_marked(x, t.elementType))
        )
    if isinstance(t, T.StructType):
        return F.struct(*[
            e
            for f in t.fields
            for e in (F.isnull(c[f.name]), _null_marked(c[f.name], f.dataType))
        ])
    return c


def exact_dedup_groups(
    df: DataFrame, keys: list[str], id_col: str, *, keep_keys: bool = True
) -> DataFrame:
    """One row per distinct key tuple: representative (min id) + count.

    ``keep_keys=False`` groups by a 128-bit FINGERPRINT of the key
    tuple instead of the raw keys and returns only (rep_id, n_dups) —
    the shuffle then carries 16 bytes per group instead of the full
    key payload (guide §2.3: shuffle keys/metadata, not payloads; a
    text-keyed dedup at corpus scale otherwise ships every distinct
    document through the exchange).

    The fingerprint is a struct of two xxhash64 values over the TYPED
    key columns under different seed prefixes. Typed hashing makes it
    collision-free exactly where groupBy is: arrays/structs hash
    element-wise (the former ``cast('string')`` render merged
    ['a, b'] with ['a','b']), nested nulls carry explicit markers
    (``_null_marked``), and float -0.0/NaN normalize the same way
    UnsafeRow grouping does. Preconditions/limits: MAP-typed keys, at
    any nesting depth, are rejected (Spark forbids hashing maps — use
    ``keep_keys=True``); xxhash64 is NOT cryptographic, so
    adversarially-constructed collisions are conceivable — inputs that
    need that guarantee should group on the raw keys
    (``keep_keys=True``). Random-collision odds are the same 2^-128
    birthday regime as the previous md5."""
    if keep_keys:
        return df.groupBy(*keys).agg(
            F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_dups")
        )
    for k, t in df.select(*keys).dtypes:
        if "map<" in t:
            raise ValueError(
                f"key column {k!r} is MAP-typed: Spark cannot hash maps "
                "— use keep_keys=True (raw-key grouping) instead"
            )
    # interleave an explicit null marker per key: Spark's hash
    # expressions SKIP null inputs (the hash passes through unchanged),
    # so without markers (null, x) and (x, null) would collide — the
    # marker booleans occupy a fixed mix step per column, making null
    # placement part of the fingerprint exactly as it is part of the
    # groupBy key
    cols: list = []
    for f in df.select(*keys).schema.fields:
        cols += [F.isnull(F.col(f.name)), _null_marked(F.col(f.name), f.dataType)]
    fp = F.struct(
        F.xxhash64(F.lit(0), *cols).alias("h0"),
        F.xxhash64(F.lit(1), *cols).alias("h1"),
    )
    return (
        df.select(fp.alias("_fp"), F.col(id_col))
        .groupBy("_fp")
        .agg(
            F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_dups")
        )
        .select("rep_id", "n_dups")
    )


def drop_exact_duplicates(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per key tuple. Deterministic, unlike
    ``dropDuplicates`` (which keeps an arbitrary row per key)."""
    reps = exact_dedup_groups(df, keys, id_col, keep_keys=False).select(
        F.col("rep_id").alias(id_col)
    )
    return df.join(reps, id_col, "left_semi")


def fingerprint_md5(df: DataFrame, text_col: str, *, normalize: bool = True) -> Column:
    c = F.col(text_col)
    if normalize:
        c = F.lower(F.trim(c))
    return F.md5(c)


# ---------------------------------------------------------------------------
# Shingle machinery shared by Jaccard / MinHash
# ---------------------------------------------------------------------------


def _shingle_table(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, shingle) pairs, distinct per document."""
    return spread(df).select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(tokens(text_col), k)).alias("shingle"),
    )


def _candidate_shingles(
    cand: DataFrame, docs: DataFrame, key: str, text_col: str, k: int
) -> DataFrame:
    """Persisted (_id, shingle) table of ONLY the documents the
    (id_a, id_b) candidates name: a semi-join on the distinct candidate
    ids, then a shingle pass over that subset — the candidate-scoped
    verify input shared by the symmetric and incremental paths. The
    caller materializes ``cand`` first and unpersists the result after
    its verify action."""
    from pyspark.storagelevel import StorageLevel

    need = (
        cand.select(F.col("id_a").alias(key))
        .union(cand.select(F.col("id_b").alias(key)))
        .distinct()
    )
    return _shingle_table(
        docs.join(need, key, "left_semi"), key, text_col, k
    ).persist(StorageLevel.MEMORY_AND_DISK)


def _verify_pairs_exact(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard of every pair sharing a shingle, by the full
    inverted-index self-join (the exact/brute path). Jaccard =
    |A∩B| / (|A|+|B|-|A∩B|) — all-int inputs, so the double division
    is engine-exact."""
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    a = sh.select(F.col("_id").alias("id_a"), "shingle")
    b = sh.select(F.col("_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("_n", "_na"), inter.id_a == sizes._id)
        .drop("_id")
        .join(
            sizes.withColumnRenamed("_n", "_nb").withColumnRenamed("_id", "_idb"),
            F.col("id_b") == F.col("_idb"),
        )
        .drop("_idb")
        .withColumn(
            "jaccard",
            F.col("_inter").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def banding_sensitive_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    lo: float = 0.07,
    hi: float = 0.9,
) -> DataFrame:
    """True pairs whose exact Jaccard falls in (lo, hi) — the window
    where the battery's exactness gates are probabilistically exposed:
    below-but-near-threshold pairs say nothing (verify excludes them
    exactly), but a true pair at s just above the 0.8 threshold is
    missed by 32x8 banding with probability (1-s^4)^8 (1.5e-2 at
    s=0.80, 1.9e-4 at s=0.90). The gates are stable because the
    shipped corpus has NO pair in this window (lowest above-threshold
    pair sits at J=0.90); ``tests/test_dedup.py`` asserts that with
    this function so a regenerated corpus that breaks the assumption
    fails loudly instead of making the LSH entries intermittently
    flaky. Brute-force — test-scale use only.
    """
    sh = _shingle_table(df, id_col, text_col, k)
    return _verify_pairs_exact(sh, lo).filter(F.col("jaccard") < hi)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact near-dup pairs by word-k-gram Jaccard (inverted-index join).

    Exact but O(sum of squared shingle document-frequencies) — the
    baseline/oracle path. Use :func:`minhash_lsh_pairs` at scale.
    """
    return _verify_pairs_exact(_shingle_table(df, id_col, text_col, k), threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(
    sh: DataFrame, *, n_hashes: int = 64, include_size: bool = False
) -> DataFrame:
    """(_id, h0..h{n-1}[, _n]) minhash signature via n parallel
    min-aggregates — the single definition of the hash family
    (xxhash64 seeded by (i, shingle)): independent enough for LSH,
    entirely JVM-side, partial-aggregatable (each min combines
    map-side, so the shuffle carries one row per doc).

    ``include_size=True`` adds the doc's shingle-set size ``_n`` to the
    SAME aggregate — callers that need sizes downstream (the LSH verify
    stage) get them without a second pass over the shingle table.
    """
    # SQL strings, not Column calls: the same expressions for 3 py4j
    # round trips each instead of about 12 per Column call (PySpark 4
    # records every Column call's call site in the JVM)
    aggs = [f"min(xxhash64({i}, shingle)) AS h{i}" for i in range(n_hashes)]
    if include_size:
        aggs.append("count(1) AS _n")
    return sh.groupBy("_id").agg(*map(F.expr, aggs))


def _banded(sig: DataFrame, bands: int, n_hashes: int) -> DataFrame:
    """Explode a signature frame into (_id, _n, band, bucket) rows —
    the single definition of the banding hash, shared by the symmetric
    (:func:`minhash_lsh_pairs`), asymmetric (:func:`incremental_dedup`)
    and index paths so they can never diverge.

    Each band hashes ``n_hashes // bands`` signature columns, so
    ``bands`` must be >= 1 and divide ``n_hashes``: with fewer hashes
    than bands a band would hash no columns and put every document in
    one bucket (a quadratic candidate join), and a non-divisor would
    silently drop the trailing hashes."""
    if bands < 1 or n_hashes % bands:
        raise ValueError(
            f"bands={bands} must be >= 1 and divide n_hashes={n_hashes}"
        )
    rows = n_hashes // bands
    structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', hash("
        + ", ".join(f"h{b * rows + r}" for r in range(rows))
        + "))"
        for b in range(bands)
    )
    return sig.selectExpr("_id", "_n", f"inline(array({structs}))")


def _jaccard_from_candidates(
    cand: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify over (id_a, id_b, _na, _nb) candidates and a
    (_id, shingle) table (sizes already ride on the candidate row)."""
    a_sh = cand.join(sh.selectExpr("_id AS id_a", "shingle"), "id_a")
    inter = (
        a_sh.join(sh.selectExpr("_id AS id_b", "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b", "_na", "_nb")
        .agg(F.expr("count(1) AS _inter"))
    )
    # the threshold goes in as a Column literal: a SQL "0.8" would parse
    # as a decimal, not as the caller's double
    return inter.selectExpr(
        "id_a",
        "id_b",
        "CAST(_inter AS DOUBLE) / CAST(_na + _nb - _inter AS DOUBLE) AS jaccard",
    ).filter(F.col("jaccard") >= threshold)


def _exact_copy_members(
    df: DataFrame, id_col: str, text_col: str, *, with_shingle_flag: int | None = None
) -> DataFrame:
    """(_mid, _m[, _hs]) rows: member id, raw-text md5 group key, and
    (optionally, when ``with_shingle_flag=k``) whether the text yields
    at least one k-shingle. Raw (un-normalized) md5 so group members
    are guaranteed byte-identical — identical shingle sets, identical
    Jaccard against every other document. The single definition of the
    exact-copy group key shared by the symmetric and incremental
    hot-bucket guards."""
    cols = [F.col(id_col).alias("_mid"), F.md5(F.col(text_col)).alias("_m")]
    if with_shingle_flag is not None:
        # n tokens yield n-k+1 k-shingles, so ">= 1 shingle" is exactly
        # "token count >= k" — a size() on the split array, WITHOUT
        # materializing the shingle strings (the concat-per-shingle
        # build was most of the guard pass's CPU).
        cols.append(
            (F.size(tokens(text_col)) >= with_shingle_flag).alias("_hs")
        )
    return spread(df).select(*cols)


def _dup_member_map(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    with_shingle_flag: int | None = None,
    materialize: str = "checkpoint",
) -> DataFrame:
    """(_m, _mid, _rep[, _ghs]) rows for documents in MULTI-member
    byte-identical text groups only — the corpus-proportional state of
    the hot-bucket guard. Singleton groups (the overwhelming majority
    of any corpus) never appear here: their docs pass through the LSH
    pipeline and the pair expansion untouched (left-join miss =
    identity), so the guard costs one md5 aggregate plus joins sized by
    the number of exact-duplicate docs, NOT by the corpus. The
    materialized map is small by the same argument, so AQE plans the
    downstream joins as broadcasts at runtime.

    ``materialize``: ``"checkpoint"`` runs an eager job now (callers
    that must pin the map before mutating shared state — the
    incremental/ingest paths); ``"persist"`` marks it MEMORY_AND_DISK
    and lets the caller's first action fill the cache — no separate
    job, the map computes inside the pipeline it guards (the symmetric
    path's choice; ~0.6s of fixed job overhead saved at sf0.1). A
    ``"persist"`` caller unpersists the map once its result is
    pinned."""
    members = _exact_copy_members(
        df, id_col, text_col, with_shingle_flag=with_shingle_flag
    )
    # ONE corpus scan + ONE shuffle: group size and representative as
    # window aggregates over the md5 key, then keep multi-member rows.
    # (The previous groupBy + join-back shape scanned the corpus twice
    # and paid a second join exchange — same output, strictly more
    # stages at every scale.)
    dup = members.selectExpr(
        "*",
        "count(1) OVER (PARTITION BY _m) AS _gs",
        "min(_mid) OVER (PARTITION BY _m) AS _rep",
    ).filter("_gs >= 2")
    # _ghs is group-constant (texts are byte-identical): the row's own
    # flag is the group's flag
    ghs = ["_hs AS _ghs"] if with_shingle_flag is not None else []
    dup = dup.selectExpr("_m", "_mid", "_rep", *ghs)
    if materialize == "persist":
        from pyspark.storagelevel import StorageLevel

        return dup.persist(StorageLevel.MEMORY_AND_DISK)
    return dup.localCheckpoint(eager=True)


def _expand_rep_pairs(out: DataFrame, dup_members: DataFrame) -> DataFrame:
    """Expand representative pairs back to member pairs (left-join miss
    = singleton = identity), and emit the intra-group (byte-identical,
    jaccard exactly 1.0) pairs directly — both joins are against the
    small dup-group map of :func:`_dup_member_map`."""
    ea = dup_members.selectExpr("_rep AS id_a", "_mid AS _ma")
    eb = dup_members.selectExpr("_rep AS id_b", "_mid AS _mb")
    cross = (
        out.join(ea, "id_a", "left")
        .join(eb, "id_b", "left")
        .selectExpr(
            "least(coalesce(_ma, id_a), coalesce(_mb, id_b)) AS id_a",
            "greatest(coalesce(_ma, id_a), coalesce(_mb, id_b)) AS id_b",
            "jaccard",
        )
    )
    intra = (
        dup_members.filter("_ghs")
        .selectExpr("_m", "_mid AS id_a")
        .join(dup_members.selectExpr("_m", "_mid AS id_b"), "_m")
        .filter("id_a < id_b")
        .selectExpr("id_a", "id_b", "CAST(1 AS DOUBLE) AS jaccard")
    )
    return cross.unionByName(intra)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    collapse_exact: bool = True,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified by exact Jaccard.

    With b bands of r=n_hashes/b rows, detection probability at
    similarity s is 1-(1-s^r)^b. The 32x8 default: ≈0.985 at exactly
    s=0.8 and ≈1-1e-11 at s=0.99 (real near-dups) — candidates are
    re-verified exactly, so precision is exact and recall at realistic
    near-dup similarity indistinguishable from brute force; raise to
    64x16 (≈0.9998 at 0.8) or 128/32 when borderline-pair recall
    matters more than the signature-width cost. ``bands`` must divide
    ``n_hashes`` (ValueError otherwise).

    The result comes back pinned (``localCheckpoint``) and every cache
    the call filled is released before it returns, so the session's
    cache holds nothing the call created.

    One size rule picks the plan: :func:`small_leaf_input` (leaf scans
    proven under 64 MB; un-introspectable inputs fail open to the
    at-scale side).

    - Small input: the whole call is one pinned query on a private
      clone of the caller's session (:func:`latency_session`: AQE off,
      few shuffle partitions; the caller's settings never change), and
      the full shingle table is persisted once to feed both the
      signature and the verify stage (the "diamond"). The table is
      small by construction, so the scoped verify's extra machinery —
      an eager candidate checkpoint, a distinct-ids exchange, a
      semi-join and a second shingle pass — is pure fixed overhead: on the 5k-doc benchmark corpus (4-core
      host) this path ran 2.20 s median against 2.78 s scoped with AQE
      off and 3.70 s scoped with AQE on.
    - Otherwise (the 100 TB lever): AQE stays on (skew splitting in the
      banding join, runtime broadcast promotion), the corpus-sized
      shingle table is never stored, and the verify stage re-shingles
      only the documents the materialized candidates name
      (:func:`_candidate_shingles`) — measured 546s -> 279s at 4M docs
      / 152M shingles, where the full-table MEMORY_AND_DISK persist
      dominated the runtime.

    Hot-bucket guard (``collapse_exact``, default on): a corpus with n
    byte-identical copies of one document puts all n in the same
    (band, bucket) in EVERY band — the candidate self-join goes
    quadratic (bands * n^2 rows before ``distinct``), and real crawls
    hit exactly this (mirror farms, boilerplate pages). The guard
    collapses each raw-md5 text group to its min-id representative
    BEFORE shingling, runs the full LSH pipeline on representatives
    only, then expands: intra-group member pairs are emitted directly
    with jaccard = 1.0 (byte-identical texts; only for groups whose
    text yields >= 1 k-shingle, matching the brute-force oracle which
    never pairs shingle-less docs), and each representative pair
    expands to all cross-group member pairs carrying the
    representatives' exact jaccard (members are byte-identical to
    their representative, so the value is exact, not approximate).
    Semantics are therefore EXACTLY brute force; cost for the
    degenerate corpus drops from O(bands * n^2) candidate rows +
    shingle-verify to one md5 groupBy plus an equi-join whose output
    is the (irreducible) pair list itself.
    """
    from pyspark.storagelevel import StorageLevel

    from implementation_of_an_etl_process_spark.plans import small_leaf_input
    from implementation_of_an_etl_process_spark.session import (
        latency_session,
        rebind,
    )

    caller = df.sparkSession
    scope = latency_session(caller) if small_leaf_input(df) else None
    small = scope is not None
    if small:
        # every materialization below runs on the clone, the caches too
        df = rebind(df, scope)
    # the leaf scan is spread once, here: every later plan reads it
    # through an exchange or a cache
    df = spread(df)
    collapse = collapse_exact and threshold <= 1.0
    dup_members = verify_sh = None
    try:
        if collapse:
            # persist (not eager checkpoint): the map's cache fills inside
            # the candidate job's anti-join — the guard costs a subplan of
            # the pipeline, not a separate up-front job. Cached because the
            # pair expansion reads it 3x.
            dup_members = _dup_member_map(
                df, id_col, text_col, with_shingle_flag=k, materialize="persist"
            )
            # drop the NON-representative duplicate docs; everything else
            # (singletons + one rep per dup group) flows through unchanged
            non_reps = dup_members.filter("_mid != _rep").select(
                F.col("_mid").alias(id_col)
            )
            df = df.join(non_reps, id_col, "left_anti")
        sh = _shingle_table(df, id_col, text_col, k)
        if small:
            # the diamond: one table feeds the signature AND the verify
            # stage — persisted so it's computed once
            sh = verify_sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
        # one aggregate produces the signature AND the doc shingle-set
        # size: the size rides along through banding into the verify
        # arithmetic, replacing two joins against a separately-aggregated
        # sizes table (measured ~2s of stage overhead at sf0.1, and at
        # scale it removes one full pass over the shingle table)
        sig = minhash_signature(sh, n_hashes=n_hashes, include_size=True)
        banded = _banded(sig, bands, n_hashes)
        left = banded.selectExpr("_id AS id_a", "_n AS _na", "band", "bucket")
        right = banded.selectExpr("_id AS id_b", "_n AS _nb", "band", "bucket")
        cand = (
            left.join(right, ["band", "bucket"])
            .filter("id_a < id_b")
            .select("id_a", "id_b", "_na", "_nb")
            .distinct()
        )
        if not small:
            # materialize the (small) candidate set once; the verify
            # stage then shingles only the documents it names
            cand = cand.localCheckpoint(eager=True)
            verify_sh = _candidate_shingles(cand, df, id_col, text_col, k)
        out = _jaccard_from_candidates(cand, verify_sh, threshold)
        if collapse:
            out = _expand_rep_pairs(out, dup_members)
        # pin before the caches the plan reads are released below
        out = out.localCheckpoint(eager=True)
        return rebind(out, caller) if small else out
    finally:
        for cached in (verify_sh, dup_members):
            if cached is not None:
                cached.unpersist()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 64
_SIMHASH_CHUNKS = 4  # pigeonhole banding: hamming<=3 -> >=1 equal 16-bit chunk


def portable_hash64(col: Column) -> Column:
    """64-bit hash other engines can reproduce: the first 16 hex chars
    of md5, assembled from two 32-bit halves (8 hex chars each fit a
    long exactly; shift+or is pure bit arithmetic, ANSI-safe).

    DuckDB equivalent, bit-for-bit::

        ('0x'||substr(md5(x),1,8))::UBIGINT -- high half
        ('0x'||substr(md5(x),9,8))::UBIGINT -- low half

    md5 costs ~2x xxhash64 per value — pay it when cross-engine
    verification matters; flip to ``hash_fn="xxhash64"`` in pure-Spark
    production runs.
    """
    hx = F.md5(col)
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash_signature(
    df: DataFrame, id_col: str, text_col: str, *, hash_fn: str = "md5"
) -> DataFrame:
    """(id, simhash) — 64-bit SimHash over whitespace tokens.

    Per token hash h, bit j contributes +1 if set else -1; the signature
    bit j is 1 iff the per-document sum is positive. Expressed as 64
    conditional-sum aggregates (one shuffle, partial-aggregated).

    ``hash_fn="md5"`` (default) uses :func:`portable_hash64` so results
    are verifiable against a DuckDB oracle; ``"xxhash64"`` is the faster
    JVM-only hash for production."""
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    token_hash = (
        portable_hash64(F.col("tok"))
        if hash_fn == "md5"
        else F.xxhash64("tok")
    )
    tok = spread(df).select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(text_col)).alias("tok"),
    ).withColumn("h", token_hash)
    # SQL strings, not Column calls (see minhash_signature): the Column
    # build of these 64 aggregates and the 64-term fold cost about 10k
    # py4j round trips per call
    bit_sums = tok.groupBy("_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN 1 ELSE -1 END)"
                f" AS b{j}"
            )
            for j in range(_SIMHASH_BITS)
        ]
    )
    sig = " + ".join(
        f"CASE WHEN b{j} > 0 THEN shiftleft(CAST(1 AS BIGINT), {j})"
        " ELSE CAST(0 AS BIGINT) END"
        for j in range(_SIMHASH_BITS)
    )
    return bit_sums.selectExpr("_id", f"{sig} AS simhash")


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming.

    Banding: split the 64-bit signature into 4 16-bit chunks; any pair
    within Hamming<=3 must agree on >=1 chunk (pigeonhole), so the join
    on (chunk_idx, chunk_value) finds all such pairs; bit_count(XOR)
    verifies exactly."""
    sig = simhash_signature(df, id_col, text_col, hash_fn=hash_fn)
    return hamming_banded_pairs(
        sig, "_id", "simhash", max_hamming=max_hamming
    )


# "auto" collapse threshold: an identical-signature group of n rows
# contributes ~4n² candidate rows per band before distinct; below this
# the guard's extra group/expand joins cost more than they save (the
# measured crossover sits well above it — 64² = 4096 candidates/group
# is noise, 20k² is an 84.7s -> 9.6s disaster).
_COLLAPSE_AUTO_THRESHOLD = 64


def hamming_banded_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    *,
    max_hamming: int = 3,
    collapse_exact: bool | str = True,
) -> DataFrame:
    """All pairs of rows whose 64-bit signatures are within
    ``max_hamming`` — the banded join any 64-bit fingerprint family
    (SimHash text, aHash images, …) shares.

    Banding: split the signature into 4 16-bit chunks; any pair within
    Hamming<=3 must agree on >=1 chunk (pigeonhole), so the join on
    (chunk_idx, chunk_value) finds all such pairs without an all-pairs
    product; bit_count(XOR) verifies exactly. Output:
    (id_a, id_b, hamming) with id_a < id_b.

    Hot-bucket guard (``collapse_exact``, default on — the same
    degenerate case the MinHash farm guard handles): n rows with the
    IDENTICAL signature (blank/near-black images, boilerplate text)
    collide in every chunk of every band, so the raw candidate join
    materializes 4n^2 rows before distinct. The guard groups identical
    signatures first (one map-side-combined shuffle on the narrow
    (id, sig) relation), runs banding over DISTINCT signatures only,
    then expands representatives back to members — intra-group pairs
    (hamming 0) are emitted directly and cross-group pairs via two
    joins against the group map; everything materialized is
    output-sized. Remaining skew honesty: near-identical-but-unequal
    signatures sharing one hot chunk value still fan out in that
    chunk's bucket — bounded by 4 chunk tables of 2^16 buckets, and
    exact duplicates (the unbounded case) no longer contribute.

    The guard costs ~2x on ALL-DISTINCT signature sets (committed
    round-8 A/B: 7.4s -> 14.1s on the 500k-image leg), so callers that
    know their signatures are unique should pass ``False`` — and
    callers that DON'T know can pass ``"auto"``: one map-side-combined
    max-multiplicity probe over the narrow (sig) projection decides at
    plan-build time (an eager action — feed an already-materialized
    ``sig`` such as a localCheckpoint when the signature lineage is
    expensive, e.g. image decode, or the probe re-executes it). The
    signal is the LARGEST identical-signature group, not mere duplicate
    existence: candidate blowup is Σ nᵢ² per band, so 46k thin pairs in
    a 500k corpus are harmless (round-9 A/B: guard-off 1.6s, guard-on
    ~7.5s there) while one 20k-identical farm is fatal (round-8 A/B:
    84.7s -> 9.6s). ``auto`` collapses iff max multiplicity >=
    _COLLAPSE_AUTO_THRESHOLD. Note a payload-level exact dedup upstream
    does NOT imply distinct signatures — distinct payloads can hash
    identically — which is why the probe looks at the signatures
    themselves."""
    if max_hamming >= _SIMHASH_CHUNKS:
        raise ValueError(
            f"banding supports max_hamming < {_SIMHASH_CHUNKS}"
        )
    if collapse_exact == "auto":
        probe = (
            sig.groupBy(sig_col)
            .agg(F.count(F.lit(1)).alias("_n"))
            .agg(F.max("_n").alias("mx"))
            .first()
        )
        collapse_exact = (probe["mx"] or 0) >= _COLLAPSE_AUTO_THRESHOLD
    elif not isinstance(collapse_exact, bool):
        raise ValueError(
            f"collapse_exact must be True, False, or 'auto': "
            f"{collapse_exact!r}"
        )
    if collapse_exact:
        members = sig.select(
            F.col(id_col).alias("_mid"), F.col(sig_col).alias("_msig")
        )
        groups = members.groupBy("_msig").agg(
            F.min("_mid").alias("_rep"), F.count(F.lit(1)).alias("_n")
        )
        reps = groups.select(
            F.col("_rep").alias(id_col), F.col("_msig").alias(sig_col)
        )
        core = hamming_banded_pairs(
            reps, id_col, sig_col,
            max_hamming=max_hamming, collapse_exact=False,
        )
        gmap = members.join(groups, "_msig")
        ea = gmap.select(F.col("_rep").alias("id_a"), F.col("_mid").alias("_ma"))
        eb = gmap.select(F.col("_rep").alias("id_b"), F.col("_mid").alias("_mb"))
        cross = (
            core.join(ea, "id_a")
            .join(eb, "id_b")
            .select(
                F.least("_ma", "_mb").alias("id_a"),
                F.greatest("_ma", "_mb").alias("id_b"),
                "hamming",
            )
        )
        intra = (
            gmap.filter(F.col("_n") > 1)
            .select("_msig", F.col("_mid").alias("id_a"))
            .join(gmap.select("_msig", F.col("_mid").alias("id_b")), "_msig")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.lit(0).alias("hamming"))
        )
        return cross.unionByName(intra)
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_idx"),
                F.shiftright(F.col(sig_col), 16 * c)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("chunk_val"),
            )
            for c in range(_SIMHASH_CHUNKS)
        ]
    )
    banded = sig.select(
        F.col(id_col).alias("_hid"),
        F.col(sig_col).alias("_hsig"),
        F.explode(chunks).alias("cc"),
    ).select("_hid", "_hsig", F.col("cc.chunk_idx"), F.col("cc.chunk_val"))
    left = banded.select(
        F.col("_hid").alias("id_a"), F.col("_hsig").alias("sig_a"),
        "chunk_idx", "chunk_val",
    )
    right = banded.select(
        F.col("_hid").alias("id_b"), F.col("_hsig").alias("sig_b"),
        "chunk_idx", "chunk_val",
    )
    return (
        left.join(right, ["chunk_idx", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------


def plane_signs(set_idx: int, plane_idx: int, dim: int) -> list[int]:
    """Deterministic ±1 hyperplane components, generated driver-side
    (md5 of "set:plane:component") and embedded as literals — the SAME
    matrix is reproducible in any engine (the DuckDB oracle embeds
    these very numbers), and task retries can't perturb it."""
    import hashlib

    return [
        1
        if hashlib.md5(f"{set_idx}:{plane_idx}:{i}".encode()).digest()[0] & 1
        else -1
        for i in range(dim)
    ]


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    n_planes: int | None = None,
    n_plane_sets: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Pairs with quantized-int cosine >= threshold.

    ``n_planes=None``: exact all-pairs (self cross join) — O(n^2), the
    verification path for small corpora ONLY. With ``n_planes=p``:
    random-hyperplane LSH (sign pattern of p ±1-projections; Charikar
    2002) — only same-bucket pairs are compared, then re-verified with
    the exact cosine, so precision is exact and recall is the collision
    probability: a pair at cosine s shares a bucket with probability
    (1 - acos(s)/pi)^p per plane set. ``n_plane_sets=L`` unions L
    independent sets (miss probability to the L-th power) — the
    banded-LSH recall lever, same as MinHash bands.

    The scale path: candidates are (id, id) pairs from a bucket
    equi-join (shuffle on bucket), vectors re-joined only for the
    candidate set — no cross join anywhere in the plan. ``dim`` avoids
    a driver metadata read when the caller knows the width.
    """
    from implementation_of_an_etl_process_spark.functions.vectors import (
        int_norm2,
    )

    # hoist the squared norm: computed once per vector here, instead of
    # twice per PAIR inside the cosine (O(n) vs O(n^2) norm work)
    q = spread(df).select(
        F.col(id_col).alias("_id"),
        quantize_vec(vec_col).alias("_q"),
    ).withColumn("_n2", int_norm2(F.col("_q")).cast("double"))
    cosine = F.round(
        int_dot(F.col("qa"), F.col("qb")).cast("double")
        / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))),
        6,
    )
    if n_planes:
        if dim is None:
            # bounded driver read: one row of metadata, not data
            dim = q.select(F.size("_q").alias("d")).first()["d"]

        def bucket_col(set_idx: int) -> Column:
            b = F.lit(0)
            for p in range(n_planes):
                signs = F.array(
                    *[F.lit(s) for s in plane_signs(set_idx, p, dim)]
                )
                proj = F.aggregate(
                    F.zip_with(
                        F.col("_q"), signs, lambda x, s: x * s.cast("long")
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
                b = b + F.when(proj > 0, F.lit(2**p)).otherwise(F.lit(0))
            return b

        banded = q.select(
            "_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(l).alias("s"), bucket_col(l).alias("bkt")
                        )
                        for l in range(n_plane_sets)
                    ]
                )
            ).alias("sb"),
        ).select("_id", F.col("sb.s").alias("s"), F.col("sb.bkt").alias("bkt"))
        cand = (
            banded.alias("a")
            .join(banded.alias("b"), ["s", "bkt"])
            .select(
                F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .distinct()
        )
        joined = cand.join(
            q.select(
                F.col("_id").alias("id_a"), F.col("_q").alias("qa"),
                F.col("_n2").alias("na2"),
            ),
            "id_a",
        ).join(
            q.select(
                F.col("_id").alias("id_b"), F.col("_q").alias("qb"),
                F.col("_n2").alias("nb2"),
            ),
            "id_b",
        )
    else:
        a = q.select(
            F.col("_id").alias("id_a"), F.col("_q").alias("qa"),
            F.col("_n2").alias("na2"),
        )
        b = q.select(
            F.col("_id").alias("id_b"), F.col("_q").alias("qb"),
            F.col("_n2").alias("nb2"),
        )
        joined = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    # same arithmetic as functions.vectors.int_cosine, with the norms
    # hoisted out of the pair loop
    return (
        joined.withColumn("cosine", cosine)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: pairs -> connected components -> keep representative
# ---------------------------------------------------------------------------


def cluster_pairs(pairs: DataFrame, *, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs via min-label
    propagation: every vertex repeatedly adopts the smallest id
    reachable in one hop until fixpoint (converges in O(diameter)
    rounds; near-dup clusters are shallow, so a handful).

    Returns (``_id``, ``cluster``) where cluster = min id of the
    component. The per-round work is two joins + an aggregate — all
    distributed; the driver only orchestrates rounds and checks the
    convergence counter (control plane, not data plane).
    ``localCheckpoint`` cuts lineage so plans stay flat across rounds.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("id_b").alias("src"), F.col("id_a").alias("dst")
            )
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("_id"))
        .distinct()
        .withColumn("cluster", F.col("_id"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels._id)
            .groupBy("src")
            .agg(F.min("cluster").alias("nbr_cluster"))
        )
        new_labels = (
            labels.join(neighbor_min, labels._id == neighbor_min.src, "left")
            .select(
                "_id",
                F.least(
                    F.col("cluster"), F.coalesce("nbr_cluster", F.col("cluster"))
                ).alias("cluster"),
                (
                    F.coalesce("nbr_cluster", F.col("cluster"))
                    < F.col("cluster")
                ).alias("_changed"),
            )
        )
        new_labels = new_labels.localCheckpoint()
        if new_labels.filter(F.col("_changed")).limit(1).count() == 0:
            labels = new_labels.drop("_changed")
            break
        labels = new_labels.drop("_changed")
    edges.unpersist()
    return labels


def drop_near_duplicates(
    df: DataFrame, id_col: str, pairs: DataFrame
) -> DataFrame:
    """Keep one representative (min id) per near-dup cluster.

    Greedy pair-dropping under-deletes on transitive chains (a~b, b~c
    but a!~c would keep a and c); clustering deletes every non-minimum
    member of each connected component."""
    clusters = cluster_pairs(pairs)
    losers = clusters.filter(F.col("_id") != F.col("cluster")).select(
        F.col("_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def drop_near_duplicates_keep_best(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    order_cols: list,
) -> DataFrame:
    """Keep the BEST member per near-dup cluster — the production
    survivor policy (keep the longest copy, the highest quality score,
    the earliest crawl) rather than :func:`drop_near_duplicates`'s
    arbitrary min-id representative.

    ``order_cols``: ordering Columns ranking cluster members best-first
    (e.g. ``[F.col("n_chars").desc()]``); ties always break on
    ascending id so the survivor set is deterministic. Documents in no
    cluster survive untouched. The per-cluster argmax is a
    rank-then-filter window, which Catalyst rewrites with a map-side
    WindowGroupLimit below the exchange (tests/test_plans.py) — at
    100 TB the shuffle carries one candidate row per (map task,
    cluster), not the cluster bodies."""
    from pyspark.sql import Window

    # collision-safe internal names: the caller's frame may legally
    # carry a 'cluster' or '_rn' column (cluster_pairs output is a
    # public relation), and an ambiguous-column AnalysisException here
    # would be this function's fault, not the caller's
    ccol, rcol = "__kb_cluster", "__kb_rn"
    while ccol in df.columns or rcol in df.columns:
        ccol, rcol = ccol + "_", rcol + "_"
    clusters = (
        cluster_pairs(pairs)
        .withColumnRenamed("_id", id_col)
        .withColumnRenamed("cluster", ccol)
    )
    member = df.join(clusters, id_col, "inner")
    w = Window.partitionBy(ccol).orderBy(*order_cols, F.col(id_col).asc())
    best = (
        member.withColumn(rcol, F.row_number().over(w))
        .filter(F.col(rcol) == 1)
        .select(*df.columns)
    )
    unclustered = df.join(clusters.select(id_col), id_col, "left_anti")
    return unclustered.unionByName(best)


def _md5_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, m): each document's normalized md5 fingerprint."""
    return df.select(
        F.col(id_col).alias("_id"), fingerprint_md5(df, text_col).alias("m")
    )


def _exact_tier(new_md5: DataFrame, hist_md5: DataFrame) -> DataFrame:
    """New-side ids (from :func:`_md5_rows`) whose fingerprint appears
    in ``hist_md5`` (a one-column 'm' relation) — shared by the inline
    and indexed paths."""
    return (
        new_md5.join(hist_md5, "m", "left_semi")
        .select("_id")
        .withColumn("_ex", F.lit(1))
    )


def _ns_keyed(df: DataFrame, ns: int, id_col: str, text_col: str) -> DataFrame:
    """(_k = struct(_ns, _oid), text) — ids namespaced by corpus side so
    overlapping id values between history and batch never merge."""
    return df.select(
        F.struct(F.lit(ns).alias("_ns"), F.col(id_col).alias("_oid")).alias(
            "_k"
        ),
        F.col(text_col),
    )


def _scoped_near_ids(
    cand: DataFrame, keyed_union: DataFrame, text_col: str, k: int, threshold: float
) -> DataFrame:
    """Candidate-scoped verify over namespaced keys: re-shingle ONLY the
    matched documents, exact-Jaccard them, and return the distinct
    new-side original ids that pass — shared by both incremental
    paths so the verify semantics cannot diverge."""
    verify_sh = _candidate_shingles(cand, keyed_union, "_k", text_col, k)
    near = (
        _jaccard_from_candidates(cand, verify_sh, threshold)
        .select(F.col("id_a._oid").alias("_id"))
        .distinct()
        .withColumn("_nr", F.lit(1))
        .localCheckpoint(eager=True)
    )
    verify_sh.unpersist()
    return near


def _verdicts(
    new: DataFrame, id_col: str, exact_ids: DataFrame, near_ids: DataFrame
) -> DataFrame:
    """exact > near > novel, one row per new doc."""
    return (
        new.select(F.col(id_col).alias("_id"))
        .join(exact_ids, "_id", "left")
        .join(near_ids, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.when(F.col("_ex") == 1, F.lit("exact"))
            .when(F.col("_nr") == 1, F.lit("near"))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
        )
    )


def _collapse_new_side(
    new: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Hot-bucket guard for the incremental paths: drop the batch's
    non-representative byte-identical copies (verdicts are a pure
    function of text, so one classification per distinct text
    suffices). Returns (collapsed_new, dup_members) — dup_members is
    the small multi-member-group map from :func:`_dup_member_map`."""
    dup_members = _dup_member_map(new, id_col, text_col)
    non_reps = dup_members.filter(F.col("_mid") != F.col("_rep")).select(
        F.col("_mid").alias(id_col)
    )
    return new.join(non_reps, id_col, "left_anti"), dup_members


def _expand_verdicts(
    verdicts: DataFrame, dup_members: DataFrame, id_col: str
) -> DataFrame:
    """Give each dropped duplicate its representative's verdict
    (inverse of :func:`_collapse_new_side`); representatives and
    singletons are already present in ``verdicts``."""
    extra = (
        verdicts.withColumnRenamed(id_col, "_rep")
        .join(
            dup_members.filter(F.col("_mid") != F.col("_rep")).select(
                "_mid", "_rep"
            ),
            "_rep",
        )
        .select(F.col("_mid").alias(id_col), "verdict")
    )
    return verdicts.unionByName(extra)


def incremental_dedup(
    hist: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    collapse_exact: bool = True,
) -> DataFrame:
    """Classify each NEW document against a HISTORICAL corpus — the
    crawl-ingestion production shape (reference scope ends at batch
    joins, `ETL.java:1`; this is north-star scope).

    Verdict per new doc: ``exact`` (normalized-md5 match in history),
    else ``near`` (LSH banding candidate against history, verified at
    exact shingle-Jaccard >= threshold), else ``novel``.

    Scale shape: history is touched ONLY through (a) a semi-join on its
    fingerprint column, (b) the banding equi-join on (band, bucket),
    and (c) a candidate-scoped re-shingle (semi-join on the matched
    ids, same design as :func:`minhash_lsh_pairs`) — each ingest batch
    costs O(batch + matched candidates) beyond the one signature pass,
    never a full verify-stage history materialization. At 100 TB the
    md5 and signature relations are the persisted "dedup index"
    maintained across batches; here they derive inline. The
    banding-vs-brute-force equivalence argument is the same as
    :func:`minhash_lsh_pairs` (at J >= 0.99 real dups the 32x8 miss
    probability is ~1e-11; an exact copy collides in every band
    deterministically).

    The two frames may use overlapping id values (independently
    numbered corpora): ids are namespaced internally with the side tag,
    so a history doc and a new doc sharing an id never merge.

    ``collapse_exact`` (default on): byte-identical batch documents are
    classified once via their min-id representative and the verdict
    broadcast back to the group — a batch of n mirror copies costs one
    classification instead of n banding probes (and avoids the
    batch-side hot-bucket blowup; see :func:`minhash_lsh_pairs`). The
    history side cannot go quadratic here: the banding join is
    batch x history only, so n identical history docs cost O(n)
    candidate rows per colliding batch representative, not O(n^2).
    """
    dup_members = None
    if collapse_exact:
        new, dup_members = _collapse_new_side(new, id_col, text_col)
    hist_md5 = hist.select(fingerprint_md5(hist, text_col).alias("m")).distinct()
    exact_ids = _exact_tier(_md5_rows(new, id_col, text_col), hist_md5)
    # near tier: one signature pass over the side-namespaced union
    keyed = _ns_keyed(hist, 0, id_col, text_col).unionByName(
        _ns_keyed(new, 1, id_col, text_col)
    )
    sh = _shingle_table(keyed, "_k", text_col, k)
    banded = _banded(
        minhash_signature(sh, n_hashes=n_hashes, include_size=True), bands, n_hashes
    )
    left = banded.filter(F.col("_id._ns") == 1).select(
        F.col("_id").alias("id_a"), F.col("_n").alias("_na"), "band", "bucket"
    )
    right = banded.filter(F.col("_id._ns") == 0).select(
        F.col("_id").alias("id_b"), F.col("_n").alias("_nb"), "band", "bucket"
    )
    cand = (
        left.join(right, ["band", "bucket"])
        .select("id_a", "id_b", "_na", "_nb")
        .distinct()
        .localCheckpoint(eager=True)
    )
    near_ids = _scoped_near_ids(cand, keyed, text_col, k, threshold)
    out = _verdicts(new, id_col, exact_ids, near_ids)
    if collapse_exact:
        out = _expand_verdicts(out, dup_members, id_col)
    return out


# ---------------------------------------------------------------------------
# Persisted dedup index (incremental ingestion across batches)
# ---------------------------------------------------------------------------


def write_dedup_index(
    docs: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    mode: str = "overwrite",
) -> None:
    """Materialize the dedup index :func:`incremental_dedup`'s docstring
    promises: two parquet relations derived from the corpus —

    - ``md5``: id-keyed normalized-text fingerprints (the exact tier);
    - ``bands``: (id, _n, band, bucket) banding rows (the near tier),
      written partitioned by ``band`` so a batch's banding join prunes
      to the partitions it actually probes.

    ``mode="append"`` adds a new batch's rows to an existing index (the
    steady-state ingest loop: classify, then append the batch). A meta
    sidecar pins (k, n_hashes, bands); classification refuses an index
    built with different parameters, since bucket hashes would silently
    never collide.

    A write spans two relations, so builds and appends hold the writer
    marker and release it only on success (:mod:`..sources.indexdir`):
    a crash between them is a loud torn-append error, never an index
    whose exact and near tiers disagree.

    Layout versioning (BREAKING, deliberate): round-11 moved the md5
    relation from distinct fingerprints (v1) to id-keyed rows (v2) so
    merge-on-read deletes can resolve per-document takedowns. Readers
    hard-reject v1 indexes with an instructive error — there is no
    silent dual-layout read path, because a v1 index cannot honor a
    delete (no ids to tombstone) and probing it while pretending
    deletes work would be a correctness lie. Migration is a one-shot
    rebuild: ``write_dedup_index(corpus, path, ..., mode="overwrite")``
    over the same corpus (one tokenize+minhash pass — the same cost as
    the original v1 build; no state beyond the corpus is needed).
    """
    sh = _shingle_table(docs, id_col, text_col, k)
    sig = minhash_signature(sh, n_hashes=n_hashes, include_size=True)
    banded = _banded(sig, bands, n_hashes)
    meta = {
        "v": 2,  # v2: md5 relation is ID-KEYED (enables MoR deletes)
        "k": k,
        "n_hashes": n_hashes,
        "bands": bands,
        "id_col": id_col,
    }
    if mode == "append":
        _check_index_params(path, meta)
    else:
        indexdir.reset(path)
    with indexdir.writer(path):
        if mode != "append":
            indexdir.write_meta(path, meta)
        # md5 relation keyed by id (v2): a doc's exact-tier evidence is
        # individually removable; the probe's semi-join on m makes the
        # per-doc (vs distinct) layout semantically identical
        docs.select(
            F.col(id_col), fingerprint_md5(docs, text_col).alias("m")
        ).write.mode(mode).parquet(os.path.join(path, "md5"))
        banded.withColumnRenamed("_id", id_col).withColumnRenamed(
            "_n", "n_shingles"
        ).write.mode(mode).partitionBy("band").parquet(
            os.path.join(path, "bands")
        )


def _load_meta(index_path: str) -> dict:
    """The index's meta sidecar, refusing the v1 layout (shared by
    every reader/appender so the error is identical everywhere)."""
    meta = indexdir.load_meta(index_path)
    if meta.get("v") != 2:
        raise ValueError(
            f"dedup index at {index_path} uses the v1 layout (distinct "
            "md5, not id-keyed) — rebuild with mode='overwrite' to "
            "enable per-document deletes"
        )
    return meta


def _check_index_params(path: str, meta: dict) -> None:
    """Parameter guard shared by :func:`write_dedup_index` (append
    mode) and :func:`ingest_batch`: an append must match the index's
    stored parameters exactly."""
    existing = _load_meta(path)
    if existing != meta:
        raise ValueError(
            f"index at {path} was built with {existing}, got {meta}"
        )


def delete_from_dedup_index(spark, index_path: str, doc_ids) -> dict:
    """Merge-on-read DELETE for the dedup history index (takedown/GDPR
    lifecycle, completing the persisted-index trilogy): append the ids
    to a ``_deletes`` tombstone relation under the writer marker.
    Classification immediately behaves as if the docs were never
    indexed — their fingerprints stop matching the exact tier and
    their banding rows stop generating candidates; compaction later
    drops the rows physically. Unknown/already-deleted ids are no-ops.

    Semantics note for :func:`ingest_batch` histories: that path
    indexes one REPRESENTATIVE per distinct batch text, so deleting a
    representative removes the whole text group's evidence — per-copy
    takedown granularity requires per-copy index rows
    (:func:`write_dedup_index` appends write one md5 row per doc).
    Returns {"deleted": n}."""
    id_col = _load_meta(index_path)["id_col"]
    ids = indexdir.id_frame(spark, doc_ids, id_col)
    # a tombstone append alone is harmless when torn: always release
    with indexdir.writer(index_path, intact=lambda: True):
        md5 = spark.read.parquet(os.path.join(index_path, "md5"))
        n = indexdir.add_tombstones(spark, index_path, ids, md5, id_col)
    return {"deleted": n}


def compact_dedup_index(spark, index_path: str) -> dict:
    """Apply tombstones physically and restore ~one file per band
    partition (appends fragment both relations). Each relation is
    swapped in with rollback; the marker is released when both
    directories exist."""
    id_col = _load_meta(index_path)["id_col"]
    md5_dir = os.path.join(index_path, "md5")
    bands_dir = os.path.join(index_path, "bands")
    dels = os.path.join(index_path, indexdir.DELETES)

    def live(d: str) -> DataFrame:
        return indexdir.drop_tombstoned(
            spark, index_path, spark.read.parquet(d), id_col
        )

    with indexdir.writer(
        index_path,
        intact=lambda: os.path.isdir(md5_dir) and os.path.isdir(bands_dir),
    ):
        before = indexdir.count_parquet(md5_dir) + indexdir.count_parquet(
            bands_dir
        )
        indexdir.replace_dir(md5_dir, live(md5_dir).coalesce(8).write.parquet)
        indexdir.replace_dir(
            bands_dir,
            live(bands_dir)
            .repartition(F.col("band"))
            .write.partitionBy("band")
            .parquet,
        )
        if os.path.exists(dels):
            shutil.rmtree(dels)
        return {
            "files_before": before,
            "files_after": indexdir.count_parquet(md5_dir)
            + indexdir.count_parquet(bands_dir),
        }


def _batch_bands(keyed_new: DataFrame, text_col: str, meta: dict) -> DataFrame:
    """The batch's banding rows under the index's stored parameters."""
    sh = _shingle_table(keyed_new, "_k", text_col, meta["k"])
    sig = minhash_signature(sh, n_hashes=meta["n_hashes"], include_size=True)
    return _banded(sig, meta["bands"], meta["n_hashes"])


def _probe_index(
    spark,
    index_path: str,
    meta: dict,
    new: DataFrame,
    new_md5: DataFrame,
    banded_new: DataFrame,
    keyed_new: DataFrame,
    hist: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
) -> DataFrame:
    """The indexed probe shared by :func:`incremental_dedup_indexed`
    and :func:`ingest_batch`, against the tombstone-filtered index
    relations: the batch's fingerprints semi-join the stored md5 rows
    (exact tier; the semi-join makes per-doc vs distinct layouts
    equivalent), its banding rows join the stored (band, bucket) rows
    (near tier; both sides namespaced, as in the inline path, so an id
    value present in both corpora never merges shingle sets),
    candidates are pinned, and only they are re-shingled and verified.
    Returns one verdict row per ``new`` doc."""

    def live(name: str) -> DataFrame:
        rel = spark.read.parquet(os.path.join(index_path, name))
        return indexdir.drop_tombstoned(spark, index_path, rel, meta["id_col"])

    exact_ids = _exact_tier(new_md5, live("md5").select("m"))
    left = banded_new.select(
        F.col("_id").alias("id_a"), F.col("_n").alias("_na"), "band", "bucket"
    )
    right = live("bands").select(
        F.struct(
            F.lit(0).alias("_ns"), F.col(meta["id_col"]).alias("_oid")
        ).alias("id_b"),
        F.col("n_shingles").alias("_nb"),
        "band",
        "bucket",
    )
    cand = (
        left.join(right, ["band", "bucket"])
        .select("id_a", "id_b", "_na", "_nb")
        .distinct()
        .localCheckpoint(eager=True)
    )
    keyed_union = keyed_new.unionByName(_ns_keyed(hist, 0, id_col, text_col))
    near_ids = _scoped_near_ids(cand, keyed_union, text_col, meta["k"], threshold)
    return _verdicts(new, id_col, exact_ids, near_ids)


def incremental_dedup_indexed(
    spark,
    index_path: str,
    hist: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    collapse_exact: bool = True,
) -> DataFrame:
    """:func:`incremental_dedup` against a PERSISTED index: the exact
    tier semi-joins the stored md5 relation and the near tier joins the
    batch's banding rows against the stored (band, bucket) relation —
    history text is touched only for the candidate rows the banding
    matched (id-pushdown point reads). Same verdict semantics as the
    inline path (property-tested equal).

    Parameters (k, n_hashes, bands) come from the index's meta sidecar.
    ``hist`` supplies the candidate text lookups; at scale that read is
    pruned to matched ids by parquet predicate pushdown.
    """
    indexdir.check_unmarked(index_path)
    meta = _load_meta(index_path)
    dup_members = None
    if collapse_exact:
        # hot-bucket guard: classify one representative per distinct
        # batch text (see incremental_dedup's docstring)
        new, dup_members = _collapse_new_side(new, id_col, text_col)
    keyed_new = _ns_keyed(new, 1, id_col, text_col)
    out = _probe_index(
        spark, index_path, meta, new,
        _md5_rows(new, id_col, text_col),
        _batch_bands(keyed_new, text_col, meta),
        keyed_new, hist, id_col, text_col, threshold,
    )
    if collapse_exact:
        out = _expand_verdicts(out, dup_members, id_col)
    return out


def ingest_batch(
    spark,
    index_path: str,
    hist: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    verdict_writer=None,
) -> DataFrame:
    """One steady-state ingest step — classify ``new`` against the
    persisted index AND append it, deriving the batch's fingerprints
    and banding rows ONCE and sharing them between the probe and the
    append (the two-call loop :func:`incremental_dedup_indexed` +
    :func:`write_dedup_index` re-shingles and re-minhashes the batch a
    second time for the append; at 100 TB the signature pass is the
    dominant per-batch cost, so halving it matters).

    Returns the verdict frame, MATERIALIZED before the append lands so
    the batch can never classify against itself. Verdict semantics are
    identical to the two-call loop (tested equal per batch).

    ``verdict_writer`` (optional, ``Callable[[DataFrame], None]``) is
    invoked on the pinned verdict frame BEFORE the index append begins.
    Callers running under an at-least-once replay contract (Structured
    Streaming ``foreachBatch``) MUST persist verdicts through this hook
    rather than after the call returns: a crash between the append and
    a caller-side sink write would replay the batch against an index
    that already contains it, turning every verdict into 'exact'. With
    the hook, the crash window degrades to duplicate verdict ROWS in
    the sink (classification re-runs against a pre-append index, so the
    duplicate rows carry the SAME verdicts — dedup by id downstream),
    never to wrong verdicts. The residual torn state — crash between
    the two index-relation writes — is caught by the writer marker,
    which makes the next call refuse the index outright.

    Index contents after the append differ from the two-call loop in
    one deliberate way: banding rows are written for one REPRESENTATIVE
    per distinct batch text (the hot-bucket collapse the probe already
    performs), not per copy. Probe-equivalent: a byte-identical copy
    has the identical signature, so any future batch row that would
    collide with a copy collides with its representative in every band,
    and the verify-stage Jaccard against either text is the same number
    (the exact tier is md5-distinct in both layouts). A mirror-farm
    history therefore costs O(1) index rows per distinct text instead
    of O(copies) — smaller index AND fewer future candidates.
    """
    indexdir.check_unmarked(index_path)
    meta = _load_meta(index_path)
    if meta["id_col"] != id_col:
        raise ValueError(
            f"index at {index_path} was built on id_col="
            f"{meta['id_col']!r}, got {id_col!r}"
        )
    # hot-bucket guard (see incremental_dedup): classify one
    # representative per distinct batch text, expand verdicts after
    new, dup_members = _collapse_new_side(new, id_col, text_col)
    # --- derive the batch's index relations ONCE ----------------------
    new_md5 = _md5_rows(new, id_col, text_col).localCheckpoint(eager=True)
    keyed_new = _ns_keyed(new, 1, id_col, text_col)
    banded_new = _batch_bands(keyed_new, text_col, meta).localCheckpoint(
        eager=True
    )
    out = _expand_verdicts(
        _probe_index(
            spark, index_path, meta, new, new_md5, banded_new,
            keyed_new, hist, id_col, text_col, threshold,
        ),
        dup_members,
        id_col,
    ).localCheckpoint(eager=True)  # pin verdicts BEFORE the append lands
    # Durable-sink hook: under at-least-once replay, verdicts must be
    # OUTSIDE the process before the index mutates (see docstring).
    if verdict_writer is not None:
        verdict_writer(out)
    # --- append the SAME derived relations -----------------------------
    _check_index_params(index_path, meta)
    with indexdir.writer(index_path):
        # v2 layout: id-keyed fingerprints (one row per indexed
        # representative) so merge-on-read deletes can target them
        new_md5.select(
            F.col("_id").alias(id_col), "m"
        ).write.mode("append").parquet(os.path.join(index_path, "md5"))
        banded_new.select(
            F.col("_id._oid").alias(id_col),
            F.col("_n").alias("n_shingles"),
            "band",
            "bucket",
        ).write.mode("append").partitionBy("band").parquet(
            os.path.join(index_path, "bands")
        )
    return out


def dedup_index_stats(index_path: str) -> dict:
    """Read-only operational snapshot of the persisted dedup index
    (completing the stats trilogy with `text_index_stats` and
    `ivfpq_index_stats`): pure filesystem metadata, no Spark session.
    The torn-state marker is reported, not raised."""
    meta = _load_meta(index_path)
    md5_dir = os.path.join(index_path, "md5")
    bands_dir = os.path.join(index_path, "bands")
    dels = os.path.join(index_path, indexdir.DELETES)
    n_bands = int(meta["bands"])
    files_bands = indexdir.count_parquet(bands_dir)
    return {
        "k": int(meta["k"]),
        "n_hashes": int(meta["n_hashes"]),
        "bands": n_bands,
        "files_md5": indexdir.count_parquet(md5_dir),
        "files_bands": files_bands,
        "files_per_band": files_bands / max(n_bands, 1),
        "has_tombstones": os.path.exists(dels),
        "files_tombstones": indexdir.count_parquet(dels),
        "pending_append": os.path.exists(
            os.path.join(index_path, indexdir.MARKER)
        ),
    }


def maybe_compact_dedup_index(
    spark, index_path: str, *, max_files_per_band: float = 4.0
) -> dict | None:
    """Threshold-driven compaction for the dedup ingest loop (the
    trilogy's third `maybe_compact_*`): compact when the mean banding
    files per band partition exceed the threshold or tombstones exist;
    otherwise a cheap filesystem no-op."""
    stats = dedup_index_stats(index_path)
    if stats["files_per_band"] <= max_files_per_band and not stats[
        "has_tombstones"
    ]:
        return None
    return compact_dedup_index(spark, index_path)
