"""Distributed BPE tokenizer: learn byte-pair-encoding merges over a
corpus and encode documents with them — the tokenization step an LLM
training-data pipeline runs after hygiene filtering (the reference
engine stops at OLAP aggregation, ``ETL.java:1`` — this whole module
is mandated-extension scope).

Algorithm is the original subword BPE (Sennrich, Haddow & Birch,
"Neural Machine Translation of Rare Words with Subword Units", ACL
2016): train on the WORD-COUNT table (not the raw token stream — the
classic trick that makes the iterative part cheap), greedily merging
the globally most frequent adjacent symbol pair; encode by replaying
the learned merges in rank order with the same left-to-right
non-overlapping pass. Ties break deterministically on
(count DESC, left ASC, right ASC) in both the Spark trainer and the
pure-python reference (``py_train_bpe`` / ``py_encode_word`` below,
which the tests and the battery gate compare against).

Scale shape (100 TB):
- The corpus is touched exactly ONCE: one tokenize+groupBy shuffle
  reduces it to the word-count table (map-side combining; vocabulary
  is millions of rows where the corpus is trillions of tokens).
- Each training ROUND is one aggregate over that already-reduced
  vocab table (adjacent-pair explode -> partial-agg sum) plus one
  bounded collect (<= batch_merges+1 ranked rows) from which a
  prefix-disjoint BATCH of merges is selected (:func:`_select_batch`
  — provably identical to the one-argmax-per-job loop), amortizing
  the fixed per-job scheduling cost ~batch_merges-fold; that collect
  is the only driver-side data in the loop, bounded by contract.
  Lineage is cut every few merges with ``localCheckpoint`` so the
  plan stays flat across iterations.
- The merge application operates on the VOCAB table only (bounded:
  distinct words, never the corpus): per-merge pure-Column folds with
  frequent shallow lineage cuts by default, or one Arrow-batched
  pandas replay per round (``apply_mode`` — both measured, see
  BASELINE_NOTES round 7; shallow folds win, deep fold stacks are the
  measured failure mode the checkpoint cadence guards against).
- Encoding runs the per-word merge replay over the DISTINCT-word
  table only (an Arrow-batched pandas UDF over vocab rows — document
  text never passes through Python), then joins the encodings back to
  the corpus by word (broadcast when vocab fits, shuffle join
  otherwise) and reassembles per-doc token arrays JVM-side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "END_OF_WORD",
    "word_count_table",
    "train_bpe",
    "encode_bpe",
    "py_train_bpe",
    "py_encode_word",
]

END_OF_WORD = "</w>"


def _tokens(text_col: str) -> Column:
    """Lowercased whitespace tokens, empties dropped (module-shared
    convention; one-arg lambda = element, arity-safe)."""
    return F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda t: t != F.lit(""),
    )


def word_count_table(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """``(word, cnt)`` over the corpus — the single corpus-wide shuffle
    of BPE training (map-side combining on the word key)."""
    return (
        docs.select(F.explode(_tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _merge_pass(syms: Column | str, left: str, right: str) -> Column:
    """One left-to-right non-overlapping merge of the adjacent pair
    (left, right) in a symbol array — a pure-Column fold (the exact
    dual of the reference pass in :func:`py_encode_word`)."""
    c = F.col(syms) if isinstance(syms, str) else syms
    return F.aggregate(
        c,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(left + right)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _select_batch(
    rows: list,
    want: int,
    batch_cap: int,
    min_pair_count: int,
    symbols: set[str],
) -> list[tuple[str, str]]:
    """Greedy prefix-disjoint batch from one round's ranked pair rows —
    PROVABLY equal to replaying sequential argmax (m=1) merges:

    Walk the ranked list (count DESC, a ASC, b ASC) selecting pairs
    until one OVERLAPS an earlier selection (shares a symbol) or the
    cap is hit; call the first unselected row's count ``stop_count``,
    then trim trailing selections with count == stop_count.  Why this
    is exact: a merge (a, b) with a != b and a fresh product ``a+b``
    can only create new pairs (x, ab) / (ab, y) / (ab, ab), each
    bounded by the count of an EXISTING pair overlapping (a, b) — and
    every overlapping pair ranks at or after the stopping row (rank
    order is count order), so after the trim each kept pair's count is
    STRICTLY greater than anything a prior kept merge can create and
    at least the count of every not-yet-seen old pair; the sequential
    argmax therefore picks exactly the kept pairs in kept order.  If
    the trim empties the batch (an overlapping tie at the very top),
    fall back to the plain argmax — always exact.

    Two cases break that bound, and each conservatively ENDS the batch
    right after the offending pair (it stays last, so nothing selected
    later can be reordered by what it creates; the next round's
    aggregate sees the true post-merge counts):

    - SELF-pairs (a == b): a run ``a a a a`` merges to ``aa aa``,
      creating (aa, aa) with count bounded only by the selected pair's
      OWN count (which ranks first), not by the stop row — fuzzing
      shows (aa, aa) routinely outranking the rest of the batch.
    - CONCAT collisions (``a+b`` already in ``symbols`` — the known
      symbol universe: initial alphabet plus every merge product so
      far, including earlier products of THIS batch): the created
      pairs alias onto existing pair keys, whose counts grow to
      old+new and can exceed the trim bound (ADVICE round 7).

    The stopping row for these early endings is the next ranked row
    (ties against it are trimmed as usual; a sub-threshold next row
    can't create ties, same as the threshold break).
    """
    limit = min(want, batch_cap)
    selected: list[tuple[str, str, int]] = []
    blocked: set[str] = set()
    products: set[str] = set()
    stop_count = None
    for i, r in enumerate(rows):
        if r["c"] < min_pair_count:
            stop_count = None  # below-threshold rows can't create ties
            break
        if len(selected) == limit or r["a"] in blocked or r["b"] in blocked:
            stop_count = r["c"]
            break
        selected.append((r["a"], r["b"], r["c"]))
        prod = r["a"] + r["b"]
        blocked.update((r["a"], r["b"], prod))
        if r["a"] == r["b"] or prod in symbols or prod in products:
            nxt = rows[i + 1] if i + 1 < len(rows) else None
            stop_count = (
                nxt["c"]
                if nxt is not None and nxt["c"] >= min_pair_count
                else None
            )
            break
        products.add(prod)
    # (no-break path: the ranked list genuinely ran out — the collect
    # window holds limit+1 rows, so fewer rows means fewer pairs exist;
    # nothing unseen, nothing to trim)
    if stop_count is not None:
        while selected and selected[-1][2] == stop_count:
            selected.pop()
    if not selected and rows and rows[0]["c"] >= min_pair_count:
        r = rows[0]
        selected = [(r["a"], r["b"], r["c"])]
    return [(a, b) for a, b, _ in selected]


def train_bpe(
    docs: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 100,
    min_pair_count: int = 2,
    checkpoint_every: int = 6,
    batch_merges: int = 32,
    apply_mode: str = "column",
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from the corpus; returns the
    ranked merge list (the model — ``n_merges`` driver-side tuples, the
    same bounded-by-contract scalar class as KMeans centroids in the
    IVF trainer). Stops early when no pair reaches ``min_pair_count``.

    Each word contributes its character sequence plus a terminal
    ``</w>`` marker so merges never cross word boundaries and
    end-of-word units stay distinct from mid-word units.

    ``batch_merges`` amortizes the per-iteration fixed cost (one Spark
    job + one bounded collect, ~seconds of scheduling on a cluster)
    across up to that many merges per round via prefix-disjoint batch
    selection (:func:`_select_batch`) — BIT-IDENTICAL to the m=1
    sequential reference by construction (the battery gate and the
    property tests compare against ``py_train_bpe`` exactly), while
    making production vocab sizes (30k+ merges) a matter of minutes
    instead of days. ``batch_merges=1`` degenerates to the classic
    one-argmax-per-job loop.

    ``apply_mode``: both application paths were measured at 4M docs /
    50k vocab / 500 merges (BASELINE_NOTES round 7). ``"column"``
    (default) applies per-merge Column folds with frequent shallow
    lineage cuts — 198.4s; folds evaluate interpreted but are cheap at
    <= checkpoint_every depth (523s at 32-deep is the failure mode the
    cadence guards against). ``"arrow"`` replaces each round's folds
    with one Arrow-batched pandas replay over the vocab table — 234.6s
    (the Arrow round-trip of every symbol array per round costs more
    than shallow folds save); kept for vocab shapes where fold depth
    must be 1 regardless of cadence.
    """
    if apply_mode not in ("arrow", "column"):
        raise ValueError(f"unknown apply_mode {apply_mode!r}")
    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    if min_pair_count < 1:
        raise ValueError("min_pair_count must be >= 1")
    if batch_merges < 1:
        raise ValueError("batch_merges must be >= 1")
    wt = word_count_table(docs, text_col).select(
        F.concat(
            F.split("word", "(?!$)"), F.array(F.lit(END_OF_WORD))
        ).alias("syms"),
        "cnt",
    )
    # Materialize the vocab table up front: every loop iteration reads
    # wt, and without this the corpus-wide tokenize+groupBy would be
    # REPLAYED per merge until the first in-loop checkpoint (the corpus
    # is touched once by contract). The word count itself runs with
    # whatever AQE setting the session has (corpus-sized — AQE's skew
    # and coalescing help there).
    wt = wt.localCheckpoint(eager=True)
    # Every LOOP job is vocab-sized; when the vocab is provably modest,
    # AQE's per-shuffle-stage sub-job scheduling is pure overhead in a
    # many-round driver loop (measured 239.0s -> 209.1s for 500 merges
    # at 50k vocab; the same finding as the minhash small path,
    # plans/shape.py). The loop then runs on a private clone of the
    # session with AQE off, leaving the caller's settings alone. Fails
    # open: big vocabs keep AQE.
    from implementation_of_an_etl_process_spark.session import (
        latency_session,
        rebind,
    )

    if wt.count() <= 2_000_000:
        scope = latency_session(docs.sparkSession)
        if scope is not None:
            wt = rebind(wt, scope)
    # The known symbol universe (initial alphabet; _train_loop adds
    # each merge product) — _select_batch needs it to detect concat
    # collisions, where a merge's product equals an existing symbol
    # and the created pairs alias onto existing pair keys. Bounded
    # collect: distinct characters + the end-of-word marker.
    symbols = {
        r["s"]
        for r in wt.select(F.explode("syms").alias("s"))
        .distinct()
        .collect()
    }
    return _train_loop(
        wt, n_merges, min_pair_count, checkpoint_every,
        batch_merges, apply_mode, symbols,
    )


def _train_loop(
    wt: DataFrame,
    n_merges: int,
    min_pair_count: int,
    checkpoint_every: int,
    batch_merges: int,
    apply_mode: str,
    symbols: set[str],
) -> list[tuple[str, str]]:
    """The per-round aggregate/select/apply loop over the materialized
    vocab table (see :func:`train_bpe` for the contract). ``symbols``
    is the known symbol universe, mutated in place as merges land."""
    merges: list[tuple[str, str]] = []
    since_ckpt = 0
    while len(merges) < n_merges:
        want = n_merges - len(merges)
        pairs = wt.where(F.size("syms") >= 2).select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda j: F.struct(
                        F.element_at("syms", j).alias("a"),
                        F.element_at(
                            "syms", (j + F.lit(1)).cast("int")
                        ).alias("b"),
                    ),
                )
            ).alias("pr"),
        )
        rows = (
            pairs.groupBy("pr.a", "pr.b")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), F.col("a").asc(), F.col("b").asc())
            # +1 row beyond the cap so _select_batch can see the count
            # of the first pair it did NOT take (tie-trim boundary)
            .limit(min(want, batch_merges) + 1)
            .collect()  # bounded: <= batch_merges+1 scalar rows/round
        )
        batch = _select_batch(
            rows, want, batch_merges, min_pair_count, symbols
        )
        if not batch:
            break
        merges.extend(batch)
        symbols.update(a + b for a, b in batch)
        if apply_mode == "arrow":
            # ONE Arrow-batched replay of the whole round's batch over
            # the vocab table (the encode path's distinct-word
            # pattern; _py_merge_pass is the same pass the Column fold
            # encodes).
            wt = wt.withColumn("syms", _apply_merges_udf(batch)("syms"))
            since_ckpt += len(batch)
        else:
            for a, b in batch:
                wt = wt.withColumn("syms", _merge_pass("syms", a, b))
                since_ckpt += 1
                if since_ckpt >= checkpoint_every:
                    # cut lineage: the loop otherwise stacks one fold
                    # per merge; HOF folds evaluate interpreted and
                    # degrade super-linearly past a few dozen deep
                    wt = wt.localCheckpoint(eager=True)
                    since_ckpt = 0
        if since_ckpt >= checkpoint_every:
            wt = wt.localCheckpoint(eager=True)
            since_ckpt = 0
    return merges


def _apply_merges_udf(batch: list[tuple[str, str]]):
    """Arrow-batched application of one round's merge batch to symbol
    arrays — vocab-table-sized input by contract (distinct words, not
    the corpus), same left-to-right non-overlapping pass as
    :func:`_merge_pass` / :func:`_py_merge_pass`."""
    from pyspark.sql.functions import pandas_udf

    blist = list(batch)

    @pandas_udf("array<string>")
    def _apply(syms: pd.Series) -> pd.Series:
        def f(s):
            s = list(s)
            for a, b in blist:
                s = _py_merge_pass(s, a, b)
            return s

        return syms.map(f)

    return _apply


def encode_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Encode every document with a learned merge list: per doc, the
    concatenated BPE units of its words in order. Returns
    ``(id, n_words, n_bpe_tokens, out_col array<string>)``.

    The merge replay runs over DISTINCT words only (pandas UDF with
    per-batch memoization — corpus text never enters Python); the
    join back to the corpus is by word and the per-doc reassembly
    (collect_list + array_sort + flatten) is JVM-side.
    """
    from pyspark.sql.functions import pandas_udf

    mlist = list(merges)

    @pandas_udf("array<string>")
    def _encode(words: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def enc(w: str) -> list[str]:
            hit = cache.get(w)
            if hit is None:
                hit = cache[w] = py_encode_word(w, mlist)
            return hit

        return words.map(enc)

    words = (
        docs.select(F.explode(_tokens(text_col)).alias("word"))
        .distinct()
        .withColumn("_units", _encode("word"))
    )
    exploded = docs.select(
        F.col(id_col), F.posexplode(_tokens(text_col)).alias("pos", "word")
    )
    return (
        exploded.join(words, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "_units"))
                    ),
                    lambda s: s["_units"],
                )
            ).alias(out_col),
        )
        .select(
            id_col,
            "n_words",
            F.size(out_col).cast("long").alias("n_bpe_tokens"),
            out_col,
        )
    )


# --- pure-python reference (tests + battery gate) ---------------------


def py_train_bpe(
    word_counts: dict[str, int],
    n_merges: int,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Reference trainer on a word-count dict; tie-break identical to
    the Spark trainer: (count DESC, left ASC, right ASC)."""
    vocab = {
        tuple(list(w) + [END_OF_WORD]): c for w, c in word_counts.items()
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for j in range(len(syms) - 1):
                pr = (syms[j], syms[j + 1])
                counts[pr] = counts.get(pr, 0) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        a, b = best[0]
        merges.append((a, b))
        vocab = {
            tuple(_py_merge_pass(list(s), a, b)): c
            for s, c in vocab.items()
        }
    return merges


def _py_merge_pass(syms: list[str], a: str, b: str) -> list[str]:
    out: list[str] = []
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = a + b
        else:
            out.append(s)
    return out


def py_encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Reference encoder: replay merges in learned order with the same
    left-to-right non-overlapping pass as training (the original
    subword-nmt application order)."""
    syms = list(word) + [END_OF_WORD]
    for a, b in merges:
        if len(syms) < 2:
            break
        syms = _py_merge_pass(syms, a, b)
    return syms
