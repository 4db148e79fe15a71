#!/usr/bin/env python
"""Full-scale leg for the persisted BM25 text index
(`operators/textindex.py`) on the Zipfian synthetic corpus
(tools/fullscale_docs.py):

- base build (tokenize + (doc, term) aggregate + bucket-partitioned
  write) at N docs;
- frozen-layout appends: cost tracks the BATCH, not the corpus;
- query path A/B: persisted-index probe (bucket-pruned scan,
  append-fresh df/idf) vs the inline `bm25_topk` full corpus scan —
  results must be ROW-IDENTICAL, and the index probe must win by
  roughly the pruning ratio once the corpus dwarfs fixed overheads;
- fragmentation + compaction: appends add a file per touched bucket
  per batch; compaction restores ~one file per bucket and the probe
  time after it.

Usage: python tools/fullscale_textindex.py [n_docs] [workdir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
WORKDIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/fullscale_docs"
N_BUCKETS = 64
TERMS = ["w12", "w47", "w203", "w1776"]  # mixed-frequency Zipf ranks
K = 50


def main() -> None:
    from implementation_of_an_etl_process_spark import get_spark
    from implementation_of_an_etl_process_spark.operators import (
        textindex as TI,
    )
    from implementation_of_an_etl_process_spark.operators.tfidf import (
        bm25_topk,
    )
    from tools.fullscale_docs import synth_corpus

    spark = get_spark("fullscale-textindex")

    path = os.path.join(WORKDIR, f"docs_{N_DOCS}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        os.makedirs(WORKDIR, exist_ok=True)
        synth_corpus(spark, N_DOCS).repartition(64).write.mode(
            "overwrite"
        ).parquet(path)
    docs = spark.read.parquet(path).select("doc_id", "text")

    idx = os.path.join(WORKDIR, f"txtidx_{N_DOCS}")
    # DISJOINT slices (advice r11: the fragmentation appends used to
    # overlap the base+first-append corpus, double-counting tf/df and
    # meta stats — the timed fragmented probe then ran against a
    # semantically corrupted index). One slicing key partitions the
    # corpus: base = slices 16..159 (90%), first append = 9..15
    # (~4.4%), fragmentation appends = slices 1..8, slice 0 held out.
    part = F.pmod(F.col("doc_id") + 7, F.lit(160))

    t0 = time.monotonic()
    TI.write_text_index(docs.filter(part >= 16), idx, n_buckets=N_BUCKETS)
    t_build = time.monotonic() - t0
    print(f"base build (~{int(N_DOCS * 144 / 160)} docs): {t_build:.1f}s")

    t0 = time.monotonic()
    TI.append_text_index(
        docs.filter((part >= 9) & (part < 16)), idx, batch_id=0
    )
    t_app = time.monotonic() - t0
    print(f"append (~{int(N_DOCS * 7 / 160)} docs): {t_app:.1f}s "
          f"({t_build / max(t_app, 1e-9):.1f}x cheaper than a rebuild "
          "would scale to)")

    def probe():
        t0 = time.monotonic()
        rows = [
            tuple(r)
            for r in TI.bm25_query_index(spark, idx, TERMS, k=K).collect()
        ]
        return rows, time.monotonic() - t0

    def inline(pred):
        t0 = time.monotonic()
        rows = [
            tuple(r)
            for r in bm25_topk(
                docs.filter(pred), TERMS, k=K, persist_tf=False
            ).collect()
        ]
        return rows, time.monotonic() - t0

    got, t_idx = probe()
    want, t_inline = inline(part >= 9)  # the exact indexed subset
    print(f"query: index {t_idx:.1f}s vs inline {t_inline:.1f}s "
          f"({t_inline / max(t_idx, 1e-9):.1f}x); identical="
          f"{got == want}")

    def nfiles():
        return sum(
            1
            for root, _, files in os.walk(os.path.join(idx, "postings"))
            for f in files
            if f.endswith(".parquet")
        )

    # fragmentation regime: 8 small DISJOINT appends (slices 1..8)
    for i in range(1, 9):
        TI.append_text_index(docs.filter(part == i), idx, batch_id=i)
    frag_files = nfiles()
    _, t_frag = probe()
    t0 = time.monotonic()
    stats = TI.compact_text_index(spark, idx)
    t_comp = time.monotonic() - t0
    got2, t_post = probe()
    want2, _ = inline(part >= 1)  # indexed subset after the 8 appends
    print(
        f"fragmentation: {frag_files} files -> probe {t_frag:.1f}s; "
        f"compaction {stats['files_before']}->{stats['files_after']} "
        f"files in {t_comp:.1f}s -> probe {t_post:.1f}s; "
        f"post-compaction identical={got2 == want2}"
    )
    n_docs_meta = TI.text_index_stats(idx)["n_docs"]
    print(f"meta n_docs={n_docs_meta} "
          f"(expect ~{int(N_DOCS * 159 / 160)}: slices 1..159)")

    # ---- positional index + phrase leg (r12): phrase-query cost must
    # stay bucket-pruned — it scales with the PHRASE TERMS' postings,
    # not the corpus, while the inline comparator re-tokenizes all
    # N docs per query ----
    pidx = os.path.join(WORKDIR, f"txtidx_pos_{N_DOCS}")
    t0 = time.monotonic()
    TI.write_text_index(
        docs, pidx, n_buckets=N_BUCKETS, store_positions=True
    )
    t_pb = time.monotonic() - t0
    print(f"positional build ({N_DOCS} docs, postings+positions): "
          f"{t_pb:.1f}s ({t_pb / max(t_build, 1e-9):.2f}x the "
          "postings-only build)")

    phrase = "w12 w47"
    slots = list(enumerate(phrase.split()))

    def inline_phrase():
        """Full-corpus comparator: tokenize every doc, same adjacency
        intersection — what every phrase check cost before the index."""
        toks = F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda t: t != "",
        )
        slots_df = F.broadcast(
            spark.createDataFrame(slots, "slot int, term string")
        )
        ex = (
            docs.select("doc_id", F.posexplode(toks).alias("pos", "term"))
            .join(slots_df, "term")
            .select(
                "doc_id", "slot",
                (F.col("pos") - F.col("slot")).alias("start"),
            )
            .filter(F.col("start") >= 0)
        )
        occ = (
            ex.groupBy("doc_id", "start")
            .agg(F.count_distinct("slot").alias("ns"))
            .filter(F.col("ns") == len(slots))
        )
        t0 = time.monotonic()
        rows = [
            tuple(r)
            for r in occ.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), F.col("doc_id").asc())
            .limit(K)
            .collect()
        ]
        return rows, time.monotonic() - t0

    t0 = time.monotonic()
    pgot = [
        tuple(r)
        for r in TI.phrase_query_index(spark, pidx, phrase, k=K).collect()
    ]
    t_pq = time.monotonic() - t0
    pwant, t_pin = inline_phrase()
    print(f"phrase '{phrase}': index {t_pq:.1f}s vs inline full-scan "
          f"{t_pin:.1f}s ({t_pin / max(t_pq, 1e-9):.1f}x); "
          f"identical={pgot == pwant}; "
          f"scanned {len(TI._term_buckets(spark, phrase.split(), N_BUCKETS))}"
          f"/{N_BUCKETS} buckets")


if __name__ == "__main__":
    main()
