"""Self-tests of the benchmark's own pieces (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

import checks
import gen
import run
import tracing
import workloads

SMALL_STAR = {"clients": 300, "contracts": 480, "invoices": 5_000}


def _digest(path: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize(
    "make,size",
    [
        (gen.star_schema, SMALL_STAR),
        (gen.doc_corpus, {"docs": 2_000}),
    ],
)
def test_same_seed_same_bytes(tmp_path, make, size):
    a, b, c = (tmp_path / x for x in "abc")
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        d.mkdir()
        make(str(d), seed, **size)
    assert _digest(str(a)) == _digest(str(b))
    assert _digest(str(a)) != _digest(str(c))


def test_cache_reuses_and_evicts(tmp_path):
    calls = []

    def make(out, seed, *, n):
        calls.append(seed)
        with open(os.path.join(out, "x"), "w") as fh:
            fh.write(str(seed * n))

    first = gen.cached(str(tmp_path), "w", 1, {"n": 3}, make)
    assert gen.cached(str(tmp_path), "w", 1, {"n": 3}, make) == first
    assert calls == [1]
    for seed in range(2, 2 + gen.KEEP_PER_WORKLOAD + 1):
        gen.cached(str(tmp_path), "w", seed, {"n": 3}, make)
    assert len(os.listdir(tmp_path / "w")) == gen.KEEP_PER_WORKLOAD


# --- hypercube check -----------------------------------------------------------


@pytest.fixture(scope="module")
def star(tmp_path_factory):
    d = tmp_path_factory.mktemp("star")
    gen.star_schema(str(d), 3, **SMALL_STAR)
    return str(d), checks.cube_oracle(str(d))


def _reference_csv(df: pd.DataFrame, path: str) -> None:
    """The program's reference output format: ``ncontrats`` header and
    amounts without a leading zero."""
    out = df.rename(columns={"ncontracts": "ncontrats"}).copy()
    out["amount"] = [f"{a:.2f}".replace("0.", ".", 1) if abs(a) < 1 else f"{a:.2f}"
                     for a in out["amount"]]
    out.to_csv(path, index=False)


def test_cube_check_accepts_the_oracle_in_reference_format(star, tmp_path):
    _, want = star
    path = str(tmp_path / "cube.csv")
    _reference_csv(want, path)
    assert checks.check_cube(checks.read_reference_csv(path), want) == []


@pytest.mark.parametrize(
    "perturb",
    [
        lambda df: df.assign(amount=df["amount"] + np.where(df.index == 5, 0.02, 0)),
        lambda df: df.assign(nclients=df["nclients"] + (df.index == 0)),
        lambda df: df.assign(ninvoices=df["ninvoices"] + (df.index == len(df) - 1)),
        lambda df: df.drop(index=3).reset_index(drop=True),
        lambda df: df.iloc[[1, 0] + list(range(2, len(df)))].reset_index(drop=True),
        lambda df: df.rename(columns={"ninvoices": "n"}),
    ],
    ids=["amount", "nclients", "ninvoices", "dropped-row", "order", "columns"],
)
def test_cube_check_rejects_perturbed_output(star, perturb):
    _, want = star
    assert checks.check_cube(perturb(want.copy()), want)


def test_cube_check_tolerates_amount_rounding(star):
    _, want = star
    got = want.assign(amount=want["amount"] + 0.01)
    assert checks.check_cube(got, want) == []


# --- dedup checks ----------------------------------------------------------------


@pytest.fixture(scope="module")
def key():
    return checks.DedupKey(5, 1_000)


def _groups(key):
    return sorted((a, 2) for a, _ in key.exact)


def _pairs(key):
    return sorted((a, b, key.jaccard(a, b)) for a, b in key.exact | key.near)


def test_planted_duplicates_are_what_the_key_says(key):
    assert all(key.jaccard(a, b) == 1.0 for a, b in key.exact)
    assert all(0.8 < key.jaccard(a, b) < 1.0 for a, b in key.near)
    assert checks.check_exact_groups(key, _groups(key)) == []
    problems, recall = checks.check_near_pairs(key, _pairs(key), 0.99)
    assert problems == [] and recall == 1.0


@pytest.mark.parametrize(
    "perturb",
    [
        lambda g: g[1:],
        lambda g: [(g[0][0], 3)] + g[1:],
        lambda g: [(g[0][0] + 1, 2)] + g[1:],
        lambda g: g + [(7, 2)],
    ],
    ids=["missing-group", "wrong-size", "wrong-rep", "extra-group"],
)
def test_exact_check_rejects_perturbed_groups(key, perturb):
    assert checks.check_exact_groups(key, perturb(_groups(key)))


@pytest.mark.parametrize(
    "perturb",
    [
        lambda p: p + [(1, 2, 0.9)],
        lambda p: [(p[0][0], p[0][1], p[0][2] - 0.01)] + p[1:],
        lambda p: [x for x in p if x[2] == 1.0],
        lambda p: [x for x in p if x[2] < 1.0],
        lambda p: p + p[:1],
    ],
    ids=["stray-pair", "wrong-jaccard", "no-near-pairs", "no-exact-pairs", "repeated"],
)
def test_near_check_rejects_perturbed_pairs(key, perturb):
    problems, _ = checks.check_near_pairs(key, perturb(_pairs(key)), 0.99)
    assert problems


# --- metric names, tracing helpers, entry point ------------------------------------


def test_metric_names_match_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert spec["paths"] == ["perfbench"]


def test_tail_percentile_needs_ten_samples_above():
    assert run.tail_percentile([1.0] * 19) is None
    p, v = run.tail_percentile([float(i) for i in range(100)])
    assert p == 90 and 89 <= v <= 90


def test_span_counters_attribute_jobs_to_spans():
    def job(jid, stages, span):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
                "Properties": {} if span is None else {tracing.SPAN_PROPERTY: str(span)}}

    def task(stage, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 0, "Finish Time": run_ms + 5,
                              "Getting Result Time": 0},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Executor CPU Time": run_ms * 10**6,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}}

    events = [job(0, [0, 1], 3), job(1, [2], None), task(0, 10), task(1, 20),
              task(2, 30), {"Event": "SparkListenerStageCompleted",
                            "Stage Info": {"Stage ID": 1}}]
    c = tracing.span_counters(events)
    assert set(c) == {3}
    assert c[3]["jobs"] == 1 and c[3]["tasks"] == 2 and c[3]["stages"] == 1
    assert c[3]["shuffle_write_bytes"] == 14
    assert c[3]["executor_cpu_s"] == pytest.approx(0.03)
    assert c[3]["scheduler_delay_s"] == pytest.approx(0.01)


def test_tracer_records_parents():
    t = tracing.Tracer()
    with t.span("a"):
        with t.span("b"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]
    assert all(tracing.duration(s) >= 0 for s in t.spans)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, a run must fail
    without printing a result."""
    shutil.copytree(run.HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "hypercube_etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
