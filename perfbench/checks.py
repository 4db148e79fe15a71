"""Independent answer keys and the output checks built on them.

Each check returns a list of human-readable problems; an empty list
means the output is correct. The hypercube oracle is DuckDB over the
same generated files; the dedup answer key is the planted duplicate
scheme of ``gen.corpus_ranks``.
"""

from __future__ import annotations

import itertools
import os

import duckdb
import numpy as np
import pandas as pd

import gen

CUBE_DIMS = ["geo", "type", "misc", "nature", "time"]
CUBE_COLUMNS = CUBE_DIMS + [
    "consumption", "amount", "nclients", "ncontracts", "ninvoices",
]
AMOUNT_TOLERANCE = 0.01


# --- hypercube_etl -------------------------------------------------------------


def cube_oracle(data_dir: str) -> pd.DataFrame:
    """The reference query, computed by DuckDB from the generated files."""
    inv = gen.read_invoices(os.path.join(data_dir, "invoices.bin"))
    invoices = pd.DataFrame({
        "id_contract": inv["id_contract"].astype(np.int32),
        "time": inv["time"].astype(np.int32),
        "amount": inv["amount"].astype(np.float64),
        "consumption": inv["consumption"].astype(np.int64),
    })
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.register("invoices", invoices)
        return con.execute(
            f"""
            SELECT cl.geo, cl.type, cl.misc, ct.nature, i.time,
                   SUM(i.consumption)::BIGINT AS consumption,
                   ROUND(SUM(i.amount), 2) AS amount,
                   COUNT(DISTINCT cl.id)::BIGINT AS nclients,
                   COUNT(DISTINCT ct.id)::BIGINT AS ncontracts,
                   COUNT(*)::BIGINT AS ninvoices
            FROM invoices i
            JOIN read_csv('{data_dir}/contracts.csv', header = true) ct
              ON i.id_contract = ct.id
            JOIN read_csv('{data_dir}/clients.csv', header = true) cl
              ON ct.id_client = cl.id
            GROUP BY ALL
            ORDER BY ALL
            """
        ).df()
    finally:
        con.close()


def read_reference_csv(path: str) -> pd.DataFrame:
    """The program's reference-format CSV (``ncontrats`` header, amounts
    like ``.47``) in the oracle's column names."""
    return pd.read_csv(path).rename(columns={"ncontrats": "ncontracts"})


def check_cube(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Row count, row order and every column must match the oracle;
    ``amount`` within ``AMOUNT_TOLERANCE``."""
    if list(got.columns) != CUBE_COLUMNS:
        return [f"columns {list(got.columns)} != {CUBE_COLUMNS}"]
    if len(got) != len(want):
        return [f"{len(got)} rows, oracle has {len(want)}"]
    problems = []
    keys = got[CUBE_DIMS].to_numpy()
    if len(keys) > 1:
        prev, nxt = keys[:-1], keys[1:]
        # lexicographic ascending: the first differing dim must increase
        diff = prev != nxt
        first = diff.argmax(axis=1)
        rows = np.arange(len(first))
        ascending = diff.any(axis=1) & (nxt[rows, first] > prev[rows, first])
        if not ascending.all():
            problems.append(
                f"rows out of dimension order at row {int((~ascending).argmax()) + 1}"
            )
    for col in CUBE_COLUMNS:
        g, w = got[col].to_numpy(), want[col].to_numpy()
        if col == "amount":
            bad = np.abs(g - w) > AMOUNT_TOLERANCE + 1e-9
        else:
            bad = g != w
        if bad.any():
            problems.append(f"{col}: {int(bad.sum())} rows differ from the oracle")
    return problems


# --- doc_dedup -----------------------------------------------------------------


class DedupKey:
    """Answer key for one generated corpus."""

    def __init__(self, seed: int, docs: int):
        self.ranks = gen.corpus_ranks(seed, docs)
        self.exact, self.near = gen.planted_pairs(docs)
        self._by_text: dict[bytes, list[int]] | None = None

    def exact_pairs(self, groups: list[tuple[int, int]]) -> set:
        """Pairs implied by exact-duplicate groups given as
        (representative id, group size). A group the corpus cannot
        explain (wrong representative or size) yields a (rep, -1) pair,
        which no planted set contains."""
        if self._by_text is None:
            self._by_text = {}
            for i, row in enumerate(self.ranks):
                self._by_text.setdefault(row.tobytes(), []).append(i)
        pairs = set()
        for rep, n in groups:
            members = self._by_text.get(self.ranks[rep].tobytes(), [])
            if members[:1] != [rep] or len(members) != n:
                pairs.add((rep, -1))
                continue
            pairs.update(itertools.combinations(members, 2))
        return pairs

    def jaccard(self, a: int, b: int) -> float:
        sa, sb = _shingles(self.ranks[a]), _shingles(self.ranks[b])
        return len(sa & sb) / len(sa | sb)


def _shingles(row: np.ndarray, k: int = 3) -> set:
    return {tuple(row[i:i + k]) for i in range(len(row) - k + 1)}


def check_exact_groups(key: DedupKey, groups: list[tuple[int, int]]) -> list[str]:
    """The exact-duplicate pair set must equal the planted set."""
    got = key.exact_pairs(groups)
    if got == key.exact:
        return []
    return [
        f"exact pairs: {len(got - key.exact)} unexpected, "
        f"{len(key.exact - got)} planted pairs missing"
    ]


def check_near_pairs(
    key: DedupKey, pairs: list[tuple[int, int, float]], recall_floor: float
) -> tuple[list[str], float]:
    """Every reported pair must be planted and carry its exact Jaccard;
    every exact copy must be reported; the share of planted near copies
    found (returned) must reach ``recall_floor``."""
    problems = []
    found = {(a, b) for a, b, _ in pairs}
    stray = found - key.exact - key.near
    if stray:
        problems.append(f"{len(stray)} pairs that were not planted")
    if len(found) != len(pairs):
        problems.append("duplicate pairs in the output")
    wrong = sum(
        1 for a, b, j in pairs
        if (a, b) not in stray and abs(j - key.jaccard(a, b)) > 1e-9
    )
    if wrong:
        problems.append(f"{wrong} pairs with a wrong Jaccard value")
    if key.exact - found:
        problems.append(f"{len(key.exact - found)} exact copies not paired")
    recall = len(found & key.near) / len(key.near)
    if recall < recall_floor:
        problems.append(f"near-duplicate recall {recall:.4f} < {recall_floor}")
    return problems, recall
