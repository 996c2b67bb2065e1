"""Generator for the benchmark's input tables.

Writes the ten parquet tables every registered query reads (``region
nation customer supplier part orders lineitem events documents
embeddings``). At ``seed=42`` it reproduces the repository's fixture
tables (TESTDATA.md, ``sf0.001``, ``sf0.01`` and ``sf0.1``) value for
value: the same row counts, column types, value domains and draws, in
the order of one ``numpy.random.default_rng(seed)`` stream. That covers
the uniform foreign keys, the category orders below, the 5% near-
duplicate documents (a copy of a random document plus `` dup``) and the
unclustered unit embeddings. The benchmark always writes the tables
with ``FIXTURE_SEED``, so every run reads the fixture's data.

    python3 perfbench/datagen.py OUT_DIR --sf 0.01 [--compare FIXTURE_DIR]

With ``--compare`` it checks each written file against the file of the
same name in ``FIXTURE_DIR`` byte for byte, and exits 1 on a difference.
"""

from __future__ import annotations

import argparse
import filecmp
import os
import sys

import numpy as np
import pandas as pd

FIXTURE_SEED = 42

# category lists in draw-code order (code i of ``rng.integers`` -> item i)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
DIM = 64


def _pick(rng: np.random.Generator, items: list[str], n: int) -> np.ndarray:
    return np.array(items)[rng.integers(0, len(items), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    return (np.datetime64(start, "s")
            + rng.integers(0, span, n) * np.timedelta64(86_400, "s"))


def tables(sf: float, seed: int = FIXTURE_SEED) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_user = max(int(15_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = min(max(int(50_000 * sf), 500), 2_000)

    out = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": REGIONS,
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
    }
    adj = _pick(rng, PART_ADJ, n_part)
    noun = _pick(rng, PART_NOUN, n_part)
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": _money(rng, 0.0, 0.1, n_line),
        "l_tax": _money(rng, 0.0, 0.08, n_line),
        "l_returnflag": _pick(rng, RETURN_FLAGS, n_line),
        "l_linestatus": _pick(rng, LINE_STATUS, n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
    })
    # uniform seconds over 30 days, sorted, in nanoseconds (truncated;
    # the parquet writer truncates again, to microseconds)
    ts_ns = (np.sort(rng.uniform(0, 30 * 86_400, n_ev)) * 1e9).astype(np.int64)
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev),
        "ts": np.datetime64("2024-01-01", "ns") + ts_ns,
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(WORDS)
    text = []
    for _ in range(n_doc):
        k = int(rng.integers(10, 100))
        text.append(" ".join(words[rng.integers(0, len(WORDS), k)]))
    # 5% near-duplicates, made in draw order: a document becomes a copy
    # of another (possibly already rewritten) document plus one token
    dup = rng.choice(n_doc, size=n_doc // 20, replace=False)
    for i, j in zip(dup, rng.integers(0, n_doc, len(dup))):
        text[i] = text[j] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc),
        "text": text,
        "lang": _pick(rng, LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    vec = rng.standard_normal((n_emb, DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb),
        "embedding": list(vec),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return out


def write(out_dir: str, sf: float, seed: int = FIXTURE_SEED) -> None:
    """Write every table under ``out_dir`` (created if absent), through
    pandas and pyarrow with microsecond timestamps, as the fixture was:
    at the fixture's seed the files are byte-identical to it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(sf, seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False,
                      coerce_timestamps="us", allow_truncated_timestamps=True)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=FIXTURE_SEED)
    ap.add_argument("--compare", metavar="FIXTURE_DIR")
    a = ap.parse_args()
    write(a.out_dir, a.sf, a.seed)
    if a.compare:
        names = sorted(os.listdir(a.out_dir))
        _, differ, missing = filecmp.cmpfiles(a.out_dir, a.compare, names,
                                              shallow=False)
        print(f"{len(names) - len(differ) - len(missing)}/{len(names)} "
              f"files byte-identical; differ {differ}; missing {missing}")
        sys.exit(1 if differ or missing else 0)
