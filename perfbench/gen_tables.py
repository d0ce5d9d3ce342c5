"""Seeded parquet tables for the analytics workloads.

Writes ``<out>/<table>.parquet`` for the ten tables the registry queries
read (``plans/tables.py:TABLE_NAMES``), with the column names, types and
value domains of the project's fixture schema (FIXTURES.md): a TPC-H-like
star schema, an ``events`` stream, a ``documents`` corpus with ~5% near
duplicates and unit-norm 64-d ``embeddings`` with weak label clusters.

Row counts are those of the fixture set at scale factor 0.01 (``ROWS``).
Run standalone: ``python3 perfbench/gen_tables.py --seed 1 --out DIR``.
"""

from __future__ import annotations

import argparse
import pathlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPE = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_DAY_US = 86_400 * 10**6
#: rows per generated table (region and nation are fixed at 5 and 25)
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - lo_d).astype(int)
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = ROWS["customer"], ROWS["supplier"], ROWS["part"]
    n_ord, n_line, n_ev = ROWS["orders"], ROWS["lineitem"], ROWS["events"]
    n_doc, n_emb = ROWS["documents"], ROWS["embeddings"]
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pd.DataFrame(
        {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
         "n_regionkey": (nk % 5).astype(np.int32)}
    )
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(_NOUN)[rng.integers(0, 8, n_part)]
    out["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(_PTYPE)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _cents(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(_PRIO)[rng.integers(0, 5, n_ord)],
        }
    )
    flag = rng.integers(0, 6, n_line)
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[flag // 2],
            "l_linestatus": np.array(["F", "O"])[flag % 2],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, max(150, n_ev // 66), n_ev).astype(np.int64),
            "event_type": np.array(_EVENTS)[rng.integers(0, 5, n_ev)],
            "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        for _ in range(n_doc)
    ]
    # ~5% near duplicates: an earlier document plus a marker word
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    doc_id = np.arange(n_doc, dtype=np.int64)
    out["documents"] = pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
            "source": np.char.add("src", (doc_id % 20).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_emb).astype(np.int32)
    vec = 0.14 * centers[label] + rng.normal(scale=0.125, size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame(
        {"vec_id": np.arange(n_emb, dtype=np.int64), "embedding": list(vec), "label": label}
    )
    return out


def generate(seed: int, out: pathlib.Path) -> dict[str, int]:
    """Write every table under ``out``; return rows per table."""
    out.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, df in tables(seed).items():
        schema = None
        if name == "embeddings":
            schema = pa.schema(
                [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                 ("label", pa.int32())]
            )
        pq.write_table(
            pa.Table.from_pandas(df, schema=schema, preserve_index=False),
            out / f"{name}.parquet",
        )
        rows[name] = len(df)
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(generate(a.seed, pathlib.Path(a.out)))


if __name__ == "__main__":
    main()
