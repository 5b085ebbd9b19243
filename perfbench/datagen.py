"""Seeded inputs for the benchmark.

``write_tables`` writes the ten fixture tables the gates read (the
TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), with the same column names, physical types and value
domains as the repository's test fixtures, scaled by ``sf``.
``facade_grid`` builds one all-string report grid with the reference's
messy cells. The same seed always gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, (hi - lo).astype(np.int64) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pd.DataFrame]:
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_user = int(15_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    i32 = np.int32
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}
    )
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.10, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.asarray(WORDS, dtype=object)
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i and r < 0.052:  # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vec),
        "label": rng.integers(0, 10, n_emb).astype(i32),
    })
    return out


def write_tables(sf_dir: str, sf: float, seed: int) -> None:
    """Write the fixture tables for scale factor ``sf`` into ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(round(sf * 1000))])
    for name, df in _tables(sf, rng).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding",
                pa.array(df["embedding"].tolist(), pa.list_(pa.float32())),
            )
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


# ---------- facade grids ----------

GRID_COLUMNS = ["id", "qty", "price", "shipped", "note", "region"]


def facade_grid(seed: int, n_rows: int) -> list[list[str]]:
    """An ``n_rows`` x 6 grid of strings (see ``GRID_COLUMNS``) with the
    reference's messy cells, whose typed values are still recoverable:
    blank/NBSP padding, thousands separators, decimals, ISO dates and
    times, and ``nil``/empty cells (never in ``id``)."""
    rng = np.random.default_rng([seed, n_rows])
    n = n_rows
    qty = rng.integers(-2000, 2_000_000, n)
    price = rng.uniform(-500, 50_000, n)
    day = np.datetime64("2020-01-01") + rng.integers(0, 2000, n)
    hour = rng.integers(0, 24, n)
    sep = rng.random((n, 3)) < 0.3
    words = np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), (n, 3))]
    n_words = rng.integers(1, 4, n)
    region = np.asarray(REGIONS, dtype=object)[rng.integers(0, 5, n)]
    pad = np.asarray(["", " ", "\xa0", "  "], dtype=object)[rng.integers(0, 4, (n, 6))]
    null = np.asarray(["", "nil", "NIL", "  "], dtype=object)[rng.integers(0, 4, (n, 6))]
    is_null = rng.random((n, 6)) < 0.04
    is_null[:, 0] = False
    cols = [
        [str(i + 1) for i in range(n)],
        [f"{v:,}" if s else str(v) for v, s in zip(qty, sep[:, 0])],
        [f"{v:,.2f}" if s else f"{v:.3f}" for v, s in zip(price, sep[:, 1])],
        [str(d) if s else f"{d} {h:02d}:30:00" for d, h, s in zip(day, hour, ~sep[:, 2])],
        [" ".join(w[:k]) for w, k in zip(words, n_words)],
        list(region),
    ]
    return [
        [null[i, j] if is_null[i, j] else pad[i, j] + cols[j][i] + pad[i, j]
         for j in range(6)]
        for i in range(n)
    ]
