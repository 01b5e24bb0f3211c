"""Seeded catalog tables for the ``catalog`` workload.

The catalog queries read ten parquet tables (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``). This module writes
them from a seed at the row counts of the repository's shared sf0.01
test tables (``ROWS``), so the cost of a pass does not depend on the
seed. The generator follows the shape measured on those tables with
:func:`shape` and recorded in ``design.json`` (``catalog_shape``):
document length, vocabulary and near-duplicate rate, events per user,
line numbers per order, embedding geometry. ``test_corpus.py`` checks
the generated tables against the recorded shape. Money columns carry at
most two decimals, which the catalog's exact fixed-point sums require.

Three departures from the shared tables, all so the oracle comparison
cannot fail on a tie: ``(l_orderkey, l_linenumber)`` is unique, event
values are full-precision doubles rather than cents, and the embeddings
are redrawn until their top pairs by cosine are unambiguous.

Usage: ``python3 perfbench/tables.py --seed 1 --out DIR`` writes the
tables; ``python3 perfbench/tables.py --shape DIR`` prints the shape of
any directory of these tables as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
EMBED_DIM = 64
LINES = 7  # line numbers per order
NEAR_DUP_EVERY = 20
COSINE_TOPK = 5  # the k of the catalog's l_cosine_topk
WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "cold"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "gizmo", "anvil", "nut"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, size=n).astype("datetime64[D]").astype(
        "datetime64[us]"
    )


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, size=n) / 100.0


def _choice(rng, options: list[str], n: int) -> list[str]:
    return [options[i] for i in rng.integers(0, len(options), size=n)]


def _documents(rng) -> dict:
    n = ROWS["documents"]
    texts = [
        " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(k)))
        for k in rng.integers(10, 100, size=n)
    ]
    # one document in NEAR_DUP_EVERY becomes another document plus a
    # trailing " dup", one after the other, so a copy of a copy (" dup
    # dup") and two equal copies of one document can occur, as in the
    # shared test tables
    for i in rng.choice(n, size=n // NEAR_DUP_EVERY, replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    langs = rng.choice(
        ["en", "zh", "es", "fr", "de"], size=n, p=[0.41, 0.15, 0.15, 0.15, 0.14]
    )
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng) -> np.ndarray:
    """Random unit vectors, redrawn until the top ``COSINE_TOPK + 1``
    pairs by cosine round to distinct 4-place values, none within 1e-6
    of a rounding midpoint. ``l_cosine_topk`` ranks pairs by their exact
    cosine and reports it rounded, while its oracle ranks by the rounded
    value and then by id, so pairs that round alike there make the two
    disagree (about one seed in thirty otherwise)."""
    n = ROWS["embeddings"]
    while True:
        vecs = rng.normal(size=(n, EMBED_DIM))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        v = vecs.astype(np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        cos = (v @ v.T)[np.triu_indices(n, 1)]
        top = np.partition(cos, -(COSINE_TOPK + 1))[-(COSINE_TOPK + 1):] * 1e4
        if len(set(np.round(top))) == len(top) and np.all(np.abs(top % 1 - 0.5) > 0.01):
            return vecs


def _lineitem(rng, n_orders: int) -> dict:
    n = ROWS["lineitem"]
    # n distinct (order, line) cells of the n_orders x LINES grid: line
    # numbers are uniform over 1..LINES and about n / n_orders lines fall
    # on an order, as in the shared tables, while (l_orderkey,
    # l_linenumber) stays unique
    cells = rng.choice(n_orders * LINES, size=n, replace=False)
    keys, lines = cells // LINES, cells % LINES + 1
    return {
        "l_orderkey": pa.array(keys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], size=n), pa.int64()),
        "l_linenumber": pa.array(lines, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(np.float64), pa.float64()),
        # independent of the quantity, as in the shared tables
        "l_extendedprice": pa.array(_money(rng, n, 900.0, 105_000.0), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(_choice(rng, ["A", "N", "R"], n), pa.string()),
        "l_linestatus": pa.array(_choice(rng, ["F", "O"], n), pa.string()),
        "l_shipdate": pa.array(_days(rng, n, "1995-01-02", "2001-11-04")),
    }


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 3])
    nc, ns, npart, no = (ROWS[k] for k in ("customer", "supplier", "part", "orders"))
    prices = 900.0 + (np.arange(npart) % 1000) / 10.0
    ne = ROWS["events"]
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span_us, size=ne, replace=False)) + ts0
    nv = ROWS["embeddings"]
    labels = rng.integers(0, 10, size=nv)  # labels carry no geometry
    vecs = _embeddings(rng)
    cols = {
        "region": {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, size=nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99), pa.float64()),
            "c_mktsegment": pa.array(_choice(rng, _SEGMENTS, nc), pa.string()),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, size=ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99), pa.float64()),
        },
        "part": {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(_choice(rng, _ADJ, npart),
                                            _choice(rng, _NOUN, npart))],
                pa.string(),
            ),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, size=npart)], pa.string()
            ),
            "p_type": pa.array(_choice(rng, _TYPES, npart), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, size=npart), pa.int32()),
            "p_retailprice": pa.array(prices, pa.float64()),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, size=no), pa.int64()),
            "o_orderstatus": pa.array(_choice(rng, ["F", "O", "P"], no), pa.string()),
            "o_totalprice": pa.array(_money(rng, no, 1000.0, 500000.0), pa.float64()),
            "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01")),
            "o_orderpriority": pa.array(_choice(rng, _PRIORITIES, no), pa.string()),
        },
        "lineitem": _lineitem(rng, no),
        "events": {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, size=ne), pa.int64()),
            "event_type": pa.array(_choice(rng, _EVENT_TYPES, ne), pa.string()),
            # full-precision doubles, not cents: t_ewma folds
            # 0.9 * acc + 0.1 * x, which on decimal inputs lands exactly
            # on the .5 ties of its round(.., 6) every few seeds, and
            # Spark and DuckDB break such ties differently
            "value": pa.array(np.maximum(rng.exponential(50.0, size=ne), 0.01),
                              pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=ne)], pa.string()
            ),
        },
        "documents": _documents(rng),
        "embeddings": {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        },
    }
    return {name: pa.table(c) for name, c in cols.items()}


def build(seed: int, cache_root: str) -> str:
    """Write (or reuse) the tables for ``seed``; return their directory."""
    out = os.path.join(cache_root, f"tables-seed{seed}")
    if os.path.exists(os.path.join(out, "done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    open(os.path.join(out, "done"), "w").close()
    return out


def _shingle_jaccard(texts: list[str], k: int = 5) -> np.ndarray:
    """Jaccard similarity of the character ``k``-shingle sets of every
    pair of texts (the sets MinHash LSH estimates)."""
    sets = [{t[i:i + k] for i in range(max(1, len(t) - k + 1))} for t in texts]
    index: dict[str, int] = {}
    rows, cols = [], []
    for r, sh in enumerate(sets):
        for x in sh:
            rows.append(r)
            cols.append(index.setdefault(x, len(index)))
    m = np.zeros((len(sets), len(index)), np.float32)
    m[rows, cols] = 1.0
    inter = m @ m.T
    sizes = np.diag(inter)
    return inter / (sizes[:, None] + sizes[None, :] - inter)


def shape(directory: str) -> dict:
    """The features of a table directory that set the catalog queries'
    cost: row counts, the text shape behind the LSH and SimHash queries,
    the event stream behind t_ewma, and the embedding geometry."""
    read = lambda name: pq.read_table(os.path.join(directory, f"{name}.parquet"))  # noqa: E731
    out: dict = {"rows": {name: read(name).num_rows for name in ROWS}}
    texts = read("documents").column("text").to_pylist()
    words = [len(t.split()) for t in texts]
    jac = _shingle_jaccard(texts)
    off = jac[np.triu_indices(len(texts), 1)]
    near = (jac >= 0.5) & (jac < 1.0)
    np.fill_diagonal(near, False)
    langs = read("documents").column("lang").to_pylist()
    out["documents"] = {
        "words_min": min(words), "words_max": max(words),
        "words_mean": round(float(np.mean(words)), 2),
        "vocabulary": len({w for t in texts for w in t.split()}),
        "exact_dup_frac": round(1 - len(set(texts)) / len(texts), 4),
        "near_dup_doc_frac": round(float(near.any(axis=1).mean()), 4),
        "shingle_jaccard_median": round(float(np.median(off)), 4),
        "shingle_jaccard_ge_0.5_pairs": int((off >= 0.5).sum()),
        "en_frac": round(langs.count("en") / len(langs), 3),
    }
    users = np.unique(read("events").column("user_id").to_numpy(), return_counts=True)[1]
    out["events"] = {
        "users": len(users), "per_user_min": int(users.min()),
        "per_user_median": float(np.median(users)), "per_user_max": int(users.max()),
    }
    li = read("lineitem")
    keys = li.column("l_orderkey").to_numpy()
    qty, price = li.column("l_quantity").to_numpy(), li.column("l_extendedprice").to_numpy()
    out["lineitem"] = {
        "linenumber_max": int(pc.max(li.column("l_linenumber")).as_py()),
        "lines_per_order_mean": round(len(keys) / len(np.unique(keys)), 3),
        "extendedprice_median": round(float(np.median(price)), 0),
        "corr_quantity_price": round(float(np.corrcoef(qty, price)[0, 1]), 3),
    }
    emb = read("embeddings")
    vecs = np.array(emb.column("embedding").to_pylist(), np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = emb.column("label").to_numpy()
    cos = vecs @ vecs.T
    same = (labels[:, None] == labels[None, :]) & ~np.eye(len(labels), dtype=bool)
    out["embeddings"] = {
        "dim": vecs.shape[1], "labels": len(np.unique(labels)),
        "same_minus_other_label_cosine": round(
            float(cos[same].mean() - cos[labels[:, None] != labels[None, :]].mean()), 4
        ),
    }
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--out", help="cache directory")
    ap.add_argument("--shape", metavar="DIR", help="print the shape of a table directory")
    args = ap.parse_args()
    if args.shape:
        print(json.dumps(shape(args.shape), indent=1))
    elif args.seed is not None and args.out:
        print(build(args.seed, args.out))
    else:
        ap.error("give --seed and --out, or --shape")


if __name__ == "__main__":
    main()
