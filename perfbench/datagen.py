"""Seeded input generators.  The same seed gives the same bytes; nothing is
read from outside the run directory.

The TPC-H-shaped tables use the column subset and types of the repo's test
parquet (``lineitem`` has no ``l_shipmode``; dates are ``timestamp[us]``).
Money columns carry two decimals so DECIMAL sums are exact in every engine.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400 * 1_000_000
_EPOCH_1992 = 8035          # 1992-01-01 in days since 1970-01-01
_ORDER_DAYS = 2405          # orders span 1992-01-01 .. 1998-08-02

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
           "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
           "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM",
           "RUSSIA", "UNITED KINGDOM", "UNITED STATES"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _ts(days):
    return pa.array(days.astype("int64") * _DAY_US, type=pa.timestamp("us"))


def tpch(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """region, nation, supplier, customer, orders, lineitem (~4 lines/order)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, n_orders // 10)
    n_supp = max(10, n_orders // 150)
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": NATIONS,
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "supplier": pa.table({
            "s_suppkey": np.arange(1, n_supp + 1, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "customer": pa.table({
            "c_custkey": np.arange(1, n_cust + 1, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
    }
    okeys = np.arange(1, n_orders + 1, dtype="int64")
    odays = _EPOCH_1992 + rng.integers(0, _ORDER_DAYS, n_orders)
    out["orders"] = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_cust + 1, n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 900, 450_000, n_orders),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]})
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    lkey = np.repeat(okeys, lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n)
    qty = rng.integers(1, 51, n).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": lkey,
        "l_partkey": rng.integers(1, max(200, n_orders // 5), n),
        "l_suppkey": rng.integers(1, n_supp + 1, n),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(ship)})
    return out


def events(seed: int, n: int, n_users: int) -> pa.Table:
    """A CDC-style event stream: several versions per user key."""
    rng = np.random.default_rng([seed, 2])
    ts = _EPOCH_1992 * 86_400 + rng.integers(0, 400 * 86_400, n)
    return pa.table({
        "event_id": np.arange(1, n + 1, dtype="int64"),
        "user_id": rng.integers(1, n_users + 1, n),
        "event_type": np.array(["signup", "click", "purchase", "error"])[rng.integers(0, 4, n)],
        "value": _money(rng, 0, 1000, n),
        "ts": pa.array(ts.astype("int64") * 1_000_000, type=pa.timestamp("us"))})


def write_parquet(tables: dict[str, pa.Table], directory: str) -> None:
    """``<dir>/<name>.parquet`` - the layout ``session.load_tables`` reads."""
    os.makedirs(directory, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(directory, f"{name}.parquet"))


# -- corpus --------------------------------------------------------------------

def _words(rng, vocab, n):
    # Zipf-like word frequencies, as in natural text
    idx = np.minimum(rng.zipf(1.3, n) - 1, len(vocab) - 1)
    return [vocab[i] for i in idx]


def corpus(seed: int, n_base: int, dup_share: float = 0.2, near_share: float = 0.2,
           dim: int = 16):
    """Documents and embeddings grown from ``n_base`` originals.

    A ``dup_share`` of extra docs are exact copies and a ``near_share`` are
    near-duplicates (one word substituted per ~40 words).  Returns
    (docs table, family id per doc, mutated flag per doc, held-out
    benchmark texts, embeddings table).  Docs of one family descend from
    the same original; a mutated doc is a near-duplicate, not an exact
    copy."""
    rng = np.random.default_rng([seed, 3])
    vocab = [f"w{i:04d}" for i in range(5000)]
    texts, family, mutated = [], [], []
    for b in range(n_base):
        texts.append(" ".join(_words(rng, vocab, int(rng.integers(40, 90)))))
        family.append(b)
        mutated.append(False)
    n_dup, n_near = int(n_base * dup_share), int(n_base * near_share)
    for src in rng.integers(0, n_base, n_dup):
        texts.append(texts[src])
        family.append(family[src])
        mutated.append(False)
    for src in rng.integers(0, n_base, n_near):
        w = texts[src].split(" ")
        for _ in range(max(1, len(w) // 40)):
            w[int(rng.integers(0, len(w)))] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(" ".join(w))
        family.append(family[src])
        mutated.append(True)
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    family = [family[i] for i in order]
    mutated = [mutated[i] for i in order]
    ids = np.arange(1, len(texts) + 1, dtype="int64")
    docs = pa.table({"doc_id": ids, "text": texts})
    # held-out "eval set": spans of a few originals, so decontamination hits
    held = []
    for b in rng.integers(0, n_base, max(3, n_base // 100)):
        w = texts[family.index(int(b))].split(" ")
        lo = int(rng.integers(0, max(1, len(w) - 12)))
        held.append(" ".join(w[lo:lo + 12]))
    held.append(" ".join(_words(rng, vocab, 30)))
    # embeddings: one direction per family, copies jittered slightly
    fam_vec = rng.normal(size=(n_base, dim))
    noise = rng.normal(scale=0.01, size=(len(texts), dim))
    vecs = (fam_vec[np.array(family)] + noise).astype("float32")
    emb = pa.table({"vec_id": ids, "embedding": pa.array(list(vecs), pa.list_(pa.float32()))})
    return docs, np.array(family), np.array(mutated), held, emb
