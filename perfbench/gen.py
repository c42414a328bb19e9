"""Deterministic input generator for the benchmark.

Everything the program reads is made here from a seed, so the same seed
gives byte-identical files.  Three kinds of output:

* landing CSVs for the medallion pipeline (`write_landing`): the seven
  TPC-H-shaped tables, lineitem with one synthesized key `l_key`, and the
  Gold mart rows they fix (`gold_counts`);
* incremental deltas (`make_delta`): per table, exactly `changes(n)` keys
  with one tracked column changed and exactly `news(n)` new keys;
  nation/region get a header-only file so they take the skipped-empty path;
* the query tables as parquet (`write_parquet`), in the schema of the
  library's `graft.core.Tables` loaders (TPC-H tables plus events,
  documents, embeddings).

Sizes follow TPC-H ratios at a scale factor `sf`: customer 150k*sf,
supplier 10k*sf, part 200k*sf, orders 1.5M*sf, four lines per order.
"""
import datetime as dt
import os

import numpy as np

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "green", "large", "steel", "brass", "polished"]
NOUN = ["ring", "widget", "bolt", "gear", "panel", "valve", "spring", "cable"]
WORDS = ("a the table row column key value part hash scan join sort agg "
         "window batch merge spark query data order customer line fast "
         "slow big small filter index").split()
LANGS = ["en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EPOCH = dt.date(1995, 1, 1)

# pipeline tables in landing order, with primary key and the column a
# delta changes (money columns move by +1.00, orders change priority)
PIPELINE_TABLES = [
    ("region", "r_regionkey", None),
    ("nation", "n_nationkey", None),
    ("customer", "c_custkey", "c_acctbal"),
    ("supplier", "s_suppkey", "s_acctbal"),
    ("part", "p_partkey", "p_retailprice"),
    ("orders", "o_orderkey", "o_orderpriority"),
    ("lineitem", "l_key", "l_quantity"),
]


def sizes(sf):
    n_orders = max(10, int(round(1_500_000 * sf)))
    return {
        "customer": max(10, int(round(150_000 * sf))),
        "supplier": max(5, int(round(10_000 * sf))),
        "part": max(10, int(round(200_000 * sf))),
        "orders": n_orders,
        "events": max(100, int(round(1_000_000 * sf))),
        "documents": max(50, int(round(50_000 * sf))),
        "embeddings": max(500, int(round(20_000 * sf))),
    }


def changes(n):
    """Keys a delta changes: exactly 1% of the table, at least one."""
    return max(1, n // 100)


def news(n):
    """Keys a delta adds: exactly 0.5% of the table, at least one."""
    return max(1, n // 200)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_base(seed, sf):
    """Column arrays for the seven pipeline tables."""
    rng = np.random.default_rng([seed, 1])
    n = sizes(sf)
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": np.array(REGIONS, dtype=object)}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    nc = n["customer"]
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(nc)], dtype=object),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, nc)]}
    ns = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(ns)], dtype=object),
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)}
    npart = n["part"]
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN], dtype=object)
    t["part"] = {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), npart)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)], dtype=object)[
            rng.integers(0, 25, npart)],
        "p_type": np.array(PTYPES, dtype=object)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)}
    no = n["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": rng.integers(0, 2404, no).astype(np.int64),
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, no)]}
    nl = 4 * no
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lok = np.repeat(np.arange(no, dtype=np.int64), 4)
    lnum = np.tile(np.arange(1, 5, dtype=np.int32), no)
    t["lineitem"] = {
        "l_key": lok * 8 + lnum,
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, nl)],
        "l_shipdate": t["orders"]["o_orderdate"][lok] + rng.integers(1, 122, nl)}
    return t


def gold_counts(base):
    """Rows of the Gold marts the landing fixes: every line joins all its
    dimensions, so the fact has one row per line, order_rates one per
    supplier with lines and customer_analytics one per customer with
    orders."""
    return {
        "fact_order_details": len(base["lineitem"]["l_key"]),
        "order_rates": len(np.unique(base["lineitem"]["l_suppkey"])),
        "customer_analytics": len(np.unique(base["orders"]["o_custkey"])),
    }


def _cell(v, name):
    if name.endswith("date"):
        return (EPOCH + dt.timedelta(days=int(v))).isoformat()
    if isinstance(v, (float, np.floating)):
        return f"{v:.2f}"
    return str(v)


def write_csv(path, cols):
    """One CSV with a header line; an empty table writes the header only."""
    names = list(cols)
    rows = zip(*(cols[c] for c in names)) if names else []
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(",".join(names) + "\n")
        for r in rows:
            f.write(",".join(_cell(v, c) for v, c in zip(r, names)) + "\n")


def write_landing(tables, root, names=None):
    """`<root>/<table>.csv` for every pipeline table, or for those in
    `names`; returns row counts."""
    os.makedirs(root, exist_ok=True)
    counts = {}
    for name, _, _ in PIPELINE_TABLES:
        if names is not None and name not in names:
            continue
        cols = tables[name]
        write_csv(os.path.join(root, f"{name}.csv"), cols)
        counts[name] = len(next(iter(cols.values())))
    return counts


def _take(cols, idx):
    return {c: v[idx] for c, v in cols.items()}


def make_delta(base, seed, k):
    """Delta `k`: per tracked table, `changes(n)` existing keys with one
    column changed plus `news(n)` new keys; nation/region stay empty.
    Returns ({table: columns}, {table: (changed, new)})."""
    rng = np.random.default_rng([seed, 2, k])
    out, counts = {}, {}
    for name, pk, col in PIPELINE_TABLES:
        cols = base[name]
        if col is None:
            out[name] = {c: v[:0] for c, v in cols.items()}
            counts[name] = (0, 0)
            continue
        n = len(cols[pk])
        nch, nnew = changes(n), news(n)
        picked = rng.choice(n, nch + nnew, replace=False)
        changed = _take(cols, np.sort(picked[:nch]))
        if col == "o_orderpriority":
            pos = np.searchsorted(PRIORITIES, changed[col].astype(str))
            changed[col] = np.array(PRIORITIES, dtype=object)[(pos + 1) % 5]
        else:
            changed[col] = np.round(changed[col] + 1.0, 2)
        fresh = _take(cols, np.sort(picked[nch:]))
        # new keys continue past the largest existing one; every call
        # starts from the same snapshot, so deltas never see each other
        fresh[pk] = (cols[pk].max() + 1 + np.arange(nnew)).astype(cols[pk].dtype)
        if name == "customer":
            fresh["c_name"] = np.array(
                [f"Customer#{int(i):09d}" for i in fresh["c_custkey"]], dtype=object)
        out[name] = {c: np.concatenate([changed[c], fresh[c]]) for c in cols}
        counts[name] = (nch, nnew)
    return out, counts


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.15:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 80)))]
        texts.append(" ".join(words))
    return texts


def write_parquet(seed, sf, root):
    """The query tables as `<root>/<table>.parquet`; returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)
    base = make_base(seed, sf)
    n = sizes(sf)
    rng = np.random.default_rng([seed, 3])
    ts_us = lambda days: (np.datetime64("1995-01-01") + days.astype("timedelta64[D]")
                          ).astype("datetime64[us]")
    tables = {name: dict(cols) for name, cols in base.items()}
    tables["orders"]["o_orderdate"] = ts_us(base["orders"]["o_orderdate"])
    li = tables["lineitem"]
    li.pop("l_key")
    li["l_shipdate"] = ts_us(base["lineitem"]["l_shipdate"])
    ne = n["events"]
    users = max(10, n["customer"] // 10)
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    tables["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, users, ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, ne)],
        "value": _money(rng, 0.01, 490.0, ne),
        "props": np.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)], dtype=object)}
    nd = n["documents"]
    texts = _documents(rng, nd)
    tables["documents"] = {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": np.array(LANGS, dtype=object)[rng.integers(0, 5, nd)],
        "source": np.array([f"src{i}" for i in range(20)], dtype=object)[rng.integers(0, 20, nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels)}
    counts = {}
    for name, cols in tables.items():
        table = pa.table({c: pa.array(v) for c, v in cols.items()})
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
