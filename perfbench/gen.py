"""Parquet inputs for the query workload: fixed tables, seeded row order.

`tables(sf)` builds the base tables from a fixed seed, with the
column names, types and value domains the query registry and its DuckDB
oracles are written against: TPC-H-ish relations with TIMESTAMP (no time
zone) dates, an `events` stream, a `documents` corpus over a 31-word
vocabulary (with a few verbatim duplicates) and 64-dim unit `embeddings`
clustered by label. `write_tables(seed, sf, out_dir)` writes each of
them as `<table>.parquet` — one file and one row group, the layout
`graft.Tables` reads and sizes its scan fan-out for — with its rows in
an order set by `seed` and nothing else changed, so every seed has the
same query answers. The same seed gives byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data dup part column order scan a slow "
         "agg key window table merge vector join").split()
ADJECTIVES = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click error purchase signup view".split()


def _pick(rng, values, n):
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def _money(rng, lo, span, n):
    """Exact two-decimal amounts in [lo, lo + span)."""
    return lo + rng.integers(0, round(span * 100), n) / 100.0


def _days(rng, base, span, n):
    d = np.datetime64(base) + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _ids(n, t=pa.int64()):
    return pa.array(np.arange(n), type=t)


BASE_SEED = 20250106


def tables(sf):
    """{name: pyarrow.Table} of every base table at scale factor `sf`
    (sf 0.1: 600k lineitems, 5k documents, 2k embeddings)."""
    rng = np.random.default_rng(BASE_SEED)

    def n(base):
        return max(1, round(base * sf))

    n_cust, n_supp, n_part, n_ord = n(150000), n(10000), n(200000), n(1500000)
    out = {
        "region": pa.table({
            "r_regionkey": _ids(5, pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": _ids(25, pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32())}),
        "customer": pa.table({
            "c_custkey": _ids(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 10999.98, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": _ids(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 10999.98, n_supp)}),
        "part": pa.table({
            "p_partkey": _ids(n_part),
            "p_name": pa.array(np.char.add(np.char.add(
                np.array(ADJECTIVES)[rng.integers(0, 8, n_part)], " "),
                np.array(NOUNS)[rng.integers(0, 8, n_part)])),
            "p_brand": pa.array(np.char.add(
                "Brand#", (rng.integers(0, 25, n_part) + 1).astype(str))),
            "p_type": _pick(rng, TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0}),
        "orders": pa.table({
            "o_orderkey": _ids(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 499000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord)}),
    }
    n_li = n(6000000)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 104100.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li)})
    n_ev = n(1000000)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    out["events"] = pa.table({
        "event_id": _ids(n_ev),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n(15000), n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": rng.exponential(5000.0, n_ev).astype(np.int64) / 100.0,
        "props": pa.array(np.char.add(np.char.add(
            '{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"))})
    out["documents"] = documents(rng, n(50000))
    out["embeddings"] = embeddings(rng, n(20000))
    return out


def documents(rng, n):
    """10–100 vocabulary words each; ~0.3% copy their predecessor."""
    vocab = np.array(VOCAB)
    texts = []
    for i, k in enumerate(rng.integers(10, 101, n)):
        words = " ".join(vocab[rng.integers(0, len(vocab), k)])
        texts.append(texts[-1] if i and rng.random() < 0.003 else words)
    lang = np.select([rng.random(n) < x for x in (0.41, 0.56, 0.71, 0.86)],
                     ["en", "de", "es", "fr"], "zh")
    return pa.table({
        "doc_id": _ids(n),
        "text": texts,
        "lang": pa.array(lang),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n).astype(str))),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, n, dim=64, labels=10):
    """Unit vectors: a label's centroid plus noise, normalized."""
    centroids = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    v = centroids[label] + 0.6 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": _ids(n),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def write_tables(seed, sf, out_dir):
    """The base tables at `sf`, each with its rows shuffled by `seed`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, t in tables(sf).items():
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows), compression="snappy")
