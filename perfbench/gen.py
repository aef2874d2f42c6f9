"""Seeded synthetic inputs for the graft benchmark.

Writes the ten testdata tables (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as parquet, with
the schemas and value distributions of the sf0.1 testdata the engine
is verified on (compared in perfbench/WORKLOADS.md): uniform keys with
full referential integrity, a 30-word vocabulary, 5% planted
near-duplicate documents (a copy of another document plus a ` dup`
marker) and unit-norm 64-dimensional embeddings.
The base tables come from one fixed seed; a benchmark seed relabels
them without changing their structure, so a claim can be re-checked on
an unseen seed while every seed carries nearly the same work: only
figures that depend on hashes of tokens or ids move, such as the
number of simhash pairs (a few percent). The same (seed, sizes) always
gives the same tables.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "FURNITURE", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64
BASE_SEED = 42


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _after(cols, anchor, name):
    """`cols` with column `name` moved to just after `anchor`."""
    out = {}
    for c, v in cols.items():
        if c != name:
            out[c] = v
        if c == anchor:
            out[name] = cols[name]
    return out


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # 5% near-duplicates: another document's text plus a marker token
    dups = rng.choice(n, size=n // 20, replace=False)
    srcs = rng.integers(0, n, len(dups))
    for d, s in zip(dups, srcs):
        if s != d:
            texts[d] = texts[s] + " dup"
    return texts


def _tables(rng, sf, lines_sf, docs, vecs):
    """The base tables as {name: {column: values}}."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * (lines_sf or sf)))
    n_line = max(6000, int(6_000_000 * (lines_sf or sf)))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, n_cust // 10)
    n_docs = docs or max(500, int(50_000 * sf))
    n_vecs = vecs or max(500, int(20_000 * sf))
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32)}
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}
    flags = rng.integers(0, 6, n_line)
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[flags // 2],
        "l_linestatus": np.array(["O", "F"])[flags % 2],
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))}
    # events: one month, ids in timestamp order
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {i}}}' for i in range(100)])[
            rng.integers(0, 100, n_ev)]}
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": np.array(_documents(rng, n_docs), dtype=object),
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in range(n_docs)])}
    v = rng.standard_normal((n_vecs, EMB_DIM))
    t["embeddings"] = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)}
    return t


def _perturb(t, rng):
    """Structure-preserving relabelling: every entity key domain gets a
    permutation (applied to keys and foreign keys alike), the vocabulary
    a length-preserving permutation, embeddings a coordinate permutation
    with sign flips (all dot products unchanged), and every table a new
    row order. Join graphs, duplicate structure, document lengths and
    vector geometry are the same as the base; ids, tokens, hashes and
    partition contents are not."""
    def relabel(n):
        return rng.permutation(n).astype(np.int64)
    for table, key, refs in (
            ("customer", "c_custkey", [("orders", "o_custkey")]),
            ("supplier", "s_suppkey", [("lineitem", "l_suppkey")]),
            ("part", "p_partkey", [("lineitem", "l_partkey")]),
            ("orders", "o_orderkey", [("lineitem", "l_orderkey")]),
            ("documents", "doc_id", []),
            ("embeddings", "vec_id", [])):
        m = relabel(len(t[table][key]))
        for tb, col in [(table, key)] + refs:
            t[tb][col] = m[t[tb][col]]
    users = relabel(int(t["events"]["user_id"].max()) + 1)
    t["events"]["user_id"] = users[t["events"]["user_id"]]
    by_len = {}
    for w in VOCAB:
        by_len.setdefault(len(w), []).append(w)
    swap = {}
    for ws in by_len.values():
        swap.update(zip(ws, rng.permutation(ws)))
    t["documents"]["text"] = np.array(
        [" ".join(swap.get(w, w) for w in s.split(" ")) for s in t["documents"]["text"]],
        dtype=object)
    e = t["embeddings"]["embedding"]
    t["embeddings"]["embedding"] = (e[:, rng.permutation(EMB_DIM)] *
                                    rng.choice([-1.0, 1.0], EMB_DIM)).astype(np.float32)
    for cols in t.values():
        n = len(next(iter(cols.values())))
        order = rng.permutation(n)
        for c in cols:
            cols[c] = np.asarray(cols[c])[order]


def generate(out, seed, sf, lines_sf=None, docs=None, vecs=None):
    """Write all ten tables for scale factor `sf` into directory `out`.
    `lines_sf` overrides the scale of orders and lineitem, `docs`/`vecs`
    the corpus sizes (default: sf-proportional, at least 500 each).
    The base data always comes from BASE_SEED; `seed` 0 writes it as
    is, any other seed writes a relabelled copy (see `_perturb`) of
    the same structure."""
    os.makedirs(out, exist_ok=True)
    t = _tables(np.random.default_rng(BASE_SEED), sf, lines_sf, docs, vecs)
    if seed != 0:
        _perturb(t, np.random.default_rng(seed))
    # columns derived from keys and text follow the relabelling
    t["customer"]["c_name"] = [f"Customer#{k:09d}" for k in t["customer"]["c_custkey"]]
    t["supplier"]["s_name"] = [f"Supplier#{k:09d}" for k in t["supplier"]["s_suppkey"]]
    t["part"]["p_retailprice"] = np.round(900.0 + (t["part"]["p_partkey"] % 1000) * 0.1, 1)
    t["documents"]["n_chars"] = np.array([len(s) for s in t["documents"]["text"]],
                                         dtype=np.int64)
    e = t["embeddings"]["embedding"]
    t["embeddings"]["embedding"] = pa.FixedSizeListArray.from_arrays(
        pa.array(np.ascontiguousarray(e).ravel()), EMB_DIM).cast(pa.list_(pa.float32()))
    t["events"]["ts"] = pa.array(t["events"]["ts"], pa.timestamp("us"))
    # the testdata's column order
    t["customer"] = _after(t["customer"], "c_custkey", "c_name")
    t["supplier"] = _after(t["supplier"], "s_suppkey", "s_name")
    for name, cols in t.items():
        _write(out, name, cols)
