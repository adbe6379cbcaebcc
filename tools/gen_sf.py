#!/usr/bin/env python3
"""Generate a larger scale-factor of the driver's synthetic tables for
scale-validation benchmarks (VERDICT r06 #2). Only the tables the six
most expensive queries read (documents, embeddings, lineitem), with
the same schemas and the measured sf0.1 distributions:

- documents: tokens iid-uniform over the 31-word vocab, doc length
  ~ U[10, 100]; ~3%% near-dup copies (one mutated token per 25) and
  ~0.16%% exact dups to preserve the dedup ops' candidate structure.
- embeddings: dim-64 uniform(-1/3, 1/3) floats, labels U[0, 9].
- lineitem: TPC-H-ish columns with sf0.1's domains scaled 10x
  (orderkey ~unique -> the exact-NDV stress profile_stats documents).

Usage: gen_sf.py OUTDIR MULT   (MULT=10 -> sf1 from the sf0.1 shape)
Deterministic (seed 4242). Writes parquet via pyarrow.

r13 (VERDICT r12 #6, full-suite sf1): the remaining six tables so ALL
driver queries can run at sf1, not just the 21-op heavy subset.
region/nation are FIXED dimension tables (5 / 25 rows — they do not
scale with sf in TPC-H either) and are copied from the sf0.1 originals;
customer/supplier/part/orders generate at 10x with the measured sf0.1
schemas and value domains. These use a SEPARATE rng (seed 4243) so the
four r06 tables above remain value-identical to every earlier sweep.
"""
import sys
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
assert len(VOCAB) == 31
LANGS = ["en", "en", "zh", "es", "fr", "de"]  # en ~2x the rest (sf0.1)


def gen_documents(out, n, rng):
    texts, langs, sources = [], [], []
    base = []
    for i in range(n):
        ln = int(rng.integers(10, 101))
        toks = [VOCAB[j] for j in rng.integers(0, 31, ln)]
        r = rng.random()
        if i > 10 and r < 0.0016:        # exact dup of an earlier doc
            toks = base[int(rng.integers(0, len(base)))][:]
        elif i > 10 and r < 0.03:        # near dup: mutate 1 token / 25
            toks = base[int(rng.integers(0, len(base)))][:]
            for p in range(0, len(toks), 25):
                toks[p] = VOCAB[int(rng.integers(0, 31))]
        base.append(toks)
        if len(base) > 2000:
            base.pop(0)
        texts.append(" ".join(toks))
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
        sources.append(f"src{int(rng.integers(0, 20))}")
    t = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array(sources),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    pq.write_table(t, f"{out}/documents.parquet")


def gen_embeddings(out, n, rng):
    emb = rng.uniform(-1.0 / 3, 1.0 / 3, size=(n, 64)).astype(np.float32)
    t = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    pq.write_table(t, f"{out}/embeddings.parquet")


def gen_events(out, n, mult, rng):
    """Measured sf0.1 shape: 100k events / 1500 users (~66 per user),
    props = {"k": U[0,100)} (node domain FIXED as the log grows — the
    Common-Crawl-style item catalog grows far slower than the log;
    graph_pagerank's node frame stays ~100 while edge weights fold),
    ts uniform over 30 days, event_id = ts order (insertion-ordered)."""
    users = rng.integers(0, 1500 * mult, n)
    day0 = np.datetime64("2024-01-01T00:00:00.000000")
    ts = np.sort(day0 + rng.integers(0, 30 * 86400 * 10**6, n)
                 .astype("timedelta64[us]"))
    types = np.array(["view", "view", "click", "purchase", "signup",
                      "error"])
    t = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(types[rng.integers(0, 6, n)]),
        "value": pa.array(np.round(rng.uniform(0.0, 560.0, n), 2)),
        "props": pa.array(['{"k": %d}' % k
                           for k in rng.integers(0, 100, n)]),
    })
    pq.write_table(t, f"{out}/events.parquet")


def gen_lineitem(out, n, mult, rng):
    orders = int(150000 * mult)
    okey = rng.integers(0, orders, n)
    day0 = np.datetime64("1995-01-02")
    t = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000 * mult, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000 * mult, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(
            np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(
            (day0 + rng.integers(0, 2500, n).astype("timedelta64[D]"))
            .astype("datetime64[us]"), pa.timestamp("us")),
    })
    pq.write_table(t, f"{out}/lineitem.parquet")


MKTSEG = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PNAME_A = "large hot blue old cold red small new".split()
PNAME_B = "ring bolt plate gear widget rod anvil gizmo".split()
PTYPE = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def copy_dims(out):
    """region/nation: fixed 5/25-row dimension tables — copied verbatim
    from the sf0.1 originals (they do not scale with sf)."""
    import shutil
    for t in ["region", "nation"]:
        shutil.copy(f"/root/testdata/sf0.1/{t}.parquet",
                    f"{out}/{t}.parquet")


def gen_customer(out, n, rng):
    t = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000.0, 10000.0, n), 2)),
        "c_mktsegment": pa.array(
            np.array(MKTSEG)[rng.integers(0, len(MKTSEG), n)]),
    })
    pq.write_table(t, f"{out}/customer.parquet")


def gen_supplier(out, n, rng):
    t = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-1000.0, 10000.0, n), 2)),
    })
    pq.write_table(t, f"{out}/supplier.parquet")


def gen_part(out, n, rng):
    names = [f"{PNAME_A[a]} {PNAME_B[b]}" for a, b in
             zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]
    t = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n)]),
        "p_type": pa.array(np.array(PTYPE)[rng.integers(0, len(PTYPE), n)]),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(rng.uniform(900.0, 1000.0, n), 2)),
    })
    pq.write_table(t, f"{out}/part.parquet")


def gen_orders(out, n, mult, rng):
    day0 = np.datetime64("1995-01-01T00:00:00.000000")
    dates = day0 + (rng.integers(0, 2405, n) * 86400 * 10**6) \
        .astype("timedelta64[us]")
    t = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15000 * mult, n), pa.int64()),
        "o_orderstatus": pa.array(
            np.array(["O", "F", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(
            np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": pa.array(dates, pa.timestamp("us")),
        "o_orderpriority": pa.array(
            np.array(PRIO)[rng.integers(0, len(PRIO), n)]),
    })
    pq.write_table(t, f"{out}/orders.parquet")


if __name__ == "__main__":
    out, mult = sys.argv[1], int(sys.argv[2])
    import os
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(4242)
    gen_documents(out, 5000 * mult, rng)
    gen_embeddings(out, 2000 * mult, rng)
    gen_lineitem(out, 600000 * mult, mult, rng)
    gen_events(out, 100000 * mult, mult, rng)
    rng2 = np.random.default_rng(4243)
    copy_dims(out)
    gen_customer(out, 15000 * mult, rng2)
    gen_supplier(out, 1000 * mult, rng2)
    gen_part(out, 20000 * mult, rng2)
    gen_orders(out, 150000 * mult, mult, rng2)
    print(f"wrote sf={mult}x0.1 tables to {out}")
