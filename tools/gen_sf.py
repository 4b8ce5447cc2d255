#!/usr/bin/env python3
"""Scale-slope bench data generator (dev tooling, driver-side deps only).

Generates an sfN directory with the same schema and distribution SHAPE as
the driver's /root/testdata tables (profiled from sf0.1: categorical
domains are read straight from the sf0.1 parquet, numeric ranges match,
documents reuse the same 31-word vocab so the LSH/minhash collision
structure carries over, and events.ts is timestamp[us] like the driver's
current tables, so slope runs take the same Queries.T branch as the
graded data).

This data is for BENCH SLOPE MEASUREMENT ONLY (README "BENCH_sf1"):
correctness stays gated on the driver's own sf0.01 tables — do not point
Verify at this. Deterministic: seed fixed, single process, no time calls.

Usage: python3 tools/gen_sf.py [k] [outdir]
  k      = scale multiple of sf0.1 (default 10 -> "sf1")
  outdir = default /tmp/graft_sf1
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = "/root/testdata/sf0.1"
SEED = 43


def rd(name):
    return pq.read_table(os.path.join(BASE, f"{name}.parquet"))


def write(outdir, name, table):
    pq.write_table(table, os.path.join(outdir, f"{name}.parquet"))
    print(f"  {name}: {table.num_rows} rows")


def main(k, outdir):
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(SEED)

    # region/nation are fixed dimensions at every sf — copy verbatim
    for t in ("region", "nation"):
        write(outdir, t, rd(t))

    n_cust = 15000 * k
    n_ord = 150000 * k
    n_part = 20000 * k
    n_supp = 1000 * k
    n_ev = 100000 * k
    n_doc = 5000 * k
    n_emb = 2000 * k

    def cats(table, col):
        return np.asarray(
            sorted(set(rd(table).column(col).to_pylist())), dtype=object)

    # ---- customer ----
    seg = cats("customer", "c_mktsegment")
    ck = np.arange(n_cust, dtype=np.int64)
    write(outdir, "customer", pa.table({
        "c_custkey": ck,
        "c_name": np.array([f"Customer#{i:09d}" for i in ck], dtype=object),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": seg[rng.integers(0, len(seg), n_cust)],
    }))

    # ---- supplier ----
    sk = np.arange(n_supp, dtype=np.int64)
    write(outdir, "supplier", pa.table({
        "s_suppkey": sk,
        "s_name": np.array([f"Supplier#{i:09d}" for i in sk], dtype=object),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }))

    # ---- part ----
    brand = cats("part", "p_brand")
    ptype = cats("part", "p_type")
    pk = np.arange(n_part, dtype=np.int64)
    write(outdir, "part", pa.table({
        "p_partkey": pk,
        "p_name": np.array([f"part {i}" for i in pk], dtype=object),
        "p_brand": brand[rng.integers(0, len(brand), n_part)],
        "p_type": ptype[rng.integers(0, len(ptype), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
    }))

    # ---- orders ----
    status = cats("orders", "o_orderstatus")
    prio = cats("orders", "o_orderpriority")
    ok = np.arange(n_ord, dtype=np.int64)
    d0 = np.datetime64("1995-01-01")
    odate = d0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    write(outdir, "orders", pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": status[rng.integers(0, len(status), n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 450000, n_ord), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"),
                                pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, len(prio), n_ord)],
    }))

    # ---- lineitem: 1..7 lines per order (avg 4, matching sf0.1) ----
    per = rng.integers(1, 8, n_ord)
    lok = np.repeat(ok, per)
    n_li = int(lok.shape[0])
    lnum = np.concatenate([np.arange(1, c + 1) for c in per]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n_li) / 10, 2)
    sdate = (np.repeat(odate, per)
             + rng.integers(1, 122, n_li).astype("timedelta64[D]"))
    rflag = np.asarray(["A", "N", "R"], dtype=object)
    lstat = np.asarray(["F", "O"], dtype=object)
    write(outdir, "lineitem", pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rflag[rng.integers(0, 3, n_li)],
        "l_linestatus": lstat[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(sdate.astype("datetime64[us]"),
                               pa.timestamp("us")),
    }))

    # ---- events (timestamp[us] parquet, like the driver's) ----
    etype = cats("events", "event_type")
    ev = np.arange(n_ev, dtype=np.int64)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = t0 + rng.integers(0, span_us, n_ev).astype("timedelta64[us]")
    write(outdir, "events", pa.table({
        "event_id": ev,
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_cust // 10, n_ev).astype(np.int64),
        "event_type": etype[rng.integers(0, len(etype), n_ev)],
        "value": np.round(np.abs(rng.normal(60, 90, n_ev)), 2),
        "props": np.array(
            [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
            dtype=object),
    }))

    # ---- documents: same 31-word vocab => same LSH collision regime ----
    vocab = np.asarray(sorted({w for t in
                               rd("documents").column("text").to_pylist()
                               for w in t.split(" ")}), dtype=object)
    langs = np.asarray(["en", "zh", "es", "fr", "de"], dtype=object)
    lang_p = np.asarray([0.41, 0.15, 0.15, 0.15, 0.14])
    sources = np.asarray([f"src{i}" for i in range(20)], dtype=object)
    lens = rng.integers(8, 101, n_doc)
    flat = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    offs = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(flat[offs[i]:offs[i + 1]]) for i in range(n_doc)]
    # exact-dup groups (~8 per 5000 docs at sf0.1): later doc repeats an
    # earlier text modulo case/whitespace — same normalized fingerprint
    n_dup = 8 * k
    dup_src = rng.integers(0, n_doc // 2, n_dup)
    dup_dst = n_doc // 2 + rng.choice(n_doc // 2, n_dup, replace=False)
    for s, d in zip(dup_src, dup_dst):
        texts[int(d)] = "  " + texts[int(s)].upper() + " "
    write(outdir, "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": langs[rng.choice(len(langs), n_doc, p=lang_p)],
        "source": sources[rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))

    # ---- embeddings: 10 unit-norm clusters, 64-dim float32 ----
    dim = 64
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_emb)
    vecs = (0.8 * centers[label]
            + 0.2 * rng.normal(size=(n_emb, dim)))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    write(outdir, "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1)), dim).cast(pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }))


if __name__ == "__main__":
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_sf1"
    print(f"generating {k}x sf0.1 into {out} (seed {SEED})")
    main(k, out)
