"""Build a 10x measurement corpus from sf0.1 (optimization round 9).

The driver's round-end bench may run at a larger, driver-generated scale
factor (BENCH_r08.json ran at sf=1.0) but only sf0.001/0.01/0.1 are on
disk.  This script inflates /root/testdata/sf0.1 deterministically into
an sf1.0-shaped corpus for LOCAL before/after measurement only — it is
never read by bench.py defaults, selfcheck, or any declared query, and
nothing under /root/testdata is modified.

Design notes (workload character preserved, not just row counts):

* documents — 10 copies; copies 1..9 get a copy token inserted every
  2 words, so every word-3-shingle of a copy contains an inserted token
  and shares NO shingle with the original.  Near-dup structure between
  documents survives *within* each copy cohort (the same insertion is
  applied to all docs of a cohort), so MinHash/ngram pair counts scale
  ~linearly like a real bigger crawl, instead of the x45 pair blowup
  exact duplication would cause.
* embeddings — 10 copies, copies perturbed with seeded N(0, 0.05)
  noise so LSH buckets don't degenerate into stacks of identical
  vectors.
* events/orders/lineitem/customer/part/supplier — 10 copies with
  consistent key offsets (joins stay FK-valid); timestamps untouched so
  per-entity window sizes grow like a real bigger corpus.
* nation/region — fixed dims, copied as-is.

Usage: python scripts/make_scale_corpus.py [OUT_DIR]   (default /root/sfx10)
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
OUT = sys.argv[1] if len(sys.argv) > 1 else "/root/sfx10"
COPIES = 10


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()

    def src(t: str) -> str:
        return f"read_parquet('{SRC}/{t}.parquet')"

    # --- star schema: key-offset copies ---------------------------------
    offs = {
        "orders": ("o_orderkey", None), "customer": ("c_custkey", None),
        "part": ("p_partkey", None), "supplier": ("s_suppkey", None),
    }
    maxes = {}
    for t, (k, _) in offs.items():
        maxes[t] = con.sql(f"select max({k})+1 from {src(t)}").fetchone()[0]
    maxes["events_user"] = con.sql(
        f"select max(user_id)+1 from {src('events')}").fetchone()[0]
    maxes["events_id"] = con.sql(
        f"select max(event_id)+1 from {src('events')}").fetchone()[0]

    copies_rel = "(select unnest(range({n})) as c)".format(n=COPIES)
    jobs = {
        "orders": f"""select o_orderkey + c*{maxes['orders']} as o_orderkey,
            o_custkey + c*{maxes['customer']} as o_custkey, o_orderstatus,
            o_totalprice, o_orderdate, o_orderpriority
            from {src('orders')}, {copies_rel}""",
        "lineitem": f"""select l_orderkey + c*{maxes['orders']} as l_orderkey,
            l_partkey + c*{maxes['part']} as l_partkey,
            l_suppkey + c*{maxes['supplier']} as l_suppkey,
            l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
            l_returnflag, l_linestatus, l_shipdate
            from {src('lineitem')}, {copies_rel}""",
        "customer": f"""select c_custkey + c*{maxes['customer']} as c_custkey,
            c_name, c_nationkey, c_acctbal, c_mktsegment
            from {src('customer')}, {copies_rel}""",
        "part": f"""select p_partkey + c*{maxes['part']} as p_partkey, p_name,
            p_brand, p_type, p_size, p_retailprice
            from {src('part')}, {copies_rel}""",
        "supplier": f"""select s_suppkey + c*{maxes['supplier']} as s_suppkey,
            s_name, s_nationkey, s_acctbal from {src('supplier')}, {copies_rel}""",
        "events": f"""select event_id + c*{maxes['events_id']} as event_id, ts,
            user_id + c*{maxes['events_user']} as user_id, event_type, value,
            props from {src('events')}, {copies_rel}""",
        "nation": f"select * from {src('nation')}",
        "region": f"select * from {src('region')}",
    }
    for t, q in jobs.items():
        con.sql(f"copy ({q}) to '{OUT}/{t}.parquet' (format parquet, "
                "row_group_size 122880)")
        print(t, "done")

    # --- documents: cohort-isolated copies ------------------------------
    tbl = pq.read_table(f"{SRC}/documents.parquet")
    doc_ids = tbl.column("doc_id").to_pylist()
    texts = tbl.column("text").to_pylist()
    langs = tbl.column("lang").to_pylist()
    sources = tbl.column("source").to_pylist()
    n_docs = len(doc_ids)
    dmax = max(doc_ids) + 1
    out_rows = {"doc_id": [], "text": [], "lang": [], "source": [],
                "n_chars": []}
    for c in range(COPIES):
        tokc = f"zq{c}x"
        for i in range(n_docs):
            t = texts[i]
            if c > 0 and t:
                words = t.split(" ")
                rebuilt = []
                for j, w in enumerate(words):
                    rebuilt.append(w)
                    if j % 2 == 1:
                        rebuilt.append(tokc)
                t = " ".join(rebuilt)
            out_rows["doc_id"].append(doc_ids[i] + c * dmax)
            out_rows["text"].append(t)
            out_rows["lang"].append(langs[i])
            out_rows["source"].append(sources[i])
            out_rows["n_chars"].append(len(t) if t is not None else None)
    pq.write_table(pa.table(out_rows, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())])),
        f"{OUT}/documents.parquet", row_group_size=5000)
    print("documents done")

    # --- embeddings: noise-perturbed copies -----------------------------
    etbl = pq.read_table(f"{SRC}/embeddings.parquet")
    vec_ids = np.asarray(etbl.column("vec_id").to_pylist(), dtype=np.int64)
    vecs = np.asarray(etbl.column("embedding").to_pylist(), dtype=np.float32)
    labels = np.asarray(etbl.column("label").to_pylist(), dtype=np.int32)
    parts = []
    vmax = int(vec_ids.max()) + 1
    for c in range(COPIES):
        rng = np.random.default_rng(4242 + c)
        v = vecs if c == 0 else vecs + rng.normal(
            0.0, 0.05, size=vecs.shape).astype(np.float32)
        parts.append(pa.table({
            "vec_id": pa.array(vec_ids + c * vmax, pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }))
    pq.write_table(pa.concat_tables(parts), f"{OUT}/embeddings.parquet",
                   row_group_size=2000)
    print("embeddings done")


if __name__ == "__main__":
    main()
