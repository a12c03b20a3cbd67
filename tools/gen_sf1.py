"""Synthesize an sf1-SHAPED dataset (10x sf0.1) for scale-curve
timing: the 100 TB design story extrapolated from
sf0.1; this buys one more measured decade.

NOT driver data (the driver's generator is not in this repo and
/root/testdata is read-only): each table is built by REPLICATING the
committed sf0.1 parquet with key remapping, preserving the properties
that govern plan cost at scale —

- fact/dim tables (customer, supplier, part, orders, lineitem,
  events): 10 replicas with every key column offset by
  ``replica * (max_key + 1)`` per key domain, so per-key densities,
  join fan-outs, value distributions, and group cardinalities all
  scale exactly the way the driver's own 0.01 -> 0.1 step does
  (10x rows, 10x distinct keys, identical per-key behavior);
- documents: 10 replicas, doc_id offset; replicas > 0 get a
  DETERMINISTIC per-doc word permutation (seeded by replica, doc_id),
  which preserves document lengths and language labels while
  destroying cross-replica k-gram overlap, PLUS Heaps'-law vocabulary
  growth: each token independently (prob. ``MUT_PROB``) becomes a
  suffixed variant ``word + 'x' + base26(z)`` with ``z ~ Zipf(2.0)``
  — a Zipf token-type draw gives the classic Heaps exponent
  ``V(N) ∝ N^(1/s) = N^0.5`` without any hand-tuned vocabulary list,
  landing sf1 at ~38k types (the real 25k-tweet reference corpus has
  36.6k). The driver's own 31-word
  fixture vocabulary SATURATES every shingle/posting universe
  (jaccard_prefix_pairs measured α=+1.56 at sf1 from that alone,
  §20), so without this the similarity-family curves measure fixture
  pathology, not the algorithms;
- embeddings: 4 replicas (matching the driver's 0.01 -> 0.1 ratio),
  vec_id offset, replicas > 0 perturbed with seeded N(0, 0.05) noise
  so near-dup candidate structure scales instead of degenerating into
  exact duplicates;
- region, nation: copied (fixed-size dimensions, as in TPC-H).

Output: ``/root/repo/.scratch/sf1/*.parquet`` (gitignored — timing
fixture, not a committed artifact). Oracle checks at sf1 are out of
scope by design (correctness is proven at sf0.1; this dataset exists
for the timing curve).

Usage: python tools/gen_sf1.py [--out /root/repo/.scratch/sf1]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
SEED = 42
MUT_PROB = 0.3  # per-token chance of becoming a suffixed variant

_ABC = "abcdefghijklmnopqrstuvwxyz"


def _base26(z: int) -> str:
    out = ""
    while True:
        out = _ABC[z % 26] + out
        z //= 26
        if z == 0:
            return out


def _read(name: str) -> pa.Table:
    return pq.read_table(f"{SRC}/{name}.parquet")


def _write(out: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, f"{out}/{name}.parquet")
    print(f"{name}: {table.num_rows} rows")


def _stride(col: pa.ChunkedArray) -> int:
    return int(pa.compute.max(col).as_py()) + 1


def replicate(table: pa.Table, n_rep: int, key_strides: dict[str, int]
              ) -> pa.Table:
    """n_rep copies; each key column offset by replica * stride."""
    parts = []
    for r in range(n_rep):
        cols = []
        for field in table.schema:
            col = table.column(field.name)
            if field.name in key_strides and r > 0:
                col = pa.chunked_array([pa.compute.add(
                    col.combine_chunks(), r * key_strides[field.name])])
            cols.append(col)
        parts.append(pa.Table.from_arrays(cols, schema=table.schema))
    return pa.concat_tables(parts)


def gen_documents(out: str, n_rep: int) -> None:
    t = _read("documents")
    did = _stride(t.column("doc_id"))
    doc_ids = t.column("doc_id").to_pylist()
    texts = t.column("text").to_pylist()
    langs = t.column("lang").to_pylist()
    srcs = t.column("source").to_pylist()
    rows_id, rows_tx, rows_lg, rows_sr, rows_nc = [], [], [], [], []
    for r in range(n_rep):
        for i, txt in enumerate(texts):
            if r == 0:
                new = txt
            else:
                words = txt.split(" ")
                rng = np.random.RandomState(
                    (SEED * 1_000_003 + r * 997 + doc_ids[i]) % (2**31))
                arr = np.array(words)[rng.permutation(len(words))]
                # Heaps'-law vocabulary growth: Zipf(2.0) variant draw
                # per mutated token → distinct types grow ~ sqrt(N)
                mask = rng.random_sample(len(arr)) < MUT_PROB
                n_mut = int(mask.sum())
                if n_mut:
                    zs = rng.zipf(2.0, size=n_mut)
                    arr = arr.astype(object)
                    arr[mask] = [w + "x" + _base26(int(z)) for w, z in
                                 zip(arr[mask], zs)]
                new = " ".join(arr)
            rows_id.append(doc_ids[i] + r * did)
            rows_tx.append(new)
            rows_lg.append(langs[i])
            rows_sr.append(srcs[i])
            rows_nc.append(len(new))
    _write(out, "documents", pa.table(
        {"doc_id": pa.array(rows_id, pa.int64()), "text": rows_tx,
         "lang": rows_lg, "source": rows_sr,
         "n_chars": pa.array(rows_nc, pa.int64())}))


def gen_embeddings(out: str, n_rep: int) -> None:
    t = _read("embeddings")
    vid = _stride(t.column("vec_id"))
    ids = t.column("vec_id").to_pylist()
    embs = t.column("embedding").to_pylist()
    labels = t.column("label").to_pylist()
    o_id, o_emb, o_lab = [], [], []
    for r in range(n_rep):
        for i, e in enumerate(embs):
            v = np.asarray(e, dtype=np.float32)
            if r > 0:
                rng = np.random.RandomState(
                    (SEED * 7 + r * 65537 + ids[i]) % (2**31))
                v = v + rng.normal(0, 0.05, size=v.shape).astype(np.float32)
            o_id.append(ids[i] + r * vid)
            o_emb.append(v.tolist())
            o_lab.append(labels[i])
    _write(out, "embeddings", pa.table(
        {"vec_id": pa.array(o_id, pa.int64()),
         "embedding": pa.array(o_emb, pa.list_(pa.float32())),
         "label": pa.array(o_lab, pa.int32())}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/root/repo/.scratch/sf1")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)

    for name in ("region", "nation"):
        _write(args.out, name, _read(name))

    cust = _read("customer")
    supp = _read("supplier")
    part = _read("part")
    orders = _read("orders")
    li = _read("lineitem")
    ev = _read("events")
    ck = _stride(cust.column("c_custkey"))
    sk = _stride(supp.column("s_suppkey"))
    pk = _stride(part.column("p_partkey"))
    ok = _stride(orders.column("o_orderkey"))
    uid = _stride(ev.column("user_id"))
    eid = _stride(ev.column("event_id"))

    _write(args.out, "customer", replicate(cust, 10, {"c_custkey": ck}))
    _write(args.out, "supplier", replicate(supp, 10, {"s_suppkey": sk}))
    _write(args.out, "part", replicate(part, 10, {"p_partkey": pk}))
    _write(args.out, "orders", replicate(
        orders, 10, {"o_orderkey": ok, "o_custkey": ck}))
    _write(args.out, "lineitem", replicate(
        li, 10, {"l_orderkey": ok, "l_partkey": pk, "l_suppkey": sk}))
    _write(args.out, "events", replicate(
        ev, 10, {"event_id": eid, "user_id": uid}))
    gen_documents(args.out, 10)
    gen_embeddings(args.out, 4)


if __name__ == "__main__":
    main()
