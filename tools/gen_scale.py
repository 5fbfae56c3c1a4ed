#!/usr/bin/env python3
"""Generate a true 10x multi-file corpus from sf0.1 (VERDICT r7 next-round
#3): the sf1.0-scale gate evidence input.

Unlike identical-text replication (every replica an exact copy: the
90%-duplicate adversary), this produces a REALISTIC 10x corpus: every replica shifts its
keys into a disjoint id range with foreign keys shifted consistently
(orders->customer, lineitem->orders/part/supplier), documents get
replica-tagged text except a deterministic ~14% slice kept as exact
cross-replica duplicates (realistic dup families), and embeddings are
perturbed above the quantization step except an ~9% exact-duplicate slice.
Dimensions region/nation stay fixed (TPC-H semantics); the 20 ANN query
vectors (vec_id < 20) exist once, so query sets are unchanged while the
corpus grows 10x.

Each table is written as a DIRECTORY of per-replica parquet files
(table.parquet/part-rep*.parquet) — the multi-file layout Spark and DuckDB
both scan in parallel. Arrow schemas are preserved bit-for-bit from the
source files (timestamp units matter to the Spark readers).

Usage: python3 tools/gen_scale.py [out_dir] [reps]   (default target/sf1.0, 10)
"""
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"

# id-range shifts per replica — wide enough that ranges never collide
SHIFT = {
    "c_custkey": 1_000_000, "s_suppkey": 1_000_000, "p_partkey": 1_000_000,
    "o_orderkey": 10_000_000, "o_custkey": 1_000_000,
    "l_orderkey": 10_000_000, "l_partkey": 1_000_000, "l_suppkey": 1_000_000,
    "event_id": 10_000_000, "user_id": 1_000_000,
    "doc_id": 1_000_000, "vec_id": 1_000_000,
}


def shift_col(table, name, rep):
    if name not in table.column_names or rep == 0:
        return table
    i = table.column_names.index(name)
    col = table.column(i)
    shifted = pc.add(col, pa.scalar(SHIFT[name] * rep, type=col.type))
    return table.set_column(i, table.field(i), shifted.cast(col.type))


def perturb_documents(table, rep):
    if rep == 0:
        return table
    texts = table.column("text").to_pylist()
    ids = table.column("doc_id").to_pylist()
    out = []
    for d, t in zip(ids, texts):
        # keep doc_id % 7 == 0 as exact cross-replica duplicates
        if t is None or d % 7 == 0:
            out.append(t)
        else:
            out.append(f"{t} replica {rep} variant")
    ti = table.column_names.index("text")
    table = table.set_column(ti, table.field(ti), pa.array(out, type=pa.string()))
    ni = table.column_names.index("n_chars")
    nchars = [None if t is None else len(t) for t in out]
    return table.set_column(ni, table.field(ni), pa.array(nchars, type=pa.int64()))


def perturb_embeddings(table, rep):
    if rep == 0:
        return table
    vecs = table.column("embedding").to_pylist()
    ids = table.column("vec_id").to_pylist()
    out = []
    for v, vec in zip(ids, vecs):
        # keep vec_id % 11 == 0 as exact duplicates; perturb the rest by
        # 0.004*rep on one dim — above the 1e-3 quantization step, so the
        # quantized dedup paths see them as distinct
        if vec is None or v % 11 == 0:
            out.append(vec)
        else:
            d = (v + rep) % len(vec)
            w = list(vec)
            w[d] = w[d] + 0.004 * rep
            out.append(w)
    i = table.column_names.index("embedding")
    return table.set_column(i, table.field(i),
                            pa.array(out, type=table.field(i).type))


def main():
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "target/sf1.0"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    tables = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
    # optional table subset (argv[3], comma-separated) — the sf10-class
    # SCALE_SMOKE only needs documents/embeddings, at 100 reps the rest
    # would be generation time and disk for nothing
    if len(sys.argv) > 3:
        keep = set(sys.argv[3].split(","))
        tables = [t for t in tables if t in keep]
    for t in tables:
        src = pq.read_table(f"{SRC}/{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        os.makedirs(dst, exist_ok=True)
        if t in ("region", "nation"):
            pq.write_table(src, os.path.join(dst, "part-rep0.parquet"))
            print(f"{t}: dims fixed, {src.num_rows} rows")
            continue
        for rep in range(reps):
            rt = src
            for col in SHIFT:
                rt = shift_col(rt, col, rep)
            if t == "documents":
                rt = perturb_documents(rt, rep)
            if t == "embeddings":
                rt = perturb_embeddings(rt, rep)
            pq.write_table(rt, os.path.join(dst, f"part-rep{rep}.parquet"))
        print(f"{t}: {reps} x {src.num_rows} rows")


if __name__ == "__main__":
    main()
