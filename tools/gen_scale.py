#!/usr/bin/env python3
"""Dev-only generator for the dedup-family scaling study (PERF.md).

/root/testdata is read-only and tops out at sf0.1 (5k documents), so
this synthesizes documents/embeddings with the SAME generative process
at two sizes — a baseline matching sf0.1's document count and a 5x
point — letting us measure how the dedup/cluster/graph family scales
with corpus size under a FIXED near-dup structure (20% of docs are
word-perturbed copies of an earlier doc; replicating the sf0.1 parquet
5x would instead quintuple every dup cluster and measure a denser
graph, not a bigger corpus).

Usage: python3 tools/gen_scale.py <out_dir> <n_docs> <n_vecs> [seed]

The other 8 tables are copied from sf0.001 (tiny fillers so Bench's
warmup and unrelated queries still resolve paths).

NOT part of the shipped library — generation + measurement only.

Since r16 every table is written in the PRODUCTION FILE SHAPE —
~32 row groups per file (write_rg below) — instead of pyarrow's
default single row group. Three rounds of scaling adjudication
(PERF.md r13/r14/r15 rgtest blocks) traced every phantom superlinear
flag to the one-row-group fixture serializing the scan stage; making
the production shape the default retires that confound.
"""
import math
import random
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_rg(table, path, groups=32):
    """Write `table` with the production ~`groups`-row-group shape so
    scan parallelism grows with data. Tiny dims (<= groups rows) stay
    one row group — ceil-div would make one row group per ROW, which is
    not the documented production shape either."""
    n = table.num_rows
    rg = (n or 1) if n <= groups else math.ceil(n / groups)
    pq.write_table(table, path, row_group_size=rg)
    return rg

VOCAB = ("spark line column order sort scan value fast slow query agg "
         "table hash key group batch part stream filter customer vector "
         "join shuffle broadcast cache codegen merge window state token "
         "model data").split()
LANGS = ["en", "es", "fr", "de", "pt"]


def gen_docs(n, rng):
    docs = []
    for i in range(n):
        if i > 0 and rng.random() < 0.20:
            # near-dup: copy an earlier doc, perturb ~5% of words
            src = list(docs[rng.randrange(len(docs))][1].split())
            for _ in range(max(1, len(src) // 20)):
                src[rng.randrange(len(src))] = rng.choice(VOCAB)
            text = " ".join(src)
        else:
            text = " ".join(rng.choice(VOCAB)
                            for _ in range(rng.randint(8, 100)))
        docs.append((i, text))
    return pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([d[1] for d in docs], pa.string()),
        "lang": pa.array([LANGS[i % len(LANGS)] for i in range(n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
    })


def gen_vecs(n, seed):
    rs = np.random.RandomState(seed)
    m = rs.normal(size=(n, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array([row for row in m.tolist()],
                              pa.list_(pa.float32())),
        "label": pa.array([i % 10 for i in range(n)], pa.int32()),
    })


def main():
    out, n_docs, n_vecs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    seed = int(sys.argv[4]) if len(sys.argv) > 4 else 7
    import os
    os.makedirs(out, exist_ok=True)
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events"]:
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet",
                    f"{out}/{t}.parquet")
    rng = random.Random(seed)
    write_rg(gen_docs(n_docs, rng), f"{out}/documents.parquet")
    write_rg(gen_vecs(n_vecs, seed), f"{out}/embeddings.parquet")
    print(f"wrote {out}: {n_docs} docs, {n_vecs} vecs (32-rg shape)")


if __name__ == "__main__":
    main()
