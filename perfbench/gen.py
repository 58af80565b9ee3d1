"""Seeded input tables for the benchmark workloads.

The base tables in perfbench/data are the repository's sf0.001 test
tables (seed 42): 150 customers, 10 suppliers, 1 500 orders, 6 000 line
items, 500 documents and 500 embeddings. The seed picks a replica index
r, and every key column is shifted by r * 10 000 000 -- the per-replica
key transform of graft.tools.ScaleUp, keeping each column's type.
Shifting is a bijection on keys, so row counts, triple counts, entity
counts and the documents' near-duplicate structure are the same for
every seed, while URIs, pHash buckets, minibatches, negatives, the
held-out test slice, the decontamination eval slice and the
train/holdout split all change with it. Document text is not perturbed:
ScaleUp perturbs only its added replicas, and this keeps one.
"""
import glob
import hashlib
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data")
OFF = 10_000_000  # graft.tools.ScaleUp.Off

# graft.tools.ScaleUp.shifts, restricted to the tables the workloads read.
SHIFTS = {
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def inputs() -> list:
    """This generator and its base tables: what the inputs depend on."""
    return [os.path.abspath(__file__)] + sorted(glob.glob(os.path.join(BASE, "*.parquet")))


def version() -> str:
    """Hash of inputs(), so tables made from an older base are not reused."""
    h = hashlib.sha256()
    for p in inputs():
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:12]


def replica(seed: int) -> int:
    return 1 + seed % 1_000_000_000


def generate(seed: int, out: str) -> str:
    """Writes the seed's tables under `out` (once) and returns `out`."""
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    shift = replica(seed) * OFF
    for name, cols in SHIFTS.items():
        tab = pq.read_table(os.path.join(BASE, f"{name}.parquet"))
        for c in cols:
            i = tab.schema.get_field_index(c)
            col = tab.column(c)
            tab = tab.set_column(i, tab.field(i), pc.add(col, pc.cast(shift, col.type)))
        pq.write_table(tab, os.path.join(out, f"{name}.parquet"))
    open(done, "w").close()
    return out
