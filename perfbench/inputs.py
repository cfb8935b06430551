"""Seeded benchmark inputs.

Seed 0 is the committed base data set (perfbench/data/sf0.001, a copy of
the sf0.001 test tables) as it is. Any other seed uses one of VARIANTS
same-shape copies, written under .bench_build/perfbench/inputs/variant_<v>/
with transforms that keep every query meaningful, all keyed by the
variant:

- every table's rows are permuted;
- order, lineitem, event, document and embedding ids move by one offset
  (order and lineitem keys together, so joins still match);
- every document token gets the same 3-character suffix (the
  ScaleUp `perturb` transform: near-duplicate structure is kept, the
  text itself changes), and n_chars follows the new text;
- every embedding's dimensions are rotated by one amount, which keeps
  all cosine similarities.

The same seed always gives byte-identical files. Seeds share a few
variants because every new input set needs its expected hashes prepared
and checked against DuckDB first (4-8 s a run); the query order still
follows each seed.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VARIANTS = 4
ID_COLUMNS = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey"],
              "events": ["event_id"], "documents": ["doc_id"],
              "embeddings": ["vec_id"]}


def _replace(t, name, arr):
    return t.set_column(t.schema.get_field_index(name), t.schema.field(name), arr)


def transform(name, t, seed):
    rng = np.random.default_rng([seed, TABLES.index(name)])
    t = t.take(pa.array(rng.permutation(t.num_rows)))
    offset = 1_000_000 * (1 + seed % 97)
    for c in ID_COLUMNS.get(name, []):
        t = _replace(t, c, pc.add(t[c], pa.scalar(offset, t.schema.field(c).type)))
    if name == "documents":
        suffix = f"v{seed % 90 + 10}"
        texts = [None if x is None else " ".join(w + suffix for w in x.split(" "))
                 for x in t["text"].to_pylist()]
        t = _replace(t, "text", pa.array(texts, t.schema.field("text").type))
        t = _replace(t, "n_chars", pa.array([None if x is None else len(x) for x in texts],
                                            t.schema.field("n_chars").type))
    if name == "embeddings":
        col = t["embedding"].combine_chunks()
        dims = {len(v) for v in col.to_pylist() if v is not None}
        if len(dims) == 1:
            dim = dims.pop()
            shift = 1 + seed % max(1, dim - 1)
            rotated = [None if v is None else v[shift:] + v[:shift] for v in col.to_pylist()]
            t = _replace(t, "embedding", pa.array(rotated, t.schema.field("embedding").type))
    return t


def variant(seed):
    """The data variant of a seed: 0 (the base data) for seed 0, else
    one of 1..VARIANTS."""
    return 0 if seed == 0 else (seed - 1) % VARIANTS + 1


def make(root, seed):
    """Return the input directory for `seed`, building it if needed."""
    v = variant(seed)
    if v == 0:
        return BASE
    out = os.path.join(root, ".bench_build", "perfbench", "inputs", f"variant_{v}")
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name in TABLES:
        t = pq.read_table(os.path.join(BASE, f"{name}.parquet"))
        pq.write_table(transform(name, t, v), os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
