"""Seeded parquet corpora for the query workloads.

The source is the ``documents`` and ``embeddings`` tables of the
seed-42 sf0.01 testdata, copied under ``perfbench/data``. A workload
seed never changes the rows a query sees, only how they are laid out:

* every table is written as a directory ``<table>.parquet/`` of
  ``FILES_PER_TABLE`` part files — the same layout Spark writes, which
  both ``spark.read.parquet`` and the DuckDB oracle read;
* the seed permutes the row order and picks the cut points between the
  part files (each file holds 25 % ± 2 % of the rows).

Both tables are scaled up by an integer factor, the same way the
program's ``graft.DataGen`` does it: replica
``r`` shifts the id by ``r * (max_id + 1)``, rotates the vowels and
digits of the text by ``r`` (so replicas are near-, not exact,
duplicates), and adds a deterministic ±0.1 per-coordinate perturbation
to replica vectors.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE = os.path.join(HERE, "data", "sf0.01")
FILES_PER_TABLE = 4


def _rot(s, k):
    return s[k:] + s[:k]


def _scale_documents(t, factor):
    ids = t.column("doc_id").to_numpy()
    mod = int(ids.max()) + 1
    texts = t.column("text").to_pylist()
    parts = []
    for r in range(factor):
        table = str.maketrans("aeiou0123456789",
                              _rot("aeiou", r % 5) + _rot("0123456789", r % 10))
        parts.append(t.set_column(
            t.schema.get_field_index("doc_id"), "doc_id",
            pa.array(ids + r * mod, pa.int64())).set_column(
            t.schema.get_field_index("text"), "text",
            pa.array([None if x is None else x.translate(table)
                      for x in texts], pa.string())))
    return pa.concat_tables(parts)


def _scale_embeddings(t, factor):
    ids = t.column("vec_id").to_numpy()
    mod = int(ids.max()) + 1
    emb = t.column("embedding")
    flat = pc.list_flatten(emb).to_numpy().astype(np.float32)
    offsets = emb.combine_chunks().offsets.to_numpy()
    dims = np.arange(len(flat)) - np.repeat(offsets[:-1], np.diff(offsets))
    parts = []
    for r in range(factor):
        new_ids = ids + r * mod
        if r == 0:
            vals = flat
        else:
            # deterministic noise from (vec_id, dim): a multiplicative
            # hash folded to [-1000, 1000] / 10000
            owner = np.repeat(new_ids, np.diff(offsets)).astype(np.uint64)
            h = (owner * np.uint64(0x9E3779B97F4A7C15)
                 + dims.astype(np.uint64) * np.uint64(0xC2B2AE3D27D4EB4F))
            h ^= h >> np.uint64(31)
            noise = ((h % np.uint64(2001)).astype(np.int64) - 1000) / 10000.0
            vals = (flat.astype(np.float64) + noise).astype(np.float32)
        lists = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                         pa.array(vals, pa.float32()))
        parts.append(t.set_column(
            t.schema.get_field_index("vec_id"), "vec_id",
            pa.array(new_ids, pa.int64())).set_column(
            t.schema.get_field_index("embedding"), "embedding",
            lists.cast(t.schema.field("embedding").type)))
    return pa.concat_tables(parts)


def write_table(t, out_path, rng):
    """Permute ``t`` and write it as ``FILES_PER_TABLE`` part files."""
    os.makedirs(out_path)
    n = t.num_rows
    t = t.take(pa.array(rng.permutation(n)))
    shares = 0.25 + rng.uniform(-0.02, 0.02, FILES_PER_TABLE)
    cuts = np.concatenate([[0], np.cumsum(shares / shares.sum() * n)])
    cuts = np.round(cuts).astype(int)
    for i in range(FILES_PER_TABLE):
        pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]),
                       os.path.join(out_path, f"part-{i:05d}.parquet"))


def derive(out_dir, seed, factor):
    """Write the seeded, ``factor``-times scaled corpus to ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, scale in (("documents", _scale_documents),
                        ("embeddings", _scale_embeddings)):
        t = scale(pq.read_table(os.path.join(SOURCE, f"{name}.parquet")), factor)
        write_table(t, os.path.join(out_dir, f"{name}.parquet"), rng)
