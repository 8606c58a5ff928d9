"""Seeded benchmark inputs.

Seed 0 is the committed sf0.01 tables under perfbench/data as they are.
Any other seed derives a same-sized replica the way tools/make_scale.py
derives its scale-up replicas:

- lineitem: the order, part and supplier keys are relabelled by a
  seeded permutation of each key space;
- documents: each document's words are shuffled with a per-document
  seeded RNG, and doc ids are permuted over the same id set;
- embeddings: every component is perturbed by seeded noise of 1e-3
  amplitude, and vec ids are permuted over the same id set.

Keys are permuted within their key space rather than shifted by an
offset (as make_scale.py does): a shifted key set hashes onto Spark's
shuffle partitions differently, which moved panel pass times by ~20%
from seed to seed. A permutation keeps the number of keys per partition,
and keeps the registry queries' probe predicates (`vec_id < 50`,
`doc_id % 17 = 3`, ...) selecting the same number of rows, while which
rows they select is drawn from the seed.
"""
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("lineitem", "documents", "embeddings")


def _lineitem(src, dst, seed):
    t = pq.read_table(f"{src}/lineitem.parquet")
    for salt, key in enumerate(("l_orderkey", "l_partkey", "l_suppkey")):
        ids = t.column(key).to_pylist()
        remap = _permuted(set(ids), seed, 10 + salt)
        t = t.set_column(t.schema.get_field_index(key), key,
                         pa.array([remap[i] for i in ids], pa.int64()))
    pq.write_table(t, f"{dst}/lineitem.parquet")


def _permuted(ids, seed, salt):
    perm = sorted(ids)
    random.Random(seed * 1000003 + salt).shuffle(perm)
    return dict(zip(sorted(ids), perm))


def _documents(src, dst, seed):
    t = pq.read_table(f"{src}/documents.parquet")
    ids = t.column("doc_id").to_pylist()
    remap = _permuted(ids, seed, 1)
    texts = []
    for i, text in zip(ids, t.column("text").to_pylist()):
        words = text.split(" ")
        random.Random(seed * 1000003 + i).shuffle(words)
        texts.append(" ".join(words))
    out = t.set_column(t.schema.get_field_index("doc_id"), "doc_id",
                       pa.array([remap[i] for i in ids], pa.int64()))
    out = out.set_column(out.schema.get_field_index("text"), "text",
                         pa.array(texts, pa.string()))
    out = out.set_column(out.schema.get_field_index("n_chars"), "n_chars",
                         pa.array([len(x) for x in texts], pa.int64()))
    pq.write_table(out, f"{dst}/documents.parquet")


def _embeddings(src, dst, seed):
    t = pq.read_table(f"{src}/embeddings.parquet")
    ids = t.column("vec_id").to_pylist()
    remap = _permuted(ids, seed, 2)
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    rng = np.random.default_rng(seed)
    vecs = (vecs + rng.uniform(-1e-3, 1e-3, vecs.shape)).astype(np.float32)
    out = t.set_column(t.schema.get_field_index("vec_id"), "vec_id",
                       pa.array([remap[i] for i in ids], pa.int64()))
    out = out.set_column(
        out.schema.get_field_index("embedding"), "embedding",
        pa.array([list(v) for v in vecs], t.schema.field("embedding").type))
    pq.write_table(out, f"{dst}/embeddings.parquet")


def prepare(seed, data_dir, cache_dir):
    """Directory holding the seed's tables, derived once and cached."""
    if seed == 0:
        return data_dir
    dst = os.path.join(cache_dir, f"seed-{seed}")
    if os.path.isdir(dst):
        return dst
    part = f"{dst}.part-{os.getpid()}"
    shutil.rmtree(part, ignore_errors=True)
    os.makedirs(part)
    _lineitem(data_dir, part, seed)
    _documents(data_dir, part, seed)
    _embeddings(data_dir, part, seed)
    os.rename(part, dst)
    return dst
