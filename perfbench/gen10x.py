"""Seeded 10x corpus for the curation_10x workload.

Replicates the base `documents` and `embeddings` tables ten times with the
replication semantics of the repository's `ScaleUpMain` dev tool, so that
each replica behaves like new data rather than a clone:

- documents: replica 0 is the base verbatim; replica i > 0 offsets
  `doc_id` by i * 10^9 and suffixes every token of 5 or more characters
  with `_<salt_i>`, so replicas share no long-token shingles (the near-dup
  pair graph grows linearly) while the short stopword tokens the language
  and quality gates read stay intact. `n_chars` is recomputed.
- embeddings: replica i > 0 offsets `vec_id` by i * 10^9 and rotates the
  vector left by `stride_i` places (norm-preserving, not a clone).

The seed picks the salts (a letter and a digit, the same length and
character classes as `ScaleUpMain`'s `r<i>`, so the gate statistics are
unchanged) and the nine distinct nonzero strides. Every other table is
copied as is. `generate` asserts exactly 10x rows in both tables.
"""
import os
import random
import shutil
import string

import pyarrow as pa
import pyarrow.parquet as pq

REPLICAS = 10
KEY_OFFSET = 10 ** 9
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def replica_params(seed):
    """The per-replica suffix salts and rotation strides for `seed`
    (index 0 is the verbatim base replica)."""
    rng = random.Random(seed)
    salts = rng.sample([a + d for a in string.ascii_lowercase
                        for d in string.digits], REPLICAS - 1)
    strides = rng.sample(range(1, 64), REPLICAS - 1)
    return [None] + salts, [0] + strides


def _shard_text(text, salt):
    if text is None:
        return None
    return " ".join(t + "_" + salt if len(t) >= 5 else t
                    for t in text.split(" "))


def _documents(base, salts):
    cols = base.to_pydict()
    out = {name: [] for name in cols}
    for i, salt in enumerate(salts):
        for j in range(base.num_rows):
            row = {name: cols[name][j] for name in cols}
            if i > 0:
                row["doc_id"] += i * KEY_OFFSET
                row["text"] = _shard_text(row["text"], salt)
                row["n_chars"] = (None if row["text"] is None
                                  else len(row["text"]))
            for name in cols:
                out[name].append(row[name])
    return pa.table(out, schema=base.schema)


def _embeddings(base, strides):
    cols = base.to_pydict()
    out = {name: [] for name in cols}
    for i, stride in enumerate(strides):
        for j in range(base.num_rows):
            row = {name: cols[name][j] for name in cols}
            if i > 0:
                row["vec_id"] += i * KEY_OFFSET
                e = row["embedding"]
                if e is not None:
                    row["embedding"] = e[stride:] + e[:stride]
            for name in cols:
                out[name].append(row[name])
    return pa.table(out, schema=base.schema)


def generate(base_dir, out_dir, seed):
    salts, strides = replica_params(seed)
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        if t not in ("documents", "embeddings"):
            shutil.copyfile(os.path.join(base_dir, t + ".parquet"),
                            os.path.join(out_dir, t + ".parquet"))
    for t, build, params in (("documents", _documents, salts),
                             ("embeddings", _embeddings, strides)):
        base = pq.read_table(os.path.join(base_dir, t + ".parquet"))
        base = base.replace_schema_metadata(None)
        scaled = build(base, params)
        assert scaled.num_rows == REPLICAS * base.num_rows, \
            f"{t}: {scaled.num_rows} rows, expected {REPLICAS}x{base.num_rows}"
        pq.write_table(scaled, os.path.join(out_dir, t + ".parquet"))
