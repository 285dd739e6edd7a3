#!/usr/bin/env python3
"""Seeded input generator of the benchmark: no download, no RNG state.

Every number comes from an integer linear congruential generator
(x -> (1103515245 x + 12345) mod 2^31, the same idea as graft's
VectorStore.randomVectors and tools/gen_dim384.py), run as one stream
per row and vectorised over rows, so a seed always gives the same
bytes.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
    python3 perfbench/gen.py --selftest <scratch_dir>

Outputs (parquet):
  corpus.parquet   (id, vec)  clustered: CLUSTERS centres uniform in
                   [-1, 1)^DIM, cluster sizes skewed (cluster =
                   floor(u^1.5 * CLUSTERS)), members = centre + SPREAD
                   * (sum of three uniforms - 1.5) per dimension
  queries.parquet  (qid, kind, vec)  a third each of exact copies of
                   corpus rows, near-duplicates (copy + NEAR_SPREAD
                   noise) and out-of-distribution vectors (uniform in
                   [-2, 2)^DIM)
  churn.parquet    (batch, op, id, vec)  ingest only: per batch
                   INSERTS new ids, UPDATES re-embedded live ids and
                   DELETES live ids; ops apply in that order
  embeddings.parquet  (vec_id, embedding, label)  the first EMBEDDINGS
                   corpus rows in the shape of graft's `embeddings` table
"""
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CLUSTERS = 32
SPREAD = 0.35
NEAR_SPREAD = 0.05
EMBEDDINGS = 2_000
M31 = 1 << 31

# rows in the corpus, size of the query pool, churn batches
SIZES = {
    "search": dict(n=10_000, pool=384, batches=0),
    "ingest": dict(n=10_000, pool=256, batches=12),
}
INSERTS, UPDATES, DELETES = 2000, 500, 200


class Lcg:
    """One LCG stream per row; `uniform()` advances every stream once."""

    def __init__(self, seed, salt, rows):
        r = np.arange(rows, dtype=np.int64)
        self.s = (seed * 1_000_003 + salt * 7_919 + r * 2_654_435_761) % M31
        for _ in range(3):
            self.uniform()

    def uniform(self):
        self.s = (self.s * 1_103_515_245 + 12_345) % M31
        return self.s.astype(np.float64) / M31

    def matrix(self, cols):
        return np.stack([self.uniform() for _ in range(cols)], axis=1)


def clustered(seed, salt, rows, centres):
    g = Lcg(seed, salt, rows)
    cl = np.floor(g.uniform() ** 1.5 * len(centres)).astype(np.int64)
    noise = g.matrix(DIM) + g.matrix(DIM) + g.matrix(DIM) - 1.5
    return (centres[cl] + SPREAD * noise).astype(np.float32)


def vec_table(names, ids, vecs, extra=()):
    cols = {names[0]: pa.array(ids, pa.int64())}
    cols.update(dict(extra))
    cols[names[1]] = pa.array(list(vecs), pa.list_(pa.float32()))
    return pa.table(cols)


def write(tb, path):
    pq.write_table(tb, path, compression="snappy")


def vectors(seed, n, pool, out):
    centres = (Lcg(seed, 1, CLUSTERS).matrix(DIM) * 2 - 1)
    corpus = clustered(seed, 2, n, centres)
    write(vec_table(("id", "vec"), np.arange(n), corpus),
          f"{out}/corpus.parquet")
    # graft's `embeddings` table shape, for the registry queries
    e = min(n, EMBEDDINGS)
    label = np.floor(Lcg(seed, 4, e).uniform() * 5).astype(np.int32)
    write(vec_table(("vec_id", "embedding"), np.arange(e), corpus[:e],
                    [("label", pa.array(label, pa.int32()))]),
          f"{out}/embeddings.parquet")
    if pool:
        g = Lcg(seed, 3, pool)
        src = np.floor(g.uniform() * n).astype(np.int64)
        kind = np.arange(pool) % 3
        near = corpus[src] + NEAR_SPREAD * (g.matrix(DIM) * 2 - 1)
        ood = g.matrix(DIM) * 4 - 2
        q = np.where((kind == 0)[:, None], corpus[src],
                     np.where((kind == 1)[:, None], near, ood)).astype(np.float32)
        names = np.array(["copy", "near", "ood"])[kind]
        write(vec_table(("qid", "vec"), 1_000_000_000 + np.arange(pool), q,
                        [("kind", pa.array(names))]),
              f"{out}/queries.parquet")
    return centres, corpus


def churn(seed, n, batches, centres, out):
    """Inserts take fresh ids; updates and deletes pick live ids."""
    live = list(range(n))
    nxt = n
    rows_b, rows_op, rows_id, rows_v = [], [], [], []
    for b in range(batches):
        ins = clustered(seed, 100 + b, INSERTS, centres)
        ids = np.arange(nxt, nxt + INSERTS)
        nxt += INSERTS
        g = Lcg(seed, 10_000 + b, UPDATES + DELETES)
        # distinct picks without replacement, by a seeded partial shuffle
        picks = []
        taken = set()
        u = g.uniform()
        for x in u:
            j = int(x * len(live))
            while live[j] in taken:
                j = (j + 1) % len(live)
            taken.add(live[j])
            picks.append(live[j])
        upd, dele = picks[:UPDATES], picks[UPDATES:]
        upv = clustered(seed, 20_000 + b, UPDATES, centres)
        for i, v in zip(ids, ins):
            rows_b.append(b); rows_op.append("insert"); rows_id.append(int(i)); rows_v.append(v)
        for i, v in zip(upd, upv):
            rows_b.append(b); rows_op.append("update"); rows_id.append(i); rows_v.append(v)
        for i in dele:
            rows_b.append(b); rows_op.append("delete"); rows_id.append(i); rows_v.append(None)
        gone = set(dele)
        live = [i for i in live if i not in gone] + [int(i) for i in ids]
    tb = pa.table({
        "batch": pa.array(rows_b, pa.int32()),
        "op": pa.array(rows_op),
        "id": pa.array(rows_id, pa.int64()),
        "vec": pa.array([None if v is None else list(v) for v in rows_v],
                        pa.list_(pa.float32())),
    })
    write(tb, f"{out}/churn.parquet")


def generate(workload, seed, out):
    size = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    centres, _ = vectors(seed, size["n"], size["pool"], out)
    if size["batches"]:
        churn(seed, size["n"], size["batches"], centres, out)


def digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def selftest(scratch):
    """Same seed -> byte-identical inputs; another seed -> other bytes."""
    ok = True
    for w in SIZES:
        a, b, c = (os.path.join(scratch, f"{w}-{x}") for x in "abc")
        generate(w, 7, a)
        generate(w, 7, b)
        generate(w, 8, c)
        same, diff = digest(a) == digest(b), digest(a) != digest(c)
        print(f"{w}: same seed identical={same} other seed differs={diff}")
        ok &= same and diff
    return ok


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    if sys.argv[1] == "--selftest":
        sys.exit(0 if selftest(sys.argv[2]) else 1)
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
