#!/usr/bin/env python3
"""Seeded input generator for the pipeline benchmark.

Writes `events`, `documents` and `embeddings` parquet files in the schema
`graft.sources.Tables` reads, plus tiny placeholder files for the TPC-H
tables (which none of the benchmark's queries read, but the oracle checker
opens every table by name). The same seed always gives the same bytes of
data; nothing here reads outside the output directory.

Usage: python3 perfbench/gen.py --seed N --out DIR --events N --users N
                               --docs N --vectors N

Traffic dimensions (each chosen because a layer's cost depends on it). The
reference `events` table (sf0.1: 100k rows, 1500 users) was measured with
pyarrow: event_type shares click 0.199, error 0.198, purchase 0.201, signup
0.203, view 0.199; mean gap between consecutive timestamps 25.9 s; event ids
strictly increasing in timestamp order; 99 events on the busiest user
against a mean of 67 (no key skew).
- keys: user ids drawn from a Zipf(1.1) law over `--users` users. This one
  departs from the reference on purpose: at s = 1.1 the hottest key carries
  15% of ops and the top ten 39%, so one shuffle partition holds a long
  per-key op chain (sort and window depth, `task_skew`) while most keys are
  short (task-launch-bound small keyed frames);
- op mix: the five event types in equal shares, as measured
  (signup -> insert, error -> delete, the rest -> partial updates);
- gaps: exponential with the measured 26 s mean;
- order: event ids are assigned in timestamp order (the LSN contract);
- documents: planted near-duplicate *chains* (each link one word away from
  the previous), so connected components need several contraction rounds,
  plus a few exact duplicates for the signature star edges;
- embeddings: ten Gaussian topics plus planted near-duplicate vectors.
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
# a small technical vocabulary like the reference corpus: the word-bigram
# space is narrow, so MinHash minima concentrate and band buckets skew
VOCAB = np.array((
    "a batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join shuffle index cache plan node task stage").split())


def zipf_keys(rng, n, users, s=1.1):
    w = 1.0 / np.arange(1, users + 1) ** s
    ranks = rng.choice(users, size=n, p=w / w.sum())
    return rng.permutation(users)[ranks]  # hot keys scattered over the id space


def events(rng, n, users):
    # mean gap 26 s, as measured on the reference data; strictly increasing microsecond
    # timestamps keep lsn = t_ms * 10^6 + event_id ordered with event ids
    gaps = np.maximum(rng.exponential(26e6, n).astype(np.int64), 1)
    ts = EPOCH_US + np.cumsum(gaps)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(zipf_keys(rng, n, users).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.lognormal(3.5, 1.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    p = 1.0 / np.arange(1, len(VOCAB) + 1)
    p /= p.sum()

    def fresh():
        return list(VOCAB[rng.choice(len(VOCAB), rng.integers(12, 90), p=p)])

    texts = []
    while len(texts) < n:
        r = rng.random()
        if r < 0.30:  # near-duplicate chain: each link one substitution away
            words = fresh()
            for _ in range(int(rng.integers(3, 12))):
                texts.append(" ".join(words))
                words = list(words)
                words[rng.integers(len(words))] = VOCAB[rng.integers(len(VOCAB))]
        elif r < 0.33 and texts:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(len(texts)))])
        else:
            texts.append(" ".join(fresh()))
    texts = texts[:n]
    order = rng.permutation(n)  # chain members are not adjacent doc ids
    texts = [texts[i] for i in order]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64, topics=10):
    centers = rng.normal(0, 1, (topics, dim))
    labels = rng.integers(0, topics, n)
    vecs = centers[labels] * 0.35 + rng.normal(0, 1, (n, dim))
    # planted near-duplicates: 10% of rows are a small perturbation of an
    # earlier row (cosine ~0.99), the pairs SemDeDup exists to drop
    dup = rng.random(n) < 0.10
    dup[0] = False
    src = (rng.random(n) * np.arange(n)).astype(np.int64)
    vecs[dup] = vecs[src[dup]] + rng.normal(0, 0.05, (int(dup.sum()), dim))
    labels[dup] = labels[src[dup]]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).reshape(-1))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def placeholders(out):
    one = {"k": pa.array([0], pa.int64())}
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"]:
        pq.write_table(pa.table(one), f"{out}/{t}.parquet")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    for size in ("--events", "--users", "--docs", "--vectors"):
        ap.add_argument(size, type=int, required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    # one independent stream per table: resizing one table leaves the
    # others' bytes unchanged
    rngs = [np.random.default_rng([a.seed, i]) for i in range(3)]
    ev = events(rngs[0], a.events, a.users)
    docs = documents(rngs[1], a.docs)
    emb = embeddings(rngs[2], a.vectors)
    pq.write_table(ev, f"{a.out}/events.parquet")
    pq.write_table(docs, f"{a.out}/documents.parquet")
    pq.write_table(emb, f"{a.out}/embeddings.parquet")
    placeholders(a.out)
    ts = ev.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    meta = {
        "seed": a.seed,
        "rows": {"events": ev.num_rows, "documents": docs.num_rows,
                 "embeddings": emb.num_rows},
        "users": a.users,
        "distinct_users": int(len(np.unique(ev.column("user_id").to_numpy()))),
        "max_event_id": int(ev.column("event_id").to_numpy().max()),
        # midpoint of the event time range (ms): the sink's upsert cut
        "cut_ms": int((ts[0] + ts[-1]) // 2 // 1000),
    }
    with open(f"{a.out}/meta.json", "w") as f:
        json.dump(meta, f)


if __name__ == "__main__":
    main()
