"""Seeded input generation for the EsAknn benchmark.

Everything the program sees is made here from `--seed`: the vectors, the
id streams and the request bodies. Bodies are JSON-encoded during set-up so
that client-side encoding is never inside a timed request.
"""

from __future__ import annotations

import json

import numpy as np

DIM = 64
# Gaussian-mixture centres: LSH buckets end up skewed the way real
# embedding collections are (a few dense regions, long sparse tails).
CLUSTERS = 256
CENTRE_SCALE = 4.0
# Four decimals keep JSON bodies small; the parsed doubles equal the
# generated ones exactly, so ground truth needs no tolerance.
DECIMALS = 4


def mixture(rng: np.random.Generator, n: int) -> np.ndarray:
    centres = np.random.default_rng(rng.integers(1 << 62)).normal(
        size=(CLUSTERS, DIM)
    ) * CENTRE_SCALE
    labels = rng.integers(0, CLUSTERS, n)
    return np.round(centres[labels] + rng.normal(size=(n, DIM)), DECIMALS)


def fresh_vector(rng: np.random.Generator, corpus: np.ndarray) -> np.ndarray:
    """A new vector for an upsert: a random live vector pushed to another
    part of space, so the doc's hash terms move between directories."""
    base = corpus[rng.integers(len(corpus))]
    return np.round(base + rng.normal(size=DIM) * 2.0, DECIMALS)


def doc(i: int, v: np.ndarray) -> dict:
    return {"_id": int(i), "_source": {"_aknn_vector": v.tolist()}}


def encode(payload: dict) -> bytes:
    return json.dumps(payload).encode()


def zipf_ids(rng: np.random.Generator, n: int, count: int, s: float = 1.1) -> list[int]:
    """`count` ids over `n` docs, rank-frequency Zipf(s) over a seeded
    permutation so hot ids are spread across the id space."""
    p = 1.0 / np.arange(1, n + 1) ** s
    ranks = rng.choice(n, size=count, p=p / p.sum())
    return [int(i) for i in rng.permutation(n)[ranks]]


def write_ops(rng: np.random.Generator, n: int, count: int, compact_every: int) -> list[tuple]:
    """The fixed serve_write mix: cycles of upsert, search, delete, search,
    re-add of the deleted id, search. Corpus size returns to `n` after
    every cycle. A compact follows every `compact_every` writes.

    Returns (op, doc_id) with op in {"upsert", "delete", "readd",
    "search", "compact"}; vectors are drawn later, in order, from the
    same generator."""
    ops: list[tuple] = []
    writes = 0
    while len(ops) < count:
        up, gone, q1, q2, q3 = (int(x) for x in rng.choice(n, 5, replace=False))
        for op in (("upsert", up), ("search", q1), ("delete", gone),
                   ("search", q2), ("readd", gone), ("search", q3)):
            ops.append(op)
            if op[0] != "search":
                writes += 1
                if writes % compact_every == 0:
                    ops.append(("compact", None))
    return ops


def query_batches(rng: np.random.Generator, n: int, batch: int, count: int) -> list[list[int]]:
    """`count` batches of `batch` distinct query ids each."""
    return [[int(i) for i in rng.choice(n, batch, replace=False)] for _ in range(count)]
