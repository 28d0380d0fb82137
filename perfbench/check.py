"""Output checks against numpy ground truth.

A search answer is accepted when it has at most k2 hits, no self-hit and
no id outside the live corpus, is sorted by (distance, id), and every
`_score` equals the euclidean distance between the stored vectors rounded
to 6 places. The program folds the squared differences left to right and
rounds half-up; `score_ok` recomputes the distance with the same fold and
accepts either neighbour of a rounding tie.
"""

from __future__ import annotations

import math

import numpy as np

K2 = 10


def exact_distance(q, v) -> float:
    acc = 0.0
    for x, y in zip(q, v):
        acc += (x - y) * (x - y)
    return math.sqrt(acc)


def score_ok(score: float, q, v) -> bool:
    d = exact_distance(q, v)
    return abs(score - d) <= 5e-7 * (1 + 1e-9) and abs(score * 1e6 - round(score * 1e6)) < 1e-3


class Corpus:
    """The live corpus as the benchmark believes it to be: vectors by id
    plus a live mask, so ground truth follows upserts and deletes."""

    def __init__(self, vectors: np.ndarray):
        self.vectors = vectors.copy()
        self.live = np.ones(len(vectors), dtype=bool)

    def put(self, i: int, v: np.ndarray) -> None:
        self.vectors[i] = v
        self.live[i] = True

    def drop(self, i: int) -> None:
        self.live[i] = False

    def top_k(self, qid: int, k: int = K2) -> list[int]:
        d = np.sqrt(((self.vectors - self.vectors[qid]) ** 2).sum(axis=1))
        d[~self.live] = np.inf
        d[qid] = np.inf
        near = np.argpartition(d, k)[: k + 1]
        near = np.flatnonzero(d <= d[near].max())  # keep ties at the k-th distance
        order = near[np.lexsort((near, d[near]))][:k]
        return [int(i) for i in order if np.isfinite(d[i])]


def check_hits(corpus: Corpus, qid: int, hits: list[tuple[int, float]]) -> tuple[list[str], float]:
    """Check one answer; returns (problems, recall@10)."""
    problems = []
    if len(hits) > K2:
        problems.append(f"query {qid}: {len(hits)} hits > k2")
    keys = [(s, i) for i, s in hits]
    if keys != sorted(keys):
        problems.append(f"query {qid}: hits not sorted by (distance, id)")
    q = corpus.vectors[qid].tolist()
    for i, s in hits:
        if i == qid:
            problems.append(f"query {qid}: self-hit")
        elif not (0 <= i < len(corpus.live)) or not corpus.live[i]:
            problems.append(f"query {qid}: hit {i} is not in the live corpus")
        elif not score_ok(s, q, corpus.vectors[i].tolist()):
            problems.append(f"query {qid}: hit {i} score {s!r} != rounded distance")
    truth = corpus.top_k(qid)
    recall = len({i for i, _ in hits} & set(truth)) / max(1, len(truth))
    return problems, recall


def lsh_terms(model, vectors: np.ndarray) -> np.ndarray:
    """(n, T) hash terms with the model's hyperplanes, as the hash UDF
    computes them. Used only for candidate counts, which tolerate a rare
    last-digit disagreement."""
    margin = np.round(vectors @ model.normals.T - model.offsets, 6)
    bits = (margin > 0).reshape(len(vectors), model.tables, model.bits)
    return (bits * (1 << np.arange(model.bits))).sum(axis=2)


def candidates(terms: np.ndarray, live: np.ndarray, qid: int) -> int:
    """Live docs sharing at least one (table, hash) term with `qid`."""
    shared = (terms == terms[qid]).any(axis=1) & live
    shared[qid] = False
    return int(shared.sum())
