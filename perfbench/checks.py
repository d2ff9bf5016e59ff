"""Seeded inputs and result checks, computed with numpy outside the engine.

The corpus is a 64-d Gaussian mixture (64 components, noise sigma 0.35).
Queries are fresh draws from the same mixture, never corpus members, so no
query finds itself at distance 0.

Run ``python3 perfbench/checks.py`` to confirm that the checks catch a
corrupted result (a wrong id, or a missing row); it needs numpy only.
"""

from __future__ import annotations

import numpy as np

DIM = 64
COMPONENTS = 64
NOISE = 0.35
DIST_TOL = 1e-9
CENTRES_SEED = 20_240_601


class Mixture:
    """Seeded draws from the benchmark's Gaussian mixture.

    The component centres are the same for every seed, and draws are
    stratified: every run of 64 consecutive draws holds each component
    once, in a seeded order. So every query batch and every corpus has the
    same make-up, and seeds differ only in the points drawn, not in how
    the work spreads over the index's cells."""

    def __init__(self, seed: int):
        self.centers = np.random.default_rng(CENTRES_SEED).normal(size=(COMPONENTS, DIM))
        self.rng = np.random.default_rng(seed)

    def draw(self, n: int) -> np.ndarray:
        blocks = np.tile(np.arange(COMPONENTS), (-(-n // COMPONENTS), 1))
        comp = self.rng.permuted(blocks, axis=1).ravel()[:n]
        return self.centers[comp] + NOISE * self.rng.normal(size=(n, DIM))


def exact_topk(queries: np.ndarray, corpus: np.ndarray, ids: np.ndarray,
               k: int, exclude: np.ndarray | None = None) -> np.ndarray:
    """(nq, k) ids of the exact k nearest corpus rows by squared L2, ties
    broken by id. ``exclude[i]`` (an id) is left out of query i's answer.
    Candidates come from the expanded-form matmul; the final order is
    recomputed in difference form."""
    out = np.empty((len(queries), k), dtype=np.int64)
    cnorm = np.einsum("ij,ij->i", corpus, corpus)
    extra = k + 16
    for lo in range(0, len(queries), 256):
        q = queries[lo:lo + 256]
        d = cnorm[None, :] - 2.0 * (q @ corpus.T)
        if exclude is not None:
            d[np.arange(len(q)), np.searchsorted(ids, exclude[lo:lo + 256])] = np.inf
        cand = np.argpartition(d, extra, axis=1)[:, :extra]
        diff = corpus[cand] - q[:, None, :]
        exact = np.einsum("ijk,ijk->ij", diff, diff)
        if exclude is not None:
            exact[ids[cand] == exclude[lo:lo + 256, None]] = np.inf
        order = np.lexsort((ids[cand], exact), axis=1)[:, :k]
        out[lo:lo + 256] = ids[np.take_along_axis(cand, order, axis=1)]
    return out


class TopkCheck:
    """Checks one top-k result set against the inputs that produced it.

    ``vectors`` maps every id the engine may return (the live corpus) to
    its row; ``dead`` holds ids that must never be returned (deleted)."""

    def __init__(self, k: int, queries: dict[int, np.ndarray],
                 vectors: dict[int, np.ndarray], dead: set[int] = frozenset(),
                 exclude_self: bool = False):
        self.k = k
        self.queries = queries
        self.vectors = vectors
        self.dead = dead
        self.exclude_self = exclude_self

    def problems(self, qid: np.ndarray, vid: np.ndarray, dist: np.ndarray,
                 expected_qids) -> list[str]:
        """Every failed check, as text; empty when the result is correct."""
        out = []
        got_q, counts = np.unique(qid, return_counts=True)
        missing = set(int(q) for q in expected_qids) - set(got_q.tolist())
        if missing:
            out.append(f"{len(missing)} queries returned no rows")
        bad_k = got_q[counts != self.k]
        if len(bad_k):
            out.append(f"{len(bad_k)} queries returned a row count other than k={self.k}")
        unknown = [q for q in got_q.tolist() if q not in self.queries]
        if unknown:
            out.append(f"{len(unknown)} unknown query ids")
        dead = [v for v in vid.tolist() if v in self.dead]
        if dead:
            out.append(f"{len(dead)} rows return deleted ids")
        live = np.array([v in self.vectors for v in vid.tolist()], dtype=bool)
        if not live.all():
            out.append(f"{int((~live).sum())} rows return ids outside the live corpus")
        if self.exclude_self and (qid == vid).any():
            out.append("a vector is returned as its own neighbour")
        ok = live & np.array([q in self.queries for q in qid.tolist()], dtype=bool)
        if ok.any():
            qm = np.stack([self.queries[q] for q in qid[ok].tolist()])
            vm = np.stack([self.vectors[v] for v in vid[ok].tolist()])
            want = np.einsum("ij,ij->i", qm - vm, qm - vm)
            off = np.abs(dist[ok] - want) > DIST_TOL * np.maximum(1.0, want)
            if off.any():
                out.append(f"{int(off.sum())} distances differ from numpy by more than {DIST_TOL}")
        return out


def recall(qid: np.ndarray, vid: np.ndarray, truth: dict[int, np.ndarray]) -> float:
    """Mean over the truth's queries of |returned ∩ exact top-k| / k."""
    got: dict[int, set] = {}
    for q, v in zip(qid.tolist(), vid.tolist()):
        got.setdefault(q, set()).add(v)
    hits = [len(got.get(q, set()) & set(t.tolist())) / len(t) for q, t in truth.items()]
    return float(np.mean(hits))


def catches_corruption(check: TopkCheck, qid: np.ndarray, vid: np.ndarray,
                       dist: np.ndarray, expected_qids, rng) -> bool:
    """Self-check on a result the checker passed: swap one row's id for a
    wrong one, and separately drop one row; both must be flagged."""
    i = int(rng.integers(len(vid)))
    taken = set(vid[qid == qid[i]].tolist())
    others = [v for v in check.vectors if v not in taken]
    wrong = vid.copy()
    wrong[i] = others[int(rng.integers(len(others)))]
    keep = np.ones(len(vid), dtype=bool)
    keep[i] = False
    return bool(
        check.problems(qid, wrong, dist, expected_qids)
        and check.problems(qid[keep], vid[keep], dist[keep], expected_qids)
    )


def _self_test() -> int:
    mix = Mixture(7)
    corpus, queries = mix.draw(2000), mix.draw(20)
    ids = np.arange(len(corpus))
    top = exact_topk(queries, corpus, ids, 10)
    qid = np.repeat(np.arange(20), 10)
    vid = top.ravel()
    diff = queries[qid] - corpus[vid]
    dist = np.einsum("ij,ij->i", diff, diff)
    check = TopkCheck(10, dict(enumerate(queries)), dict(enumerate(corpus)))
    clean = check.problems(qid, vid, dist, range(20))
    caught = catches_corruption(check, qid, vid, dist, range(20), np.random.default_rng(0))
    print(f"clean result problems: {clean}; corruption caught: {caught}")
    return 0 if not clean and caught else 1


if __name__ == "__main__":
    raise SystemExit(_self_test())
