"""NumPy brute-force oracle and the answer checks the benchmark applies.

Distances are squared L2, computed in float64 from the float32 vectors
(the engine casts both sides to double the same way). The engine rounds
returned distances to 4 digits, so comparisons allow that rounding.
"""

from __future__ import annotations

import numpy as np

ROUND_TOL = 1.5e-4  # half a unit in the 4th digit, plus summation-order slack


class Oracle:
    """Exact top-k over a growing corpus held as float64 blocks."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.ids = np.empty(0, dtype=np.int64)
        self.vecs = np.empty((0, vecs.shape[1]))
        self._row: dict[int, int] = {}
        self.extend(ids, vecs)

    def extend(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        """Add rows (ingested vectors become part of the ground truth)."""
        base = len(self.ids)
        self.ids = np.concatenate([self.ids, np.asarray(ids, dtype=np.int64)])
        self.vecs = np.vstack([self.vecs, np.asarray(vecs, dtype=np.float64)])
        self._sq = (self.vecs**2).sum(axis=1)
        self._row.update((int(i), base + r) for r, i in enumerate(ids))

    def dists(self, query: np.ndarray) -> np.ndarray:
        q = np.asarray(query, dtype=np.float64)
        return np.maximum(self._sq - 2.0 * (self.vecs @ q) + q @ q, 0.0)

    def topk(self, query: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
        """Exact top-k as (ids, dists), ordered by (dist, id)."""
        d = self.dists(query)
        kth = np.partition(d, k - 1)[k - 1]
        cand = np.nonzero(d <= kth)[0]
        order = np.lexsort((self.ids[cand], d[cand]))[:k]
        return self.ids[cand[order]], d[cand[order]]

    def dist_of(self, query: np.ndarray, vec_id: int) -> float:
        v = self.vecs[self._row[int(vec_id)]]
        diff = v - np.asarray(query, dtype=np.float64)
        return float(diff @ diff)

    def has(self, vec_id: int) -> bool:
        return int(vec_id) in self._row


def check_exact(rows, oracle: Oracle, query, k: int) -> str | None:
    """``search_exact`` must equal the oracle's top-k; ids may differ only
    among rows tied (after rounding) at the k-th distance. Returns an
    error message, or None when the answer is right."""
    want_ids, want_d = oracle.topk(query, k)
    got_ids = [int(r[0]) for r in rows]
    got_d = np.array([float(r[1]) for r in rows])
    if len(got_ids) != k:
        return f"exact: {len(got_ids)} rows, want {k}"
    if np.any(np.abs(got_d - want_d) > ROUND_TOL):
        return f"exact: distances {got_d[:3]}... differ from oracle {want_d[:3]}..."
    kth = want_d[-1]
    for vid, gd in zip(got_ids, got_d):
        if not oracle.has(vid) or abs(oracle.dist_of(query, vid) - gd) > ROUND_TOL:
            return f"exact: id {vid} has wrong distance {gd}"
    firm = {int(i) for i, d in zip(want_ids, want_d) if d < kth - ROUND_TOL}
    if not firm <= set(got_ids):
        return f"exact: missing ids {sorted(firm - set(got_ids))[:5]}"
    return None


def check_ann(rows, oracle: Oracle, query, k: int) -> str | None:
    """An ANN answer may miss true neighbours (that is recall), but what it
    returns must be real: k distinct stored ids, each at its true
    distance, in ascending (dist, id) order."""
    ids = [int(r[0]) for r in rows]
    d = [float(r[1]) for r in rows]
    if len(ids) != k or len(set(ids)) != k:
        return f"ann: {len(ids)} rows ({len(set(ids))} distinct), want {k}"
    if any((d[i], ids[i]) > (d[i + 1], ids[i + 1]) for i in range(k - 1)):
        return "ann: rows not ordered by (dist, id)"
    for vid, gd in zip(ids, d):
        if not oracle.has(vid):
            return f"ann: unknown id {vid}"
        if abs(oracle.dist_of(query, vid) - gd) > ROUND_TOL:
            return f"ann: id {vid} reported at {gd}, true {oracle.dist_of(query, vid)}"
    return None


def recall(rows, oracle: Oracle, query, k: int) -> float:
    """|returned ∩ true top-k| / k. Rows tied with the true k-th distance
    count as hits (any of them is a correct k-th neighbour)."""
    _, want_d = oracle.topk(query, k)
    kth = want_d[-1]
    hits = sum(1 for r in rows if float(r[1]) <= kth + ROUND_TOL)
    return min(hits, k) / k


def check_self(rows, vec_id: int) -> str | None:
    """A stored vector queried against itself comes back first, at ~0."""
    if not rows or int(rows[0][0]) != int(vec_id) or float(rows[0][1]) >= 1e-4:
        first = tuple(rows[0]) if rows else None
        return f"self-query {vec_id}: first row {first}"
    return None
