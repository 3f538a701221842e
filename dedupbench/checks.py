"""The benchmark's own oracles: exact k-shingle Jaccard, recall against
planted pairs, exact cosine top-k and result digests.  None of these
call the engine."""

from __future__ import annotations

import hashlib

import numpy as np


def shingles(text: str | None, k: int) -> set[bytes]:
    """Distinct k-byte shingles of the lowercased, whitespace-folded
    text (a text no longer than k is one shingle)."""
    data = " ".join((text or "").lower().split()).encode()
    if len(data) <= k:
        return {data} if data else set()
    return {data[i:i + k] for i in range(len(data) - k + 1)}


def jaccard(a: set, b: set) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def true_pairs(pairs, texts: dict, k: int, theta: float) -> list[tuple]:
    """Planted (a, b, kind) pairs whose exact Jaccard is at least theta."""
    return [(a, b) for a, b, _ in pairs
            if jaccard(shingles(texts[a], k), shingles(texts[b], k)) >= theta]


def recall(pairs, label: dict) -> float:
    """Share of `pairs` whose docs share a cluster label.  Docs missing
    from `label` were not matchable; their pairs are not counted."""
    kept = [(a, b) for a, b in pairs if a in label and b in label]
    return sum(label[a] == label[b] for a, b in kept) / len(kept) if kept else 1.0


def reverify_sample(dup_pairs, texts: dict, k: int, theta: float, n: int = 200) -> int:
    """Re-verify a deterministic sample of emitted (a, b) pairs with the
    exact Jaccard; returns how many fall below theta."""
    rows = sorted(dup_pairs)
    step = max(1, len(rows) // n)
    return sum(jaccard(shingles(texts[a], k), shingles(texts[b], k)) < theta
               for a, b in rows[::step])


def exact_topk(vecs: np.ndarray, query_ids, k: int) -> dict:
    """Exact cosine top-k per query (self excluded; ties by lower id)."""
    v = vecs.astype(np.float64)
    v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
    sims = v[query_ids] @ v.T
    sims[np.arange(len(query_ids)), query_ids] = -np.inf
    order = np.argsort(-sims, axis=1, kind="stable")
    return {int(q): set(order[i, :k].tolist()) for i, q in enumerate(query_ids)}


def topk_recall(found: dict, exact: dict) -> float:
    hit = sum(len(found.get(q, set()) & nn) for q, nn in exact.items())
    return hit / sum(len(nn) for nn in exact.values())


def spans_missing(planted, found: dict) -> int:
    """Planted (a, b, span_len) partners absent from `found` or reported
    shorter than the planted span."""
    return sum(found.get((a, b), 0) < length for a, b, length in planted)


def digest(rows) -> str:
    """sha256 over the sorted rows' text form."""
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(repr(tuple(row)).encode())
        h.update(b"\n")
    return h.hexdigest()
