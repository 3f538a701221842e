"""Seeded, single-process input generators for the dedup benchmark.

The benchmark owns its inputs: nothing here imports the engine, so a
change to the engine's own synthesizer (``sources.pages``) cannot
change a workload.  The rules mirror FIXTURES.md section 1.

Each input is written once per (kind, seed, size) as parquet under the
work directory, next to a ``meta.json`` that records a sha256 digest of
the generated content and the planted truth the checks need.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# pseudo-words from consonant-vowel syllables: a web-sized vocabulary,
# so unrelated docs share few 8-char shingles
_CONS = "bcdfghklmnprstvz"
_VOWS = "aeiou"
VOCAB = [
    _CONS[i % 16] + _VOWS[(i // 16) % 5] + _CONS[(i * 7 + 3) % 16] + _VOWS[(i // 80) % 5]
    + ("" if i % 3 else _CONS[(i * 5) % 16])
    for i in range(400)
]
VOCAB = sorted(set(VOCAB))

BOILERPLATE = (
    "all rights reserved terms of service privacy policy cookie notice "
    "subscribe to our newsletter follow us contact about careers sitemap"
)
LANGS = ["en", "fr", "es", "zh", "de"]
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds

# near-dup mutation fractions: a Jaccard ladder around the 0.8 threshold
MUTATION_LEVELS = [0.01, 0.03, 0.05, 0.08, 0.15, 0.35]
SPAN_CHARS = 300


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), size=n)]


def _mutate(rng: np.random.Generator, text: str, frac: float) -> str:
    toks = text.split(" ")
    n_mut = min(len(toks), max(1, int(round(frac * len(toks)))))
    for p in rng.choice(len(toks), size=n_mut, replace=False):
        toks[p] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(toks)


def _span(rng: np.random.Generator) -> str:
    words: list[str] = []
    while len(" ".join(words)) < SPAN_CHARS:
        words += _words(rng, 8)
    return " ".join(words)


def _page_rows(n: int, seed: int):
    """Planted-structure pages, by doc_id % 10 (FIXTURES.md section 1):

    0 base                 5 chain: mutation of this decade's 7
    1 base                 6 exact copy of 0
    2 base + boilerplate   7 near copy of 0 at a ladder level
    3 base + long span S   8 filler around the same span S
    4 base + boilerplate   9 status row: empty / corrupted / low_quality
    """
    rng = np.random.default_rng([seed, 1])
    rows = []
    pairs = []        # (a, b, kind): planted similarity pairs
    spans = []        # (a, b, len(S)): planted long-span partners
    status = []
    for d in range(0, n, 10):
        base = " ".join(_words(rng, int(rng.integers(30, 121))))
        near = _mutate(rng, base, MUTATION_LEVELS[(d // 10) % len(MUTATION_LEVELS)])
        span = _span(rng)
        texts = {
            0: base,
            1: " ".join(_words(rng, int(rng.integers(30, 121)))),
            2: " ".join(_words(rng, int(rng.integers(30, 121)))) + " " + BOILERPLATE,
            3: " ".join(_words(rng, int(rng.integers(30, 121)))) + " " + span,
            4: " ".join(_words(rng, int(rng.integers(30, 121)))) + " " + BOILERPLATE,
            5: _mutate(rng, near, 0.03),
            6: base,
            7: near,
            8: " ".join(_words(rng, int(rng.integers(20, 41)))) + " " + span
            + " " + " ".join(_words(rng, int(rng.integers(20, 41)))),
        }
        kind = (d // 10) % 3
        for c in range(10):
            i = d + c
            if i >= n:
                break
            st = "ok"
            if c == 9:
                st = ("empty", "corrupted", "low_quality")[kind]
                text = {"empty": "", "corrupted": " ".join(_words(rng, 40)),
                        "low_quality": "ab ab ab"}[st]
            else:
                text = texts[c]
            if st == "corrupted":
                html = b"<html><body>" + text.encode()[:20] + b"\xff\xfe\xfd<trunc"
            else:
                html = b"<html><body>" + text.encode() + b"</body></html>"
            rows.append((i, f"https://src{i % 97}.example/p{i // 100}/{i}",
                         EPOCH_US + i * 1_000_000, html, text,
                         LANGS[int(rng.integers(0, len(LANGS)))]))
            status.append(st)
        if d + 8 < n:
            pairs += [(d, d + 6, "exact"), (d, d + 7, "near"),
                      (d + 5, d + 7, "chain"), (d, d + 5, "chain_ends"),
                      (d + 2, d + 4, "boilerplate")]
            spans.append((d + 3, d + 8, len(span)))
    return rows, pairs, spans, status


def _embedding_rows(n: int, dim: int, clusters: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 3])
    centers = rng.standard_normal((clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    member = rng.integers(0, clusters, size=n)
    return (centers[member] + 0.35 * rng.standard_normal((n, dim)) / np.sqrt(dim)
            ).astype(np.float32)


def _digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _pages_table(rows) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "url": pa.array(cols[1], pa.string()),
        "warc_ts": pa.array(cols[2], pa.timestamp("us", tz="UTC")),
        "html": pa.array(cols[3], pa.binary()),
        "text": pa.array(cols[4], pa.string()),
        "lang": pa.array(cols[5], pa.string()),
    })


def generate(kind: str, size: dict, seed: int, root: str) -> dict:
    """Write input `kind` for (seed, size) under `root` once; return its
    meta (path, digest, planted truth).  Re-uses an existing copy whose
    digest still matches its meta."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = os.path.join(root, f"{kind}-s{seed}-{tag}")
    meta_path = os.path.join(out, "meta.json")
    data_path = os.path.join(out, "data.parquet")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if os.path.exists(data_path) and _digest(data_path) == meta["digest"]:
            return meta | {"path": data_path}
    if kind == "pages":
        rows, pairs, spans, status = _page_rows(size["docs"], seed)
        table = _pages_table(rows)
        truth = {"pairs": pairs, "spans": spans, "status": status}
    elif kind == "embeddings":
        vecs = _embedding_rows(size["vectors"], size["dim"], size["clusters"], seed)
        table = pa.table({
            "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        })
        truth = {}
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    os.makedirs(out, exist_ok=True)
    pq.write_table(table, data_path)
    meta = {"kind": kind, "seed": seed, "size": size, "path": data_path,
            "rows": table.num_rows, "digest": _digest(data_path), "truth": truth}
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, meta_path)
    return meta
