"""Long-span (suffix) stage: exact substring duplicates that shingle
signatures miss (SURVEY.md §2.3 F4; north_rule "suffix-array substring
stage").

Two docs can share a verbatim 300-char span (quotes, syndicated
paragraphs, license blocks) while their overall shingle-set Jaccard is
far below threshold — the MinHash path will never pair them.  This
stage catches them with a propose-then-verify plan that is linear and
fully distributed:

1. **anchors** — every doc emits rolling hashes of its length-w char
   windows (w = cfg.span_window).  Any common substring of length ≥ w
   shares at least one window hash, so grouping by anchor is a
   complete candidate generator for spans ≥ w.  At scale the stride-1
   set is winnowed (keep hashes ≡ 0 mod cfg.span_winnow — a
   deterministic 1/W sample that still guarantees detection of spans
   ≥ w + W·(something small); cfg.span_min_len ≫ w covers the slack).
2. **candidate pairs** — groupBy(anchor) with the same small/oversized
   bucket split as the MinHash LSH stage.
3. **verify** — ONE Arrow pass over ``pairs ⋈ texts(a) ⋈ texts(b)``
   (candidate texts are shipped, ~1 B per character, instead of ~20 B
   of positioned anchors per character): per doc, stride-1 positioned
   window hashes (multiplicity-capped, cached per Arrow batch); per
   pair, a sorted hash match and a lexsort by (diagonal, position).
   Matches on one diagonal (pos_b − pos_a constant) at consecutive
   positions correspond 1:1 to an exact common substring, so the
   longest common substring is ``max_run_length + w − 1``.  (An
   exact suffix-automaton LCS lives in tests/ as the verification
   oracle.)

Hash collisions: a false window-hash match can only corrupt a span
length if it lands adjacent to a real run on the same diagonal —
probability ≈ runs·2⁻⁶⁴ per pair, negligible; the pytest oracle
cross-checks against the exact automaton LCS.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from face_duplicate_detection_spark.config import DedupConfig
from face_duplicate_detection_spark.session import local_ckpt
from face_duplicate_detection_spark.functions.text_hashing import (
    normalize_text,
    window_hash_positions,
    window_hashes,
)

_ANCHOR_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("anchor", T.LongType(), False),
    ]
)

SPAN_SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.LongType(), False),
        T.StructField("span_len", T.IntegerType(), False),
        T.StructField("method", T.StringType(), False),
    ]
)


def emit_anchors(docs: DataFrame, cfg: DedupConfig, winnow: bool = True) -> DataFrame:
    """docs(doc_id, text) → (doc_id, anchor) rows.

    winnow=False keeps every stride-1 window hash (exact candidate
    generation for spans ≥ w — used by tests/oracles); winnow=True is
    the scale path (1/span_winnow deterministic sample).
    """
    w = cfg.span_window
    mod = np.uint64(cfg.span_winnow)
    lc, fw = cfg.lowercase, cfg.fold_whitespace

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, anchors = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                norm = normalize_text(text, lc, fw)
                if len(norm) < w:
                    continue
                h = window_hashes(norm, w)
                if winnow:
                    h = h[h % mod == np.uint64(0)]
                if h.size:
                    ids.append(np.full(h.size, doc_id, dtype=np.int64))
                    anchors.append(h.view(np.int64))
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids),
                        "anchor": np.concatenate(anchors),
                    }
                )

    return _rebalanced(docs).mapInPandas(gen, schema=_ANCHOR_SCHEMA)


def _rebalanced(docs: DataFrame) -> DataFrame:
    """Spread the Arrow hashing pass across every core: a small input
    (one parquet file = one partition) would otherwise run the whole
    Python pass single-threaded — measured 4× of the suffix stage's
    wall at sf0.1 (same fix as signatures.compute_signatures)."""
    inp = docs.select("doc_id", "text")
    parallelism = inp.sparkSession.sparkContext.defaultParallelism
    if inp.rdd.getNumPartitions() < parallelism:
        inp = inp.repartition(parallelism)
    return inp


def _cap_positions(
    h: np.ndarray, p: np.ndarray, cap: int
) -> tuple[np.ndarray, np.ndarray]:
    """Keep only the first `cap` positions of each anchor value
    (position order).  Normal text has multiplicity 1 and passes
    through untouched; repetitive text is bounded so the per-pair
    hash match cannot go quadratic (ADVICE r2 — see
    DedupConfig.span_pos_cap)."""
    n = h.shape[0]
    if n <= cap:
        return h, p
    order = np.argsort(h, kind="stable")        # stable ⇒ pos order per value
    hs = h[order]
    idx = np.arange(n, dtype=np.int64)
    new_grp = np.empty(n, dtype=bool)
    new_grp[0] = True
    np.not_equal(hs[1:], hs[:-1], out=new_grp[1:])
    grp_start = np.maximum.accumulate(np.where(new_grp, idx, 0))
    keep_sorted = (idx - grp_start) < cap
    if keep_sorted.all():
        return h, p
    mask = np.zeros(n, dtype=bool)
    mask[order[keep_sorted]] = True
    return h[mask], p[mask]


def anchor_candidate_pairs(anchors: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Same skew-safe bucket→pairs shape as lsh.candidate_pairs."""
    from face_duplicate_detection_spark.operators.lsh import candidate_pairs

    buckets = anchors.select(
        F.lit(0).alias("band"), F.col("anchor").alias("band_hash"), "doc_id"
    )
    return candidate_pairs(buckets, cfg)


def _anchor_index(text: str, w: int, cap: int) -> tuple[np.ndarray, np.ndarray]:
    """Normalized text → its multiplicity-capped stride-1 window hashes
    (:func:`_cap_positions`) sorted by hash, with their codepoint
    offsets (position order within one hash value)."""
    h, p = _cap_positions(*window_hash_positions(text, w), cap)
    order = np.argsort(h, kind="stable")
    return h[order], p[order].astype(np.int64)


def _diagonal_span(a: tuple, b: tuple, w: int) -> int:
    """Longest common substring of two docs from their
    :func:`_anchor_index`: max run of consecutive aligned window
    matches on one diagonal + w − 1 (0 when no window matches)."""
    (ha, pa), (hb, pb) = a, b
    lo = np.searchsorted(hb, ha, "left")
    cnt = np.searchsorted(hb, ha, "right") - lo
    n = int(cnt.sum())
    if n == 0:
        return 0
    ia = np.repeat(np.arange(ha.size), cnt)
    ib = np.repeat(lo - np.cumsum(cnt) + cnt, cnt) + np.arange(n)
    pos, diag = pa[ia], pb[ib] - pa[ia]
    order = np.lexsort((pos, diag))
    pos, diag = pos[order], diag[order]
    brk = np.flatnonzero((diag[1:] != diag[:-1]) | (pos[1:] != pos[:-1] + 1))
    edges = np.concatenate(([-1], brk, [n - 1]))
    return int(np.diff(edges).max()) + w - 1


def verify_spans(
    pairs: DataFrame, docs: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Candidate pairs + texts → (a, b, span_len, method='suffix') for
    pairs whose exact longest common substring ≥ cfg.span_min_len.

    One ``mapInPandas`` over ``pairs ⋈ texts(a) ⋈ texts(b)``; each
    doc's :func:`_anchor_index` is built once per Arrow batch and every
    pair is scored by :func:`_diagonal_span`.
    """
    w = cfg.span_window
    min_len = cfg.span_min_len
    lc, fw = cfg.lowercase, cfg.fold_whitespace
    # floor guarantees periodic spans ≥ span_min_len stay detectable:
    # the first-occurrence run alone reaches cap + w − 1 ≥ span_min_len
    cap = max(cfg.span_pos_cap, min_len - w + 1)

    def spans(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            index: dict = {}

            def doc(doc_id, text):
                if doc_id not in index:
                    index[doc_id] = _anchor_index(normalize_text(text, lc, fw), w, cap)
                return index[doc_id]

            span = np.array(
                [
                    _diagonal_span(doc(a, ta), doc(b, tb), w)
                    for a, b, ta, tb in zip(pdf["a"], pdf["b"], pdf["ta"], pdf["tb"])
                ],
                dtype=np.int32,
            )
            keep = span >= min_len
            yield pd.DataFrame(
                {
                    "a": pdf["a"].to_numpy(dtype=np.int64)[keep],
                    "b": pdf["b"].to_numpy(dtype=np.int64)[keep],
                    "span_len": span[keep],
                    "method": "suffix",
                }
            )

    texts = docs.select("doc_id", "text")
    return (
        pairs.select("a", "b").distinct()
        .join(texts.toDF("a", "ta"), "a")
        .join(texts.toDF("b", "tb"), "b")
        .mapInPandas(spans, schema=SPAN_SCHEMA)
    )


def long_span_pairs(docs: DataFrame, cfg: DedupConfig, winnow: bool = True) -> DataFrame:
    # materialized: candidate_pairs scans the anchors three times (size
    # census + normal/mega routing).  A/B on 4 cores, 2k winnowed docs,
    # 4 alternating pairs: stored once 2.45-2.73 s vs three Arrow
    # hashing passes 2.97-3.46 s for the whole long-span query.
    anchors = local_ckpt(emit_anchors(docs, cfg, winnow=winnow))
    pairs = anchor_candidate_pairs(anchors, cfg)
    return verify_spans(pairs, docs, cfg)
