"""Long-span (suffix) stage tests (SURVEY.md §2.3 F4).

`_lcs_len` is the pure-Python suffix-automaton LCS — retired from the
engine hot path (VERDICT r1 #5; the engine now detects spans natively
from diagonal runs of positioned window hashes) and kept HERE as the
exact verification oracle."""

import pytest
from pyspark.sql import functions as F

from face_duplicate_detection_spark.config import DedupConfig
from face_duplicate_detection_spark.functions.normalize import normalize_pages
from face_duplicate_detection_spark.operators.suffix_spans import (
    long_span_pairs,
)


def _lcs_len(a: str, b: str) -> int:
    """Longest common substring length via suffix automaton of `a` —
    O(|a| + |b|) time, O(|a|) states.  Test oracle only."""
    if not a or not b:
        return 0
    if len(a) > len(b):
        a, b = b, a
    last = 0
    sa_len = [0]
    sa_link = [-1]
    sa_next: list[dict[str, int]] = [{}]
    for ch in a:
        cur = len(sa_len)
        sa_len.append(sa_len[last] + 1)
        sa_link.append(-1)
        sa_next.append({})
        p = last
        while p >= 0 and ch not in sa_next[p]:
            sa_next[p][ch] = cur
            p = sa_link[p]
        if p == -1:
            sa_link[cur] = 0
        else:
            q = sa_next[p][ch]
            if sa_len[p] + 1 == sa_len[q]:
                sa_link[cur] = q
            else:
                clone = len(sa_len)
                sa_len.append(sa_len[p] + 1)
                sa_link.append(sa_link[q])
                sa_next.append(dict(sa_next[q]))
                while p >= 0 and sa_next[p].get(ch) == q:
                    sa_next[p][ch] = clone
                    p = sa_link[p]
                sa_link[q] = clone
                sa_link[cur] = clone
        last = cur
    v, l, best = 0, 0, 0
    for ch in b:
        while v and ch not in sa_next[v]:
            v = sa_link[v]
            l = sa_len[v]
        if ch in sa_next[v]:
            v = sa_next[v][ch]
            l += 1
        else:
            v, l = 0, 0
        if l > best:
            best = l
    return best


def test_lcs_len_basic():
    assert _lcs_len("abcdef", "zzabczz") == 3
    assert _lcs_len("", "abc") == 0
    assert _lcs_len("same", "same") == 4
    assert _lcs_len("xy" * 50, "ab" + "xy" * 30 + "cd") == 60
    a = "prefix THE SHARED LONG SPAN suffix"
    b = "other THE SHARED LONG SPAN trailer"
    assert _lcs_len(a, b) == len(" THE SHARED LONG SPAN ")


@pytest.fixture(scope="module")
def span_result(spark, pages_500, cfg):
    norm = normalize_pages(pages_500, cfg).filter("status = 'ok'")
    # span_min_len below the planted 300-char span
    c = cfg.with_(span_min_len=200)
    return long_span_pairs(norm, c, winnow=False), norm


def _qualifying_decades(norm, min_len):
    """Decades whose base text is long enough that the planted span in
    the class-8 doc can reach min_len (LCS ≤ len(base) + a bit of the
    doubled repeat)."""
    base_len = {
        r["doc_id"]: r["n_chars"]
        for r in norm.filter("doc_id % 10 = 0").select("doc_id", "n_chars").collect()
    }
    return [d for d, n in base_len.items() if n >= min_len + 16]


def test_planted_long_spans_found(span_result):
    """doc_id % 10 == 8 rows embed a 300-char span of the decade base —
    the suffix stage must pair (base, base+8) even though their
    shingle Jaccard is below the MinHash threshold."""
    spans, norm = span_result
    got = {(r["a"], r["b"]) for r in spans.select("a", "b").collect()}
    decades = _qualifying_decades(norm, 200)
    assert len(decades) >= 20
    found = sum(
        1
        for d in decades
        if (d, d + 8) in got or (d + 8, d) in got
    )
    assert found / len(decades) >= 0.95, f"found {found}/{len(decades)}"


def test_span_len_reported_and_method(span_result):
    spans, _ = span_result
    assert spans.filter(F.col("span_len") < 200).count() == 0
    assert spans.filter(F.col("method") != "suffix").count() == 0


def test_span_len_equals_automaton_lcs(span_result, cfg):
    """The native diagonal-run span length must equal the exact
    suffix-automaton LCS for every emitted pair (byte == char offsets
    on this ASCII corpus)."""
    from face_duplicate_detection_spark.functions.text_hashing import (
        normalize_text,
    )

    spans, norm = span_result
    rows = spans.collect()
    assert len(rows) > 10
    texts = {
        r["doc_id"]: normalize_text(r["text"], cfg.lowercase, cfg.fold_whitespace)
        for r in norm.select("doc_id", "text").collect()
    }
    for r in rows:
        oracle = _lcs_len(texts[r["a"]], texts[r["b"]])
        assert r["span_len"] == oracle, (r["a"], r["b"], r["span_len"], oracle)


def test_winnowed_anchors_still_find_long_spans(spark, pages_500, cfg):
    """The 1/W winnowed (scale) anchor path keeps recall for spans
    ≥ span_min_len ≫ window."""
    norm = normalize_pages(pages_500, cfg).filter("status = 'ok'")
    c = cfg.with_(span_min_len=200, span_winnow=8)
    spans = long_span_pairs(norm, c, winnow=True)
    got = {(r["a"], r["b"]) for r in spans.select("a", "b").collect()}
    decades = _qualifying_decades(norm, 200)
    found = sum(1 for d in decades if (d, d + 8) in got or (d + 8, d) in got)
    assert found / len(decades) >= 0.9


def test_cap_positions_kernel():
    import numpy as np

    from face_duplicate_detection_spark.operators.suffix_spans import (
        _cap_positions,
    )

    # multiplicity 1: untouched
    h = np.arange(10, dtype=np.uint64)
    p = np.arange(10, dtype=np.int32)
    h2, p2 = _cap_positions(h, p, 3)
    assert (h2 == h).all() and (p2 == p).all()
    # repeated values: first `cap` positions kept, order preserved
    h = np.array([7, 5, 7, 7, 5, 7], dtype=np.uint64)
    p = np.arange(6, dtype=np.int32)
    h2, p2 = _cap_positions(h, p, 2)
    assert list(p2) == [0, 1, 2, 4]              # 7@0, 5@1, 7@2, 5@4
    assert list(h2) == [7, 5, 7, 5]


def test_periodic_docs_bounded_join_still_detected(spark, cfg):
    """ADVICE r2: two large periodic docs (every window hash repeated
    thousands of times) must not blow the anchor equi-join up to
    O(n²) rows — the multiplicity cap bounds it — while the shared
    span is still reported at ≥ span_min_len (lower-bound semantics
    when the cap binds)."""
    n = 6000
    a = "ab" * (n // 2)
    b = "ab" * (n // 2) + " trailing difference xyz"
    docs = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    c = cfg.with_(span_min_len=256, span_pos_cap=256)
    # uncapped, this pair alone would emit ~ (n/2)² ≈ 9M join rows per
    # anchor value; capped it is ≤ (2 values)·cap² = 131k
    spans = long_span_pairs(docs, c, winnow=False).collect()
    assert len(spans) == 1
    r = spans[0]
    assert (r["a"], r["b"]) == (1, 2)
    assert r["span_len"] >= 256


def test_non_ascii_span_len_in_chars(spark, cfg):
    """span_len counts characters on non-ASCII text (ADVICE r2): the
    shared span below is 300 chars but ~2x as many UTF-8 bytes."""
    shared = ("ünïcödé tèxt shäréd vérbatim açross dòcs ☃ " * 10)[:300]
    docs = spark.createDataFrame(
        [
            (1, "prefix one %s suffix alpha" % shared),
            (2, "a different beginning %s and ending" % shared),
        ],
        ["doc_id", "text"],
    )
    c = cfg.with_(span_min_len=200)
    rows = long_span_pairs(docs, c, winnow=False).collect()
    assert len(rows) == 1
    got = rows[0]["span_len"]
    from face_duplicate_detection_spark.functions.text_hashing import (
        normalize_text,
    )

    na = normalize_text("prefix one %s suffix alpha" % shared)
    nb = normalize_text("a different beginning %s and ending" % shared)
    oracle = _lcs_len(na, nb)
    assert got == oracle
    assert abs(got - 300) <= 2


def test_span_kernel_equals_automaton_lcs_random():
    """The numpy diagonal-run kernel equals the automaton LCS on seeded
    random pairs: small alphabets with planted shared spans, non-ASCII
    text, and periodic blocks long enough that the multiplicity cap
    binds in both docs while the LCS is a non-periodic span.  Where the
    LCS itself lies in a capped periodic block the kernel reports the
    documented lower bound, at least cap + w − 1."""
    import numpy as np

    from face_duplicate_detection_spark.operators.suffix_spans import (
        _anchor_index,
        _diagonal_span,
    )

    w, cap = 16, 8
    rng = np.random.default_rng(7)

    def rand(alphabet, n):
        return "".join(rng.choice(list(alphabet), int(n)))

    def kernel(a, b):
        return _diagonal_span(_anchor_index(a, w, cap), _anchor_index(b, w, cap), w)

    alphabets = ["ab c", "abcdefghij klmnop", "ünïcödé ☃ àç"]
    for i in range(60):
        alpha = alphabets[i % 3]
        shared = rand(alpha, rng.integers(0, 90))
        a = rand(alpha, rng.integers(0, 60)) + shared + rand(alpha, rng.integers(0, 60))
        b = rand(alpha, rng.integers(0, 60)) + shared + rand(alpha, rng.integers(0, 60))
        lcs = _lcs_len(a, b)
        assert kernel(a, b) == (lcs if lcs >= w else 0), (a, b)

    for _ in range(10):
        shared = rand("abcdefgh", rng.integers(60, 120))
        a = "xy" * int(rng.integers(40, 80)) + "|" + shared + "#" + rand("ab", 30)
        b = rand("ab", 30) + "%" + shared + "&" + "xy" * 20
        for t in (a, b):
            assert _anchor_index(t, w, cap)[0].size < len(t) - w + 1
        assert kernel(a, b) == _lcs_len(a, b) >= len(shared)

    a, b = "xy" * 200, "q" + "xy" * 150
    assert cap + w - 1 <= kernel(a, b) <= _lcs_len(a, b) == 300
