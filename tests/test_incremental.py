"""Incremental (cross-batch carried state) semantics: processing the
corpus in two batches must produce the same clusters as one full run —
the reference's core stateful property (duplicate_face.py:164-198,
state threaded at 186-189; SURVEY.md §2.10 B2)."""

import pytest
from pyspark.sql import functions as F

from face_duplicate_detection_spark.catalog import StageCatalog
from face_duplicate_detection_spark.functions.normalize import (
    matchable_docs,
    normalize_pages,
)
from face_duplicate_detection_spark.plans.pipeline import run_pipeline
from face_duplicate_detection_spark.streaming.incremental import incremental_batch


def _cluster_sets(rows):
    """Canonical-id-independent comparison: the *partition* of docs."""
    by_cluster = {}
    for doc_id, cluster_id in rows:
        by_cluster.setdefault(cluster_id, set()).add(doc_id)
    return {frozenset(v) for v in by_cluster.values()}


def test_two_batches_equal_full_run(spark, cfg, pages_500, tmp_path_factory):
    norm = matchable_docs(normalize_pages(pages_500, cfg)).select("doc_id", "text")

    cat = StageCatalog(str(tmp_path_factory.mktemp("incr")))
    b1 = norm.filter(F.col("doc_id") < 250)
    b2 = norm.filter(F.col("doc_id") >= 250)
    incremental_batch(b1, cfg, cat, spark)
    final = incremental_batch(b2, cfg, cat, spark)
    incr = _cluster_sets(
        (r["doc_id"], r["cluster_id"])
        for r in final.select("doc_id", "cluster_id").collect()
    )

    full = run_pipeline(pages_500, cfg, input_kind="pages")
    full_ok = full.clusters.filter("status = 'ok'")
    full_sets = _cluster_sets(
        (r["doc_id"], r["cluster_id"])
        for r in full_ok.select("doc_id", "cluster_id").collect()
    )
    # incremental state covers exact-text members too? incremental_batch
    # signs every doc (no exact collapse), so compare on common doc ids
    incr_docs = {d for s in incr for d in s}
    full_docs = {d for s in full_sets for d in s}
    assert incr_docs == full_docs
    # partitions must agree on >= 99% of clusters (LSH randomness is
    # seeded identically, so in practice they are equal)
    agree = len(incr & full_sets)
    assert agree / len(full_sets) >= 0.99, (
        f"only {agree}/{len(full_sets)} clusters agree"
    )


def test_batch2_does_not_rebucket_batch1(spark, cfg, pages_500, tmp_path_factory):
    """O(new) contract (VERDICT r1 #4): a second batch with NO
    near-dups of batch 1 must not reprocess batch-1 state — its bucket
    input stays ~its own size, not the accumulated corpus."""
    norm = matchable_docs(normalize_pages(pages_500, cfg)).select("doc_id", "text")
    cat = StageCatalog(str(tmp_path_factory.mktemp("incr3")))
    # batches from different decades' bases: essentially disjoint text
    b1 = norm.filter(F.col("doc_id") < 250)
    b2 = norm.filter(F.col("doc_id") >= 250)
    incremental_batch(b1, cfg, cat, spark)
    incremental_batch(b2, cfg, cat, spark)
    m = {e["seq"]: e["counts"] for e in cat.applied_batches().values()}
    total_bucket_rows = m[1]["n_new_bucket_rows"] + m[2]["n_new_bucket_rows"]
    # batch 2's candidate input = its own buckets + touched old buckets;
    # with disjoint batches, touched must be a small fraction of batch-1
    # state, nowhere near a full re-bucket
    assert m[2]["n_bucket_input_rows"] < m[2]["n_new_bucket_rows"] * 1.25, (
        f"batch 2 re-read {m[2]['n_bucket_input_rows']} bucket rows "
        f"(own: {m[2]['n_new_bucket_rows']}, total state: {total_bucket_rows})"
    )


def test_new_edge_merges_two_prior_clusters(spark, cfg, tmp_path_factory):
    """Affected-component re-clustering: a batch-2 bridge doc similar
    (≥ θ) to two separate batch-1 clusters must merge them under one
    canonical — the case where carried labels must be REWRITTEN, not
    just extended."""
    import numpy as np

    from face_duplicate_detection_spark.functions.text_hashing import (
        normalize_text,
        shingle_hashes,
    )

    words = [f"tok{i:03d}" for i in range(100)]
    mid = " ".join(words)                                  # bridge C
    head = " ".join(["xaa%03d" % i for i in range(8)] + words[8:])  # A
    tail = " ".join(words[:92] + ["zbb%03d" % i for i in range(92, 100)])  # B

    def jac(x, y):
        sx = shingle_hashes(normalize_text(x), cfg.shingle_k)
        sy = shingle_hashes(normalize_text(y), cfg.shingle_k)
        inter = np.intersect1d(sx, sy).size
        return inter / (sx.size + sy.size - inter)

    # preconditions: C bridges A and B, but A ≁ B directly
    assert jac(mid, head) >= cfg.jaccard_threshold
    assert jac(mid, tail) >= cfg.jaccard_threshold
    assert jac(head, tail) < cfg.jaccard_threshold

    cat = StageCatalog(str(tmp_path_factory.mktemp("incr4")))
    batch1 = spark.createDataFrame(
        [(1, head), (2, head), (10, tail), (11, tail)], ["doc_id", "text"]
    )
    first = {
        r["doc_id"]: r["cluster_id"]
        for r in incremental_batch(batch1, cfg, cat, spark).collect()
    }
    assert first == {1: 1, 2: 1, 10: 10, 11: 10}

    batch2 = spark.createDataFrame([(20, mid)], ["doc_id", "text"])
    final = {
        r["doc_id"]: r["cluster_id"]
        for r in incremental_batch(batch2, cfg, cat, spark).collect()
    }
    assert final == {1: 1, 2: 1, 10: 1, 11: 1, 20: 1}


def test_second_batch_matches_first_batch_state(spark, cfg, pages_500, tmp_path_factory):
    """A doc in batch 2 that duplicates a batch-1 doc must join the
    batch-1 cluster (the reference's known-representatives semantics,
    duplicate_face.py:58-81)."""
    norm = matchable_docs(normalize_pages(pages_500, cfg)).select("doc_id", "text")
    cat = StageCatalog(str(tmp_path_factory.mktemp("incr2")))
    # batch 1: the decade bases; batch 2: their exact copies (cls 6)
    b1 = norm.filter(F.col("doc_id") % 10 == 0)
    b2 = norm.filter(F.col("doc_id") % 10 == 6)
    incremental_batch(b1, cfg, cat, spark)
    final = incremental_batch(b2, cfg, cat, spark)
    cl = {
        r["doc_id"]: r["cluster_id"]
        for r in final.select("doc_id", "cluster_id").collect()
    }
    merged = sum(
        1 for d in range(0, 500, 10) if d + 6 in cl and cl[d + 6] == cl.get(d)
    )
    assert merged >= 49  # 50 planted exact copies


def test_replay_same_batch_key_is_noop(spark, cfg, pages_500, tmp_path_factory):
    """Exactly-once state over at-least-once delivery (ADVICE r2):
    re-running a batch with the same batch_key must not duplicate any
    state rows or change the resolved view."""
    norm = matchable_docs(normalize_pages(pages_500, cfg)).select("doc_id", "text")
    cat = StageCatalog(str(tmp_path_factory.mktemp("incr_replay")))
    b1 = norm.filter(F.col("doc_id") < 250)
    b2 = norm.filter(F.col("doc_id") >= 250)
    incremental_batch(b1, cfg, cat, spark, batch_key="stream0")
    incremental_batch(b2, cfg, cat, spark, batch_key="stream1")
    sigs_before = cat.read(spark, "state_signatures").count()
    view_before = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in incremental_batch(  # replay of an applied batch
            b2, cfg, cat, spark, batch_key="stream1"
        ).collect()
    )
    assert cat.read(spark, "state_signatures").count() == sigs_before
    # ledger has exactly the two applied batches
    assert cat.applied_count() == 2
    view_after = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in incremental_batch(
            b2, cfg, cat, spark, batch_key="stream1"
        ).collect()
    )
    assert view_after == view_before


def test_merge_across_compaction_boundary(spark, cfg, tmp_path_factory):
    """A bridge doc arriving AFTER the label state was compacted into
    the bucketed base tables must still merge the two prior clusters —
    exercising the partition-pruned affected-member retrieval path."""
    words = [f"tok{i:03d}" for i in range(100)]
    mid = " ".join(words)
    head = " ".join(["xaa%03d" % i for i in range(8)] + words[8:])
    tail = " ".join(words[:92] + ["zbb%03d" % i for i in range(92, 100)])

    ccfg = cfg.with_(compact_every=1, state_partitions=8)
    cat = StageCatalog(str(tmp_path_factory.mktemp("incr_compact")))
    batch1 = spark.createDataFrame(
        [(1, head), (2, head), (10, tail), (11, tail)], ["doc_id", "text"]
    )
    incremental_batch(batch1, ccfg, cat, spark)
    # compaction ran (compact_every=1): base tables exist, log truncated
    assert cat.is_committed("state_clusters_base")
    assert cat.is_committed("state_members_base")
    assert cat.read(spark, "state_clusters").count() == 0
    base = {
        r["doc_id"]: r["cluster_id"]
        for r in cat.read(spark, "state_clusters_base").collect()
    }
    assert base == {1: 1, 2: 1, 10: 10, 11: 10}

    batch2 = spark.createDataFrame([(20, mid)], ["doc_id", "text"])
    final = {
        r["doc_id"]: r["cluster_id"]
        for r in incremental_batch(batch2, ccfg, cat, spark).collect()
    }
    assert final == {1: 1, 2: 1, 10: 1, 11: 1, 20: 1}


def test_incremental_bounded_state_mode(spark, cfg, pages_500, tmp_path_factory):
    """store_shingles=False (VERDICT r2 #2c): the carried signature
    state has no shingle arrays; verify recomputes candidate shingles
    from the disk-resident state_texts table.  Two batches must equal
    the full-corpus run, same as the fat-state mode."""
    bcfg = cfg.with_(store_shingles=False)
    norm = matchable_docs(normalize_pages(pages_500, bcfg)).select("doc_id", "text")
    cat = StageCatalog(str(tmp_path_factory.mktemp("incr_bounded")))
    b1 = norm.filter(F.col("doc_id") < 250)
    b2 = norm.filter(F.col("doc_id") >= 250)
    incremental_batch(b1, bcfg, cat, spark)
    final = incremental_batch(b2, bcfg, cat, spark)
    assert "shingles" not in cat.read(spark, "state_signatures").columns
    assert cat.is_committed("state_texts")

    incr = _cluster_sets(
        (r["doc_id"], r["cluster_id"])
        for r in final.select("doc_id", "cluster_id").collect()
    )
    full = run_pipeline(pages_500, cfg, input_kind="pages")
    full_sets = _cluster_sets(
        (r["doc_id"], r["cluster_id"])
        for r in full.clusters.filter("status = 'ok'")
        .select("doc_id", "cluster_id")
        .collect()
    )
    agree = len(incr & full_sets)
    assert agree / len(full_sets) >= 0.99


def test_mostly_disjoint_batch_pulls_only_affected_stars(
    spark, cfg, pages_500, tmp_path_factory
):
    """O(new) contract, state side (VERDICT r2 #2a): batch 2's CC
    input pulls star edges ONLY for the handful of prior components a
    new edge actually touches — nowhere near the 250-doc batch-1
    state, and there is no historical edge log at all."""
    norm = matchable_docs(normalize_pages(pages_500, cfg)).select("doc_id", "text")
    cat = StageCatalog(str(tmp_path_factory.mktemp("incr_star")))
    b1 = norm.filter(F.col("doc_id") < 250)
    b2 = norm.filter(F.col("doc_id") >= 250)
    incremental_batch(b1, cfg, cat, spark)
    incremental_batch(b2, cfg, cat, spark)
    m = {e["seq"]: e["counts"] for e in cat.applied_batches().values()}
    # the synthetic corpus has ~1 near-dup pair straddling the 250
    # boundary; its component's stars come back, the other ~240
    # batch-1 docs' labels are never read into CC
    assert 0 < m[2]["n_star_edge_rows"] <= 8, m[2]
    assert m[2]["n_star_edge_rows"] < m[1]["n_new_sigs"] / 10


def test_ledger_counts_equal_recounts(spark, cfg, pages_500, tmp_path_factory):
    """Every batch's ledger entry carries the counts it observed on its
    own checkpoint jobs; each must equal an independent recount of the
    frame it describes, and a replay of an applied key must leave the
    entries byte-identical."""
    from face_duplicate_detection_spark.operators.lsh import explode_buckets
    from face_duplicate_detection_spark.operators.signatures import (
        compute_signatures,
    )

    norm = matchable_docs(normalize_pages(pages_500, cfg)).select("doc_id", "text")
    cat = StageCatalog(str(tmp_path_factory.mktemp("incr_ledger")))
    batches = {
        "k1": norm.filter(F.col("doc_id") < 250),
        "k2": norm.filter(F.col("doc_id") >= 250),
    }
    for key, b in batches.items():
        incremental_batch(b, cfg, cat, spark, batch_key=key)
    with open(cat._ledger_path(), "rb") as f:
        ledger_before = f.read()

    entries = cat.applied_batches()
    assert sorted(e["seq"] for e in entries.values()) == [1, 2]
    for key, b in batches.items():
        counts = entries[key]["counts"]
        assert counts["n_new_sigs"] == b.count()
        assert counts["n_new_bucket_rows"] == (
            explode_buckets(compute_signatures(b, cfg)).count()
        )
        assert counts["n_new_edges"] <= counts["n_candidates"]
        assert counts["n_endpoint_base_rows"] == 0      # never compacted
    first = entries["k1"]["counts"]
    assert first["n_star_edge_rows"] == 0
    assert first["n_bucket_input_rows"] == first["n_new_bucket_rows"]

    incremental_batch(batches["k1"], cfg, cat, spark, batch_key="k1")  # replay
    with open(cat._ledger_path(), "rb") as f:
        assert f.read() == ledger_before
