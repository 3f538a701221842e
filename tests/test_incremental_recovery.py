"""Resume/replay robustness of the incremental state (ADVICE r3) and
the endpoint-pruned label lookup (VERDICT r3 "what's wrong" #1).

The reference's carried state is in-process memory
(``/root/reference/duplicate_face.py:164-198``) and dies with the
process; these tests pin the crash/replay/config-drift semantics the
checkpointed Spark re-expression must provide instead.
"""

import os

import pytest
from pyspark.sql import functions as F

from face_duplicate_detection_spark.catalog import StageCatalog
from face_duplicate_detection_spark.streaming.incremental import (
    _next_batch_seq,
    incremental_batch,
)

WORDS = [f"tok{i:03d}" for i in range(100)]
MID = " ".join(WORDS)
HEAD = " ".join(["xaa%03d" % i for i in range(8)] + WORDS[8:])
TAIL = " ".join(WORDS[:92] + ["zbb%03d" % i for i in range(92, 100)])


def _labels(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


def test_resume_with_changed_state_partitions(spark, cfg, tmp_path_factory):
    """ADVICE r3 (medium): the affected-member / endpoint pruning must
    pmod with the bucket count recorded AT COMPACT TIME.  Compact under
    state_partitions=8, then resume the same catalog under a config
    with state_partitions=32 — the bridge doc must still merge the two
    prior clusters (before the fix the wrong partitions were pruned
    and the merge silently failed)."""
    cat = StageCatalog(str(tmp_path_factory.mktemp("sp_drift")))
    c8 = cfg.with_(compact_every=1, state_partitions=8)
    batch1 = spark.createDataFrame(
        [(1, HEAD), (2, HEAD), (10, TAIL), (11, TAIL)], ["doc_id", "text"]
    )
    incremental_batch(batch1, c8, cat, spark)
    assert cat.read_manifest("state_members_base")["state_partitions"] == 8

    c32 = cfg.with_(compact_every=0, state_partitions=32)   # config drift
    batch2 = spark.createDataFrame([(20, MID)], ["doc_id", "text"])
    final = _labels(incremental_batch(batch2, c32, cat, spark))
    assert final == {1: 1, 2: 1, 10: 1, 11: 1, 20: 1}


def test_replay_half_applied_first_batch(spark, cfg, tmp_path_factory):
    """ADVICE r3: a FIRST batch that crashed after the
    state_signatures append but before the later state appends must
    be retryable — the retry rewrites the same deterministic paths
    instead of raising FileNotFoundError forever."""
    cat = StageCatalog(str(tmp_path_factory.mktemp("half_applied")))
    batch1 = spark.createDataFrame(
        [(1, HEAD), (2, HEAD), (10, TAIL), (11, TAIL)], ["doc_id", "text"]
    )
    incremental_batch(batch1, cfg, cat, spark, batch_key="b1")

    # simulate the crash window: signatures committed, everything
    # after (clusters, ledger) not
    for t in ("state_clusters",):
        cat.invalidate(t)
    os.remove(cat._ledger_path())
    assert not cat.batch_applied("b1")

    final = _labels(incremental_batch(batch1, cfg, cat, spark, batch_key="b1"))
    assert final == {1: 1, 2: 1, 10: 10, 11: 10}
    assert cat.batch_applied("b1")
    # and the state is whole again: a later batch sees the buckets
    batch2 = spark.createDataFrame([(20, MID)], ["doc_id", "text"])
    merged = _labels(incremental_batch(batch2, cfg, cat, spark, batch_key="b2"))
    assert merged == {1: 1, 2: 1, 10: 1, 11: 1, 20: 1}


def test_signature_format_mismatch_refused(spark, cfg, tmp_path_factory):
    """ADVICE r3: resuming a catalog whose persisted signatures use a
    different value domain (e.g. pre-uint32 MinHash) must refuse loudly
    instead of silently never band-colliding."""
    import json

    cat = StageCatalog(str(tmp_path_factory.mktemp("sigfmt")))
    batch1 = spark.createDataFrame([(1, HEAD), (2, HEAD)], ["doc_id", "text"])
    incremental_batch(batch1, cfg, cat, spark)

    m = cat.read_manifest("state_signatures")
    m["signature_format"] = "shingle64-minhash64-v1"        # old engine
    with open(cat._manifest("state_signatures"), "w") as f:
        json.dump(m, f)

    batch2 = spark.createDataFrame([(3, HEAD)], ["doc_id", "text"])
    with pytest.raises(ValueError, match="signature_format"):
        incremental_batch(batch2, cfg, cat, spark)


def test_batch_seq_seeded_from_preledger_delta_log(spark, cfg, tmp_path_factory):
    """ADVICE r3: a delta log written before the ledger existed must
    not restart batch_seq at 1 (highest-seq-wins would then pick stale
    labels nondeterministically)."""
    cat = StageCatalog(str(tmp_path_factory.mktemp("seqseed")))
    # each batch has an in-batch dup pair so the delta log is non-empty
    # (singletons never write label rows)
    b1 = spark.createDataFrame([(1, HEAD), (2, HEAD)], ["doc_id", "text"])
    b2 = spark.createDataFrame([(10, TAIL), (11, TAIL)], ["doc_id", "text"])
    incremental_batch(b1, cfg, cat, spark)
    incremental_batch(b2, cfg, cat, spark)
    assert _next_batch_seq(spark, cat) == 3

    os.remove(cat._ledger_path())           # pre-ledger catalog
    assert cat.max_applied_seq() == 0
    assert _next_batch_seq(spark, cat) == 3  # seeded from the delta log


def _unique_corpus(spark, n):
    rows = [
        (i, " ".join(f"u{i:05d}w{j:02d}" for j in range(20))) for i in range(n)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_endpoint_base_rows_flat_at_scaled_partitions(
    spark, cfg, tmp_path_factory
):
    """VERDICT r3 #1 'done' criterion: batch-k reads of the compacted
    label base must not grow with corpus size.  With state_partitions
    scaled to the corpus (the 10^12-doc operating point: bucket size
    held constant), the endpoint-pruned base read is O(endpoints ×
    bucket_size) — flat across a 4× corpus."""
    read_rows = {}
    for n, parts in ((200, 8), (800, 32)):
        cat = StageCatalog(str(tmp_path_factory.mktemp(f"epflat{n}")))
        c = cfg.with_(compact_every=1, state_partitions=parts)
        incremental_batch(_unique_corpus(spark, n), c, cat, spark)
        assert cat.is_committed("state_clusters_base")
        # batch 2: one exact copy of doc 0 → one verified edge, two
        # endpoint ids → ≤ 2 base buckets touched
        dup = spark.createDataFrame(
            [(1_000_000, " ".join(f"u{0:05d}w{j:02d}" for j in range(20)))],
            ["doc_id", "text"],
        )
        incremental_batch(dup, c, cat, spark)
        m = {e["seq"]: e["counts"] for e in cat.applied_batches().values()}
        assert m[2]["n_new_edges"] >= 1
        read_rows[n] = m[2]["n_endpoint_base_rows"]
        # far below a full scan of the n-row base
        assert 0 < read_rows[n] <= 2 * (n // parts) + 5

    # 4× corpus, constant bucket size → flat endpoint read
    assert read_rows[800] <= 2 * read_rows[200]


def test_endpoint_base_rows_counted_when_no_endpoint_is_in_base(
    spark, cfg, tmp_path_factory
):
    """A batch whose only new edge joins two NEW docs still reads the
    endpoints' base partitions, and that read is what the ledger
    counts, although the lookup finds no base row (behind a left join
    AQE would drop the observed base read from the executed plan).  A
    later batch without new edges reads no base partition."""
    cat = StageCatalog(str(tmp_path_factory.mktemp("epnew")))
    c = cfg.with_(compact_every=1, state_partitions=8)
    incremental_batch(_unique_corpus(spark, 200), c, cat, spark)
    text = " ".join(f"fresh{j:02d}" for j in range(20))
    pair = spark.createDataFrame(
        [(1_000_000, text), (1_000_008, text)], ["doc_id", "text"]
    )
    labels = _labels(incremental_batch(pair, c, cat, spark))
    assert labels[1_000_000] == labels[1_000_008] == 1_000_000
    counts = {e["seq"]: e["counts"] for e in cat.applied_batches().values()}
    assert counts[2]["n_new_edges"] == 1
    # both endpoints sit in doc_bkt 0, which holds ids ≡ 0 mod 8 of 0..199
    assert counts[2]["n_endpoint_base_rows"] == len(range(0, 200, 8))
    lone = spark.createDataFrame(
        [(2_000_000, " ".join(f"lone{j:02d}" for j in range(20)))],
        ["doc_id", "text"],
    )
    labels = _labels(incremental_batch(lone, c, cat, spark))
    assert labels[2_000_000] == 2_000_000
    counts = {e["seq"]: e["counts"] for e in cat.applied_batches().values()}
    assert counts[3]["n_new_edges"] == 0
    assert counts[3]["n_endpoint_base_rows"] == 0
