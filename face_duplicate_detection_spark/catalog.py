"""Thin table layer: checkpointed stage tables with commit manifests.

Production target is Iceberg (transactional snapshots per stage =
resume points; BASELINE.json north_rule).  This sandbox has no Iceberg
runtime jar and no network for ``--packages``, so the same contract is
provided over parquet directories: a stage write is atomic-enough via
write-then-manifest — a ``_manifest.json`` is written only after the
parquet commit succeeds, and a stage is considered committed iff its
manifest exists.  All job code goes through this module and is
format-agnostic (SURVEY.md §7 preamble).

Reference analogue: the per-batch flush + carried state that makes the
reference incrementally resumable across batches
(``/root/reference/duplicate_face.py:164-198`` — known encodings and
the duplicates dict persist across ``process_batch`` calls, results
written after every batch at 195-196).
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession


def session_scratch(prefix: str = "fdds_stage_") -> str:
    """Session-lifetime scratch directory for a StageCatalog.

    Unlike a ``tempfile.TemporaryDirectory`` context, the directory
    outlives the creating function — DataFrames returned from it stay
    LAZY and parquet-backed instead of needing a driver-side
    ``cache().count()`` materialization before the dir vanishes
    (VERDICT r4 next-round #8).  Removed at interpreter exit.

    Placed on tmpfs when available (round 6), the same choice — and
    the same per-executor-NVMe production analogue — session.py makes
    for ``spark.local.dir``: this sandbox's /tmp is disk-backed and
    serializes concurrent readers, which taxed every catalog-backed
    query (lineage, ledger, incremental) relative to the
    memory-checkpointed pipeline stages."""
    shm_ok = os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)
    d = tempfile.mkdtemp(prefix=prefix, dir="/dev/shm" if shm_ok else None)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


class StageCatalog:
    """Directory of committed stage tables for one pipeline run."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _manifest(self, name: str) -> str:
        return os.path.join(self.root, f"{name}._manifest.json")

    def is_committed(self, name: str) -> bool:
        return os.path.exists(self._manifest(name))

    def write(
        self,
        name: str,
        df: DataFrame,
        meta: dict | None = None,
        partition_by: str | None = None,
    ) -> None:
        """Snapshot-versioned write (the Iceberg-snapshot analogue).

        Each write lands in a fresh ``name@v{N}`` directory and the
        manifest flips to it afterwards — so a state table can be
        rewritten *from a plan that reads its own previous version*
        (incremental batches do exactly that) without the
        overwrite-while-read corruption a plain overwrite causes.

        ``partition_by`` hash-bucket layouts (e.g. the compacted
        cluster state) let later readers partition-prune instead of
        scanning the full table.
        """
        version = 1
        if self.is_committed(name):
            version = int(self.read_manifest(name).get("version", 0)) + 1
        path = os.path.join(self.root, f"{name}@v{version}")
        writer = df.write.mode("overwrite")
        if partition_by is not None:
            writer = writer.partitionBy(partition_by)
        writer.parquet(path)
        manifest = {
            "table": name,
            "path": path,
            "version": version,
            "committed_at_unix": time.time(),
            **(meta or {}),
        }
        tmp = self._manifest(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self._manifest(name))

    def append(
        self,
        name: str,
        df: DataFrame,
        meta: dict | None = None,
        path_key: str | None = None,
    ) -> None:
        """Append-only commit (the Iceberg append-snapshot analogue).

        Only the NEW rows are written — the manifest accumulates the
        list of live data paths and ``read`` unions them.  This is
        what makes incremental state O(new) per batch: appending a
        micro-batch's signatures/buckets/edges never rewrites the
        accumulated state (north_rule: a 10^12-doc run's micro-batch
        cost must not scale with the corpus).

        ``path_key`` makes the append REPLAY-IDEMPOTENT (ADVICE r2):
        the data lands at the deterministic ``name@b{path_key}``
        directory and is only added to the live-path list once — a
        foreachBatch retry (at-least-once delivery) overwrites the same
        files instead of double-appending duplicate state rows.
        """
        version = 1
        prior_paths: list[str] = []
        if self.is_committed(name):
            m = self.read_manifest(name)
            version = int(m.get("version", 0)) + 1
            prior_paths = m.get("paths", [m["path"]])
        if path_key is not None:
            path = os.path.join(self.root, f"{name}@b{path_key}")
        else:
            path = os.path.join(self.root, f"{name}@v{version}")
        df.write.mode("overwrite").parquet(path)
        manifest = {
            "table": name,
            "path": path,
            "paths": prior_paths + ([path] if path not in prior_paths else []),
            "version": version,
            "committed_at_unix": time.time(),
            **(meta or {}),
        }
        tmp = self._manifest(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self._manifest(name))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        if not self.is_committed(name):
            raise FileNotFoundError(f"stage table not committed: {name}")
        m = self.read_manifest(name)
        paths = m.get("paths") or [m["path"]]
        return spark.read.parquet(*paths)

    def read_manifest(self, name: str) -> dict:
        with open(self._manifest(name)) as f:
            return json.load(f)

    def invalidate(self, name: str) -> None:
        if self.is_committed(name):
            os.remove(self._manifest(name))

    # ------------------------------------------------ batch ledger
    # Exactly-once bookkeeping over at-least-once foreachBatch
    # delivery (ADVICE r2): a batch is marked applied only AFTER all
    # its state appends committed; the streaming handler skips batch
    # ids already in the ledger, and a retry of a half-applied batch
    # rewrites the same deterministic ``@b{key}`` paths (no-op).

    def _ledger_path(self) -> str:
        return os.path.join(self.root, "_applied_batches.json")

    def _read_ledger(self) -> dict:
        if not os.path.exists(self._ledger_path()):
            return {"applied": {}}
        with open(self._ledger_path()) as f:
            return json.load(f)

    def applied_batches(self) -> dict[str, dict]:
        """The ledger entries, batch key → {seq, applied_at_unix,
        counts}: ``counts`` are the row counts the batch observed on
        its own checkpoint jobs (streaming/incremental.py)."""
        return self._read_ledger()["applied"]

    def batch_applied(self, key: str) -> bool:
        return str(key) in self.applied_batches()

    def applied_count(self) -> int:
        return len(self.applied_batches())

    def max_applied_seq(self) -> int:
        """Highest batch_seq ever recorded in the ledger (0 if none).

        Seeding the next batch_seq from the MAX rather than the COUNT
        keeps sequence numbers collision-free even if the ledger and
        the delta log ever disagree (ADVICE r3: a delta log written
        before the ledger existed must not be re-numbered from 1)."""
        applied = self.applied_batches()
        return max((int(v.get("seq", 0)) for v in applied.values()), default=0)

    def mark_batch_applied(self, key: str, seq: int, counts: dict) -> None:
        """Commit the batch: one atomic JSON write of its entry."""
        ledger = self._read_ledger()
        ledger["applied"][str(key)] = {
            "seq": seq,
            "applied_at_unix": time.time(),
            "counts": counts,
        }
        tmp = self._ledger_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(ledger, f, indent=2)
        os.replace(tmp, self._ledger_path())
