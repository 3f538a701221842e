"""The benchmark's workloads.  Each one has a warm-up (every timed shape
once, over its own small warm input), a plain pass (the timed
closed-loop unit), a traced pass (one span per engine layer) and the
checks that make a pass count as failed.

Import only after ``run.py`` has put the engine on ``sys.path`` and
pinned the engine's environment overrides.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import replace

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from face_duplicate_detection_spark.catalog import StageCatalog
from face_duplicate_detection_spark.config import DedupConfig
from face_duplicate_detection_spark.functions import text_hashing as th
from face_duplicate_detection_spark.functions.normalize import (
    matchable_docs,
    normalize_pages,
)
from face_duplicate_detection_spark.operators.connected_components import (
    assign_clusters,
    connected_components,
)
from face_duplicate_detection_spark.operators.exact_dedup import exact_base
from face_duplicate_detection_spark.operators.lsh import candidate_pairs, explode_buckets
from face_duplicate_detection_spark.operators.signatures import compute_signatures
from face_duplicate_detection_spark.operators.similarity import cosine_topk_ivf
from face_duplicate_detection_spark.operators.suffix_spans import long_span_pairs
from face_duplicate_detection_spark.operators.verify import verify_pairs
from face_duplicate_detection_spark.plans.pipeline import run_pipeline
from face_duplicate_detection_spark.session import local_ckpt
from face_duplicate_detection_spark.streaming.incremental import (
    incremental_batch,
    resolved_clusters,
)

import checks
from inputs import generate

CFG = DedupConfig()
MIN_TOPK_RECALL = 0.9
MIN_DUP_RECALL = 0.99


class Context:
    """What every workload needs: the session (set once it is started),
    the work directory and the run's seed."""

    def __init__(self, work: str, inputs_dir: str, seed: int):
        self.spark = None
        self.work = work
        self.inputs_dir = inputs_dir
        self.seed = seed
        self._n = 0

    def input(self, kind: str, size: dict, warm: bool = False) -> dict:
        # warm-up inputs use their own seed stream so they never equal
        # a timed input
        return generate(kind, size, self.seed + (10**6 if warm else 0), self.inputs_dir)

    def scratch(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{name}{self._n}")


def _texts(meta: dict) -> dict:
    t = pq.read_table(meta["path"], columns=["doc_id", "text"])
    return dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def _clusters(df) -> list[tuple]:
    pdf = df.select("doc_id", "cluster_id", "status").toPandas()
    return list(zip(pdf["doc_id"].tolist(), pdf["cluster_id"].tolist(), pdf["status"].tolist()))


def _pairs(df) -> list[tuple]:
    pdf = df.select("a", "b").toPandas()
    return list(zip(pdf["a"].tolist(), pdf["b"].tolist()))


def _span(tracer, layer: str):
    return tracer.span(layer) if tracer is not None else nullcontext()


def traced_pipeline(tracer, pages):
    """``run_pipeline(input_kind="pages")``'s stage order from the public
    layer functions, one span per layer, each hot stage materialized
    and docs_normalized left lazy as run_pipeline does, so the traced
    plan is the timed plan: normalize runs inside the exact_dedup span
    and again, for the clusters join, inside connected_components.
    Returns (wall, cluster rows, dup pairs, counts)."""
    t0 = time.perf_counter()
    normalized = normalize_pages(pages, CFG)
    with tracer.span("exact_dedup"):
        base = local_ckpt(exact_base(matchable_docs(normalized)))
    exact_edges = base.filter(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("a"), F.col("doc_id").alias("b"))
    reps = base.filter(F.col("_rn") == 1).select("doc_id", "text")
    with tracer.span("signatures"):
        sigs = local_ckpt(compute_signatures(reps, CFG))
    with tracer.span("lsh"):
        buckets = explode_buckets(sigs)
        if CFG.checkpoint_buckets:
            buckets = local_ckpt(buckets)
        cand = local_ckpt(candidate_pairs(buckets, CFG))
    with tracer.span("verify"):
        verified = local_ckpt(verify_pairs(cand, sigs, CFG, docs=reps))
        dup = local_ckpt(verified.unionByName(exact_edges.select(
            "a", "b", F.lit(1.0).alias("jaccard"), F.lit(0).alias("hamming"),
            F.lit("exact").alias("method"))))
    with tracer.span("connected_components"):
        edges = dup.select("a", "b").unionByName(exact_edges.select("a", "b"))
        labels = connected_components(edges)
        rows = _clusters(assign_clusters(normalized.select("doc_id", "status"), labels))
    wall = time.perf_counter() - t0
    # ratios, counted after the traced section and outside every span
    n_ok = max(1, sum(r[2] == "ok" for r in rows))
    n_cand = cand.count()
    counts = {
        "normalize.matchable_share": n_ok / max(1, len(rows)),
        "exact_dedup.rep_share": reps.count() / n_ok,
        "lsh.candidates_per_doc": n_cand / max(1, sigs.count()),
        "verify.yield": verified.count() / max(1, n_cand),
        "connected_components.edges_in": float(edges.count()),
    }
    return wall, rows, _pairs(dup), counts


def kernel_rates(texts: list[str], repeats: int = 5) -> dict:
    """Single-process text_hashing kernel throughput (docs/s), median of
    `repeats` calls on a fixed doc sample."""
    norm = [th.normalize_text(t) for t in texts]
    a, b = th.minhash_params(CFG.num_perms, CFG.minhash_seed)
    sets = [th.shingle_hashes(t, CFG.shingle_k) for t in norm]
    out = {}
    for name, fn in (
        ("shingle", lambda: [th.shingle_hashes(t, CFG.shingle_k) for t in norm]),
        ("minhash", lambda: th.minhash_batch(sets, a, b)),
        ("simhash", lambda: th.simhash_batch(sets)),
    ):
        fn()
        walls = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        out[f"text_hashing.{name}_docs_per_s"] = len(texts) / statistics.median(walls)
    return out


def oneshot(pages, tracer=None) -> dict:
    """``run_pipeline`` over `pages` to materialized clusters, or its
    traced composition when a tracer is given."""
    if tracer is not None:
        wall, rows, pairs, counts = traced_pipeline(tracer, pages)
    else:
        t0 = time.perf_counter()
        res = run_pipeline(pages, CFG, input_kind="pages")
        rows = _clusters(res.clusters)
        wall = time.perf_counter() - t0
        pairs, counts = _pairs(res.dup_pairs), {}
    return {"oneshot_s": wall, "rows": rows, "pairs": pairs, "counts": counts}


class _Workload:
    """Shared set-up: inputs and oracles are prepared in ``__init__``
    without Spark; ``open`` binds the session."""

    def __init__(self, ctx: Context, spec: dict):
        self.ctx = ctx
        self.spec = spec
        self.meta = ctx.input(spec["input"], spec["size"])
        self.warm_meta = ctx.input(spec["input"], spec["warm_size"], warm=True)
        self.texts = _texts(self.meta)
        self.kernel_sample = [t for t in self.texts.values() if t][:1000]


def _matchable(pages):
    """`pages` normalized and filtered to matchable (doc_id, text) rows."""
    return matchable_docs(normalize_pages(pages, CFG)).select("doc_id", "text")


class Webtext(_Workload):
    """The product's dedup traffic over one pages corpus: a one-shot
    ``run_pipeline(input_kind="pages")`` to materialized clusters, then
    the same pages normalized, filtered to matchable docs and ingested
    as K keyed ``incremental_batch`` calls into a fresh catalog."""

    PHASES = ("sigs", "buckets", "cand", "verify", "star", "cc", "append", "compact")

    def __init__(self, ctx: Context, spec: dict):
        super().__init__(ctx, spec)
        self.k = spec["batches"]
        # compact on the pass's last batch, so every pass measures one
        # compaction at the default config's other settings
        self.inc_cfg = replace(CFG, compact_every=self.k)
        truth = self.meta["truth"]
        self.true_pairs = checks.true_pairs(truth["pairs"], self.texts, CFG.shingle_k,
                                            CFG.jaccard_threshold)
        self.text_bytes = sum(len(t.encode()) for d, t in self.texts.items()
                              if truth["status"][d] == "ok")

    def open(self) -> None:
        self.pages = self.ctx.spark.read.parquet(self.meta["path"])

    def warm(self) -> None:
        self._run(self.ctx.spark.read.parquet(self.warm_meta["path"]))

    def run(self, tracer=None) -> dict:
        return self._run(self.pages, tracer)

    def _run(self, pages, tracer=None) -> dict:
        spark = self.ctx.spark
        t_pass = time.perf_counter()
        res = oneshot(pages, tracer)
        t_inc = time.perf_counter()
        with _span(tracer, "normalize"):
            docs = local_ckpt(_matchable(pages))
        root = self.ctx.scratch("catalog")
        cat = StageCatalog(root)
        batch_s, phases = [], dict.fromkeys(self.PHASES, 0.0)
        for k in range(self.k):
            timings: dict = {}
            t0 = time.perf_counter()
            with _span(tracer, "incremental"):
                incremental_batch(docs.filter(F.col("doc_id") % self.k == k), self.inc_cfg, cat,
                                  spark, batch_key=f"b{k}", timings=timings)
            batch_s.append(time.perf_counter() - t0)
            for p, v in timings.items():
                phases[p] += v
        view = resolved_clusters(spark, cat).toPandas()
        t_end = time.perf_counter()
        state_bytes = sum(os.path.getsize(os.path.join(d, f))
                          for d, _, fs in os.walk(root) for f in fs)
        shutil.rmtree(root, ignore_errors=True)
        res["counts"].update({f"incremental.phase.{p}_s": v for p, v in phases.items()})
        res["counts"]["catalog.state_mb"] = state_bytes / 2**20
        res["counts"]["catalog.bytes_written_per_batch"] = state_bytes / self.k
        return res | {
            "wall_s": t_end - t_pass, "docs": len(res["rows"]),
            "inc_s": t_end - t_inc, "batch_s": batch_s, "state_bytes": state_bytes,
            "inc": dict(zip(view["doc_id"].tolist(), view["cluster_id"].tolist())),
        }

    def check(self, res: dict) -> tuple[dict, list[str]]:
        fails: list[str] = []
        rows = res["rows"]
        got = {d: s for d, _, s in rows}
        wrong = sum(got.get(d) != s for d, s in enumerate(self.meta["truth"]["status"]))
        if wrong:
            fails.append(f"{wrong} docs with a wrong status")
        one = {d: c for d, c, s in rows if s == "ok"}
        recall = checks.recall(self.true_pairs, one)
        if min(recall, checks.recall(self.true_pairs, res["inc"])) < MIN_DUP_RECALL:
            fails.append(f"dup_pair_recall below {MIN_DUP_RECALL}")
        bad = checks.reverify_sample(res["pairs"], self.texts, CFG.shingle_k,
                                     CFG.jaccard_threshold)
        if bad:
            fails.append(f"{bad} sampled dup pairs below the jaccard threshold")
        n_diff = len(set(res["inc"].items()) ^ set(one.items()))
        if n_diff:
            fails.append(f"n_diff {n_diff} between incremental and one-shot clusters")
        return {
            "recall": recall,
            "docs_per_s": res["docs"] / res["oneshot_s"],
            "digest": checks.digest((d, c) for d, c, _ in rows),
            "batch_s": res["batch_s"],
            "inc_over_oneshot": res["inc_s"] / res["oneshot_s"],
            "state_bytes_per_input_byte": res["state_bytes"] / self.text_bytes,
        }, fails


class SideQueries(_Workload):
    """``long_span_pairs`` (production winnowed config) over the first
    ``span_docs`` matchable webtext docs, then a probed
    ``cosine_topk_ivf`` over clustered embeddings."""

    def __init__(self, ctx: Context, spec: dict):
        super().__init__(ctx, spec)
        self.ivf = spec["ivf"]
        self.span_docs = spec["span_docs"]
        self.planted_spans = [s for s in self.meta["truth"]["spans"] if s[1] < self.span_docs]
        self.emb_meta = ctx.input("embeddings", spec["embeddings"])
        self.warm_emb_meta = ctx.input("embeddings", spec["warm_embeddings"], warm=True)
        vecs = pq.read_table(self.emb_meta["path"]).column("embedding").to_pylist()
        self.exact = checks.exact_topk(np.array(vecs, dtype=np.float32),
                                       np.arange(self.ivf["queries"]), self.ivf["k"])

    def _inputs(self, meta: dict, emb_meta: dict):
        spark = self.ctx.spark
        docs = _matchable(spark.read.parquet(meta["path"])).filter(F.col("doc_id") < self.span_docs)
        return local_ckpt(docs), spark.read.parquet(emb_meta["path"])

    def open(self) -> None:
        self.inputs = self._inputs(self.meta, self.emb_meta)

    def warm(self) -> None:
        self._run(*self._inputs(self.warm_meta, self.warm_emb_meta))

    def run(self, tracer=None) -> dict:
        return self._run(*self.inputs, tracer=tracer)

    def _run(self, docs, emb, tracer=None) -> dict:
        ivf = self.ivf
        t0 = time.perf_counter()
        with _span(tracer, "suffix_spans"):
            sp = long_span_pairs(docs, CFG, winnow=True).select("a", "b", "span_len").toPandas()
        t1 = time.perf_counter()
        with _span(tracer, "similarity"):
            top = cosine_topk_ivf(
                emb, emb.filter(F.col("vec_id") < ivf["queries"]), k=ivf["k"],
                n_centroids=ivf["centroids"], n_probe=ivf["probe"],
            ).select("query_id", "neighbor_id").toPandas()
        t2 = time.perf_counter()
        found: dict = {}
        for q, nb in zip(top["query_id"].tolist(), top["neighbor_id"].tolist()):
            found.setdefault(q, set()).add(nb)
        return {
            "wall_s": t2 - t0,
            "docs": self.span_docs + self.spec["embeddings"]["vectors"],
            "long_span_s": t1 - t0, "topk_s": t2 - t1, "topk": found,
            "spans": {(a, b): n for a, b, n in zip(sp["a"].tolist(), sp["b"].tolist(),
                                                   sp["span_len"].tolist())},
            "counts": {"suffix_spans.pairs_out": float(len(sp))},
        }

    def check(self, res: dict) -> tuple[dict, list[str]]:
        fails: list[str] = []
        missing = checks.spans_missing(self.planted_spans, res["spans"])
        if missing:
            fails.append(f"{missing} planted long-span partners not found")
        recall = checks.topk_recall(res["topk"], self.exact)
        if recall < MIN_TOPK_RECALL:
            fails.append(f"topk_recall {recall:.4f} < {MIN_TOPK_RECALL}")
        return {
            "recall": recall,
            "docs_per_s": res["docs"] / res["wall_s"],
            "digest": checks.digest((a, b, n) for (a, b), n in res["spans"].items()),
            "long_span_s": res["long_span_s"],
            "topk_s": res["topk_s"],
        }, fails


WORKLOADS = {"webtext": Webtext, "side_queries": SideQueries}
