"""Deterministic plan-shape gates for the side queries: every top-k
plan scores with the numpy BLAS kernel (no interpreted higher-order
function cosine), and long-span verification runs without a Window."""

import numpy as np
import pytest

from face_duplicate_detection_spark.operators import similarity
from face_duplicate_detection_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
)
from face_duplicate_detection_spark.operators.suffix_spans import (
    long_span_pairs,
)

INTERPRETED = ("zip_with", "lambdafunction")


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(200)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()


@pytest.mark.parametrize("brute_max", [similarity.ANN_BRUTE_MAX, 0])
def test_topk_plans_have_no_interpreted_cosine(emb, monkeypatch, brute_max):
    monkeypatch.setattr(similarity, "ANN_BRUTE_MAX", brute_max)
    plans = {
        "bruteforce": cosine_topk_bruteforce(emb, emb.filter("vec_id < 10"), k=3),
        "ivf_probed": cosine_topk_ivf(emb, emb, k=3, n_centroids=8, n_probe=2),
        "ivf_exhaustive": cosine_topk_ivf(emb, emb, k=3, n_centroids=8, n_probe=8),
    }
    for name, df in plans.items():
        plan = _executed_plan(df)
        for marker in INTERPRETED:
            assert marker not in plan, (name, marker)


def test_long_span_plan_has_no_window(spark, cfg):
    text = "a long shared span of text that both documents carry verbatim " * 6
    docs = spark.createDataFrame(
        [(1, "left " + text), (2, text + " right"), (3, "unrelated")],
        ["doc_id", "text"],
    )
    spans = long_span_pairs(docs, cfg.with_(span_min_len=200), winnow=False)
    assert "Window" not in _executed_plan(spans)
    assert [(r["a"], r["b"]) for r in spans.collect()] == [(1, 2)]
