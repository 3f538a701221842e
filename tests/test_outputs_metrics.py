"""Output report tables + metrics/lineage (SURVEY.md §2.1 S5-S9, §2.10 B4)."""

import pytest
from pyspark.sql import functions as F

from face_duplicate_detection_spark.catalog import StageCatalog
from face_duplicate_detection_spark.metrics import lineage_rows
from face_duplicate_detection_spark.plans.outputs import (
    consolidated_report,
    duplicate_report,
    summary_metrics,
)
from face_duplicate_detection_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def piperes(pages_500, cfg):
    return run_pipeline(pages_500, cfg, input_kind="pages")


def test_consolidated_report_covers_all_docs(piperes, pages_500):
    rep = consolidated_report(piperes.clusters, piperes.docs_normalized)
    assert rep.count() == pages_500.count()
    dispositions = {r["disposition"] for r in rep.select("disposition").distinct().collect()}
    assert "unique" in dispositions and "duplicate" in dispositions
    # status rows keep their status as disposition (reference keeps
    # corrupted/no-face tagged, duplicate_face.py:200-226)
    assert rep.filter((F.col("status") == "corrupted") & (F.col("disposition") != "corrupted")).count() == 0
    assert rep.filter(F.col("directory") == "").count() == 0


def test_duplicate_report_stats(piperes):
    rep = duplicate_report(piperes.dup_pairs)
    bad = rep.filter(
        (F.col("min_jaccard") > F.col("avg_jaccard"))
        | (F.col("avg_jaccard") > F.col("max_jaccard"))
        | (F.col("n_duplicates") < 1)
    )
    assert bad.count() == 0


def test_summary_metrics_consistent(piperes, pages_500):
    row = summary_metrics(piperes.clusters).collect()[0]
    assert row["total_docs"] == pages_500.count()
    assert (
        row["ok_docs"]
        + row["empty_docs"]
        + row["corrupted_docs"]
        + row["low_quality_docs"]
        == row["total_docs"]
    )
    assert row["duplicate_docs"] > 0
    assert row["n_clusters"] < row["total_docs"]


def test_lineage_rows_sum_to_input(spark, documents):
    rows = lineage_rows(documents, "docs").collect()
    assert sum(r["rows_in"] for r in rows) == documents.count()
    assert all(r["stage"] == "docs" for r in rows)
    assert all(r["wall_ms"] >= 0 for r in rows)


def test_pipeline_writes_lineage_with_catalog(spark, cfg, pages_500, tmp_path_factory):
    cat = StageCatalog(str(tmp_path_factory.mktemp("lin")))
    run_pipeline(pages_500, cfg, input_kind="pages", catalog=cat)
    lin = cat.read(spark, "lineage")
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert {"docs_normalized", "signatures", "dup_pairs"} <= stages
