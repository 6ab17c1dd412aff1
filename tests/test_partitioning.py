"""spread_if_narrow: the one spread helper decides from the plan alone —
building a spread DataFrame runs no Spark job."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tempeh_spark.partitioning import PER_ROW, ROW_MULTIPLYING, spread_if_narrow

_groups = itertools.count()


@pytest.fixture
def scan(spark, tmp_path):
    """A single-file parquet scan, read (schema footer job done) up front."""
    path = tmp_path / "documents.parquet"
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(400), pa.int64()),
                "text": [f"document {i} about spark and parquet files" for i in range(400)],
            }
        ),
        path,
    )
    return spark.read.parquet(str(path)), path.stat().st_size


def _jobs_while(spark, build) -> int:
    """Number of Spark jobs submitted while ``build()`` runs."""
    sc = spark.sparkContext
    group = f"spread-build-{next(_groups)}"
    sc.setJobGroup(group, "build only")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_building_runs_no_job(spark, scan):
    from tempeh_spark.featurize import text_embedding

    df, _ = scan
    shuffled = df.repartition(3).groupBy("doc_id").agg(F.count("*").alias("n"))
    emb = text_embedding(df)
    for profile in (ROW_MULTIPLYING, PER_ROW):
        assert _jobs_while(spark, lambda: spread_if_narrow(df, "doc_id", profile)) == 0
        assert _jobs_while(spark, lambda: spread_if_narrow(shuffled, "doc_id", profile)) == 0
        assert _jobs_while(spark, lambda: spread_if_narrow(emb, "id", profile)) == 0
    # inputs that already went through a shuffle are left as they are
    assert spread_if_narrow(shuffled, "doc_id", ROW_MULTIPLYING) is shuffled
    assert spread_if_narrow(emb, "id", PER_ROW) is emb


def test_single_file_scan_keeps_partition_counts(spark, scan):
    """A one-partition scan is spread to the same count as before the two
    per-module helpers were folded in: ~192 KB per partition with floor 8
    for row-multiplying callers, ~2 MB with floor 2 for vector scoring,
    both capped at 2 x defaultParallelism."""
    df, size = scan
    cap = 2 * spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() == 1
    row = spread_if_narrow(df, "doc_id", ROW_MULTIPLYING)
    vec = spread_if_narrow(df, "doc_id", PER_ROW)
    assert row.rdd.getNumPartitions() == max(8, min(cap, size // (192 << 10) + 1))
    assert vec.rdd.getNumPartitions() == max(2, min(cap, size // (2 << 20) + 1))
    assert sorted(r["doc_id"] for r in row.collect()) == list(range(400))


def test_wide_input_is_not_spread(spark):
    df = spark.range(0, 100, 1, spark.sparkContext.defaultParallelism)
    assert spread_if_narrow(df, "id", ROW_MULTIPLYING) is df


def test_chained_pdf_stages_shuffle_once(spark, scan):
    """build_pdf_column spreads the scan; extract_pdf_text's own spread
    sees a shuffled plan and adds no second repartition."""
    from tempeh_spark.pdfops import build_pdf_column, extract_pdf_text

    df, _ = scan
    out = extract_pdf_text(build_pdf_column(df))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert out.where(F.col("error").isNull()).count() == 400
