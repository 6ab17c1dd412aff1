"""Job-layer tests: extraction pipeline, checkpoint resume, metrics,
oversize guard — against a temp parquet sink."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def pages_dir(spark, tmp_path):
    from tempeh_spark.corpus import bench_pages

    src = str(tmp_path / "pages")
    bench_pages(spark, 64, partitions=4).write.parquet(src)
    return src


def test_extract_pages_outputs(spark, pages_dir):
    from tempeh_spark.pipeline import PipelineConfig, extract_pages, read_pages

    out = extract_pages(read_pages(spark, pages_dir), PipelineConfig(buckets=8))
    rows = out.collect()
    assert len(rows) == 64
    ok = [r for r in rows if r["error"] is None]
    assert len(ok) == 64
    assert all(r["partition_id"] is not None for r in rows)
    assert {r["encoding"] for r in rows} >= {"utf-8", "utf-16-le", "utf-16-be", "utf-8-bom"}


def test_kernel_flags_threaded_into_udf(spark, pages_dir):
    """with_nodes_json/with_spans=False must reach the KERNEL (skip the
    serialization work), not just the projection: the columns disappear
    from the output AND the rows still parse clean (text/metrics intact)."""
    from tempeh_spark.pipeline import PipelineConfig, extract_pages, read_pages

    cfg = PipelineConfig(buckets=8, with_nodes_json=False, with_spans=False)
    out = extract_pages(read_pages(spark, pages_dir), cfg)
    assert "nodes_json" not in out.columns and "spans" not in out.columns
    rows = out.collect()
    assert len(rows) == 64 and all(r["error"] is None for r in rows)
    assert all(r["text"] is not None and r["n_nodes"] > 0 for r in rows)

    # and the kernel itself honors the flags (null outputs, not just prune)
    from tempeh_spark.udf import make_parse_udf
    from pyspark.sql import functions as F

    lean = make_parse_udf(with_nodes_json=False, with_spans=False)
    df = spark.createDataFrame([("u", b"<p>hi</p>")], "url string, html binary")
    r = df.select(lean(F.col("html")).alias("p")).select("p.*").first()
    assert r.nodes_json is None and r.spans is None and r.text == "hi"


def test_oversize_guard(spark):
    from tempeh_spark.pipeline import PipelineConfig, extract_pages

    df = spark.createDataFrame(
        [("small", b"<p>x</p>"), ("big", b"<p>" + b"y" * 1000 + b"</p>")],
        "url string, html binary",
    )
    out = extract_pages(df, PipelineConfig(buckets=2, max_html_bytes=100))
    rows = {r["url"]: r for r in out.collect()}
    assert rows["small"]["error"] is None and rows["small"]["text"] == "x"
    assert rows["big"]["error"] == "oversize document skipped"


def test_run_job_and_resume(spark, pages_dir, tmp_path):
    from tempeh_spark.pipeline import PipelineConfig, run_extraction_job

    out_dir = str(tmp_path / "out")
    cfg = PipelineConfig(buckets=8, with_nodes_json=False)
    m1 = run_extraction_job(spark, pages_dir, out_dir, cfg)
    assert m1["rows"] == 64 and m1["errors"] == 0

    # resume: nothing new to do; output unchanged
    m2 = run_extraction_job(spark, pages_dir, out_dir, cfg)
    assert m2["rows"] == 64

    committed = spark.read.parquet(out_dir)
    assert committed.count() == 64
    assert committed.select("url").distinct().count() == 64
    metrics = spark.read.parquet(out_dir.rstrip("/") + "_metrics")
    rollup = metrics.agg(F.sum("rows"), F.sum("bytes"), F.sum("errors")).first()
    assert m2 == {"rows": rollup[0], "bytes": rollup[1], "errors": rollup[2]}
    assert m2["rows"] == 64


def test_resume_processes_only_new(spark, pages_dir, tmp_path):
    from tempeh_spark.corpus import bench_pages
    from tempeh_spark.pipeline import PipelineConfig, run_extraction_job

    out_dir = str(tmp_path / "out2")
    cfg = PipelineConfig(buckets=8, with_nodes_json=False)
    run_extraction_job(spark, pages_dir, out_dir, cfg)

    # append 32 new urls to the source, rerun
    extra_dir = str(tmp_path / "pages_extra")
    bench_pages(spark, 96, partitions=4).write.parquet(extra_dir)  # 64 old + 32 new urls
    m = run_extraction_job(spark, extra_dir, out_dir, cfg)
    assert m["rows"] == 96
    assert spark.read.parquet(out_dir).count() == 96


def test_run_job_table_branch_and_resume(spark, pages_dir):
    """The 100 TB production path: catalog-table source, DataFrameWriterV2
    sink (writeTo create/append), resume anti-join over the committed TABLE
    snapshot — the branch an Iceberg catalog would exercise."""
    import uuid

    from tempeh_spark.corpus import bench_pages
    from tempeh_spark.pipeline import PipelineConfig, run_extraction_job

    tag = uuid.uuid4().hex[:8]
    src, out = f"pages_src_{tag}", f"pages_out_{tag}"
    try:
        spark.read.parquet(pages_dir).write.saveAsTable(src)
        cfg = PipelineConfig(buckets=8, with_nodes_json=False)

        m1 = run_extraction_job(spark, src, out, cfg)
        assert m1["rows"] == 64 and m1["errors"] == 0

        # no new urls -> resume re-commits nothing
        m2 = run_extraction_job(spark, src, out, cfg)
        assert m2["rows"] == 64
        assert spark.read.table(out).count() == 64

        # 32 new urls appended to the source table -> only those get parsed
        bench_pages(spark, 96, partitions=4).createOrReplaceTempView("all_pages")
        spark.sql(
            f"INSERT INTO {src} SELECT * FROM all_pages "
            f"WHERE url NOT IN (SELECT url FROM {src})"
        )
        m3 = run_extraction_job(spark, src, out, cfg)
        assert m3["rows"] == 96
        committed = spark.read.table(out)
        assert committed.count() == 96
        assert committed.select("url").distinct().count() == 96
        metrics = spark.read.table(out + "_metrics")
        rollup = metrics.agg(F.sum("rows"), F.sum("bytes"), F.sum("errors")).first()
        assert m3 == {"rows": rollup[0], "bytes": rollup[1], "errors": rollup[2]}
        assert m3["rows"] == 96
    finally:
        for t in (src, out, out + "_metrics"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_hot_url_salting_spreads_tasks(spark):
    """A url re-crawled many times must not pin every capture to one task:
    the warc_ts salt spreads it across sub-buckets deterministically."""
    from pyspark.sql import functions as F

    from tempeh_spark.pipeline import PipelineConfig, extract_pages

    hot = spark.range(64).select(
        F.lit("https://hot.example/page").alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("id"))).alias("warc_ts"),
        F.encode(F.lit("<p>hi</p>"), "UTF-8").alias("html"),
        F.lit("en").alias("lang"),
    )
    out = extract_pages(hot, PipelineConfig(buckets=16, with_nodes_json=False))
    parts = out.select("partition_id").distinct().count()
    assert parts > 4  # unsalted, all 64 captures would share ONE partition

    # determinism: same input -> same partition assignment
    again = extract_pages(hot, PipelineConfig(buckets=16, with_nodes_json=False))
    a = sorted(r["partition_id"] for r in out.select("partition_id").collect())
    b = sorted(r["partition_id"] for r in again.select("partition_id").collect())
    assert a == b
