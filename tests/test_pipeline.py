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


def test_url_buckets_fill_every_task(spark):
    """B buckets over 8*B distinct urls give B non-empty parse tasks: the
    hashed url key goes to repartition as it is (a key reduced mod B
    first lands on only about 20 of 32 tasks)."""
    from tempeh_spark.partitioning import url_buckets

    pages = spark.range(256).select(
        F.concat(F.lit("https://site"), F.col("id").cast("string"), F.lit(".example/")).alias("url")
    )
    filled = url_buckets(pages, 32).select(F.spark_partition_id()).distinct().count()
    assert filled == 32


def _log(spark, out_dir):
    return spark.read.parquet(out_dir.rstrip("/") + "_metrics").orderBy("finished_at").collect()


def test_run_metrics_observed_in_the_write_pass(spark, pages_dir, tmp_path):
    """On a fresh output nothing after the write scans anything: the run's
    numbers come from an Observation on the write. Each run, the 0-row
    resume included, appends one row to ``_metrics``, and the returned
    totals are the sums over those rows."""
    from perfbench.sparktrace import SparkTracer

    from tempeh_spark.corpus import bench_pages
    from tempeh_spark.pipeline import PipelineConfig, run_extraction_job

    out_dir = str(tmp_path / "out")
    cfg = PipelineConfig(buckets=8, with_nodes_json=False)
    tracer = SparkTracer(spark)
    with tracer.group("fresh_run") as span:
        m1 = run_extraction_job(spark, pages_dir, out_dir, cfg)
    rep = tracer.report(span)
    write = next(
        e for e in rep.executions
        if e.has("Execute InsertIntoHadoopFsRelationCommand") and e.has("ArrowEvalPython")
    )
    after = [e for e in rep.executions if e.execution_id > write.execution_id]
    assert len(after) == 1  # the one-row metrics write
    assert not any(e.has("Scan") for e in after)

    m2 = run_extraction_job(spark, pages_dir, out_dir, cfg)  # nothing new
    extra_dir = str(tmp_path / "pages_extra")
    bench_pages(spark, 96, partitions=4).write.parquet(extra_dir)
    m3 = run_extraction_job(spark, extra_dir, out_dir, cfg)

    log = _log(spark, out_dir)
    assert [r["rows"] for r in log] == [64, 0, 32]
    assert len({r["run_id"] for r in log}) == 3
    for m, r in zip((m1, m2, m3), log):
        assert m == {"rows": r["total_rows"], "bytes": r["total_bytes"],
                     "errors": r["total_errors"]}
    assert m3 == {k: sum(r[k] for r in log) for k in ("rows", "bytes", "errors")}
    assert m3["rows"] == 96 and m3["bytes"] > 0
    assert log[0]["nodes"] > 0 and log[0]["tokens"] > 0 and log[0]["text_chars"] > 0
    assert log[1]["nodes"] == 0 and log[1]["max_depth"] == 0


def test_run_metrics_error_classes(spark, tmp_path):
    """The per-class error counts of a run equal a group-by of the committed
    output's error column (classified by the benchmark's own rule)."""
    from perfbench.workloads import error_class

    from tempeh_spark.pipeline import ERROR_CLASSES, PipelineConfig, run_extraction_job

    src, out_dir = str(tmp_path / "pages"), str(tmp_path / "out")
    spark.createDataFrame(
        [
            ("u/null", None),
            ("u/big", b"<p>" + b"y" * 1000 + b"</p>"),
            ("u/decode1", b"<h2>\x80</h2>"),
            ("u/decode2", b"<p>a\xffb</p>"),
            ("u/code-point", b"<h2>\xf4\x90\x80\x80</h2>"),
            ("u/tree", b"<div \xff>"),
            ("u/ok", b"<p>x</p>"),
        ],
        "url string, html binary",
    ).write.parquet(src)
    m = run_extraction_job(spark, src, out_dir, PipelineConfig(buckets=4, max_html_bytes=100))

    grouped = dict.fromkeys(ERROR_CLASSES, 0)
    for r in spark.read.parquet(out_dir).groupBy("error").count().collect():
        if r["error"] is not None:
            grouped[error_class(r["error"])] += r["count"]
    (row,) = _log(spark, out_dir)
    assert {c: row[f"errors_{c}"] for c in ERROR_CLASSES} == grouped
    assert grouped == {"oversize": 1, "null_html": 1, "decode": 2, "invalid_code_point": 1,
                       "tree": 1}
    assert m == {"rows": 7, "bytes": row["bytes"], "errors": 6} and row["errors"] == 6
    assert len(row["run_id"]) == 32


def test_run_totals_after_files_removed_outside_the_job(spark, pages_dir, tmp_path):
    """A run whose files are deleted from the output (rolled back) leaves
    its row in ``_metrics``; the next run's totals still describe the
    committed output, from the row whose file fingerprint matches or, with
    no ``_metrics`` at all, from one scan of the output."""
    import os
    import shutil

    from tempeh_spark.corpus import bench_pages
    from tempeh_spark.pipeline import PipelineConfig, run_extraction_job

    out_dir = str(tmp_path / "out")
    cfg = PipelineConfig(buckets=8, with_nodes_json=False)
    first = run_extraction_job(spark, pages_dir, out_dir, cfg)
    kept = set(os.listdir(out_dir))
    extra_dir = str(tmp_path / "pages_extra")
    bench_pages(spark, 96, partitions=4).write.parquet(extra_dir)
    assert run_extraction_job(spark, extra_dir, out_dir, cfg)["rows"] == 96
    for name in set(os.listdir(out_dir)) - kept:
        os.remove(os.path.join(out_dir, name))

    again = run_extraction_job(spark, extra_dir, out_dir, cfg)
    committed = spark.read.parquet(out_dir)
    assert committed.select("url").distinct().count() == committed.count() == 96
    assert again["rows"] == 96
    assert again["bytes"] == committed.agg(F.sum("html_bytes")).first()[0]
    assert len(_log(spark, out_dir)) == 3

    shutil.rmtree(out_dir + "_metrics")
    assert run_extraction_job(spark, extra_dir, out_dir, cfg) == again
    assert [r["rows"] for r in _log(spark, out_dir)] == [0]
    assert first["rows"] == 64
