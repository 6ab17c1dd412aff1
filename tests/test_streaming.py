"""Structured Streaming: file-source pages stream -> parsed parquet sink."""

from __future__ import annotations


def test_stream_pages_availablenow(spark, tmp_path):
    from tempeh_spark.corpus import bench_pages
    from tempeh_spark.streaming import run_stream_to_parquet

    src = str(tmp_path / "stream_src")
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    bench_pages(spark, 32, partitions=2).write.parquet(src)

    q = run_stream_to_parquet(spark, src, out, ckpt)
    q.awaitTermination(120)

    result = spark.read.parquet(out)
    assert result.count() == 32
    assert result.where("error is not null").count() == 0
    assert set(result.columns) >= {"url", "warc_ts", "text", "main_text", "n_nodes"}

    # restart with no new files: checkpoint prevents reprocessing
    q2 = run_stream_to_parquet(spark, src, out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 32


def test_stream_pages_oversize_guard(spark, tmp_path):
    """The stream parses through the batch job's extract_pages, so a page
    over max_html_bytes comes out as one error row, never reaching the
    parse kernel."""
    from pyspark.sql import functions as F

    from tempeh_spark.pipeline import OVERSIZE_ERROR
    from tempeh_spark.streaming import run_stream_to_parquet

    src = str(tmp_path / "stream_src")
    out = str(tmp_path / "stream_out")
    # built per row (a literal would ship 64 MiB in every task binary)
    big = F.encode(F.repeat(F.lit("a"), F.col("id") + (64 << 20) + 1), "UTF-8")
    spark.range(2).select(
        F.concat(F.lit("https://big.example/"), F.col("id").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.when(F.col("id") == 0, big).otherwise(F.encode(F.lit("<p>hi</p>"), "UTF-8")).alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    ).write.parquet(src)

    q = run_stream_to_parquet(spark, src, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    rows = {r["url"]: r for r in spark.read.parquet(out).collect()}
    assert len(rows) == 2
    assert rows["https://big.example/0"]["error"] == OVERSIZE_ERROR
    assert rows["https://big.example/1"]["error"] is None
    assert rows["https://big.example/1"]["text"] == "hi"


def test_stream_hourly_equals_batch(spark, tmp_path):
    """availableNow drains the backlog: the finished windowed-agg stream
    must equal the batch hourly rollup."""
    from pyspark.sql import functions as F

    from tempeh_spark.streaming import stream_hourly_events

    rows = [
        (1, 10, "click", "2024-01-01 10:05:00", 1.0),
        (2, 10, "click", "2024-01-01 10:55:00", 3.0),
        (3, 11, "view", "2024-01-01 11:01:00", 5.0),
        (4, 11, "click", "2024-01-01 11:30:00", 7.0),
    ]
    src = str(tmp_path / "events_src")
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_s string, value double"
    ).select(
        "event_id", "user_id", "event_type",
        F.col("ts_s").cast("timestamp").alias("ts"), "value",
    ).write.parquet(src)

    out = {(r["hour"], r["event_type"]): (r["n"], r["avg_value"])
           for r in stream_hourly_events(spark, src).collect()}
    assert out[("2024-01-01 10:00:00", "click")] == (2, 2.0)
    assert out[("2024-01-01 11:00:00", "view")] == (1, 5.0)
    assert out[("2024-01-01 11:00:00", "click")] == (1, 7.0)


def test_stream_file_source_metachar_filename(spark, tmp_path):
    """A single-FILE stream source filters its parent dir by basename used
    as a GLOB: metacharacters in the file name (']', '[', '\\') must be
    escaped or the stream silently matches nothing. A decoy sibling file
    pins that the escaped pattern matches ONLY the named file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tempeh_spark.streaming import _stream_file_source

    target = tmp_path / "ev]x[1].parquet"
    pq.write_table(pa.table({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]}), str(target))
    pq.write_table(pa.table({"doc_id": [9] * 5, "text": ["z"] * 5}), str(tmp_path / "decoy.parquet"))

    # schema from the plain-named sibling: batch .parquet() also globs, so
    # the metachar path itself is unreadable without the same escaping
    schema = spark.read.parquet(str(tmp_path / "decoy.parquet")).schema
    q = (
        _stream_file_source(spark, str(target), schema)
        .writeStream.format("memory")
        .queryName("mc_glob_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.table("mc_glob_test")
    assert out.count() == 3  # the bug's failure mode is 0 (no match)
    assert {r["doc_id"] for r in out.collect()} == {1, 2, 3}  # and never the decoy's 9s
    spark.catalog.dropTempView("mc_glob_test")


def test_stream_dedup_keys_both_regimes(spark):
    """Streaming state-store dedup: the drained append-mode output is the
    distinct key set (exactly once per key) in the unbounded regime; the
    watermark-bounded regime (dropDuplicatesWithinWatermark — the
    crawl-scale config with evictable state) emits a SUPERSET that here,
    with the whole backlog inside one availableNow drain, is the same set."""
    from tempeh_spark.streaming import stream_dedup_keys

    path = "/root/testdata/sf0.001/events.parquet"
    expected = {
        (r["user_id"], r["event_type"])
        for r in spark.read.parquet(path).select("user_id", "event_type").distinct().collect()
    }

    exact = stream_dedup_keys(spark, path, ("user_id", "event_type"))
    got = [(r["user_id"], r["event_type"]) for r in exact.collect()]
    assert len(got) == len(set(got)), "a key was emitted more than once"
    assert set(got) == expected

    wm = stream_dedup_keys(
        spark, path, ("user_id", "event_type"), watermark_col="ts"
    )
    got_wm = {(r["user_id"], r["event_type"]) for r in wm.collect()}
    # the whole backlog drains in one availableNow batch, so no key's state
    # expires mid-stream and the superset bound collapses to equality here
    assert got_wm == expected
