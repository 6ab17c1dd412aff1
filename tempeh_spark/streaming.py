"""Structured Streaming ingestion for the extraction pipeline.

The parse kernel is stateless per row, so streaming is the batch job's
``extract_pages`` over a ``readStream`` source (SURVEY.md §2 Part B).
The watermark + dedup shown here handle the one stream-specific concern:
re-crawled urls arriving late.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tempeh_spark.corpus import PAGES_SCHEMA
from tempeh_spark.options import DEFAULT_OPTIONS, ParserOptions
from tempeh_spark.pipeline import PipelineConfig, extract_pages


def stream_pages(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "10 minutes",
    options: ParserOptions = DEFAULT_OPTIONS,
) -> DataFrame:
    """File-source stream of pages parquet -> parsed rows.

    * watermark on ``warc_ts`` bounds state for the url dedup;
    * ``dropDuplicates(url, warc_ts)`` keeps one parse per capture;
    * the parse is the batch job's ``extract_pages`` (stateless): the same
      url bucketing and the same ``max_html_bytes`` guard.
    """
    src = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
        .withWatermark("warc_ts", watermark)
        .dropDuplicates(["url", "warc_ts"])
    )
    cfg = PipelineConfig(options=options, with_nodes_json=False, with_spans=False)
    return extract_pages(src, cfg).select(
        "url", "warc_ts", "text", "main_text", "error", "n_nodes"
    )


def _stream_file_source(spark: SparkSession, path: str, schema) -> DataFrame:
    """readStream over a parquet path. File-stream sources list a DIRECTORY;
    a single-file table becomes its parent dir filtered to that file name."""
    import os

    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        # the basename is used as a GLOB: escape metacharacters or a file
        # named events[1].parquet silently matches nothing. Backslash-escape
        # (Hadoop GlobPattern honors \-escapes for every metachar) — the
        # [..]-class wrapping breaks for ']' and '\', which produce an
        # unclosed/empty character class that glob translation rejects.
        import re as _re

        escaped = _re.sub(r"([*?\[\]{}\\])", r"\\\1", os.path.basename(path))
        reader = reader.option("pathGlobFilter", escaped)
        return reader.parquet(os.path.dirname(path))
    return reader.parquet(path)


def _drain_to_df(agg: DataFrame, output_mode: str, name: str) -> DataFrame:
    """Run a streaming aggregation to completion (availableNow) through a
    memory sink, materialize the result, and DROP the sink table so
    repeated calls in a long-lived session don't accumulate result copies."""
    spark = agg.sparkSession
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def stream_hourly_events(
    spark: SparkSession,
    events_path: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming windowed aggregation, drained with ``availableNow``: a real
    ``readStream`` file source -> watermark -> 1-hour tumbling window agg ->
    memory sink, returned as a (finished) DataFrame.

    With availableNow the stream processes the whole backlog and stops, so
    the result equals the batch hourly rollup — which is exactly what the
    driver gate asserts (the DuckDB oracle is the batch SQL). At production
    scale the same plan runs unbounded: the watermark bounds the window
    state, late events beyond it are dropped, and the sink becomes a
    table/parquet append.
    """
    import uuid

    schema = spark.read.parquet(events_path).schema
    src = _stream_file_source(spark, events_path, schema)
    # watermarks require TIMESTAMP (with zone); parquet NTZ keeps the same
    # wall clock under the engine's fixed UTC session timezone
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    # order-independent 4-decimal average (exact DECIMAL sum of pre-rounded
    # values): round(avg(double)) is not stable across summation orders —
    # micro-batch accumulation order differs from both batch engines
    stable_avg = (
        F.sum(
            (F.round(F.col("value"), 4).cast("decimal(18,4)") * 10000).cast("long")
        ).cast("double")
        / F.count(F.lit(1))
    ) / F.lit(10000.0)
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            stable_avg.alias("avg_value"),
        )
    )
    out = _drain_to_df(agg, "complete", f"stream_hourly_{uuid.uuid4().hex[:8]}")
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        "avg_value",
    )


def run_stream_to_parquet(
    spark: SparkSession,
    source_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    **kwargs,
):
    """Start the stream with exactly-once file sink semantics."""
    parsed = stream_pages(spark, source_dir, **kwargs)
    return (
        parsed.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_keys(
    spark: SparkSession,
    path: str,
    key_cols: tuple[str, ...] | list[str],
    watermark_col: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: first-arrival key election through the state
    store, emitted in APPEND mode (each newly-seen key exactly once — no
    aggregation, no window).

    Two state regimes, chosen by ``watermark_col``:

    * ``None`` (gate/audit config): ``dropDuplicates`` — global dedup,
      one state-store entry per distinct key, NEVER expired. Exact, but
      state grows with the distinct-key count; right for bounded key
      domains or availableNow backfills.
    * set (the crawl-scale config): ``dropDuplicatesWithinWatermark`` —
      state is evicted once the event-time watermark passes a key's last
      sighting, so an unbounded stream runs in bounded memory. A re-crawl
      arriving BEYOND the horizon re-emits its key (by design: a page
      re-fetched a month later is a new capture worth re-processing).

    Only the KEY COLUMNS are emitted: which duplicate row arrives first at
    the state store is a race between partitions, so any payload column
    would be nondeterministic — the emitted key SET is not. The DuckDB
    oracle twin is ``SELECT DISTINCT <keys>`` (exact for the unbounded
    regime; a superset bound for the watermarked one).
    """
    import uuid

    schema = spark.read.parquet(path).schema
    src = _stream_file_source(spark, path, schema)
    if watermark_col is not None:
        src = src.withColumn(watermark_col, F.col(watermark_col).cast("timestamp"))
        src = src.withWatermark(watermark_col, watermark)
        deduped = src.dropDuplicatesWithinWatermark(list(key_cols))
    else:
        deduped = src.dropDuplicates(list(key_cols))
    out = deduped.select(*key_cols)
    return _drain_to_df(out, "append", f"stream_dedup_{uuid.uuid4().hex[:8]}")
