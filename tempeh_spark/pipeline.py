"""Job layer: the 10^12-document extraction pipeline.

Plan shape (see SURVEY.md §3 "Spark lifecycle"):

    scan(url, warc_ts, html, lang)           -- column-pruned at the source
      -> repartition(buckets, xxhash64(url)) -- explicit url-hash bucketing
      -> ArrowEvalPython[parse_html_udf]     -- the fused parse kernel
      -> project url, warc_ts, parse outputs, lineage
      -> sink (parquet dir or Iceberg table)

Scale decisions, explicitly:

* Bucketing by ``xxhash64(url)`` gives a uniform row distribution and a
  deterministic url→task mapping (lineage). Document-size skew (38 KB page
  vs 33 B stub in one bucket) is handled by making buckets numerous
  (``buckets >= 4 * cores``) so task max-size variance stays small, plus
  AQE advisory sizing for the shuffle. A single row is the minimum work
  unit — no intra-document parallelism is needed because parse cost is
  linear in bytes and documents are capped by ``max_html_bytes``.
* ``max_html_bytes`` guards executor memory: oversized documents become
  error rows instead of OOM-killing a 1000-executor stage.
* Resume is a checkpoint **anti-join**: re-running the job with the same
  output path processes only urls absent from the committed output. With an
  Iceberg sink this reads a snapshot; with the parquet sink it reads the
  directory. No operator state, no driver bookkeeping — restartable from
  any committed point.
* Per-partition lineage + metrics: every output row carries its shuffle
  partition id; a ``metrics`` summary (rows, bytes, errors, parse counters
  per partition) is written next to the output for job observability.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tempeh_spark.options import DEFAULT_OPTIONS, ParserOptions
from tempeh_spark.udf import make_parse_udf

INPUT_COLS = ("url", "warc_ts", "html", "lang")
SALT_MOD = 16  # sub-bucket salt for hot urls / giant hosts


@dataclass(frozen=True)
class PipelineConfig:
    options: ParserOptions = DEFAULT_OPTIONS
    buckets: int | None = None  # default: 4 * defaultParallelism
    max_html_bytes: int = 64 * 1024 * 1024
    # False skips the DOM-JSON serialization INSIDE the kernel (~40% of
    # batch cost, udf.py parse_batch) and drops the column — not just a
    # projection prune. The common 100 TB text-only profile wants False.
    with_nodes_json: bool = True
    with_spans: bool = True  # same deal for span materialization


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Read the pages table. ``source`` is an Iceberg table name (contains no
    '/') or a parquet path. Iceberg gives snapshot-pinned scans + partition
    pruning; parquet is the sandbox fallback (same engine code either way)."""
    if "/" in source:
        return spark.read.parquet(source)
    return spark.read.table(source)


def extract_pages(df: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """The core transformation: pages -> parsed/extracted rows.

    Declarative all the way down: Catalyst prunes the scan to the four input
    columns, the only shuffle is the explicit url-hash bucketing, and the
    parse runs as one ArrowEvalPython stage.
    """
    spark = df.sparkSession
    buckets = cfg.buckets or 4 * spark.sparkContext.defaultParallelism

    guarded = df.select(
        "url",
        *[c for c in df.columns if c in ("warc_ts", "lang")],
        F.when(F.length("html") <= cfg.max_html_bytes, F.col("html")).alias("html"),
        (F.length("html") > cfg.max_html_bytes).alias("oversize"),
    )

    # Explicit bucketing: xxhash64(url), plus a capture-time salt when the
    # table carries warc_ts. Unique urls already spread under the hash; the
    # salt is for HOT KEYS — a url re-crawled 10^5 times would otherwise
    # pin all its captures to one task. Salting by (url, warc_ts) spreads a
    # hot url across up to SALT_MOD sub-buckets while staying fully
    # deterministic per row (resume/lineage safe).
    key = F.xxhash64("url", F.lit(17))
    if "warc_ts" in df.columns:
        key = key + F.pmod(F.xxhash64("url", "warc_ts"), F.lit(SALT_MOD))
    bucketed = guarded.repartition(buckets, F.pmod(key, F.lit(buckets)))

    # thread the output flags into the KERNEL: dropping nodes_json/spans at
    # the projection would still pay their serialization CPU per batch
    parse_udf = make_parse_udf(
        cfg.options,
        with_nodes_json=cfg.with_nodes_json,
        with_spans=cfg.with_spans,
    )
    parsed = bucketed.withColumn("parsed", parse_udf(F.col("html")))

    out_cols = [
        "url",
        *[c for c in ("warc_ts", "lang") if c in df.columns],
        F.when(F.col("oversize"), F.lit("oversize document skipped"))
        .otherwise(F.col("parsed.error"))
        .alias("error"),
        F.col("parsed.text").alias("text"),
        F.col("parsed.main_text").alias("main_text"),
        F.col("parsed.title").alias("title"),
        *([F.col("parsed.spans").alias("spans")] if cfg.with_spans else []),
        F.col("parsed.encoding").alias("encoding"),
        F.col("parsed.n_tokens").alias("n_tokens"),
        F.col("parsed.n_nodes").alias("n_nodes"),
        F.col("parsed.n_elements").alias("n_elements"),
        F.col("parsed.n_text_nodes").alias("n_text_nodes"),
        F.col("parsed.n_comments").alias("n_comments"),
        F.col("parsed.n_attrs").alias("n_attrs"),
        F.col("parsed.max_depth").alias("max_depth"),
        F.col("parsed.html_bytes").alias("html_bytes"),
        F.spark_partition_id().alias("partition_id"),
    ]
    if cfg.with_nodes_json:
        out_cols.insert(4, F.col("parsed.nodes_json").alias("nodes_json"))
    return parsed.select(*out_cols)


def partition_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rollup (map-side combinable agg)."""
    return extracted.groupBy("partition_id").agg(
        F.count("*").alias("rows"),
        F.sum("html_bytes").alias("bytes"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("errors"),
        F.sum("n_nodes").alias("nodes"),
        F.sum("n_tokens").alias("tokens"),
        F.max("max_depth").alias("max_depth"),
        F.avg(F.length("text")).alias("avg_text_len"),
    )


def _error_condition(e: AnalysisException) -> str:
    """The exception's error condition (class), or '' when it has none."""
    get_cls = getattr(e, "getCondition", None) or getattr(e, "getErrorClass", None)
    return (get_cls() if get_cls else None) or ""


def run_extraction_job(
    spark: SparkSession,
    source: str,
    output: str,
    cfg: PipelineConfig = PipelineConfig(),
    resume: bool = True,
) -> dict:
    """End-to-end job with checkpoint/resume. Returns a metrics summary.

    ``output`` is a parquet directory (or an Iceberg table name when no '/'
    appears — writes use ``writeTo(...).append()`` there). Resume anti-joins
    the committed output's urls so a restarted job only parses new urls.
    """
    pages = read_pages(spark, source)

    is_table = "/" not in output
    done = None
    if resume:
        # NARROW first-run detection: only "nothing committed yet" may skip
        # the anti-join. A transient read failure (metastore outage, bad
        # footer, permissions) must FAIL the job — swallowing it would
        # re-parse and re-append the whole corpus, permanently duplicating
        # rows.
        try:
            done = spark.read.table(output) if is_table else spark.read.parquet(output)
        except AnalysisException as e:
            cls = _error_condition(e)
            fresh = (
                "TABLE_OR_VIEW_NOT_FOUND" in cls
                or "PATH_NOT_FOUND" in cls
                or "not found" in str(e).lower()
                or "does not exist" in str(e).lower()
            )
            if not fresh:
                raise
            done = None  # first run: nothing committed yet

    if done is not None:
        # left_anti on the bucketing key (plus the capture timestamp when
        # the source carries one: the pipeline supports many captures per
        # url, and a url-only key would silently drop re-crawls)
        keys = ["url"]
        if "warc_ts" in pages.columns and "warc_ts" in done.columns:
            keys.append("warc_ts")
        pages = pages.join(done.select(*keys), on=keys, how="left_anti")

    extracted = extract_pages(pages, cfg)

    if is_table:
        # DataFrameWriterV2 first: on an Iceberg (or any v2) catalog this
        # append is a snapshot-atomic commit. The sandbox's session catalog
        # only exposes v1 parquet tables, which the v2 writer refuses
        # ("Cannot write into v1 table") — fall back to the v1 writer with
        # identical append-or-create semantics so the same job code runs in
        # both worlds. The fallback is NARROW: only the two expected
        # conditions (v1-table refusal, table does not exist yet) reroute;
        # any other analysis failure (schema mismatch, bad catalog, missing
        # column) must surface, not silently create a parquet table where
        # an Iceberg table was intended.
        try:
            extracted.writeTo(output).append()
        except AnalysisException as e:
            cls = _error_condition(e)
            msg = str(e)
            v1_refusal = "UNSUPPORTED_TABLE_OPERATION" in cls or "v1 table" in msg
            missing = "TABLE_OR_VIEW_NOT_FOUND" in cls or "not found" in msg.lower()
            if not (v1_refusal or missing):
                raise
            extracted.write.mode("append").format("parquet").saveAsTable(output)
    else:
        extracted.write.mode("append").parquet(output)

    # ONE scan of the committed output: write the per-partition metrics,
    # then roll the summary up from that small table
    committed = spark.read.table(output) if is_table else spark.read.parquet(output)
    writer = partition_metrics(committed).write.mode("overwrite")
    if is_table:
        writer.saveAsTable(output + "_metrics")
        metrics = spark.read.table(output + "_metrics")
    else:
        writer.parquet(output.rstrip("/") + "_metrics")
        metrics = spark.read.parquet(output.rstrip("/") + "_metrics")
    rollup = metrics.agg(
        F.sum("rows").alias("rows"),
        F.sum("bytes").alias("bytes"),
        F.sum("errors").alias("errors"),
    ).first()
    return {
        "rows": rollup["rows"],
        "bytes": rollup["bytes"],
        "errors": rollup["errors"],
    }
