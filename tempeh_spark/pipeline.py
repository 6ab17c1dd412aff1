"""Job layer: the 10^12-document extraction pipeline.

Plan shape (see SURVEY.md §3 "Spark lifecycle"):

    scan(url, warc_ts, html, lang)           -- column-pruned at the source
      -> url_buckets(buckets)                -- explicit url-hash bucketing
      -> ArrowEvalPython[parse_html_udf]     -- the fused parse kernel
      -> project url, warc_ts, parse outputs, lineage
      -> sink (parquet dir or Iceberg table)

Scale decisions, explicitly:

* Bucketing by url (``partitioning.url_buckets``: ``xxhash64(url)``, salted
  by capture time, hashed straight into ``buckets`` tasks) gives a uniform
  row distribution, fills every task, and keeps the url→task mapping
  deterministic (lineage). Document-size skew (38 KB page vs 33 B stub in
  one bucket) is handled by making buckets numerous (``buckets >= 4 *
  cores``) so task max-size variance stays small. A single row is the
  minimum work unit — no intra-document parallelism is needed because
  parse cost is linear in bytes and documents are capped by
  ``max_html_bytes``.
* ``max_html_bytes`` guards executor memory: oversized documents become
  error rows instead of OOM-killing a 1000-executor stage.
* Resume is a checkpoint **anti-join**: re-running the job with the same
  output path processes only urls absent from the committed output. With an
  Iceberg sink this reads a snapshot; with the parquet sink it reads the
  directory. No operator state, no driver bookkeeping — restartable from
  any committed point.
* Per-run metrics in the write pass: an ``Observation`` on the extracted
  rows collects rows, bytes, errors (in total and per class) and the parse
  counters while the write runs, and each run appends ONE row to
  ``<output>_metrics``: those numbers, a run id and time, the cumulative
  totals and a fingerprint of the committed data files. The output is not
  read back. Every output row still carries its shuffle partition id, so
  ``partition_metrics`` rolls the committed output up per partition on
  demand.
"""

from __future__ import annotations

import hashlib
import uuid
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tempeh_spark.options import DEFAULT_OPTIONS, ParserOptions
from tempeh_spark.partitioning import url_buckets
from tempeh_spark.udf import NULL_HTML_ERROR, make_parse_udf

INPUT_COLS = ("url", "warc_ts", "html", "lang")
OVERSIZE_ERROR = "oversize document skipped"
ERROR_CLASSES = ("oversize", "null_html", "decode", "invalid_code_point", "tree")
TOTALS = ("rows", "bytes", "errors")  # the cumulative numbers a run returns


@dataclass(frozen=True)
class PipelineConfig:
    options: ParserOptions = DEFAULT_OPTIONS
    buckets: int | None = None  # default: 4 * defaultParallelism
    max_html_bytes: int = 64 * 1024 * 1024
    # False skips the DOM-JSON serialization INSIDE the kernel (~15% of
    # batch cost on crawl-sized pages, udf.py parse_arrow) and drops the
    # column — not just a projection prune. The common 100 TB text-only
    # profile wants False.
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

    bucketed = url_buckets(guarded, buckets)

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
        F.when(F.col("oversize"), F.lit(OVERSIZE_ERROR))
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


def error_class(error: Column) -> Column:
    """The class (one of ERROR_CLASSES) of an output row's ``error``, read
    from the pipeline's own messages; null for a clean row."""
    return (
        F.when(error == OVERSIZE_ERROR, "oversize")
        .when(error == NULL_HTML_ERROR, "null_html")
        .when(error.contains("Invalid UTF-8"), "decode")  # chardecode, via the tree
        .when(error.startswith("Invalid code point"), "invalid_code_point")  # tokenizer
        .when(error.isNotNull(), "tree")
    )


def _run_metrics() -> list[Column]:
    """This run's numbers, collected by an Observation in the write pass."""
    cls = error_class(F.col("error"))
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum("html_bytes").alias("bytes"),
        F.count("error").alias("errors"),
        *(F.count(F.when(cls == c, 1)).alias(f"errors_{c}") for c in ERROR_CLASSES),
        F.sum("n_nodes").alias("nodes"),
        F.sum("n_tokens").alias("tokens"),
        F.max("max_depth").alias("max_depth"),
        F.sum(F.length("text")).alias("text_chars"),
    ]


def _error_condition(e: AnalysisException) -> str:
    """The exception's error condition (class), or '' when it has none."""
    get_cls = getattr(e, "getCondition", None) or getattr(e, "getErrorClass", None)
    return (get_cls() if get_cls else None) or ""


def _read_committed(spark: SparkSession, name: str, is_table: bool) -> DataFrame | None:
    """The committed table or parquet directory ``name``, or None when
    nothing has been committed there yet.

    Existence is asked of the catalog or the Hadoop FileSystem, so only
    "nothing committed yet" returns None. Reading what exists is never
    guarded: a transient read failure (metastore outage, bad footer,
    permissions) must FAIL the job — swallowing it would re-parse and
    re-append the whole corpus, permanently duplicating rows."""
    if is_table:
        return spark.read.table(name) if spark.catalog.tableExists(name) else None
    path = spark._jvm.org.apache.hadoop.fs.Path(name)
    if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        return None
    return spark.read.parquet(name)


def _files_fingerprint(df: DataFrame) -> str | None:
    """A digest of the data files behind ``df`` (listed, not read), or None
    when Spark lists none for it."""
    names = sorted(f.rsplit("/", 1)[-1] for f in df.inputFiles())
    return hashlib.sha1("\n".join(names).encode()).hexdigest() if names else None


def _prior_totals(committed: DataFrame, log: DataFrame | None) -> dict:
    """Cumulative rows/bytes/errors of the committed output before this run.

    They come from the run-log row whose file fingerprint matches the files
    committed now. When none matches (the log predates this layout, is
    missing, or files were added or removed outside the job — a rolled-back
    run), the committed output itself is totalled, the one scan left."""
    fingerprint = _files_fingerprint(committed)
    if log is not None and fingerprint is not None:
        hit = (
            log.where(F.col("output_files") == fingerprint)
            .select(*(f"total_{k}" for k in TOTALS))
            .first()
        )
        if hit is not None:
            return dict(zip(TOTALS, hit))
    row = committed.agg(
        F.count(F.lit(1)), F.coalesce(F.sum("html_bytes"), F.lit(0)), F.count("error")
    ).first()
    return dict(zip(TOTALS, row))


def run_extraction_job(
    spark: SparkSession,
    source: str,
    output: str,
    cfg: PipelineConfig = PipelineConfig(),
    resume: bool = True,
) -> dict:
    """End-to-end job with checkpoint/resume. Returns the cumulative
    ``{rows, bytes, errors}`` of the committed output after this run.

    ``output`` is a parquet directory (or an Iceberg table name when no '/'
    appears — writes use ``writeTo(...).append()`` there). Resume anti-joins
    the committed output's urls so a restarted job only parses new urls.
    The run's metrics are observed while the write runs and appended as
    one row to ``<output>_metrics`` (see the module docstring).
    """
    pages = read_pages(spark, source)

    is_table = "/" not in output
    log_name = output + "_metrics" if is_table else output.rstrip("/") + "_metrics"
    committed = _read_committed(spark, output, is_table)
    log = None
    prior = dict.fromkeys(TOTALS, 0)
    if committed is not None:
        log = _read_committed(spark, log_name, is_table)
        if log is not None and "output_files" not in log.columns:
            log = None  # the older per-partition layout: replaced below
        prior = _prior_totals(committed, log)

    if resume and committed is not None:
        # left_anti on the bucketing key (plus the capture timestamp when
        # the source carries one: the pipeline supports many captures per
        # url, and a url-only key would silently drop re-crawls)
        keys = ["url"]
        if "warc_ts" in pages.columns and "warc_ts" in committed.columns:
            keys.append("warc_ts")
        pages = pages.join(committed.select(*keys), on=keys, how="left_anti")

    observation = Observation("extraction_run")
    extracted = extract_pages(pages, cfg).observe(observation, *_run_metrics())

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
        # an Iceberg table was intended. Both writers fail at analysis, so
        # the observation is filled by the one write that runs.
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
        listed = spark.read.table(output)
    else:
        extracted.write.mode("append").parquet(output)
        listed = spark.read.schema(extracted.schema).parquet(output)  # no schema job

    run = {k: v or 0 for k, v in observation.get.items()}  # sums are null on 0 rows
    totals = {k: prior[k] + run[k] for k in TOTALS}
    # spark.range, not a local-list createDataFrame: that starts a second
    # Python worker pool in the executors (+~300 MB of worker RSS)
    row = spark.range(1).select(
        F.lit(uuid.uuid4().hex).alias("run_id"),
        F.current_timestamp().alias("finished_at"),
        *(F.lit(v).cast("long").alias(k) for k, v in run.items()),
        *(F.lit(totals[k]).cast("long").alias(f"total_{k}") for k in TOTALS),
        F.lit(_files_fingerprint(listed)).cast("string").alias("output_files"),
    )
    # a fresh output, a missing log or an older log layout starts a new log
    writer = row.write.mode("append" if log is not None else "overwrite")
    if is_table:
        writer.saveAsTable(log_name)
    else:
        writer.parquet(log_name)
    return totals
