"""SparkSession builder with the engine's tuned defaults, and
``local_frame``, the one way the engine turns driver-side rows into a
DataFrame.

Local mode stands in for a cluster in this sandbox; every setting is chosen
for multi-executor scale-out semantics (partition counts, Arrow batch sizing,
AQE) rather than local-only shortcuts.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession


def build_session(
    app_name: str = "tempeh-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 32)
    confs = {
        "spark.app.name": app_name,
        "spark.master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(2 * cpus),
        # AQE: runtime coalescing + skew splitting; advisory size tuned for
        # parse tasks dominated by html payload bytes.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
        # Arrow path for pandas UDFs: the engine's hot loop. 8192-row batches
        # measured ~1.5x faster end-to-end than 2048 on mixed web documents
        # (fewer batch boundaries; ~20 MB max batch at 2.6 KB avg docs).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
        # pandas UDFs that return large parse structs: cap batch bytes not
        # just rows, so a batch of 38 KB documents still fits comfortably.
        "spark.sql.execution.arrow.pyspark.fallback.enabled": "false",
        "spark.sql.files.maxPartitionBytes": "128m",
        # local mode = ONE JVM hosting the driver AND all executor threads:
        # 8g was tight for 32 concurrent tasks of join/agg state plus
        # broadcasts (the r6 driver bench crashed one sf1.0 suite run mid-
        # flight). 24g on this 128 GiB box leaves the Python workers ~100 GiB;
        # on a real cluster this setting maps to per-executor heap instead.
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "24g"),
        # Codegen-heavy mixed workloads (parse UDF stages + wide hash aggs +
        # banded joins) overflow the JVM's default 240 MB code cache; once it
        # fills, JITed whole-stage code gets evicted and later queries run
        # 3-5x slower until re-compiled (measured: minhash_lsh 33 s -> 9 s
        # right after a 50k-doc parse). Same flag belongs on
        # spark.executor.extraJavaOptions on a real cluster.
        "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
        "spark.executor.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
        # The generated-CLASS cache (Janino output, static conf) defaults to
        # 100 entries — smaller than one pass over this engine's query
        # shapes, so a multi-query session evicts and re-compiles
        # continuously and every re-load re-enters the C2 JIT queue. The
        # r7 variance study (BENCH/variance_study_r07.json) measured
        # pipeline_decisions paying 9-16 s of JIT compilation EVERY rep at
        # the default (wall never converging, the r5/r6 "clean-steal slow
        # mode"), vs monotonically falling to 1.5 s JIT / settled wall with
        # this cache sized above the session's distinct codegen-unit count.
        # Shape-count-dependent, not scale- or local-mode-dependent; the
        # same setting belongs on any long-lived session running this
        # engine's full operator surface.
        "spark.sql.codegen.cache.maxEntries": "5000",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
    }
    confs.update(extra or {})
    b = SparkSession.builder
    for k, v in confs.items():
        b = b.config(k, v)
    running = SparkSession.getActiveSession()
    spark = b.getOrCreate()
    if running is not None:
        # getOrCreate() returned the running session and applied only its
        # runtime SQL confs; static and core confs kept their values. Say so.
        # (A new session takes every conf, some in normalized form, e.g. a
        # qualified warehouse path, so it is not compared.)
        for k, v in confs.items():
            got = spark.conf.get(k, None)
            if got != str(v):
                warnings.warn(
                    f"build_session: {k}={v!r} did not take effect, the "
                    f"running session keeps {got!r} (static confs apply "
                    f"only to a new session)",
                    stacklevel=2,
                )
    return spark


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema`` order),
    sent to the JVM as one Arrow table, so it plans as a ``LocalTableScan``.
    ``spark.createDataFrame`` of a Python list plans as ``Scan ExistingRDD``
    of pickled rows instead, and the first action over it starts a second
    Python worker pool (``pyspark.daemon`` plus its workers) in the
    executors. The engine's one ``createDataFrame`` call
    (tests/test_tools.py::test_local_rows_have_one_home).

    ``schema`` is a ``StructType`` or a DDL string. Values convert as
    ``createDataFrame`` converts list rows (``DataType.toInternal``): a
    naive ``datetime`` in a TIMESTAMP column is the Python process's local
    time, not the session time zone's."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import DataType, StructType

    if not isinstance(schema, StructType):
        schema = DataType.fromDDL(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = []
    for field, col in zip(schema.fields, cols):
        if field.dataType.needConversion():
            col = [field.dataType.toInternal(v) for v in col]
        arrays.append(pa.array(col, to_arrow_type(field.dataType)))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, names=schema.names), schema)
