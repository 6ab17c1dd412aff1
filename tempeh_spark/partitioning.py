"""The input-spread helpers: ``spread_if_narrow`` for Python-heavy /
row-multiplying operators, ``url_buckets`` for the HTML parse.

Single-file parquet inputs arrive as ONE scan partition (CLAUDE.md gotcha),
so a shingle explode, a mapInPandas DOM walk or an Arrow scoring pass
downstream runs on one core. ``spread_if_narrow`` hash-repartitions such
inputs — but ONLY when the incoming plan is actually narrow: at crawl scale
the input is thousands of splits already, and an unconditional repartition
there would shuffle the whole corpus (including heavy payload columns) for
nothing.

Building the plan runs no Spark job. A plan that already contains a
shuffle is planned as an ``AdaptiveSparkPlanExec``; its partition count is
only known after AQE runs the upstream stages, so such inputs (the output
of an aggregation or of an earlier spread) are returned as they are. Any
other plan reports its partition count without executing.

The target count is sized by SOURCE BYTES (read through the Hadoop
``FileSystem`` API, so s3/hdfs inputs size the same way as local files),
clamped to ``[floor, 2 x defaultParallelism]``. Every partition of a
Python-boundary stage pays a fixed worker round-trip, so the bytes per
partition depend on what the caller does per row — one of two profiles:

* ``ROW_MULTIPLYING`` (~192 KB per partition, floor 8) for explodes, DOM
  walks and PDF stages, whose work per input byte is large. A flat 128-way
  spread of a 0.6 MB table measured +0.9 s on pdf_extract and +1.1 s on
  cms_hot_tokens at sf0.1 — pure task overhead.
* ``PER_ROW`` (~2 MB per partition, floor 2) for vector scoring, which does
  not multiply rows: spreading a 1 MB embeddings table over 128 partitions
  cost ~1 s of task overhead for zero parallelism gain (brute_topk 1.9 s ->
  0.6 s at sf0.1), and the 192 KB profile measured brute_topk +16%,
  lsh_topk +27%, ann_recall +47% on 4 cores.

When the plan has no file source (in-memory frames), the cap is used.

``url_buckets`` is the parse's bucketing: the extraction job, the flagship
``entry()`` and the training-pipeline query all hash pages by url into a
fixed number of parse tasks through it.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class SpreadProfile(NamedTuple):
    bytes_per_part: int
    floor: int


ROW_MULTIPLYING = SpreadProfile(192 << 10, 8)
PER_ROW = SpreadProfile(2 << 20, 2)
SALT_MOD = 16  # sub-bucket salt for hot urls / giant hosts


def _source_bytes(df: DataFrame) -> int:
    """Total size of the files the plan scans (0 for in-memory frames)."""
    jvm = df.sparkSession._jvm
    conf = df.sparkSession._jsc.hadoopConfiguration()
    total = 0
    for uri in df.inputFiles():
        path = jvm.org.apache.hadoop.fs.Path(uri)
        total += path.getFileSystem(conf).getFileStatus(path).getLen()
    return total


def spread_if_narrow(df: DataFrame, key_col: str, profile: SpreadProfile) -> DataFrame:
    """``df`` hash-repartitioned on ``key_col`` when its scan is narrower
    than the cluster, else ``df`` itself. Plan-only: runs no Spark job."""
    qe = df._jdf.queryExecution()
    if qe.executedPlan().getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return df
    sc = df.sparkSession.sparkContext
    cur = qe.toRdd().getNumPartitions()
    if cur >= sc.defaultParallelism:
        return df
    cap = sc.defaultParallelism * 2
    total = _source_bytes(df)
    target = max(profile.floor, min(cap, total // profile.bytes_per_part + 1)) if total else cap
    if target <= cur:
        return df
    return df.repartition(target, F.col(key_col))


def url_buckets(df: DataFrame, buckets: int) -> DataFrame:
    """``df`` hash-repartitioned on its url into ``buckets`` tasks.

    The key is ``xxhash64(url)``, plus a capture-time salt when the table
    carries ``warc_ts``. Unique urls already spread under the hash; the salt
    is for HOT KEYS: a url re-crawled 10^5 times would otherwise pin all its
    captures to one task. Salting by (url, warc_ts) spreads a hot url over
    up to ``SALT_MOD`` sub-buckets and stays deterministic per row, so the
    url -> task mapping is lineage- and resume-safe.

    The key goes to ``repartition`` as it is: ``repartition`` hashes it
    again, so reducing it ``pmod buckets`` first would leave the ``buckets``
    distinct values on only about 64% of the tasks (the rest empty)."""
    key = F.xxhash64("url", F.lit(17))
    if "warc_ts" in df.columns:
        key = key + F.pmod(F.xxhash64("url", "warc_ts"), F.lit(SALT_MOD))
    return df.repartition(buckets, key)
