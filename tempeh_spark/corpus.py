"""Deterministic synthetic page corpora (FIXTURES.md §1/§5).

Builds Common-Crawl-style ``pages`` tables with the exact input shape from
BASELINE.json's ``input_hint``: (url string, warc_ts timestamp, html binary,
text string, lang string). All generation is seed-free deterministic:
replication indices, not RNG, drive the variation.
"""

from __future__ import annotations

import datetime
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tempeh_spark.session import local_frame

import os

FIXTURE_DIR = Path(
    os.environ.get(
        "TEMPEH_FIXTURE_DIR",
        Path(__file__).resolve().parent.parent / "tests" / "fixtures",
    )
)
BASE_TS = datetime.datetime(2025, 2, 2, 0, 0, 0)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)


def fixture_bytes(fixture_dir: str | Path | None = None) -> dict[str, bytes]:
    d = Path(fixture_dir) if fixture_dir else FIXTURE_DIR
    out: dict[str, bytes] = {}
    for p in sorted(d.glob("*.tmph.html")):
        out[p.name] = p.read_bytes()
    if not out:
        raise FileNotFoundError(f"no fixtures under {d}")
    return out


def fixture_pages(spark: SparkSession, fixture_dir: str | Path | None = None) -> DataFrame:
    """One row per reference fixture — the golden corpus."""
    fx = fixture_bytes(fixture_dir)
    rows = [
        (
            f"https://fixtures.test/{name}",
            BASE_TS + datetime.timedelta(seconds=i),
            data,
            "",
            "en",
        )
        for i, (name, data) in enumerate(sorted(fx.items()))
    ]
    return local_frame(spark, rows, PAGES_SCHEMA)


def bench_pages(
    spark: SparkSession,
    n_rows: int,
    fixture_dir: str | Path | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Fixtures replicated under salted urls to ``n_rows`` total.

    Document sizes span 33 B – 38 KB (realistic skew). Built distributed:
    a ``spark.range`` drives replication so the corpus is generated on
    executors, never collected on the driver — the same construction works
    at 10^9 rows on a cluster.
    """
    fx = fixture_bytes(fixture_dir)
    names = sorted(fx.keys())
    payloads = [(i, n, fx[n]) for i, n in enumerate(names)]
    pay_df = local_frame(spark, payloads, "fixture_id int, fixture_name string, html binary")
    rng = spark.range(n_rows).withColumn(
        "fixture_id", (F.col("id") % len(names)).cast("int")
    )
    if partitions:
        rng = rng.repartition(partitions)
    # broadcast the 16-row payload table: replication is a map-side join
    df = rng.join(F.broadcast(pay_df), "fixture_id").select(
        F.concat(
            F.lit("https://synth-"),
            F.format_string("%04d", (F.col("id") % 9973).cast("int")),
            F.lit(".test/"),
            F.col("fixture_name"),
            F.lit("/"),
            F.col("id").cast("string"),
        ).alias("url"),
        (F.lit(BASE_TS) + F.make_interval(secs=F.col("id").cast("double"))).alias("warc_ts"),
        F.col("html"),
        F.lit("").alias("text"),
        F.lit("en").alias("lang"),
    )
    return df
