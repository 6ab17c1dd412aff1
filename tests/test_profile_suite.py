"""tools/profile_suite.py: one query's profile record, on the shared session."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

from bench import WARM_DIR

REPO = Path(__file__).resolve().parent.parent

FIELDS = {
    "query", "build_jobs", "build_s", "action_jobs", "action_s", "stages",
    "top_operators", "shuffle_bytes", "python_bytes_sent",
    "python_bytes_received", "steal_pct",
}


def _load_tool():
    spec = importlib.util.spec_from_file_location(
        "profile_suite", REPO / "tools" / "profile_suite.py"
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _job_ids(spark) -> set[int]:
    """Ids of every job in the status store, after the listener bus drains."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None).iterator()
    ids = set()
    while jobs.hasNext():
        ids.add(jobs.next().jobId())
    return ids


@pytest.mark.parametrize("name, pandas_udf", [("exact_dedup", False), ("text_neardup", True)])
def test_profile_record(spark, name, pandas_udf):
    import __spark_entry__ as entrymod
    from perfbench.sparktrace import SparkTracer

    tool = _load_tool()
    before = _job_ids(spark)
    rec = tool.profile_query(SparkTracer(spark), entrymod.queries()[name], name, WARM_DIR)
    started = _job_ids(spark) - before

    assert set(rec) == FIELDS
    assert rec["query"] == name
    # every job the two steps started ran under one of their two groups
    assert rec["build_jobs"] + rec["action_jobs"] == len(started)
    assert rec["action_jobs"] > 0 and rec["stages"] > 0
    assert 0 < len(rec["top_operators"]) <= tool.TOP_OPERATORS
    durations = [op["duration_s"] for op in rec["top_operators"]]
    assert durations == sorted(durations, reverse=True)
    # only a pandas UDF moves bytes across the Arrow/Python boundary
    if pandas_udf:
        assert rec["python_bytes_received"] > 0
    else:
        assert rec["python_bytes_received"] == 0


@pytest.mark.parametrize("reader", ["_docs", "_emb"])
def test_table_reads_run_no_job(spark, reader):
    """The gated queries' table reads pass the known schema, so building
    one runs no schema-inference job; the schema is the file's own."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.01"
    sc = spark.sparkContext
    group = f"table-read-{reader}"
    sc.setJobGroup(group, "build only")
    try:
        df = getattr(entrymod, reader)(spark, sf)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    name = {"_docs": "documents", "_emb": "embeddings"}[reader]
    inferred = spark.read.parquet(f"{sf}/{name}.parquet").schema
    assert df.schema.simpleString() == inferred.simpleString()
