"""build_session: a conf that a running session ignores is reported."""

from __future__ import annotations

import warnings


def test_ignored_static_conf_warns(spark):
    from tempeh_spark.session import build_session

    # same settings as the running test session, plus one static conf that
    # getOrCreate() cannot apply to it
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        s = build_session(
            app_name=spark.conf.get("spark.app.name"),
            cpus=4,
            shuffle_partitions=8,
            extra={"spark.sql.codegen.cache.maxEntries": "123"},
        )
    assert s is spark
    msgs = [str(w.message) for w in caught if "build_session" in str(w.message)]
    assert len(msgs) == 1, msgs
    assert "spark.sql.codegen.cache.maxEntries='123'" in msgs[0]
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000"


def test_local_frame_is_an_arrow_local_scan(spark):
    """Driver-side rows plan as a LocalTableScan, never as a scan of a
    pickled-row RDD, and an empty row list keeps its schema."""
    from tempeh_spark.session import local_frame

    df = local_frame(spark, [(1, "a"), (2, None)], "k long, v string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert [tuple(r) for r in df.collect()] == [(1, "a"), (2, None)]
    empty = local_frame(spark, [], "k long, v string")
    assert empty.schema == df.schema and empty.collect() == []


def test_local_frame_timestamps_match_create_dataframe(spark, monkeypatch):
    """A naive datetime is the Python process's local time in both
    ``createDataFrame`` of a row list and ``local_frame``, also when that
    zone is not the session's (UTC): the fixture pages' warc_ts instants
    must not move."""
    import datetime
    import time

    from pyspark.sql import functions as F

    from tempeh_spark.corpus import BASE_TS, PAGES_SCHEMA
    from tempeh_spark.session import local_frame

    rows = [
        (f"u{i}", BASE_TS + datetime.timedelta(seconds=i, microseconds=7 * i), b"x", "", "en")
        for i in range(3)
    ]
    for zone in ("America/New_York", "Asia/Kolkata", "UTC"):
        monkeypatch.setenv("TZ", zone)
        time.tzset()
        try:
            def micros(df):
                return [r[0] for r in df.select(F.unix_micros("warc_ts")).collect()]

            assert micros(local_frame(spark, rows, PAGES_SCHEMA)) == micros(
                spark.createDataFrame(rows, PAGES_SCHEMA)
            ), zone
        finally:
            monkeypatch.undo()
            time.tzset()
