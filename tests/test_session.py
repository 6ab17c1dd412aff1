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
