"""Count-min sketch invariants: one-sided error, partitioning
independence, weighted counts."""

from __future__ import annotations

import pytest


def _corpus(spark):
    # zipf-ish: host h{k} appears k^2 times — a clear heavy tail
    rows = [(f"h{k}",) for k in range(1, 13) for _ in range(k * k)]
    return spark.createDataFrame(rows, "host string"), {
        f"h{k}": k * k for k in range(1, 13)
    }


def test_cms_never_underestimates_and_exact_when_wide(spark):
    from tempeh_spark.freqsketch import cms_estimate, cms_sketch

    df, truth = _corpus(spark)
    # narrow sketch: collisions certain, estimates must only overshoot
    sk = cms_sketch(df, "host", depth=3, width=8)
    est = {
        r["host"]: r["est"]
        for r in cms_estimate(sk, df, "host", depth=3, width=8).collect()
    }
    assert set(est) == set(truth)
    for h, t in truth.items():
        assert est[h] >= t
    # wide sketch: 12 items in 4096 counters x 4 rows — min over rows is
    # exact unless some item collides in EVERY row (deterministically not
    # the case for this item set; the assert would catch a hash change)
    sk = cms_sketch(df, "host", depth=4, width=4096)
    est = {
        r["host"]: r["est"]
        for r in cms_estimate(sk, df, "host", depth=4, width=4096).collect()
    }
    assert est == truth


def test_cms_partitioning_independent(spark):
    from tempeh_spark.freqsketch import cms_sketch

    df, _ = _corpus(spark)
    one = {
        (r["row"], r["pos"]): r["total"]
        for r in cms_sketch(df.coalesce(1), "host", depth=4, width=32).collect()
    }
    many = {
        (r["row"], r["pos"]): r["total"]
        for r in cms_sketch(df.repartition(11), "host", depth=4, width=32).collect()
    }
    assert one == many


def test_cms_weighted_counts(spark):
    from tempeh_spark.freqsketch import cms_estimate, cms_sketch

    df = spark.createDataFrame(
        [("a", 5), ("a", 7), ("b", 1)], "item string, n long"
    )
    sk = cms_sketch(df, "item", weight_col="n", depth=4, width=2048)
    est = {
        r["item"]: r["est"]
        for r in cms_estimate(sk, df, "item", depth=4, width=2048).collect()
    }
    assert est == {"a": 12, "b": 1}


def test_cms_rejects_bad_params(spark):
    from tempeh_spark.freqsketch import cms_sketch

    df, _ = _corpus(spark)
    with pytest.raises(ValueError):
        cms_sketch(df, "host", depth=0, width=8)
