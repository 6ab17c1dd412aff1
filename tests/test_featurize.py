"""text_embedding: the text -> vector bridge (hashed bag of char n-grams,
exact-integer L2 normalization)."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F


def _emb_map(df):
    from tempeh_spark.featurize import text_embedding

    return {r["id"]: list(r["embedding"]) for r in text_embedding(df).collect()}


def test_unit_norm_and_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "ab"),            # shorter than ngram=3 after normalization
         (3, "   \t \n  "),    # whitespace-only -> empty normalized text
         (4, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    emb = _emb_map(df)
    assert len(emb) == 4 and all(len(v) == 64 for v in emb.values())
    assert emb[2] == [0.0] * 64 and emb[3] == [0.0] * 64
    assert abs(sum(x * x for x in emb[1]) - 1.0) < 1e-12
    assert all(x >= 0.0 for x in emb[1])
    # identical text -> identical vector (featurization is content-pure)
    assert emb[1] == emb[4]


def test_partitioning_invariance(spark):
    """BIGINT bucket counts + exact sumsq: the vector must be BIT-identical
    regardless of input partitioning (the determinism contract every
    oracle-twinned vector op in this repo carries)."""
    rows = [(i, f"document number {i} with some shared text body") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = _emb_map(df.repartition(1))
    b = _emb_map(df.repartition(13))
    assert a == b


def test_normalization_feeds_featurizer(spark):
    """Case and whitespace-run differences must not change the vector
    (normalize_text is applied before shingling)."""
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "HELLO\t\nWORLD")],
        "doc_id long, text string",
    )
    emb = _emb_map(df)
    assert emb[1] == emb[2] == emb[3]


def test_flows_into_vector_operators(spark):
    """The featurizer output must drop into the existing vector machinery
    unchanged: k-means assignment and the exact near-pair verifier."""
    from tempeh_spark.clustering import kmeans_assign
    from tempeh_spark.dedup import embedding_near_pairs
    from tempeh_spark.featurize import text_embedding

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta iota"),
         (3, "completely different content about spark engines")],
        "doc_id long, text string",
    )
    vecs = text_embedding(df).select(F.col("id").alias("vec_id"), "embedding")
    cents = [[1.0] + [0.0] * 63, [0.0] * 63 + [1.0]]
    assigned = kmeans_assign(vecs, cents)
    assert assigned.count() == 3 and set(assigned.columns) >= {"vec_id", "cell", "dist2"}
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_pairs(vecs, threshold=0.5).collect()
    }
    # 1 and 2 share almost all shingles; 3 is far from both
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.9
    assert pairs.get((1, 3), 0.0) < pairs[(1, 2)]
    # integral ids of any width take the same blocked kernel
    narrow = vecs.select(F.col("vec_id").cast("int").alias("vec_id"), "embedding")
    assert {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_pairs(narrow, threshold=0.5).collect()
    } == pairs
    # non-integral ids are refused before any job runs
    sc = spark.sparkContext
    sc.setJobGroup("near-pairs-string-ids", "build only")
    try:
        with pytest.raises(TypeError):
            embedding_near_pairs(
                vecs.select(F.col("vec_id").cast("string").alias("vec_id"), "embedding"),
                threshold=0.5,
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("near-pairs-string-ids") == []


def test_embedding_dedup_decisions(spark):
    """Vector-leg dedup composition: near-dup docs collapse to the min-id
    keeper; singletons keep themselves; injected scale-path pairs give the
    same decisions as the default exact producer."""
    from tempeh_spark.dedup import embedding_dedup_decisions, embedding_near_pairs
    from tempeh_spark.featurize import text_embedding

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "entirely different text about engines and sparks")],
        "doc_id long, text string",
    )
    vecs = text_embedding(df).select(F.col("id").alias("vec_id"), "embedding")
    out = {r["doc_id"]: (r["keeper"], r["keep"])
           for r in embedding_dedup_decisions(vecs, threshold=0.99).collect()}
    assert out[1] == (1, True) and out[2] == (1, False) and out[3] == (3, True)

    injected = embedding_near_pairs(vecs, threshold=0.99)
    out2 = {r["doc_id"]: (r["keeper"], r["keep"])
            for r in embedding_dedup_decisions(vecs, pairs=injected).collect()}
    assert out2 == out


def test_max_chars_caps_counted_prefix(spark):
    from tempeh_spark.featurize import text_embedding

    df = spark.createDataFrame(
        [(1, "abcdef" * 100), (2, "abcdef" * 2)], "doc_id long, text string"
    )
    capped = {
        r["id"]: list(r["embedding"])
        for r in text_embedding(df, max_chars=12).collect()
    }
    assert capped[1] == capped[2]


def test_pathological_inputs_survive(spark):
    """CLAUDE.md invariant: NUL bytes, astral/control chars, huge docs and
    even a lone surrogate must flow through the featurizer without error,
    each producing a unit-norm vector."""
    from tempeh_spark.featurize import text_embedding

    rows = [
        (1, "x" * 200_000),
        (2, "nul\x00byte\x00text here"),
        (3, "emoji \U0001F600 astral \U0001D11E chars"),
        (4, "control \x01\x02\x03 chars"),
        (5, "bad \ud800 surrogate"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: list(r["embedding"]) for r in text_embedding(df).collect()}
    assert len(out) == 5
    for i, v in out.items():
        assert len(v) == 64 and abs(sum(x * x for x in v) - 1.0) < 1e-9, i


def test_duplicate_ids_merge_then_fan_out(spark):
    """Duplicate ids (a key-contract violation upstream) must behave
    identically to the DuckDB twin: the bags merge into ONE vector and
    the join-back emits it once per INPUT row — no distinct, no corpus
    shuffle added to guard the case."""
    from tempeh_spark.featurize import text_embedding

    df = spark.createDataFrame(
        [(1, "abcabcabc"), (1, "xyzxyzxyz"), (2, "abcabcabc")],
        "doc_id long, text string",
    )
    rows = text_embedding(df).collect()
    assert len(rows) == 3  # one per input row
    ones = [list(r["embedding"]) for r in rows if r["id"] == 1]
    two = [list(r["embedding"]) for r in rows if r["id"] == 2][0]
    assert len(ones) == 2 and ones[0] == ones[1]  # same merged vector
    assert ones[0] != two  # merged bag differs from the single-text bag


def test_plan_shape_fully_codegen(spark):
    """The featurizer must never fall to Python evaluation and must keep
    its two-exchange shape (spread + one map-side-combinable agg); the
    zero-vector join back must broadcast (PLANS.md §3 r5 audit)."""
    from tempeh_spark.featurize import text_embedding

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = text_embedding(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 2
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_norm_is_exact_integer_sum(spark):
    """Hand-check one tiny doc: 'aaaa' -> shingles aaa,aaa -> one bucket
    count 2, norm sqrt(4)=2, component 1.0."""
    import hashlib

    from tempeh_spark.featurize import text_embedding

    b = int(hashlib.md5(b"aaa").hexdigest()[:8], 16) % 64
    df = spark.createDataFrame([(1, "aaaa")], "doc_id long, text string")
    v = list(text_embedding(df).first()["embedding"])
    assert v[b] == 1.0 and sum(v) == 1.0


def _column_form_embedding(df, dim=64, ngram=3):
    """The featurizer as it was before its counts were packed into one
    array: dim count columns, a dim-term norm expression and a dim-element
    division array. Kept as the value oracle of the packed form."""
    from tempeh_spark.partitioning import ROW_MULTIPLYING, spread_if_narrow
    from tempeh_spark.textops import char_ngrams

    base = spread_if_narrow(df, "doc_id", ROW_MULTIPLYING)
    grams = char_ngrams(base, [F.col("doc_id").alias("id")], "text", ngram, None)
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.encode(F.col("g"), "UTF-8")), 1, 8), 16, 10).cast("long"),
        F.lit(dim),
    )
    wide = grams.select("id", bucket.alias("b")).groupBy("id").agg(
        *[F.sum((F.col("b") == k).cast("long")).alias(f"c{k}") for k in range(dim)]
    )
    sumsq = F.col("c0") * F.col("c0")
    for k in range(1, dim):
        sumsq = sumsq + F.col(f"c{k}") * F.col(f"c{k}")
    l2 = F.sqrt(sumsq.cast("double"))
    emb = F.array(*[(F.col(f"c{k}").cast("double") / l2) for k in range(dim)])
    vecs = wide.select("id", emb.alias("embedding"))
    zeros = F.array(*[F.lit(0.0) for _ in range(dim)])
    return (
        df.select(F.col("doc_id").alias("id"))
        .join(vecs, "id", "left")
        .select("id", F.coalesce(F.col("embedding"), zeros).alias("embedding"))
    )


def _hex_rows(df):
    import struct

    return sorted(
        (r["id"], tuple(struct.pack(">d", x).hex() for x in r["embedding"]))
        for r in df.collect()
    )


def test_packed_counts_match_column_form(spark):
    """The packed count array gives the column form's vectors bit for bit
    (BIGINT sums are exact in any order, each component is the same one
    IEEE division), on the edge rows of the featurizer's contract."""
    from tempeh_spark.featurize import text_embedding

    long_doc = " ".join(f"word{i % 97} tail{i % 13}" for i in range(800))[:8000]
    rows = [
        (1, ""),
        (2, None),
        (3, "ab"),                      # shorter than the n-gram
        (4, long_doc),                  # an 8k-char document
        (5, "abcabcabc"),
        (5, "xyzxyzxyz"),               # a duplicate id
        (6, "bad \ud800 surrogate"),    # a lone surrogate
        (7, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert len(long_doc) == 8000
    assert _hex_rows(text_embedding(df)) == _hex_rows(_column_form_embedding(df))


def test_packed_counts_plan_no_more_exchanges(spark):
    """On an input already spread over 16 partitions (so not re-spread),
    the packed form plans no more exchanges than the column form."""
    from tempeh_spark.featurize import text_embedding

    df = spark.createDataFrame(
        [(i, f"document {i} " * (i % 7 + 1)) for i in range(64)], "doc_id long, text string"
    ).repartition(16, "doc_id")

    def exchanges(out):
        return out._jdf.queryExecution().executedPlan().toString().count("Exchange hashpartitioning")

    assert exchanges(text_embedding(df)) <= exchanges(_column_form_embedding(df))
