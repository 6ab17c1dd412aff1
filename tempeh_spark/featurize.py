"""Text -> embedding featurization: the bridge between the extraction leg
and the vector leg (dedup/ANN/k-means) of the training-data pipeline.

``text_embedding`` maps each document's text to a fixed-``dim`` L2-normalized
double vector via a hashed bag of character n-grams — the classic
feature-hashing projection (Weinberger et al., "Feature Hashing for Large
Scale Multitask Learning"), chosen here because it is:

* **deterministic and engine-portable** — bucket = first 8 md5 hex digits
  of the n-gram read as an integer, mod ``dim`` (the same md5 idiom as
  ``corpusops.hash_sample``); no learned weights, no RNG, no float
  accumulation-order dependence anywhere;
* **exact until the last step** — per-bucket counts are BIGINT, the squared
  norm is an exact BIGINT sum of 64 squares (< 2^53, so the double cast is
  exact), and each output component is ONE IEEE division — bit-identical
  across Spark and DuckDB, so the whole vector is oracle-twinnable;
* **the right Spark shape** — the ``textops.char_ngrams`` explode (codegen
  ``sequence`` + ``substring``, kept as a bag: no ``distinct``) into
  ONE hash aggregation keyed by id whose result is one packed ``dim``-long
  count array (map-side combinable); the norm and the division then run
  over that fixed-length array, not over ``dim`` separate columns. One
  shuffle total, no UDF, no per-row Python.

Output vectors live in the same dim-64 space shape as the synthetic
``embeddings`` table, so they flow unchanged into ``similarity`` (LSH/ANN),
``clustering`` (k-means), and ``dedup.embedding_near_pairs``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tempeh_spark.partitioning import ROW_MULTIPLYING, spread_if_narrow
from tempeh_spark.textops import char_ngrams


def text_embedding(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    ngram: int = 3,
    max_chars: int | None = None,
) -> DataFrame:
    """(id, embedding): L2-normalized hashed char-``ngram`` counts.

    Documents too short to shingle (normalized length < ngram) get the
    all-zeros vector — NOT dropped, so downstream joins see every doc.
    Zero vectors never form cosine near-pairs downstream: both engines
    null out the 0/0 cosine (Spark's NumPy NaN crosses Arrow as SQL NULL;
    DuckDB division by zero is NULL) and NULL fails every threshold —
    convergent behavior pinned by test_oracle_twins on docs 5/6. Empty-doc
    deduplication is exact_dedup's job (identical digests), not the
    embedding path's.

    ``max_chars`` caps the counted prefix for giant documents; per-bucket
    counts are then <= max_chars, keeping the exact-integer norm far from
    2^53 at any document size (uncapped: safe to ~3e7-char docs at dim 64).
    """
    base = spread_if_narrow(df, id_col, ROW_MULTIPLYING)
    # multiplicity KEPT (bag, not set): no distinct — contrast shingle_rows
    grams = char_ngrams(base, [F.col(id_col).alias("id")], text_col, ngram, max_chars)
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.encode(F.col("g"), "UTF-8")), 1, 8), 16, 10).cast("long"),
        F.lit(dim),
    )
    bucketed = grams.select("id", bucket.alias("b"))
    # the dim per-bucket BIGINT counts as ONE array column: dim separate
    # columns, with a dim-term norm and a dim-element division array over
    # them, took ~1 s of driver-side analysis and planning per call
    counts = bucketed.groupBy("id").agg(
        F.array(*[F.sum((F.col("b") == k).cast("long")) for k in range(dim)]).alias("c")
    )
    # exact BIGINT sum of squares (any order is exact); the lambdas run
    # over dim elements per document, not over its text
    sumsq = F.aggregate("c", F.lit(0).cast("long"), lambda a, x: a + x * x)
    vecs = counts.select("id", "c", F.sqrt(sumsq.cast("double")).alias("l2"))
    # one IEEE division per component, AFTER the join: in the same
    # projection as the norm, the optimizer inlines the norm into the
    # division lambda and recomputes it for every component
    emb = F.transform("c", lambda x: x.cast("double") / F.col("l2"))
    zeros = F.array(*[F.lit(0.0) for _ in range(dim)])
    # Join-back is per INPUT ROW (no distinct — that would add a corpus-
    # wide shuffle just to guard a key-violation case): duplicate ids, a
    # contract violation upstream, merge into one counted bag and each
    # input row receives that same merged vector. The DuckDB twin joins
    # the raw documents table the same way.
    return (
        df.select(F.col(id_col).alias("id"))
        .join(vecs, "id", "left")
        .select("id", F.coalesce(emb, zeros).alias("embedding"))
    )
