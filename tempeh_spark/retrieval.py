"""Full-text retrieval scoring over the document corpus: BM25 top-k.

Okapi BM25 (Robertson & Zaragoza, "The Probabilistic Relevance Framework:
BM25 and Beyond", FnTIR 2009) re-expressed for exact cross-engine
determinism:

* k1 = 1.2 and b = 0.75 are folded as EXACT rationals (6/5, 3/4) so the
  per-(doc, term) saturation factor reduces to one integer-exact fraction::

      tf_part = 22 * tf * L  /  (10 * tf * L + 3 * L + 9 * dl * N)

  (L = total corpus words, N = corpus docs, dl = doc words) — exact BIGINT
  operands, ONE IEEE double division. Deterministic on any engine.
* The idf uses the LOG-FREE rational form
  ``idf_e6 = (1e6 * (2N - 2df + 1)) div (2df + 1)`` — the same
  (N - df + 0.5)/(df + 0.5) odds ratio BM25 puts under a log, kept as an
  exact integer-division instead. The log only compresses the range: it is
  monotone in df, so single-term rankings are IDENTICAL, and multi-term
  rankings differ only in how strongly rare terms dominate (more strongly
  here). Chosen because no two engines' libm ``ln`` is guaranteed to agree
  to the last ulp, and a last-ulp flip in a ranking key is a different
  top-k.
* Per-(doc, term) contributions are snapped to integer 1e-6 units
  (``floor(x + 0.5)``) BEFORE the per-doc sum, so the score is an
  order-independent BIGINT sum, immune to shuffle-order float
  reassociation (the engine-wide _stable_avg discipline).

Scale shape: the corpus-sized flows are (1) one tokenize pass feeding a
map-side-combinable per-doc length agg (whose global (N, L) reduce is two
scalars), and (2) a broadcast semi-join of tokens against the QUERY terms
(tiny by construction) — only matching (doc, term) rows ever shuffle, into
tf/df aggs keyed by (doc, term) and (term). No corpus-sized join, no
all-pairs anything; the final top-k window is over candidate docs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tempeh_spark.textops import WS


def bm25_topk(
    df: DataFrame,
    queries: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Top-``k`` documents per query by the deterministic BM25 variant
    described in the module docstring.

    ``queries`` is a small list of (query_id, term) rows — one row per
    term, repeated query_id for multi-term queries. Terms are matched
    against lowercased whitespace-delimited tokens. Returns
    (query_id, rank, doc_id, score_units) with score in 1e-6 units;
    ties broken by ascending doc id for rerun stability."""
    spark = SparkSession.getActiveSession()
    from tempeh_spark.partitioning import ROW_MULTIPLYING, spread_if_narrow
    from tempeh_spark.session import local_frame

    # toks feeds dls AND the probe join; a one-partition scan runs both
    # token explodes on one core
    df = spread_if_narrow(df, id_col, ROW_MULTIPLYING)
    qdf = F.broadcast(
        local_frame(spark, queries, "query_id string, term string").distinct()
    )
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_remove(F.split(F.lower(F.col(text_col)), rf"[{WS}]+"), "")
        ).alias("term"),
    )
    dls = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    # N counts EVERY input doc (token-less docs have dl 0 and score 0 by
    # construction, but they still shape avgdl exactly like reference BM25)
    totals = df.select(F.col(id_col).alias("doc_id")).join(
        dls, "doc_id", "left"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.coalesce("dl", F.lit(0))).alias("total_len"),
    )
    hits = toks.join(qdf, "term")  # broadcast semi-shape: only query terms flow
    tf = hits.groupBy("query_id", "term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("query_id", "term").agg(
        F.count(F.lit(1)).alias("df_t")
    )
    scored = (
        tf.join(dfreq, ["query_id", "term"])
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(totals))
        .select(
            "query_id",
            "doc_id",
            F.expr(
                "cast(floor("
                "  (cast(1000000 * (2 * n_docs - 2 * df_t + 1) as bigint) div (2 * df_t + 1))"
                "  * (cast(22 * tf * total_len as double)"
                "     / cast(10 * tf * total_len + 3 * total_len + 9 * dl * n_docs as double))"
                "  + 0.5) as bigint)"
            ).alias("contrib_units"),
        )
    )
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.sum("contrib_units").alias("score_units")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_units").desc(), F.col("doc_id").asc()
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score_units")
    )
