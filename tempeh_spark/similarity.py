"""Similarity search over embedding columns (array<float>).

* ``brute_topk`` — exact cosine top-k for a set of query vectors. The
  baseline and the recall oracle. Query side is broadcast (queries are
  small); the corpus side streams — no shuffle of the corpus at all.
* ``ivf_topk`` — inverted-file ANN: restrict the search to the query's
  coarse cell (here the ``label`` column stands in for a k-means cell id;
  at scale the cell id comes from a trained codebook). Join on cell id →
  shuffle keyed by cell, each cell searched independently. This is the
  scale path: cost drops from O(N) to O(N / n_cells) per query.
* ``lsh_bucket_topk`` — random-hyperplane LSH on deterministic md5-derived
  hyperplane signs; candidates share the query's bucket. Fully portable
  (no RNG state), so the oracle can reproduce buckets bit-for-bit.

All cosines are rounded to 4 decimals and tie-broken by id so results are
deterministic across engines.

Hot-path vector math lives in ``vecmath`` (Arrow-batched NumPy, bit-equal
to the interpreted fold — see that module's contract). The interpreted
higher-order-function forms are kept here only as the per-row reference
(``_dot``/``lsh_signature``); nothing that scales with corpus size may use
them (CLAUDE.md invariant: ~26x interpreter penalty).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tempeh_spark.partitioning import PER_ROW, spread_if_narrow
from tempeh_spark.vecmath import (
    _hyperplane,
    band_buckets_udf,
    blocked_pairs,
    bucket_pair_kernel,
    cosine,
    grid_mean,
    masked_cosine_udf,
)


def _dot(x: Column, y: Column) -> Column:
    """Interpreted-HOF dot product — reference form only (see vecmath)."""
    return F.aggregate(F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v)


def _rounded_cosine() -> Column:
    """cosine(q_vec, nbr_vec) rounded to 4 decimals, never -0.0."""
    return (F.round(cosine(F.col("q_vec"), F.col("nbr_vec")), 4) + F.lit(0.0)).alias("cosine")


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best (query_id, nbr_id, cosine) rows per query: highest
    cosine first, ties broken by the smaller nbr_id."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "nbr_id", "cosine")
    )


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for every query vector (self-matches excluded)."""
    corpus = spread_if_narrow(corpus, id_col, PER_ROW)
    c = corpus.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("nbr_vec"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("nbr_id")).select(
        "query_id", "nbr_id", _rounded_cosine()
    )
    return _topk(scored, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """ANN top-k searching only the query's coarse cell (inverted file)."""
    corpus = spread_if_narrow(corpus, id_col, PER_ROW)
    c = corpus.select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("nbr_vec"), F.col(cell_col).alias("cell")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), F.col(cell_col).alias("cell")
    )
    scored = c.join(F.broadcast(q), on="cell").where(
        F.col("query_id") != F.col("nbr_id")
    ).select("query_id", "nbr_id", _rounded_cosine())
    return _topk(scored, k)


def ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Per-cell mean vector: the exact fixed-point ``vecmath.grid_mean`` per
    (cell, dim), re-assembled into one ``centroid`` array per cell. Output
    is n_cells rows — broadcastable at any corpus scale (the shuffle
    carries n_cells x dim partial sums, map-side combined). The mean is
    order-independent, so the rounded ``cell_score`` and hence the probe
    set cannot drift between runs or engines (``avg(double)`` could, by a
    last ulp landing on a .00005 boundary)."""
    per_dim = grid_mean(corpus, [F.col(cell_col).alias("cell")], vec_col)
    return per_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )


def ivf_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Real IVF search: rank cells by query-to-centroid cosine, search the
    top ``n_probe`` cells. Single-probe-by-own-label (``ivf_topk``) misses
    neighbors that sit just across a cell boundary; probing the nearest
    n_probe cells recovers them at n_probe/n_cells of the brute cost.
    Centroids and probe lists are tiny and broadcast; the corpus only ever
    streams through one equi-join on cell."""
    # spread FIRST: ivf_centroids posexplodes every vector (row x dim), and
    # a single-footer parquet corpus would run that whole explode+agg in
    # one task (CLAUDE.md rule)
    corpus = spread_if_narrow(corpus, id_col, PER_ROW)
    cents = ivf_centroids(corpus, vec_col, cell_col)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("cell_score"), F.asc("cell")
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "q_vec",
            "cell",
            # rounded like every ranking in this module. ivf_centroids is
            # now exact fixed-point (order-independent), so today's inputs
            # are bit-identical across runs/engines — but round(...,4) is
            # part of the twinned output contract (the gate hashes and the
            # oracle SQL both carry it) and keeps the probe set stable if a
            # future centroid producer is ever not bit-exact. Do not drop.
            F.round(cosine(F.col("q_vec"), F.col("centroid")), 4).alias("cell_score"),
        )
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "q_vec", "cell")
    )
    c = corpus.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).alias("nbr_vec"),
        F.col(cell_col).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(probes), on="cell")
        .where(F.col("query_id") != F.col("nbr_id"))
        .select("query_id", "nbr_id", _rounded_cosine())
    )
    return _topk(scored, k)


def lsh_signature(
    vec_col: Column, dim: int, n_planes: int = 8, plane_offset: int = 0
) -> Column:
    """Random-hyperplane signature: bit b = sign(dot(vec, plane_{offset+b})).

    ``plane_offset`` selects a disjoint plane set, so banded callers get
    independent hash families per band from the same deterministic stream.

    Interpreted-HOF reference form — corpus-scaling callers use
    ``vecmath.band_buckets_udf`` (one Arrow pass for ALL bands, same bits)."""
    bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, plane_offset + p)])
        bits.append(F.when(_dot(vec_col, plane) >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return total


def embedding_lsh_near_pairs(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_bands: int = 8,
    planes_per_band: int = 8,
    center: bool = False,
) -> DataFrame:
    """The SCALE PATH for embedding near-duplicate pairs — the embedding
    analogue of ``dedup.minhash_lsh_pairs``'s candidate/verify split.

    Candidates are pairs sharing a full band signature in ANY of ``n_bands``
    disjoint hyperplane bands: an equi-join on ``(band, bucket)``, never an
    all-pairs scan (contrast ``dedup.embedding_near_pairs``, the exact
    verifier, which is all-pairs by design). Verification is
    exact cosine on the candidates only.

    Recall math (random hyperplanes): a pair at angle theta collides in one
    band with prob ``(1 - theta/pi) ** planes_per_band``; overall recall is
    ``1 - (1 - p_band) ** n_bands``. Tune per threshold regime:

    * tight thresholds (>= 0.9, theta <= 26deg): planes_per_band 8+ keeps
      buckets selective at high recall — the 10^12-scale configuration;
    * loose thresholds (~0.3): drop to 2-3 planes per band and add bands,
      trading bucket selectivity for recall (low-threshold LSH is
      intrinsically unselective — candidates approach all-pairs).

    The per-vector signature cost (n_bands * planes_per_band dot products)
    is one Arrow-batched NumPy pass (``vecmath.band_buckets_udf``) —
    embarrassingly parallel and shuffle-free; the only shuffles are the
    band equi-join and the final dropDuplicates.

    ``center=True`` subtracts the EXACT fixed-point corpus mean from every
    vector before hashing — mandatory for direction-concentrated vectors
    like hashed text features, where every document shares the dominant
    n-gram directions and uncentered buckets stop discriminating (measured
    at sf0.1 text embeddings, median pairwise cosine 0.846: uncentered
    8x8 banding emitted 16.57M candidate rows for 255 true pairs;
    centered 12x16 emitted 13.2k at 0.992 recall — a 1250x cut). The mean
    is one dim-row collect of ``vecmath.grid_mean`` (exact fixed-point,
    order-independent, so reruns and the SQL oracle get the identical
    mean bit-for-bit); verification still uses the ORIGINAL cosine.
    Centered recall has no clean analytic bound (pairs near the mean can
    shrink to tiny centered norms) — measure per corpus family; the SQL
    oracle stays exact at any recall because it twins the identical
    candidate restriction.

    Building this DataFrame runs Spark jobs. The vectors are
    ``localCheckpoint(eager=False)``-ed, and under AQE that call runs the
    shuffle stages of ``corpus`` at once (a featurizer output has them);
    ``center=True`` adds the mean's collect.
    """
    v = spread_if_narrow(corpus, id_col, PER_ROW).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    # materialize v ONCE: this subtree feeds FIVE consumers (both sides of
    # the probe self-join, both verify vector re-attaches, and the center
    # mean job) — when `corpus` is an expensive upstream like the text
    # featurizer, skipping this re-ran the whole ArrowEvalPython subtree
    # per consumer (measured r6: pipeline_decisions 34-42 s at sf0.1, ~5x
    # the featurizer cost; ~12 s after). localCheckpoint, not persist():
    # ContextCleaner releases it, repeatedly-invoked gates don't leak
    # CacheManager entries. eager=False still runs corpus's shuffle stages
    # here, at build time.
    v = v.localCheckpoint(eager=False)
    mu = None
    if center:
        mu = [0.0] * dim
        # dim rows — a per-job scalar, not corpus data
        for r in grid_mean(v, [], "vec").collect():
            mu[r["i"]] = r["m"]
    # Verify INSIDE each (band, bucket) group instead of materializing the
    # candidate pair rows: the r6 shape (band equi-join -> dropDuplicates ->
    # two vector re-attach joins -> per-row Arrow cosine) built the full
    # candidate set as ROWS — at unselective gate parameters (16 bands x 2
    # planes, 4 buckets/band) that is ~n_bands * N^2/(2*buckets) joined rows
    # (~800M at 20k vectors; 237 s and an OOM-prone plan at sf1.0). Here the
    # only shuffle is n_bands * N probe rows grouped by (band, bucket); each
    # group's pair grid is one blocked NumPy pass (vecmath.bucket_pair_kernel,
    # bit-identical sequential-over-dim cosine), pre-filtered at
    # threshold - 1e-4 so only near-pairs ever become rows. A pair colliding
    # in k bands is scored k times in-kernel (pure vectorized flops, no rows)
    # and deduplicated AFTER the exact rounded filter — values identical,
    # survivor set identical.
    if n_bands * planes_per_band <= 63:
        # DENSE regime (few, wide buckets — candidates approach all-pairs,
        # and low-plane signatures pack into one int64): run the blocked
        # all-pairs kernel with an in-kernel packed-signature collision
        # mask. Every pair is scored ONCE; the per-bucket form scores a
        # pair once per colliding band (the gate config collides most
        # pairs in many of its 16 bands) and shuffles n_bands copies of
        # every vector. Same candidate set bit-for-bit (identical plane
        # dots and sign tests), same output. Measured 10.5 -> ~5 s at
        # sf1.0 for the 16x2 gate query. Selective configs (wide
        # signatures, e.g. 12x16) keep the per-bucket segment kernel
        # below, where candidates are sparse and all-pairs would be
        # quadratic waste.
        return blocked_pairs(v, threshold, bands=(dim, n_bands, planes_per_band, mu))

    probe = v.select(
        "id",
        "vec",
        F.posexplode(
            band_buckets_udf(dim, n_bands, planes_per_band, center=mu)(F.col("vec"))
        ).alias("band", "bucket"),
    )
    # hash-repartition on the group key, then ONE pandas pass per
    # partition (mapInPandas), not one per group: selective configs (16
    # planes -> 65k buckets/band) make per-group applyInPandas overhead
    # dominate (measured pipeline_decisions 31 -> 37 s); the kernel
    # segments each partition itself
    pairs = probe.repartition(F.col("band"), F.col("bucket")).mapInPandas(
        bucket_pair_kernel(threshold), "id_a long, id_b long, cosine double"
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            (F.round("cosine", 4) + F.lit(0.0)).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 6,
    n_bands: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = False,
) -> DataFrame:
    """ANN top-k by multi-band hyperplane LSH: candidates are corpus rows
    sharing the query's bucket in ANY of ``n_bands`` disjoint plane bands
    (``n_planes`` planes each). Recall for a neighbor at angle theta is
    ``1 - (1 - (1 - theta/pi)^n_planes)^n_bands`` — add bands to raise
    recall, add planes to shrink buckets. ``n_bands=1`` is classic
    single-probe LSH.

    Two physical strategies, SAME candidate set and output (pick like
    Catalyst picks a join):

    * ``broadcast_queries=False`` (default, the large-Q scale path): both
      sides explode to (band, bucket) probe rows and candidates come from a
      band equi-join — sublinear in corpus x queries, the only plan that
      survives 10^6 queries.
    * ``broadcast_queries=True`` (small broadcastable query sets): the
      plan is EXACTLY brute force's (scan -> broadcast join -> one Arrow
      pass -> ranking window) with the banded bucket match fused into the
      scoring UDF as a NULL-mask (``vecmath.masked_cosine_udf``) — zero
      extra shuffles or Python stages, so the LSH candidate cut actually
      SHOWS UP as wall-clock win at small Q instead of drowning in
      explode/dedup exchange overhead.
    """
    corpus = spread_if_narrow(corpus, id_col, PER_ROW)

    if broadcast_queries:
        mc = masked_cosine_udf(dim, n_bands, n_planes)
        c = corpus.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("nbr_vec"))
        q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        scored = (
            c.join(F.broadcast(q), F.col("query_id") != F.col("nbr_id"))
            .select(
                "query_id",
                "nbr_id",
                (
                    F.round(
                        mc(F.col("query_id"), F.col("q_vec"), F.col("nbr_id"), F.col("nbr_vec")), 4
                    )
                    + F.lit(0.0)
                ).alias("cosine"),
            )
            .where(F.col("cosine").isNotNull() & ~F.isnan(F.col("cosine")))
        )
        return _topk(scored, k)

    # Candidate generation on SKINNY rows: the probe join and the
    # (query_id, nbr_id) dedup shuffle carry ids only — never the vectors.
    # Dragging two 64-float vectors through the dedup exchange made the
    # equi-join path LOSE to brute force at every Q (measured r4: 24.9 s vs
    # 11.4 s on a 32k corpus); with id-only candidates + post-dedup vector
    # re-attach (AQE broadcasts whichever side is small) the same plan wins.
    bk = band_buckets_udf(dim, n_bands, n_planes)
    c = corpus.select(
        F.col(id_col).alias("nbr_id"),
        F.posexplode(bk(F.col(vec_col))).alias("band", "bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(bk(F.col(vec_col))).alias("band", "bucket"),
    )
    cand = (
        c.join(F.broadcast(q), on=["band", "bucket"])
        .where(F.col("query_id") != F.col("nbr_id"))
        .select("query_id", "nbr_id")
        .dropDuplicates(["query_id", "nbr_id"])
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    cv = corpus.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("nbr_vec"))
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "nbr_id")
        .select("query_id", "nbr_id", _rounded_cosine())
    )
    return _topk(scored, k)
