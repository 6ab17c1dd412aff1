"""Vectorized (Arrow-batched) vector math for the embedding operators.

The interpreted higher-order-function form ``aggregate(zip_with(x, y,
(a, b) -> a * b), 0.0D, (acc, v) -> acc + v)`` is evaluated expression-tree
style per element (~26x slower than codegen on this box, see CLAUDE.md).
These pandas UDFs compute the same values in NumPy — one vectorized pass per
Arrow batch — while staying BIT-IDENTICAL to the fold, which is what the
DuckDB oracles (``list_dot_product`` over the same operand types) and the
frozen gate hashes require:

* products are computed in the COMMON input dtype, exactly like Spark's
  ``Multiply`` after implicit casts: float32 * float32 stays float32,
  anything with a double side promotes the float side to double first;
* each product is then widened to float64 and added to the running sum
  LEFT-TO-RIGHT over the dimensions (a Python loop over the 64 dims, each
  step a whole-batch NumPy op — sequential where it must be for bit
  equality, vectorized where it pays: the row axis).

Never replace the dim loop with ``np.dot``/``einsum``/BLAS: pairwise/SIMD
summation changes the last ulp, which flips 4-decimal rounding and LSH sign
bits and silently breaks the oracle twins.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, IntegerType


def _stack(s: pd.Series) -> np.ndarray:
    if len(s) == 0:
        return np.zeros((0, 1), dtype=np.float64)
    return np.stack(s.to_numpy())


def _seq_dot(X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """Row-wise dot products: sequential over dims, vectorized over rows.

    Bit-identical to the zip_with/aggregate fold AND to DuckDB's
    list_dot_product on the equivalently-typed operands (both are
    left-to-right loops over per-element products)."""
    dt = np.result_type(X.dtype, Y.dtype)
    Xp = X.astype(dt, copy=False)
    Yp = Y.astype(dt, copy=False)
    acc = np.zeros(X.shape[0], dtype=np.float64)
    for i in range(X.shape[1]):
        acc += (Xp[:, i] * Yp[:, i]).astype(np.float64, copy=False)
    return acc


@pandas_udf(DoubleType())
def _cosine_kernel(xs: pd.Series, ys: pd.Series) -> pd.Series:
    X = _stack(xs)
    Y = _stack(ys)
    num = _seq_dot(X, Y)
    den = np.sqrt(_seq_dot(X, X)) * np.sqrt(_seq_dot(Y, Y))
    return pd.Series(num / den)


def cosine(x: Column, y: Column) -> Column:
    """Cosine similarity dot(x,y) / (|x| * |y|), one Arrow batch at a time.

    Same value bytes as the interpreted-HOF formulation for every operand
    typing that occurs in this engine (f32/f32 corpus pairs, f32 query vs
    f64 centroid)."""
    return _cosine_kernel(x, y)


GRID_BITS = 20  # grid_mean's fixed-point resolution: 2**-20 units


def grid_mean(df: DataFrame, keys: list, vec_col: str) -> DataFrame:
    """Exact per-(keys, dim) mean of the vectors in ``vec_col``: rows
    ``(keys..., i, m, n)`` with ``i`` the 0-based dim, ``n`` the count.

    ``avg(double)`` sums in partition order, so two runs (or two engines)
    can differ in the last ulp — enough to flip a later argmin, probe set
    or sign bit. Instead each coordinate is gridded to ``2**-GRID_BITS``
    units via ``floor(x * 2**GRID_BITS + 0.5)`` (plain IEEE multiply/add/
    floor, bit-identical in Spark and DuckDB), the BIGINT units are summed
    exactly in any order, and one IEEE division chain ``units / n / 2**20``
    gives the mean: deterministic across reruns, partitionings and engines
    (the oracle twin is ``_grid_mean_sql``). Quantization error is <=
    2**-21 per element; |sum| stays < 2**53 (exact in the double cast) for
    groups up to ~2**30 members at |x| <= 4.

    ``keys`` are column names or Columns; the output carries their names.
    Physical shape: posexplode + ONE map-side-combined hash-agg on
    (keys, i)."""
    scale = float(1 << GRID_BITS)
    pos = df.select(*keys, F.posexplode(vec_col).alias("i", "x"))
    names = pos.columns[:-2]
    return (
        pos.groupBy(*names, "i")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("x").cast("double") * scale + F.lit(0.5)).cast("long")
            ).alias("units"),
        )
        .select(
            *names,
            "i",
            ((F.col("units").cast("double") / F.col("n")) / F.lit(scale)).alias("m"),
            "n",
        )
    )


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component value from md5
    bytes of (plane, index). No RNG state — reproducible anywhere, so the
    DuckDB oracles embed the exact same doubles as literals."""
    out = []
    for i in range(dim):
        h = hashlib.md5(f"hp{plane}:{i}".encode()).digest()
        v = int.from_bytes(h[:4], "big") / 2**31 - 1.0  # [-1, 1)
        out.append(v)
    return out


def _planes(dim: int, total: int) -> np.ndarray:
    """The first ``total`` hyperplanes as a (total, dim) float64 matrix."""
    return np.array([_hyperplane(dim, p) for p in range(total)], dtype=np.float64)


def _plane_signs(V: np.ndarray, planes: np.ndarray, mu=None) -> np.ndarray:
    """bool (n, total): ``dot(v - mu, plane) >= 0`` for every row and plane.

    The ONE hyperplane-sign fold: float64 products summed sequentially over
    the dims (the interpreted fold's order, which the oracle's
    ``list_dot_product`` over literal planes reproduces). ``mu`` is an
    optional length-dim center subtracted per dim INSIDE the fold — one
    exact IEEE op per element, so the oracle's ``v[i] - mu[i]`` list
    matches bit for bit."""
    V = V.astype(np.float64, copy=False)
    acc = np.zeros((V.shape[0], planes.shape[0]), dtype=np.float64)
    if mu is None:
        for i in range(planes.shape[1]):
            acc += V[:, i : i + 1] * planes[:, i]
    else:
        for i in range(planes.shape[1]):
            acc += (V[:, i : i + 1] - mu[i]) * planes[:, i]
    return acc >= 0.0


def band_buckets_udf(
    dim: int, n_bands: int, planes_per_band: int, center=None
):
    """All hyperplane-LSH band buckets in ONE Arrow pass.

    Returns a pandas UDF mapping a vector column to an array of ``n_bands``
    ints where element ``b`` equals the per-band signature with plane set
    ``b * planes_per_band .. (b+1) * planes_per_band - 1`` (bit p of band b
    set iff dot(vec, plane_{b*ppb+p}) >= 0) — the batched twin of
    ``similarity.lsh_signature`` over every band at once. One UDF invocation
    replaces ``n_bands * planes_per_band`` interpreted 64-dim folds per row.

    ``center``: optional length-``dim`` sequence of doubles subtracted from
    every vector BEFORE the sign test (``sign((x - mu) . p)``). Hashed
    text-feature vectors concentrate in a narrow cone (every same-language
    document shares the dominant char-3-gram directions; measured median
    pairwise cosine 0.846 at sf0.1), which makes uncentered hyperplanes
    nearly useless as a blocking key; subtracting the corpus mean spreads
    the angles. The signs come from ``_plane_signs`` (the one fold, center
    inside it); this UDF only packs them, one int32 per band."""
    if planes_per_band > 31:
        raise ValueError(
            f"planes_per_band={planes_per_band} > 31: band signatures are "
            "int32 and the bit weights would silently wrap (int64 -> int32 "
            "astype), corrupting bucket keys"
        )
    planes = _planes(dim, n_bands * planes_per_band)
    weights = 1 << np.arange(planes_per_band, dtype=np.int64)
    mu = None if center is None else np.asarray(center, dtype=np.float64)

    @pandas_udf(ArrayType(IntegerType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        V = _stack(vecs)
        n = V.shape[0]
        if n == 0:
            return pd.Series([], dtype=object)
        bits = _plane_signs(V, planes, mu)
        out = (bits.reshape(n, n_bands, planes_per_band) * weights).sum(axis=2)
        return pd.Series(list(out.astype(np.int32)))

    return _buckets


def _empty_pairs() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "id_a": pd.Series([], dtype="int64"),
            "id_b": pd.Series([], dtype="int64"),
            "cosine": pd.Series([], dtype="float64"),
        }
    )


def _pair_block(
    Xa: np.ndarray,
    ia: np.ndarray,
    Xb: np.ndarray,
    ib: np.ndarray,
    cutoff: float,
    sig_a: np.ndarray | None = None,
    sig_b: np.ndarray | None = None,
    n_bands: int = 0,
    planes_per_band: int = 0,
) -> pd.DataFrame:
    """All (id_a < id_b, cosine >= cutoff) pairs between two row blocks.

    Bit-identical per pair to ``_cosine_kernel``: products in the common
    input dtype, sequential-over-dim f64 accumulation, den =
    sqrt(dot(a,a)) * sqrt(dot(b,b)) — the dim loop runs over (m, n) outer
    products instead of per-row columns, which preserves each pair's
    accumulation order exactly while vectorizing over the pair grid. The
    cutoff is a CONSERVATIVE pre-filter (callers pass threshold - 1e-4 and
    re-apply the exact rounded filter in Spark), so NaN pairs drop here
    (they fail any >= test, same as the final filter) and +inf survives.

    ``sig_a``/``sig_b``: optional packed int64 LSH band signatures
    (``n_bands`` bands x ``planes_per_band`` bits, band b at bit offset
    b*planes_per_band). When given, a pair is additionally required to
    share at least one full band (XOR chunk == 0) — exactly the candidate
    set of the banded (band, bucket) equi-join.
    """
    sa = np.sqrt(_seq_dot(Xa, Xa))
    sb = np.sqrt(_seq_dot(Xb, Xb))
    dt = np.result_type(Xa.dtype, Xb.dtype)
    dim = Xa.shape[1]
    # One-time transposes: per-dim row slices AT[i, s:e] are then contiguous
    # (the untransposed column gather X[:, i] strides a cache line per
    # element). 2-D tiling keeps each f64 accumulator tile L2/L3-resident
    # across the 64 sequential dim adds — measured 8.8 s -> 1.1 s per
    # 625 x 20k group vs the single streamed (blk, n) accumulator.
    AT = np.ascontiguousarray(Xa.T.astype(dt, copy=False))
    BT = np.ascontiguousarray(Xb.T.astype(dt, copy=False))
    out_a: list[np.ndarray] = []
    out_b: list[np.ndarray] = []
    out_c: list[np.ndarray] = []
    band_mask = np.int64((1 << planes_per_band) - 1) if planes_per_band else None
    ma, nb = 512, 1024  # 4 MB f64 acc tile
    for s in range(0, Xa.shape[0], ma):
        e = min(s + ma, Xa.shape[0])
        for u in range(0, Xb.shape[0], nb):
            v = min(u + nb, Xb.shape[0])
            acc = np.zeros((e - s, v - u), dtype=np.float64)
            for i in range(dim):
                acc += AT[i, s:e][:, None] * BT[i, u:v][None, :]
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = acc / (sa[s:e, None] * sb[u:v][None, :])
                mask = (ia[s:e, None] < ib[u:v][None, :]) & (cos >= cutoff)
            if sig_a is not None and mask.any():
                x = sig_a[s:e, None] ^ sig_b[None, u:v]
                collide = np.zeros(x.shape, dtype=bool)
                for b in range(n_bands):
                    collide |= ((x >> (b * planes_per_band)) & band_mask) == 0
                mask &= collide
            r, c = np.nonzero(mask)
            if r.size:
                out_a.append(ia[s:e][r])
                out_b.append(ib[u:v][c])
                out_c.append(cos[r, c])
    if not out_a:
        return _empty_pairs()
    return pd.DataFrame(
        {
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "cosine": np.concatenate(out_c),
        }
    )


SMALL_SEGMENT_MAX = 64  # bucket_pair_kernel: largest segment paired by diagonals


def bucket_pair_kernel(threshold: float):
    """mapInPandas kernel: all-pairs cosine WITHIN each (band, bucket)
    segment of a partition that has been hash-repartitioned on those keys,
    emitting only (id_a < id_b) pairs at cosine >= threshold - 1e-4 (the
    caller applies the exact ``round(cos, 4) >= threshold`` filter in
    Spark, so the 1e-4 slack can never drop a pair the rounded filter
    would keep). This is the banded equi-join's candidate set evaluated
    in place — candidate pair ROWS are never materialized.

    One partition = one pandas pass, not one pandas call per group:
    selective band configs (e.g. 16 planes -> 65k buckets/band) produce
    hundreds of thousands of 1-5-row groups, where groupBy().applyInPandas
    pays per-group overhead that measured SLOWER than the join it replaced
    (pipeline_decisions 31 s -> 37 s at sf1.0). Here segments are found
    with one lexsort; segments <= ``SMALL_SEGMENT_MAX`` rows enumerate their
    pairs as (i, i+d) diagonals — at most SMALL_SEGMENT_MAX-1 vectorized
    passes over ALL small segments at once — and bigger segments fall
    through to the tiled ``_pair_block``."""
    cutoff = threshold - 1e-4

    def _k(batches) -> "pd.DataFrame":
        import itertools

        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            yield _empty_pairs()
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        ids = pdf["id"].to_numpy()
        band = pdf["band"].to_numpy()
        bucket = pdf["bucket"].to_numpy()
        X = np.stack(pdf["vec"].to_numpy())
        # sort rows by (band, bucket, id): segments become contiguous AND
        # ascending-id within each, so pair (i, j), i < j has id_i < id_j
        order = np.lexsort((ids, bucket, band))
        ids = ids[order]
        band = band[order]
        bucket = bucket[order]
        X = X[order]
        n = len(ids)
        brk = np.flatnonzero((band[1:] != band[:-1]) | (bucket[1:] != bucket[:-1]))
        starts = np.concatenate(([0], brk + 1, [n]))
        sizes = np.diff(starts)
        out: list[pd.DataFrame] = []
        # small segments: all at once, one vectorized pass per diagonal d
        pos = np.arange(n) - np.repeat(starts[:-1], sizes)  # offset in segment
        seg_sz = np.repeat(sizes, sizes)
        small = seg_sz <= SMALL_SEGMENT_MAX
        sa_all = np.sqrt(_seq_dot(X, X))
        max_small = int(seg_sz[small].max()) if small.any() else 0
        for d in range(1, max_small):
            ii = np.flatnonzero(small & (pos + d < seg_sz))
            if ii.size == 0:
                continue
            jj = ii + d
            num = _seq_dot(X[ii], X[jj])
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = num / (sa_all[ii] * sa_all[jj])
                keep = cos >= cutoff
            if keep.any():
                out.append(
                    pd.DataFrame(
                        {
                            "id_a": ids[ii[keep]],
                            "id_b": ids[jj[keep]],
                            "cosine": cos[keep],
                        }
                    )
                )
        # big segments: tiled all-pairs each
        for k in np.flatnonzero(sizes > SMALL_SEGMENT_MAX):
            s, e = starts[k], starts[k + 1]
            out.append(_pair_block(X[s:e], ids[s:e], X[s:e], ids[s:e], cutoff))
        yield pd.concat(
            itertools.chain(out, [_empty_pairs()]), ignore_index=True
        ) if out else _empty_pairs()

    return _k


def role_pair_kernel(threshold: float, bands=None):
    """applyInPandas kernel of ``blocked_pairs``: each group holds one
    a-block (role 0) plus the full corpus (role 1); emits the a-block's
    (id_a < id_b) pairs at cosine >= threshold - 1e-4. A pair (x, y),
    x < y, is emitted exactly once — in x's block, where the id-order mask
    keeps it; in y's block the mask kills it.

    ``bands=(dim, n_bands, planes_per_band, center)`` additionally requires
    the pair to share at least one full hyperplane band — the candidate set
    of the banded (band, bucket) equi-join, bit-for-bit. Signatures are
    computed in-kernel by ``_plane_signs`` (the ``band_buckets_udf`` fold,
    optional centering included) and packed into one int64, so every pair
    is scored ONCE instead of once per colliding band in per-bucket groups."""
    cutoff = threshold - 1e-4
    packed_sigs = None
    if bands is not None:
        dim, n_bands, planes_per_band, center = bands
        total = n_bands * planes_per_band
        if total > 63:
            raise ValueError("packed signatures need n_bands * planes_per_band <= 63")
        planes = _planes(dim, total)
        weights = np.int64(1) << np.arange(total, dtype=np.int64)
        mu = None if center is None else np.asarray(center, dtype=np.float64)

        def packed_sigs(X: np.ndarray) -> np.ndarray:
            return (_plane_signs(X, planes, mu) * weights).sum(axis=1).astype(np.int64)

    def _k(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["role"] == 0]
        b = pdf[pdf["role"] == 1]
        if len(a) == 0 or len(b) == 0:
            return _empty_pairs()
        Xa = np.stack(a["vec"].to_numpy())
        Xb = np.stack(b["vec"].to_numpy())
        mask = {}
        if packed_sigs is not None:
            mask = dict(
                sig_a=packed_sigs(Xa),
                sig_b=packed_sigs(Xb),
                n_bands=n_bands,
                planes_per_band=planes_per_band,
            )
        return _pair_block(Xa, a["id"].to_numpy(), Xb, b["id"].to_numpy(), cutoff, **mask)

    return _k


def blocked_pairs(v: DataFrame, threshold: float, bands=None) -> DataFrame:
    """(id_a, id_b, cosine) for every id_a < id_b pair of the (id BIGINT,
    vec) table ``v`` with ``round(cosine, 4) >= threshold`` — the one
    blocked all-pairs scaffold (``bands``: see ``role_pair_kernel``).

    The a-side is split into B id-hash blocks and the corpus replicated to
    every block (shuffle = (B+1) * N vector rows, ~350 MB at 20k x B=32);
    each block's pair grid is then ONE tiled NumPy pass (``_pair_block``)
    per task. A theta-join instead ships two vectors through Arrow per
    joined pair (~1 KB of Python-boundary traffic per pair: 64 s at 20k
    vectors, ~200 GB of joined rows). ``v`` is read twice; both callers
    pass it through ``localCheckpoint(eager=False)``, which under AQE runs
    the shuffle stages of ``v``'s input at that call, so those callers run
    Spark jobs while building. This function itself runs none."""
    n_blocks = max(8, v.sparkSession.sparkContext.defaultParallelism)
    a = v.select(
        F.pmod(F.xxhash64("id"), F.lit(n_blocks)).cast("int").alias("blk"),
        F.lit(0).alias("role"),
        "id",
        "vec",
    )
    b = v.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("blk"),
        F.lit(1).alias("role"),
        "id",
        "vec",
    )
    pairs = (
        a.unionByName(b)
        .groupBy("blk")
        .applyInPandas(
            role_pair_kernel(threshold, bands), "id_a long, id_b long, cosine double"
        )
    )
    return pairs.select(
        "id_a",
        "id_b",
        (F.round("cosine", 4) + F.lit(0.0)).alias("cosine"),
    ).where(F.col("cosine") >= threshold)


def masked_cosine_udf(dim: int, n_bands: int, planes_per_band: int):
    """Fused LSH-candidate-mask + cosine for SMALL broadcast query sets.

    Returns a pandas UDF (q_id, q_vec, nbr_id, nbr_vec) -> cosine-or-NULL:
    NULL unless the
    pair shares at least one per-band hyperplane bucket (the exact candidate
    set of the banded equi-join, bit-for-bit — same sequential plane dots).
    Fusing mask and score into ONE Arrow pass keeps the physical plan
    identical to brute force (scan -> broadcast join -> one Python eval ->
    window), so the LSH cut shows up as wall-clock win instead of drowning
    in extra UDF stages. Per-pair bucket recompute is O(Q x N x planes) —
    only for the broadcast strategy; the equi-join path owns large Q.
    """
    planes = _planes(dim, n_bands * planes_per_band)

    def _uniq_sigs(ids: pd.Series, M: np.ndarray) -> np.ndarray:
        """Signatures per row, computed once per DISTINCT id: the joined
        batch repeats each query |corpus| times and each corpus row |Q|
        times, so de-duplicating the sig compute cuts it ~(Q+N)/(Q*N)."""
        _, idx, inv = np.unique(ids.to_numpy(), return_index=True, return_inverse=True)
        sigs = _plane_signs(M[idx], planes).reshape(-1, n_bands, planes_per_band)
        return sigs[inv]

    @pandas_udf(DoubleType())
    def _masked(
        q_ids: pd.Series, qs: pd.Series, n_ids: pd.Series, ns: pd.Series
    ) -> pd.Series:
        Q = _stack(qs)
        N = _stack(ns)
        if Q.shape[0] == 0:
            return pd.Series([], dtype=np.float64)
        qb = _uniq_sigs(q_ids, Q)
        nb = _uniq_sigs(n_ids, N)
        hit = (qb == nb).all(axis=2).any(axis=1)
        # NaN marks non-candidates; the pandas->Arrow hop turns float NaN
        # into SQL NULL, so callers must filter isNotNull (plus ~isnan as a
        # belt: isnan(NULL) is false in Spark, so isnan alone lets NULLs
        # through). Assumes no zero-norm vectors (their cosine would be
        # indistinguishable from a miss).
        out = np.full(Q.shape[0], np.nan)
        if hit.any():
            num = _seq_dot(Q[hit], N[hit])
            den = np.sqrt(_seq_dot(Q[hit], Q[hit])) * np.sqrt(_seq_dot(N[hit], N[hit]))
            out[hit] = num / den
        return pd.Series(out)

    return _masked
