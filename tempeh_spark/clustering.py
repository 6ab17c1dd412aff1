"""K-means over embedding columns: the trained codebook behind a real IVF
index (similarity.py's ``label`` column is the stand-in; this trains one).

Spark shapes:

* ``kmeans_assign`` — one Arrow pass per batch: squared euclidean distance
  to every centroid via the vecmath sequential-dot contract (bit-identical
  to the DuckDB literal-centroid oracle), argmin with lowest-index
  tie-break. Centroids ride in the UDF closure (the broadcast analogue);
  the corpus never shuffles.
* ``kmeans_fit`` — Lloyd's iterations, MLlib-style: broadcast centroids ->
  map-side assignment -> one hash-agg for per-cell means (posexplode +
  exact fixed-point BIGINT sums via ``vecmath.grid_mean``, map-side
  combinable). All corpus data stays on executors; the
  driver sees only the k x dim centroid matrix per round (tiny by
  construction) and the convergence delta. Deterministic: initial
  centroids are the k lowest-id vectors, iteration count fixed, and the
  per-cell means use EXACT fixed-point accumulation (``grid_mean`` —
  never ``avg(double)``, whose partition-order summation varies by run),
  so reruns produce bit-identical codebooks.
* ``kmeans_update`` — the gated single update step (DuckDB literal-codebook
  twin ``kmeans_update`` in ``__spark_entry__``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from tempeh_spark.vecmath import _seq_dot, _stack, grid_mean

ASSIGN_SCHEMA = StructType(
    [StructField("cell", IntegerType()), StructField("dist2", DoubleType())]
)


def _assign_udf(centroids: list[list[float]]):
    """pandas UDF: vec -> (cell, dist2) for the nearest centroid.

    dist2 = (v.v - 2 * v.c) + c.c with every dot product sequential over
    dims (vecmath contract) and the final combination in that exact
    association order — bit-identical to the SQL twin's
    ``(list_dot_product(v,v) - 2*list_dot_product(v,c)) + cc`` form.
    Ties break to the LOWEST cell index (np.argmin == SQL CASE first-match).
    """
    C = np.array(centroids, dtype=np.float64)  # (k, dim)
    cc = np.array([_seq_dot(C[j : j + 1], C[j : j + 1])[0] for j in range(len(C))])

    @pandas_udf(ASSIGN_SCHEMA)
    def _assign(vecs: pd.Series) -> pd.DataFrame:
        V = _stack(vecs)
        n = V.shape[0]
        if n == 0:
            return pd.DataFrame({"cell": [], "dist2": []})
        # all three dist2 terms in f64 products (centroids are doubles, and
        # the SQL twin casts the vector to DOUBLE before every dot)
        V64 = V.astype(np.float64, copy=False)
        dvv = _seq_dot(V64, V64)
        d2 = np.empty((n, len(C)))
        for j in range(len(C)):
            dvc = np.zeros(n)
            for i in range(V.shape[1]):
                dvc += V64[:, i] * C[j, i]
            d2[:, j] = (dvv - 2.0 * dvc) + cc[j]
        cells = d2.argmin(axis=1)
        return pd.DataFrame(
            {"cell": cells.astype(np.int32), "dist2": d2[np.arange(n), cells]}
        )

    return _assign


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment: (id, cell, dist2) per input vector."""
    a = _assign_udf(centroids)
    return df.select(
        F.col(id_col).alias("vec_id"), a(F.col(vec_col)).alias("a")
    ).select("vec_id", F.col("a.cell").alias("cell"), F.col("a.dist2").alias("dist2"))


def kmeans_update(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd's update step: assign every vector to its nearest centroid
    (broadcast-closure Arrow pass, no shuffle), then the per-(cell, dim)
    means of ``vecmath.grid_mean`` (exact fixed-point, order-independent,
    so reruns, partitionings and engines agree bit for bit). Returns
    (cell, i, m, n) rows.

    Physical shape: one ArrowEvalPython projection + posexplode + a single
    map-side-combined hash-agg on (cell, i) — k*dim output rows."""
    a = _assign_udf(centroids)
    cells = df.select(F.col(vec_col).alias("v"), a(F.col(vec_col))["cell"].alias("cell"))
    return grid_mean(cells, ["cell"], "v")


def kmeans_fit(
    df: DataFrame,
    k: int,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tol: float = 1e-6,
) -> tuple[list[list[float]], DataFrame]:
    """Lloyd's k-means. Returns (centroids, assignments DataFrame).

    Init = the k lowest-id vectors (deterministic, data-dependent). Each
    round is one ``kmeans_update`` (broadcast-closure assignment + exact
    fixed-point per-cell means — order-independent, so reruns produce
    BIT-identical codebooks regardless of partitioning). Empty cells keep
    their previous centroid. Stops when max centroid movement (squared)
    drops below ``tol`` or after ``max_iter`` rounds."""
    seed_rows = (
        df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(k)
        .collect()
    )
    if len(seed_rows) < k:
        raise ValueError(f"k={k} exceeds corpus size {len(seed_rows)}")
    centroids = [[float(x) for x in r["v"]] for r in seed_rows]
    for _ in range(max_iter):
        means = (
            kmeans_update(df, centroids, vec_col)
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
                ).alias("c")
            )
            .collect()
        )
        new_centroids = list(centroids)
        for r in means:
            new_centroids[r["cell"]] = [float(x) for x in r["c"]]
        delta = max(
            sum((a - b) ** 2 for a, b in zip(ca, cb))
            for ca, cb in zip(centroids, new_centroids)
        )
        centroids = new_centroids
        if delta < tol:
            break
    return centroids, kmeans_assign(df, centroids, id_col, vec_col)

