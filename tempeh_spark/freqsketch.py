"""Deterministic count-min frequency sketch — heavy-hitter detection at
corpus scale with bounded, mergeable state.

Cormode & Muthukrishnan, "An improved data stream summary: the count-min
sketch and its applications" (J. Algorithms 2005). ``depth`` hash rows x
``width`` counters; every item increments one counter per row
(position = md5-derived), and a point estimate is the MIN over rows —
always >= the true count (one-sided error), within ``eN/width`` of it
with probability ``1 - exp(-depth)``.

Why this exists next to ``corpusops.hll_distinct``: HLL answers "how many
distinct", CMS answers "how often does THIS one occur" — the hot-host /
hot-url / hot-n-gram question behind crawl-skew control (the pipeline's
salting story, BENCH/BASELINE.md §7) and stop-word discovery. An exact
per-item count is a full ``groupBy(item)`` shuffle of the corpus; the
sketch is ONE ``groupBy(row, pos).sum()`` whose map-side combine bounds
every mapper's shuffle output at ``depth * width`` rows regardless of
corpus size, and two sketches merge by element-wise register addition.

Determinism contract (the cross-engine oracle depends on it): positions
come from md5 of ``'<row>:' || item`` (12 hex digits = 48 bits, exactly
representable, then ``pmod width``), register values are exact BIGINT
sums — order-independent, partitioning-independent, bit-equal in DuckDB
via the ``('0x' || substr(md5(..), 1, 12))::BIGINT`` idiom. No float
appears anywhere.

Reference scope note: the reference parser (tools/goldens runs it) has no
sketch layer; this module is part of the beyond-reference LLM-pipeline
surface (SURVEY.md §2 part C), same genre as dedup/ and corpusops/.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _position(row: Column, item: Column, width: int) -> Column:
    """md5-derived counter index for ``item`` in hash row ``row``.

    12 hex digits (48 bits) keeps the intermediate exactly representable
    as BIGINT in both engines; ``pmod`` (not ``%``) so the contract stays
    non-negative even if a caller widens the slice past 63 bits.
    """
    h = F.md5(
        F.encode(
            F.concat(row.cast("string"), F.lit(":"), item.cast("string")),
            "UTF-8",
        )
    )
    return F.pmod(F.conv(F.substring(h, 1, 12), 16, 10).cast("long"), F.lit(width))


def cms_sketch(
    df: DataFrame,
    item_col: str,
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Build the register table: one row per non-empty counter.

    Output: ``(row INT, pos BIGINT, total BIGINT)``. Absent (row, pos)
    combinations are implicitly zero — estimators must ``coalesce(.., 0)``
    after their left join (``cms_estimate`` does).

    Scale shape: ``explode(sequence(0, depth-1))`` multiplies rows by
    ``depth`` INSIDE codegen (no Python anywhere), then ONE hash
    aggregation on (row, pos) — map-side combined, so the shuffle is
    bounded at ``depth * width`` rows per mapper at ANY corpus size.
    Weighted counts (``weight_col``) must be integral; they flow through
    the same exact BIGINT sum.
    """
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be positive")
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    rows = (
        df.where(F.col(item_col).isNotNull())
        .select(F.col(item_col).alias("_it"), w.alias("_w"))
        .select(
            "_it",
            "_w",
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
        )
    )
    return (
        rows.select(
            "row", _position(F.col("row"), F.col("_it"), width).alias("pos"), "_w"
        )
        .groupBy("row", "pos")
        .agg(F.sum("_w").alias("total"))
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate counts for a probe item set: min over hash rows.

    ``probes`` carries the candidate items (distinct hosts at gate scale,
    an externally curated watch-list at crawl scale); the probe side and
    the bounded sketch are both small, so the join broadcasts under AQE —
    no corpus-sized shuffle exists here. Missing registers coalesce to 0
    (an item never inserted estimates 0 unless every one of its rows
    collides). Output: ``(<item_col>, est BIGINT)``; CMS guarantees
    ``est >= true count``.
    """
    it = probes.where(F.col(item_col).isNotNull()).select(
        F.col(item_col).alias("_it")
    ).distinct()
    keyed = it.select(
        "_it", F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    )
    keyed = keyed.select(
        "_it", "row", _position(F.col("row"), F.col("_it"), width).alias("pos")
    )
    joined = keyed.join(sketch, ["row", "pos"], "left").select(
        "_it", F.coalesce(F.col("total"), F.lit(0).cast("long")).alias("t")
    )
    return (
        joined.groupBy("_it")
        .agg(F.min("t").alias("est"))
        .select(F.col("_it").alias(item_col), "est")
    )

