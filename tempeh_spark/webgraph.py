"""Webgraph aggregation: the consumer of ``extract_links`` (links.py).

A crawl corpus is a graph corpus: host-level edges feed quality priors
(PageRank-style), seed discovery, and per-host crawl policy. This module
turns the per-anchor rows into that graph with pure DataFrame ops:

* ``target_host`` / ``url_host`` — codegen columns resolving an href (or a
  page url) to a canonical host: absolute ``scheme://host`` and
  protocol-relative ``//host`` take their own authority (href whitespace
  trimmed, host lowercased, userinfo stripped, the scheme's own default
  port dropped — :80 for http, :443 for https; any other scheme/port
  combination is a distinct origin and keeps its port); path/query/
  fragment relative hrefs resolve to the SOURCE host; non-http schemes
  (``mailto:``, ``javascript:``, ``data:``, ``tel:``, any case) resolve
  to NULL and drop out of the graph.
* ``host_edges`` — one hash agg over (src_host, dst_host): link-instance
  count + distinct-source-document count per edge. At 10^12 documents this
  is the map-side-combinable shuffle on the edge key; host cardinality is
  millions, not trillions, so everything downstream of this agg is small.
* ``pagerank_units`` — fixed-iteration PageRank in EXACT scaled-integer
  arithmetic: ranks are BIGINT units of 1/SCALE, every step is integer
  division (``div``) and integer multiply — no float summation order, no
  engine rounding divergence, bit-identical across engines/partitionings
  (the same discipline as kmeans_update / _stable_avg). Self-loops are
  excluded; dangling-node mass is deliberately NOT redistributed (the
  "sink loss" variant) — both choices are part of the twinned contract.

Scale shape of the iteration: ranks live in a per-host DataFrame (small);
each round is one equi-join ranks->edges on src plus one hash agg on dst,
then a left join back to the host list. The corpus-sized tables are never
touched after ``host_edges``. Reference n/a (the reference is an HTML
parser; the webgraph is beyond-reference pipeline surface).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_AUTHORITY_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_PROTO_REL_RE = r"^//([^/?#]+)"
# schemes are case-insensitive (RFC 3986 3.1)
_NON_HTTP_RE = r"(?i)^(mailto|javascript|data|tel):"


def _canon_host(authority: Column, scheme: Column) -> Column:
    """(authority, lowercased scheme) -> canonical host: lowercase,
    userinfo off, the scheme's OWN default port off (:80 only for http,
    :443 only for https — http://h:443 is a distinct origin and keeps its
    port; unknown/empty scheme keeps all ports)."""
    h = F.lower(authority)
    h = F.regexp_replace(h, r"^[^@]*@", "")
    return F.when(
        scheme == "http", F.regexp_replace(h, r":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(h, r":443$", "")
    ).otherwise(h)


def url_host(url) -> Column:
    """Canonical host of an absolute url ('' if the url has no scheme)."""
    u = F.col(url) if isinstance(url, str) else url
    return _canon_host(
        F.regexp_extract(u, _AUTHORITY_RE, 1),
        F.lower(F.regexp_extract(u, _SCHEME_RE, 1)),
    )


def target_host(href, base_host) -> Column:
    """Canonical host an href points at, given the source page's host
    (see module docstring for the resolution rules). Leading/trailing
    HTML5 ASCII whitespace is stripped first — browsers do the same
    before resolving, and crawl HTML pads hrefs constantly."""
    h0 = F.col(href) if isinstance(href, str) else href
    h = F.regexp_replace(
        F.regexp_replace(h0, r"^[ \t\n\f\r]+", ""), r"[ \t\n\f\r]+$", ""
    )
    b = F.col(base_host) if isinstance(base_host, str) else base_host
    absolute = F.regexp_extract(h, _AUTHORITY_RE, 1)
    proto_rel = F.regexp_extract(h, _PROTO_REL_RE, 1)
    scheme = F.lower(F.regexp_extract(h, _SCHEME_RE, 1))
    return (
        F.when(h0.isNull() | h.rlike(_NON_HTTP_RE), F.lit(None))
        .when(absolute != "", _canon_host(absolute, scheme))
        # protocol-relative inherits the page's scheme, which url_host has
        # already applied to the BASE host; the target's own default port
        # can't be resolved without it, so ports are kept here
        .when(proto_rel != "", _canon_host(proto_rel, F.lit("")))
        .otherwise(b)
    )


def host_edges(
    links: DataFrame,
    url_col: str = "url",
    href_col: str = "href",
    id_col: str = "doc_id",
) -> DataFrame:
    """(src_host, dst_host, n_links, n_docs) from per-anchor rows that
    carry the source page url. Non-resolvable hrefs (non-http schemes,
    error rows with NULL href) are dropped; self-edges are KEPT here
    (internal-link volume is a real per-host signal) — pagerank_units
    excludes them itself."""
    src = url_host(url_col)
    edges = links.where(F.col(href_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        src.alias("src_host"),
        target_host(href_col, src).alias("dst_host"),
    )
    return (
        edges.where(F.col("dst_host").isNotNull() & (F.col("src_host") != ""))
        .groupBy("src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
    )


def anchor_stats(
    links: DataFrame,
    k: int = 3,
    url_col: str = "url",
    href_col: str = "href",
    anchor_col: str = "anchor",
    min_count: int = 1,
) -> DataFrame:
    """Top-k anchor-text terms per TARGET host: the classic webgraph
    training-data product (anchor text describes the page it points at —
    query-document pairs for retrieval training). Returns
    (dst_host, term, n, rank) with rank <= k.

    Terms are lowercased whitespace tokens of the anchor text (the
    engine-common class [ \\t\\n\\f\\r], see textops.WS). One explode + one
    (dst_host, term) hash agg (map-side combinable) + one top-k window
    partitioned by host — the same shapes as the dedup family, nothing
    driver-side. Ties rank deterministically (count DESC, term ASC).

    Skew note for crawl scale: the count agg is map-side combined (hot
    hosts cost nothing extra there), but the top-k WINDOW partitions by
    dst_host, and a mega-host can carry 10^8 distinct anchor terms in one
    window partition. ``min_count`` pre-filters the counted terms before
    the window (a term seen once is never a meaningful top-k anchor at
    crawl scale) — set it >= 2 on real corpora to keep every window
    partition bounded by the head of the term distribution."""
    from pyspark.sql.window import Window

    counts = _anchor_term_counts(links, url_col, href_col, anchor_col, min_count)
    w = Window.partitionBy("dst_host").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("dst_host", "term", "n", "rank")
    )


def _anchor_term_counts(
    links: DataFrame,
    url_col: str = "url",
    href_col: str = "href",
    anchor_col: str = "anchor",
    min_count: int = 1,
) -> DataFrame:
    """(dst_host, term, n): the shared tokenize+count substrate of
    anchor_stats and anchor_pairs — one explode + one map-side-combinable
    hash agg, predicate in codegen (explode-then-where, never an
    interpreted higher-order filter on this corpus-scaling path)."""
    from tempeh_spark.textops import WS

    src = url_host(url_col)
    terms = (
        links.where(F.col(href_col).isNotNull())
        .select(
            target_host(href_col, src).alias("dst_host"),
            F.explode(
                F.split(F.lower(F.col(anchor_col)), rf"[{WS}]+")
            ).alias("term"),
        )
        .where(F.col("dst_host").isNotNull() & (F.col("term") != ""))
    )
    counts = terms.groupBy("dst_host", "term").agg(F.count(F.lit(1)).alias("n"))
    if min_count > 1:
        counts = counts.where(F.col("n") >= min_count)
    return counts


def anchor_pairs(
    links: DataFrame,
    k: int = 3,
    url_col: str = "url",
    href_col: str = "href",
    anchor_col: str = "anchor",
    min_count: int = 1,
    weight_scale: int = 1_000_000,
) -> DataFrame:
    """The retrieval-training DELIVERABLE the anchor family produces:
    one (query_term, dst_host) pair per top-``k`` anchor term per target
    host, with an exact integer weight — ``weight_ppm = n * weight_scale
    div host_total`` where ``host_total`` is the host's total counted
    anchor-term occurrences (post ``min_count``). Integer division only,
    so weights are bit-identical across engines/partitionings (the
    pagerank_units discipline).

    Physical shape: the ``_anchor_term_counts`` agg, then ONE window
    exchange partitioned by dst_host computing both the per-host total
    (unbounded sum) and the rank — no join back, no second shuffle. The
    same ``min_count`` skew guard as anchor_stats bounds mega-host window
    partitions at crawl scale."""
    from pyspark.sql.window import Window

    counts = _anchor_term_counts(links, url_col, href_col, anchor_col, min_count)
    wp = Window.partitionBy("dst_host")
    w = wp.orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("host_total", F.sum("n").over(wp))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("term").alias("query_term"),
            "dst_host",
            "n",
            F.expr(f"n * {weight_scale}L div host_total").alias("weight_ppm"),
            "rank",
        )
    )


def pagerank_units(
    edges: DataFrame,
    n_iter: int = 3,
    scale: int = 10**12,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank over the DISTINCT-pair host graph, exact
    integer arithmetic throughout (see module docstring). Returns
    (host, rank_units) with rank in 1/``scale`` units.

    Recurrence (all BIGINT, ``div`` = integer division):

        r0(v)     = scale div N
        base      = ((100 - damping_pct) * (scale div N)) div 100
        r_{t+1}(v) = base + (damping_pct * SUM_{u->v} (r_t(u) div out(u))) div 100

    where out(u) counts u's distinct non-self successors. Hosts without
    in-edges hold ``base``; dangling mass is not redistributed. Every op
    is order-independent (integer SUM) so the result is bit-stable across
    engines and partitionings — the property the DuckDB twin relies on.

    Eager: the call runs the whole PageRank before it returns (the
    ``hosts.count()`` for N, then ``localCheckpoint(eager=True)`` every 5
    rounds and on the result, so the caches can be released); the returned
    DataFrame only reads the checkpoint."""
    # pairs is re-read every iteration (contrib join) — persist it, or each
    # round recomputes the ENTIRE upstream (for crawl input: the HTML parse
    # itself; measured 3x bench cost before this cache)
    pairs = (
        edges.select("src_host", "dst_host")
        .where(F.col("src_host") != F.col("dst_host"))
        .distinct()
        .persist()
    )
    hosts = (
        pairs.select(F.col("src_host").alias("host"))
        .union(pairs.select(F.col("dst_host").alias("host")))
        .distinct()
        .persist()
    )
    n = hosts.count()
    if n == 0:
        empty = hosts.select("host", F.lit(0).cast("long").alias("rank_units"))
        empty = empty.localCheckpoint(eager=True)
        hosts.unpersist()
        pairs.unpersist()
        return empty
    r0 = scale // n
    base = (100 - damping_pct) * r0 // 100
    # outdeg fused onto the edge list ONCE: each iteration is then a single
    # equi-join + hash agg + left join, and lineage is only checkpointed
    # every 5 rounds (an eager per-round checkpoint was pure fixed overhead
    # — ~1-2 s/round of job scheduling on a small graph; linear lineage
    # growth over <=5 rounds is free)
    outdeg = pairs.groupBy("src_host").agg(F.count(F.lit(1)).alias("out"))
    pairs_out = pairs.join(outdeg, "src_host").persist()
    ranks = hosts.select("host", F.lit(r0).cast("long").alias("rank_units"))
    for i in range(n_iter):
        contrib = (
            ranks.select(F.col("host").alias("src_host"), "rank_units")
            .join(pairs_out, "src_host")
            .groupBy(F.col("dst_host").alias("host"))
            .agg(F.sum(F.expr("rank_units div out")).alias("inflow"))
        )
        ranks = hosts.join(contrib, "host", "left").select(
            "host",
            (
                F.lit(base)
                + F.expr(f"({damping_pct} * coalesce(inflow, 0L)) div 100")
            ).cast("long").alias("rank_units"),
        )
        if (i + 1) % 5 == 0 and (i + 1) < n_iter:
            ranks = ranks.localCheckpoint(eager=True)
    # materialize before releasing the caches the lazy plan depends on
    ranks = ranks.localCheckpoint(eager=True)
    hosts.unpersist()
    pairs.unpersist()
    pairs_out.unpersist()
    return ranks
