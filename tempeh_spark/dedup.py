"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-duplicates.

Scale notes (the whole point of these being Spark-first):

* **exact_dedup** — one hash-groupBy shuffle on ``md5(normalized text)``;
  map-side partial aggregation makes the shuffle carry one row per distinct
  digest per partition, not per document.
* **shingle_rows** — the shared substrate: distinct character n-grams as
  *exploded rows* from ``textops.char_ngrams``, never as interpreted
  higher-order array lambdas. Everything stays inside whole-stage codegen;
  measured 26x faster than the ``transform``-array formulation.
* **minhash_lsh_pairs** — the LSH trick: candidate pairs come from *one
  group per band bucket* (shuffle keyed on (band, signature)), never from a
  cross join. At 10^12 docs the only quadratic step is within-bucket pair
  expansion, bounded by bucket size; the verify step re-checks true Jaccard
  on candidates only. Signatures are min-of-md5-hex per permutation —
  portable to any engine (the DuckDB oracle computes identical bytes).
* **ngram_jaccard_pairs** — exact pairwise Jaccard via a shared-shingle
  equi-join (shuffle on shingle); the ground-truth oracle for LSH recall.
  Not for 10^12 rows — that is what the LSH path is for.
* **simhash_table** — per-token md5-derived simhash (16 bits on the gate):
  explode + one hash-agg with one bit-vote sum per bit (map-side
  combinable).
* **embedding near-dup** — cosine >= tau pairs; exact form for verification,
  bucketed/ANN forms in similarity.py for the scale path.

Inputs arriving as a single parquet footer are re-spread before any
row-multiplying transform (``partitioning.spread_if_narrow``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tempeh_spark.partitioning import ROW_MULTIPLYING, spread_if_narrow
from tempeh_spark.textops import char_ngrams, normalize_text


def exact_dedup_clusters(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per distinct content digest: cluster size + keeper id."""
    return (
        df.select(
            F.col(id_col), F.md5(F.encode(normalize_text(text_col), "UTF-8")).alias("digest")
        )
        .groupBy("digest")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keeper"),
        )
    )


def shingle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    max_chars: int | None = None,
) -> DataFrame:
    """Distinct character n-grams as (id, g) rows: ``char_ngrams`` plus
    ``distinct``; the distinct's shuffle doubles as the data spread for
    downstream joins."""
    base = spread_if_narrow(df, id_col, ROW_MULTIPLYING)
    return char_ngrams(base, [F.col(id_col).alias("id")], text_col, ngram, max_chars).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
    max_chars: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via shared-shingle equi-join.

    shuffle 1: shingle distinct; shuffle 2: self-join on shingle
    (co-partitioned); shuffle 3: groupBy pair -> intersection size; union
    from per-doc shingle counts.

    ``max_df`` bounds the self-join blowup: a shingle shared by m docs
    yields m^2 join rows, so one stop-word-grade shingle detonates the join
    long before the LSH path would struggle. With ``max_df`` set, shingles
    whose document frequency exceeds it are dropped from the shingle sets
    entirely (counts AND intersections — jaccard is then computed over the
    df<=max_df shingle subspace, a standard dedup approximation). Leave
    ``None`` only for verifier-sized corpora."""
    sh = shingle_rows(df, id_col, text_col, ngram, max_chars)
    if max_df is not None:
        rare = (
            sh.groupBy("g").agg(F.count("*").alias("df")).where(F.col("df") <= max_df)
        ).select("g")
        sh = sh.join(rare, on="g", how="left_semi")
    counts = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    return (
        inter.join(ca, F.col("id_a") == F.col("ca.id"))
        .join(cb, F.col("id_b") == F.col("cb.id"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("ca.n_sh") + F.col("cb.n_sh") - F.col("inter")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures_wide(shingles: DataFrame, num_perm: int = 16) -> DataFrame:
    """Wide minhash signature: (id, mh0..mh{k-1}) of the (id, g) rows
    ``shingles`` in ONE hash aggregation over the un-exploded shingle rows
    — k ``min(md5('p<k>:' || g))`` aggregate columns, all md5s inside
    codegen, fully map-side combinable.

    This is the scale shape: the k-permutation fan-out lives in the
    aggregate expression list, NOT in the row count, so the agg's shuffle
    input is the shingle rows themselves (vs. a k-fold exploded copy —
    ~num_perm x less shuffled data for identical output bytes).

    Hex-string min is a valid permutation min-hash (md5 is the random
    permutation; lexicographic order on hex = numeric order on the digest),
    expressible identically in DuckDB for the oracle."""
    # NOTE r7: a "hash once per DISTINCT g" dictionary join was tried here
    # (md5 is a pure function of g, so the 16 permutation hashes can be
    # computed over ~13.6k distinct shingles instead of 10.9M occurrence
    # rows at sf1.0) and measured 2x WORSE end-to-end: the dictionary join
    # forces a by-g shuffle+sort of the full shingle table where this form
    # is ONE map-side-combined agg with inline codegen md5 — the extra
    # exchange costs far more than 175M short-string md5s save.
    aggs = [
        F.min(
            F.md5(F.encode(F.concat(F.lit(f"p{k}:"), F.col("g")), "UTF-8"))
        ).alias(f"mh{k}")
        for k in range(num_perm)
    ]
    return shingles.groupBy("id").agg(*aggs)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    ngram: int = 3,
    max_chars: int | None = None,
) -> DataFrame:
    """Tall form (id, k, mh) of ``minhash_signatures_wide`` — the per-doc
    unpivot explode is num_perm rows per doc AFTER aggregation, not before."""
    wide = minhash_signatures_wide(
        shingle_rows(df, id_col, text_col, ngram, max_chars), num_perm
    )
    kms = F.array(
        *[
            F.struct(F.lit(k).alias("k"), F.col(f"mh{k}").alias("mh"))
            for k in range(num_perm)
        ]
    )
    return wide.select("id", F.explode(kms).alias("km")).select(
        "id", F.col("km.k").alias("k"), F.col("km.mh").alias("mh")
    )


def band_signatures(shingles: DataFrame, num_perm: int = 16, bands: int = 4) -> DataFrame:
    """(id, band, sig) rows: each document's ``bands`` LSH band keys, the
    ``num_perm // bands`` consecutive minhash columns of a band joined by
    ``|``, straight off ``minhash_signatures_wide`` — one explode of a
    bands-long array per doc, no second groupBy/collect_list shuffle."""
    rows_per_band = num_perm // bands
    wide = minhash_signatures_wide(shingles, num_perm)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|", *[F.col(f"mh{b * rows_per_band + i}") for i in range(rows_per_band)]
            ).alias("sig"),
        )
        for b in range(bands)
    ]
    return wide.select("id", F.explode(F.array(*band_structs)).alias("bs")).select(
        "id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def lsh_candidates(banded: DataFrame) -> DataFrame:
    """Distinct (id_a, id_b) pairs, id_a < id_b, that share a (band, sig)
    bucket of the (id, band, sig) rows ``banded``.

    One group per bucket: buckets of two or more distinct ids expand into
    their pairs, so the only quadratic step is within a bucket. A self-join
    on (band, sig) would plan the whole ``banded`` subtree (the signature
    aggregation) once per side."""
    ids = banded.groupBy("band", "sig").agg(F.collect_set("id").alias("ids"))
    return (
        ids.where(F.size("ids") >= 2)
        .select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
    verify_threshold: float = 0.4,
    max_chars: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate generation + exact-Jaccard verification.

    bands of rows=num_perm/bands; candidates = pairs sharing any band
    signature (``lsh_candidates``: one group per (band, signature) bucket
    — never a cross join); verified against true shingle Jaccard >=
    verify_threshold.

    ``shingles``: pre-built (id, g) rows. The shingle subtree feeds FOUR
    consumers here (signatures, per-doc counts, both verify sides); a
    caller that materializes the whole result (``dedup_decisions``) should
    pass a persisted shingle table so the dominant normalize+explode+
    distinct stage runs once, not four times — measured 8.0 -> 5.5 s on
    the sf0.1 bench corpus.

    Building this DataFrame runs Spark jobs. Under AQE each
    ``localCheckpoint(eager=False)`` below (the shingle rows unless
    ``shingles`` is given, and the candidate pairs) runs the shuffle stages
    of its input when it is called; only the last stage of each waits for
    an action.
    """
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm={num_perm} must be divisible by bands={bands}: the "
            f"trailing {num_perm % bands} permutations would be computed but "
            f"never banded, silently lowering recall"
        )
    # FIVE consumers read the shingle table here (hash dictionary,
    # signature join, per-doc counts, both verify sides): materialize it
    # once. localCheckpoint, not persist() — ContextCleaner releases
    # the blocks when the DataFrame goes out of scope, so repeatedly
    # invoked gates don't leak CacheManager entries (same pattern as
    # similarity.embedding_lsh_near_pairs). eager=False does not make it
    # lazy: the shingle table's shuffle stages run here, at build time.
    sh = (
        shingles
        if shingles is not None
        else shingle_rows(df, id_col, text_col, ngram, max_chars).localCheckpoint(
            eager=False
        )
    )
    # three consumers (the two candidate-doc id lists + the intersection
    # join): checkpoint so the candidate pairs are computed once. Their
    # shuffle stages (signature agg, bucket agg) run here, at build time.
    cand = lsh_candidates(band_signatures(sh, num_perm, bands)).localCheckpoint(eager=False)

    # verify: true Jaccard, restricted to candidates. The r5 note here
    # warned that semi-joining sh down to candidate ids "re-executes the
    # whole banded candidate subtree" — that was true of the lazy-subtree
    # form; with `cand` checkpointed above the id lists are a cheap
    # re-read and AQE broadcasts them. The intersection itself is computed
    # from per-candidate-doc shingle SETS via ``array_intersect`` on the
    # candidate pair rows — |cand| rows of hash-set work — instead of the
    # r6 shape (cand x shingles join re-keyed by (id, g)), which shuffled
    # and sorted the corpus-wide shingle table twice. Shingle rows are
    # DISTINCT per doc, so size(array_intersect) == the join-count inter
    # value exactly; collect_list order varies with partitioning but the
    # intersection SIZE is order-independent. Set sizes are bounded by
    # the caller's max_chars cap (the giant-doc guard).
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sets = (
        sh.join(cand_ids, "id", "left_semi")
        .groupBy("id")
        .agg(F.collect_list("g").alias("gs"), F.count("*").alias("n_sh"))
    )
    ga = sets.select(
        F.col("id").alias("id_a"), F.col("gs").alias("gs_a"), F.col("n_sh").alias("n_a")
    )
    gb = sets.select(
        F.col("id").alias("id_b"), F.col("gs").alias("gs_b"), F.col("n_sh").alias("n_b")
    )
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("gs_a", "gs_b")).alias("inter"),
            "n_a",
            "n_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= verify_threshold)
    )


def simhash_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """(id, simhash) via the scale shape: explode tokens -> codegen md5 ->
    one hash-agg with ``bits`` bit-vote sums (map-side combinable).

    ``bits`` must be a multiple of 4 in [4, 60]: the per-token hash is the
    first bits/4 hex chars of md5, parsed as an integer — 60 bits stays
    inside a signed 64-bit value on every engine (DuckDB twin uses the same
    ('0x' || substr(md5, ...))::BIGINT parse). 16 bits is fine for small
    gate corpora but SATURATES at corpus scale (at sf0.1, 66% of all pairs
    sit within hamming 6 of each other); 60 bits is the configuration that
    still separates near-dups from noise at 10^9+ documents.

    Semantics: documents with ZERO tokens (empty/whitespace-only text) are
    DROPPED — a plain explode, matching the SQL-twin's ``unnest`` of an
    empty list. (Emitting simhash 0 for them would also cluster every empty
    doc into one giant hamming-0 bucket downstream, the wrong dedup answer.)
    """
    if bits % 4 != 0 or not 4 <= bits <= 60:
        raise ValueError("bits must be a multiple of 4 in [4, 60]")
    base = spread_if_narrow(df, id_col, ROW_MULTIPLYING)
    norm = normalize_text(text_col)
    # explode-then-where, not F.filter(...)-then-explode: the array filter
    # is an interpreted HOF per document (CLAUDE.md invariant); the post-
    # explode predicate is pure codegen with identical semantics
    exploded = base.select(
        F.col(id_col).alias("id"), F.explode(F.split(norm, " ")).alias("tok")
    ).where(F.col("tok") != "")
    hv = F.conv(
        F.substring(F.md5(F.encode(F.col("tok"), "UTF-8")), 1, bits // 4), 16, 10
    ).cast("long")
    hashed = exploded.select("id", hv.alias("hv"))
    votes = [
        F.sum(
            F.when(F.shiftright("hv", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = hashed.groupBy("id").agg(*votes)
    total = F.lit(0).cast("long")
    for b in range(bits):
        total = total + F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select("id", total.alias("simhash"))


def _band_ranges(bits: int, bands: int) -> list[tuple[int, int]]:
    """Split `bits` into `bands` contiguous (start, width) ranges, widths as
    even as possible (the leading `bits % bands` bands get one extra bit)."""
    base, extra = divmod(bits, bands)
    out, start = [], 0
    for b in range(bands):
        w = base + (1 if b < extra else 0)
        out.append((start, w))
        start += w
    return out


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int | None = None,
    bits: int = 16,
) -> DataFrame:
    """EXACT near-dup pairs by SimHash hamming distance, with a scale-safe
    plan: candidates come from a banded equi-join, never an all-pairs scan.

    The ``bits``-wide simhash is split into ``bands`` contiguous bit-bands
    (default ``max_hamming + 1``). Pigeonhole: a pair with hamming <=
    max_hamming has fewer differing bits than bands, so AT LEAST ONE band is
    bit-identical — joining on ``(band, band_bits)`` therefore has perfect
    recall for the exact hamming filter applied after. Output == the full
    O(n^2) pair scan, but the executed plan is a shuffled equi-join whose
    cost is bounded by per-bucket sizes (the DuckDB oracle computes the
    unrestricted full-pair ground truth, so the gate checks recall for real).

    At corpus scale use ``bits=60``: 16-bit hashes saturate (most pairs land
    within small hamming by collision alone), and wider bands (60/7 = 8-9
    bits -> 256-512 buckets per band) keep the within-bucket quadratic step
    small.
    """
    if bands is None:
        bands = max_hamming + 1
    if not 1 <= bands <= bits:
        raise ValueError(f"bands must be in [1, {bits}]")
    if bands < max_hamming + 1:
        raise ValueError(
            f"bands={bands} cannot guarantee recall at max_hamming={max_hamming}; "
            f"need >= {max_hamming + 1} bands (pigeonhole)"
        )
    sh = simhash_table(df, id_col, text_col, bits=bits)
    probes = [
        F.struct(
            F.lit(band).alias("band"),
            F.shiftright("simhash", start).bitwiseAND(F.lit((1 << width) - 1)).alias("key"),
        )
        for band, (start, width) in enumerate(_band_ranges(bits, bands))
    ]
    banded = sh.select(
        "id", "simhash", F.explode(F.array(*probes)).alias("bk")
    ).select("id", "simhash", "bk.band", "bk.key")
    # the self-join plans the vote-agg subtree once per side (the hamming
    # filter needs both simhashes); it is small, and a checkpoint here
    # measured 5.1 -> 6.0 s at sf1.0
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")).cast("long"))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# duplicate_components: mirrored-edge count up to which the driver
# union-find runs, and the round budget of the distributed min-label loop
DRIVER_EDGE_LIMIT = 1_000_000
MAX_ROUNDS = 30


def duplicate_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Connected components over a near-dup pair graph: (doc_id, component)
    where component = min doc id reachable — the keeper-assignment step that
    turns pairwise dup evidence into keep/drop decisions.

    Two physical strategies, picked by MEASURED edge count (the same
    adaptive move AQE makes for join strategies — the logical result is
    identical either way):

    * ``0 < n_edges <= DRIVER_EDGE_LIMIT``: union-find on the driver. The
      dup graph is already a corpus-scale REDUCTION (one row per verified
      near-dup pair), and below the limit a driver pass beats 2+ rounds of
      join/agg/sync stages by seconds of pure scheduling latency. Driver
      memory at the 1M-edge default: the Arrow ``toPandas`` transfer is
      two 1M-element columns (~16 MB for long ids) and the union-find
      dict tops out at ~2M entries (a few hundred MB worst case) — sized
      for a stock driver, NOT just this sandbox's 8g one. This is a
      deliberate small-GRAPH fast path, not a small-corpus shortcut:
      the edge set it collects was produced by the fully distributed
      LSH/exact pipeline.
    * larger graphs: iterative min-label propagation — each round every
      vertex takes the min of its own and its neighbors' labels;
      convergence needs O(component diameter) rounds (tiny for dup
      clusters, which are near-cliques). All data stays on executors; the
      driver sees a one-row convergence count per round, with
      ``localCheckpoint`` truncating lineage every few rounds, at most
      ``MAX_ROUNDS`` rounds. ``DRIVER_EDGE_LIMIT = 0`` forces this path
      (the tests monkeypatch it).

    The DuckDB oracle computes the TRUE transitive closure with a recursive
    CTE, so the gate verifies the fixpoint, not the procedure.

    Building this DataFrame runs Spark jobs: the edge count, then the
    driver path's ``toPandas`` or every round of the loop.
    """
    converged = False
    # Symmetrize with ONE pass over pairs: explode two mirrored structs per
    # row. The self-union form (pairs UNION pairs-swapped) executes the
    # whole upstream pair-producer subtree TWICE — for dedup_decisions that
    # is the full LSH candidate+verify pipeline, measured +2 s at sf0.1.
    # NULL-id edges are malformed evidence: drop them BEFORE mirroring so
    # both strategies see the same graph (the driver union-find would raise
    # TypeError on a None compare; the distributed loop would silently emit
    # the null-paired vertex as a singleton — neither is useful).
    raw = (
        pairs.where(F.col(id_a).isNotNull() & F.col(id_b).isNotNull())
        .select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("s"), F.col(id_b).alias("d")),
                    F.struct(F.col(id_b).alias("s"), F.col(id_a).alias("d")),
                )
            ).alias("e")
        )
        .select("e.s", "e.d")
        .persist()
    )
    # the strategy gate counts PRE-distinct MIRRORED rows — union-find is
    # idempotent to duplicate edges, so the fast path skips the distinct's
    # shuffle entirely. Mirroring doubles every pair, so the effective gate
    # is <= DRIVER_EDGE_LIMIT/2 DISTINCT input pairs (fewer if the input
    # repeats pairs); a deliberately conservative bound — overshooting only
    # routes a borderline graph to the always-correct distributed loop.
    n_edges = raw.count()
    # strict > 0 on the limit so DRIVER_EDGE_LIMIT=0 genuinely forces the
    # distributed loop even for an empty edge set (test/coverage contract)
    if 0 < DRIVER_EDGE_LIMIT and n_edges <= DRIVER_EDGE_LIMIT:
        from pyspark.sql.types import StructField, StructType

        from tempeh_spark.session import local_frame

        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        # Both transfers go through Arrow. In: toPandas, ONE job, two flat
        # columns (~16 MB at the 1M-edge limit for long ids) — collect()
        # would build n_edges Row objects (GBs at the limit) and
        # toLocalIterator schedules one sequential mini-job per partition.
        # Out: local_frame below. raw is already NULL-free (filtered at
        # construction), so the rd < rs compares below are always valid.
        pdf = raw.toPandas()
        # .tolist() yields plain Python scalars (numpy ints would leak into
        # the union-find keys)
        for s, d in zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()):
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                # union-by-min: the smaller root stays root, so every
                # tree's root IS the component's min id at the end
                if rd < rs:
                    rs, rd = rd, rs
                parent[rd] = rs
        out_rows = [(v, find(v)) for v in parent]
        raw.unpersist()
        id_type = raw.schema[0].dataType
        schema = StructType(
            [StructField("doc_id", id_type), StructField("component", id_type)]
        )
        # one Arrow table, planned as a LocalTableScan: a createDataFrame
        # of the row list plans as Scan ExistingRDD, whose read starts a
        # second Python worker pool (train_dedup, 1000 docs on 4 cores:
        # worker_peak_rss_mb 627 MB with it, 317 MB without)
        return local_frame(pairs.sparkSession, out_rows, schema)
    edges = raw.distinct().persist()
    edges.count()
    raw.unpersist()
    labels = (
        edges.select(F.col("s").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("label"))
        .persist()
    )
    # cache hygiene: unpersist must be called on the EXACT DataFrame object
    # that was persisted — Dataset.unpersist on a projection of it is a
    # silent no-op (CacheManager matches the logical plan), which used to
    # leak one cached label table per round. prev_cached tracks the live
    # persisted object; it is released only after the next round's table is
    # materialized (the `changed` agg forces it).
    prev_cached = labels
    for it in range(MAX_ROUNDS):
        nbr_min = (
            edges.join(labels, edges.s == labels.v)
            .groupBy(F.col("d").alias("v2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels.v == nbr_min.v2, "left")
            .select(
                "v",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("chg"),
            )
        )
        if it % 4 == 3:
            new_labels = new_labels.localCheckpoint()  # eager; cleaner-managed
            new_cached = None
        else:
            new_labels = new_labels.persist()
            new_cached = new_labels
        changed = new_labels.agg(F.sum(F.col("chg").cast("long"))).first()[0] or 0
        labels = new_labels.select("v", "label")
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = new_cached
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        # returning intermediate labels would silently split components —
        # a diameter > MAX_ROUNDS graph needs a bigger budget, loudly. The
        # last round's persisted labels go first, or they stay cached.
        if prev_cached is not None:
            prev_cached.unpersist()
        raise RuntimeError(
            f"duplicate_components did not converge in {MAX_ROUNDS} rounds "
            f"(component diameter exceeds dedup.MAX_ROUNDS); raise MAX_ROUNDS"
        )
    # materialize the answer, then release the loop's cached blocks: a
    # long-lived session calling this repeatedly must not accumulate
    # persisted label RDDs in executor storage
    result = labels.select(
        F.col("v").alias("doc_id"), F.col("label").alias("component")
    ).localCheckpoint(eager=True)
    if prev_cached is not None:
        prev_cached.unpersist()
    return result


def dedup_decisions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 8,
    verify_threshold: float = 0.4,
    max_chars: int | None = None,
    extra_pairs: DataFrame | None = None,
) -> DataFrame:
    """The end-to-end dedup deliverable a training-data pipeline consumes:
    one row per input document — ``(doc_id, keeper, keep)``.

    Composition of the operators above:

    1. edges = EXACT duplicate pairs (same normalized-text digest — star
       edges to the group min; catches documents too short to shingle)
       UNION verified minhash-LSH near-dup pairs
       UNION ``extra_pairs`` if given — any further dup-evidence family
       as ``(id_a, id_b)`` rows (e.g. embedding-cosine near-dups from
       ``embedding_near_pairs`` / ``similarity.embedding_lsh_near_pairs``),
       so ALL evidence feeds ONE component pass instead of per-family
       keep/drop votes that can disagree;
    2. connected components over the union (min-label propagation);
    3. keeper = min doc id of the component; singletons keep themselves;
       ``keep = (doc_id == keeper)``.

    Scale shape: both edge producers are bucketed equi-joins, the closure
    is the checkpointed iterative loop, and the final assignment is one
    left join on doc id. The DuckDB oracle recomputes the transitive
    closure over an equivalent edge set (full exact-dup cliques vs star
    edges — same components by construction).

    The shingle table is persisted for the duration of the call (the LSH
    step reads it four times), then released: ``duplicate_components``
    fully materializes the edge set into a localCheckpoint, so nothing
    downstream of the returned DataFrame references the shingles. At
    10^12-doc scale this persist is MEMORY_AND_DISK on executor-local
    storage — the standard trade for not recomputing the corpus-wide
    explode per consumer."""
    from pyspark.sql.window import Window

    sh = shingle_rows(df, id_col, text_col, ngram, max_chars).persist()
    near = minhash_lsh_pairs(
        df, id_col, text_col, num_perm, bands, ngram, verify_threshold, max_chars,
        shingles=sh,
    ).select("id_a", "id_b")
    # star edges keeper -> member via ONE window over the digest groups
    # (the groupBy+self-join form scanned the digest subtree twice)
    dig = df.select(
        F.col(id_col).alias("id"),
        F.md5(F.encode(normalize_text(text_col), "UTF-8")).alias("digest"),
    )
    exact = (
        dig.withColumn("keeper", F.min("id").over(Window.partitionBy("digest")))
        .where(F.col("id") != F.col("keeper"))
        .select(F.col("keeper").alias("id_a"), F.col("id").alias("id_b"))
    )
    # finally: the documented non-convergence RuntimeError from
    # duplicate_components must not leak the persisted corpus-wide shingle
    # table into a long-lived session (the cache-hygiene failure mode the
    # prev_cached comment above warns about)
    edges = near.unionByName(exact)
    if extra_pairs is not None:
        edges = edges.unionByName(extra_pairs.select("id_a", "id_b"))
    try:
        comp = duplicate_components(edges)
    finally:
        sh.unpersist()
    return _keepers(df, id_col, comp)


def embedding_dedup_decisions(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Embedding-space end-to-end dedup: (doc_id, keeper, keep) from
    cosine-near-duplicate evidence — the vector-leg analogue of
    ``dedup_decisions``, and the consumer that turns
    ``featurize.text_embedding`` into keep/drop training-data decisions.

    Default edge producer is the EXACT verifier ``embedding_near_pairs``
    (all-pairs by design — gate/oracle scale). For crawl scale, pass
    ``pairs=similarity.embedding_lsh_near_pairs(...)`` (banded candidates
    + cosine verify, equi-join only) — the component/keeper machinery is
    identical either way."""
    if pairs is None:
        pairs = embedding_near_pairs(vecs, id_col, vec_col, threshold)
    comp = duplicate_components(pairs.select("id_a", "id_b"))
    return _keepers(vecs, id_col, comp)


def _keepers(df: DataFrame, id_col: str, comp: DataFrame) -> DataFrame:
    """(doc_id, keeper, keep) for every row of ``df``: a document's keeper
    is its component id, or itself when no edge touched it."""
    keeper = F.coalesce(F.col("component"), F.col("doc_id"))
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(comp, "doc_id", "left")
        .select("doc_id", keeper.alias("keeper"), (keeper == F.col("doc_id")).alias("keep"))
    )


def embedding_near_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding near-duplicates: cosine >= threshold pairs (exact).

    For 10^12-scale use similarity.ivf_topk-style bucketing first; this
    exact form is the verifier/oracle path. Ids must be integral (any
    width; emitted as BIGINT) — anything else raises ``TypeError`` here,
    before any job runs.

    Building this DataFrame runs Spark jobs when ``df`` has a shuffle (a
    featurizer output does): the vectors are ``localCheckpoint(eager=False)``-ed,
    and under AQE that call runs their upstream shuffle stages at once.
    """
    from pyspark.sql.types import IntegralType

    from tempeh_spark.vecmath import blocked_pairs

    if not isinstance(df.schema[id_col].dataType, IntegralType):
        raise TypeError(
            f"embedding_near_pairs needs integral ids; {id_col!r} is "
            f"{df.schema[id_col].dataType.simpleString()}"
        )
    # The upstream (possibly an expensive featurizer) is localCheckpointed
    # once instead of recomputed for both sides of the blocked scaffold;
    # that runs its shuffle stages now, while building.
    # Still O(N^2) compute BY DESIGN (this is the exact verifier; the scale
    # path is similarity.embedding_lsh_near_pairs).
    v = df.select(F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec"))
    return blocked_pairs(v.localCheckpoint(eager=False), threshold)
