"""Corpus-level cleaning operators a web-scale training-data pipeline runs
between extraction and tokenization: C4-style global line dedup, Gopher-
style document quality filtering, per-host caps, and benchmark
decontamination.

Scale shapes (all shuffles are hash-partitioned equi-joins or aggs):

* ``segment_dedup`` — explode segments -> one global hash-agg for segment
  document-frequency (map-side combined) -> semi-join kept segments back ->
  per-doc reassembly agg. Two shuffles over segment rows, one over docs.
* ``gopher_quality`` — per-doc signals in pure codegen except the top-word
  fraction, which is one explode + two hash-aggs (word counts are map-side
  combined; no joins carry documents).
* ``per_host_cap`` — one window over hosts (shuffle keyed by host); the
  cap turns crawl-frontier skew (one host = millions of pages) into a
  bounded per-host contribution. Skewed hosts are exactly why this exists;
  the window's sort is per-host and the heaviest host's partition is
  bounded by AQE skew splitting.
* ``decontaminate`` — word-n-gram shingles of corpus and benchmark, one
  equi-join on the shingle hash (benchmark side is small -> broadcast),
  one per-doc agg. Never materializes a cross product.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tempeh_spark.textops import WS, word_ngrams


def _words(text_col: str, lower: bool = False):
    # explicit whitespace class, not \s: see textops.WS (Java-vs-RE2 \x0B).
    # array_remove, not F.filter(..., lambda): the higher-order filter runs
    # an interpreted per-element lambda (the CLAUDE.md corpus-path ban);
    # array_remove is a plain codegen collection op and drops the same ""
    # tokens (leading/trailing/runs of WS), preserving order and NULL->NULL.
    col = F.lower(F.col(text_col)) if lower else F.col(text_col)
    return F.array_remove(F.split(col, rf"[{WS}]+"), "")


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_df: int = 1,
) -> DataFrame:
    """C4-style GLOBAL segment (line/paragraph) deduplication: any segment
    whose normalized form appears in more than ``max_df`` documents is
    dropped from EVERY document (including the first — C4's rule for
    boilerplate like cookie banners and nav text). Returns one row per
    input document: (doc_id, clean_text, n_kept, n_dropped).

    Segment identity is md5(lower(trim(segment))); counting is by distinct
    document (a segment repeated within one doc is not 'duplicated across
    the corpus'). Reassembly preserves original segment order.

    ``sep`` is a LITERAL separator (it is rejoined literally on
    reassembly), so the split quotes it with Java's \\Q...\\E — a regex
    metacharacter separator like '.' used to split on EVERY character.
    NULL-text docs keep their output row (clean_text NULL, counts 0)
    rather than vanishing from the corpus."""
    quoted = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    seg = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), quoted)).alias("pos", "segment"),
    ).withColumn("h", F.md5(F.encode(F.lower(F.trim("segment")), "UTF-8")))
    docfreq = seg.groupBy("h").agg(F.count_distinct("id").alias("df"))
    marked = seg.join(docfreq, "h").withColumn("keep", F.col("df") <= max_df)
    agg = (
        marked.groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("keep"), F.struct("pos", "segment"))
                            )
                        ),
                        lambda s: s["segment"],
                    ),
                    sep,
                ),
                F.lit(""),
            ).alias("clean_text"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        )
    )
    # posexplode(split(NULL)) emits no rows — join back so every input doc
    # has an output row (the documented contract)
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "clean_text",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).alias("n_dropped"),
        )
    )


def gopher_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 40,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    min_alpha_word_frac: float = 0.8,
    max_top_word_frac: float = 0.25,
) -> DataFrame:
    """Gopher-style document quality signals + keep decision:
    word count bounds, mean word length window, fraction of words
    containing a letter, and the fraction of the document taken by its
    single most frequent word (catches 'the the the ...' degenerate text).

    Every signal comes from ONE exploded-word pipeline (explode -> per-
    (doc, word) count -> per-doc agg, both map-side combinable) so the hot
    path is pure codegen — no interpreted per-row array folds.

    Signals are rounded to 4 decimals so the decision is reproducible
    across engines."""
    wc = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), rf"[{WS}]+")).alias("w"),
        )
        .where(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("total"),
            F.max("c").alias("top_c"),
            F.sum(F.length("w") * F.col("c")).alias("chars"),
            F.sum(F.when(F.col("w").rlike("[A-Za-z]"), F.col("c")).otherwise(0)).alias(
                "alpha"
            ),
        )
    )
    out = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(wc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("total", F.lit(0)).cast("long").alias("n_words"),
            F.round(
                F.coalesce(F.col("chars") / F.col("total"), F.lit(0.0)), 4
            ).alias("mean_word_len"),
            F.round(
                F.coalesce(F.col("alpha") / F.col("total"), F.lit(0.0)), 4
            ).alias("alpha_word_frac"),
            F.round(
                F.coalesce(F.col("top_c") / F.col("total"), F.lit(0.0)), 4
            ).alias("top_word_frac"),
        )
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("top_word_frac") <= max_top_word_frac)
    )
    return out.withColumn("keep", keep)


def per_host_cap(
    df: DataFrame,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-host document cap — the standard crawl-skew control: any single
    host contributes at most ``cap`` documents, chosen deterministically
    (lowest doc ids first, so reruns pick the same survivors). Output one
    row per input doc: (doc_id, host, host_rank, keep)."""
    # scheme match is case-insensitive and the host is lowercased: mixed-
    # case urls used to fall into one shared '' host partition (wrong caps
    # AND a single-task window skew magnet)
    host = F.lower(F.regexp_extract(F.col(url_col), r"(?i)^[a-z][a-z0-9+.-]*://([^/]+)", 1))
    w = Window.partitionBy("host").orderBy(F.col(id_col).asc())
    return (
        df.select(F.col(id_col).alias("doc_id"), host.alias("host"))
        .withColumn("host_rank", F.row_number().over(w))
        .select(
            "doc_id",
            "host",
            F.col("host_rank").cast("long").alias("host_rank"),
            (F.col("host_rank") <= cap).alias("keep"),
        )
    )


def word_shingle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 8,
) -> DataFrame:
    """Distinct word n-grams as (id, g) rows — the decontamination
    substrate: ``textops.word_ngrams`` over the lowercased whitespace
    words, plus ``distinct``."""
    words = _words(text_col, lower=True)
    return word_ngrams(df, [F.col(id_col).alias("id")], words, ngram).distinct()


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at least
    ``min_hits`` distinct word n-grams with the benchmark set (the
    standard eval-leak guard run before training). The benchmark shingle
    set is small by construction -> broadcast to the corpus-shingle join.
    Output one row per corpus doc: (doc_id, n_hits, contaminated)."""
    c_sh = word_shingle_rows(corpus, id_col, text_col, ngram)
    b_sh = word_shingle_rows(benchmark, id_col, text_col, ngram).select("g").distinct()
    hits = (
        c_sh.join(F.broadcast(b_sh), "g", "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        corpus.select(F.col(id_col).alias("doc_id"))
        .join(hits.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


# PII patterns restricted to the regex subset Java (Spark) and RE2 (DuckDB)
# execute identically: no backrefs, no lookaround.
PII_EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP_RX = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RX = r"\+?\d[\d\- ]{7,}\d"


def pii_scrub(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact emails, IPv4 addresses and phone-like digit runs with typed
    placeholder tokens, counting each. Order matters and is fixed —
    email, then IP, then phone — so an IP is never half-eaten by the
    greedier phone pattern; both engines apply the same chain. Pure
    codegen (regexp_replace / regexp_count), no Python."""
    t = F.col(text_col)
    n_emails = F.regexp_count(t, F.lit(PII_EMAIL_RX))
    t1 = F.regexp_replace(t, PII_EMAIL_RX, "<EMAIL>")
    n_ips = F.regexp_count(t1, F.lit(PII_IP_RX))
    t2 = F.regexp_replace(t1, PII_IP_RX, "<IP>")
    n_phones = F.regexp_count(t2, F.lit(PII_PHONE_RX))
    t3 = F.regexp_replace(t2, PII_PHONE_RX, "<PHONE>")
    return df.select(
        F.col(id_col).alias("doc_id"),
        t3.alias("clean_text"),
        n_emails.cast("long").alias("n_emails"),
        n_ips.cast("long").alias("n_ips"),
        n_phones.cast("long").alias("n_phones"),
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals: the fraction of the document taken
    by its most frequent word BIGRAM, and the duplicate-word fraction
    (1 - distinct/total). Degenerate 'foo bar foo bar ...' spam scores
    near 1.0 on both. One exploded codegen pipeline, map-side combinable."""
    words = _words(text_col)
    base = df.select(F.col(id_col).alias("doc_id"), words.alias("ws"))
    bi = (
        word_ngrams(base, ["doc_id"], "ws", 2)
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bg"), F.sum("c").alias("n_bg"))
    )
    uni = (
        base.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("total"), F.count_distinct("w").alias("distinct_w"))
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(bi, "doc_id", "left")
        .join(uni, "doc_id", "left")
        .select(
            "doc_id",
            F.round(F.coalesce(F.col("top_bg") / F.col("n_bg"), F.lit(0.0)), 4).alias(
                "top_bigram_frac"
            ),
            F.round(
                F.coalesce(
                    1 - F.col("distinct_w") / F.col("total"), F.lit(0.0)
                ),
                4,
            ).alias("dup_word_frac"),
        )
    )


def _md5_bucket(id_col: str, salt: str):
    """The engine-common sampling draw: first 8 hex digits of
    md5(salt || ':' || id) as a 32-bit integer. ONE definition on purpose —
    this expression is a cross-engine contract (the DuckDB twin is
    ``('0x' || substr(md5(salt || ':' || id), 1, 8))::BIGINT``) shared by
    ``hash_sample`` and ``mixture_sample``; a drift in one caller would
    silently diverge from its oracle."""
    return F.conv(
        F.substring(
            F.md5(F.encode(F.concat_ws(":", F.lit(salt), F.col(id_col)), "UTF-8")),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")


def hash_sample(
    df: DataFrame,
    rate: float,
    id_col: str = "doc_id",
    salt: str = "s0",
) -> DataFrame:
    """Deterministic content-independent sampling for train/val splits:
    keep iff the first 8 hex digits of md5(salt || ':' || id), read as a
    32-bit integer, fall below ``floor(rate * 2^32)``. Pure integer
    comparison — no float rounding to diverge across engines. Engine-
    portable (md5 everywhere), rerun-stable, and independent across salts —
    unlike rand(seed), which no two engines evaluate identically."""
    bucket = _md5_bucket(id_col, salt)
    threshold = int(rate * 2**32)
    return df.select(
        F.col(id_col).alias("doc_id"),
        bucket.alias("bucket"),
        (bucket < F.lit(threshold)).alias("keep"),
    )


def hll_constants(p: int, w: int) -> tuple[float, list[int]]:
    """Constants shared by ``hll_distinct`` and its SQL oracle twin.

    Returns ``(scale, linc)``: ``scale`` is the HyperLogLog bias-corrected
    numerator ``alpha_m * m^2 * 2^w`` pre-multiplied in Python so BOTH
    engines receive ONE double literal (each engine then performs a single
    IEEE division by the exact-integer register sum — bit-identical);
    ``linc`` is the small-range linear-counting table
    ``round(m * ln(m / V))`` for V = 1..m, pre-rounded to integers so no
    cross-engine ``ln`` evaluation can diverge (libm implementations are
    not required to be correctly rounded)."""
    m = 1 << p
    if m >= 128:
        alpha = 0.7213 / (1 + 1.079 / m)
    elif m == 64:
        alpha = 0.709
    elif m == 32:
        alpha = 0.697
    else:
        alpha = 0.673
    scale = alpha * m * m * float(1 << w)
    linc = [math.floor(m * math.log(m / v) + 0.5) for v in range(1, m + 1)]
    return scale, linc


def hll_distinct(
    df: DataFrame,
    item_col: str,
    group_cols: tuple[str, ...] = ("source",),
    p: int = 8,
    w: int = 20,
) -> DataFrame:
    """Deterministic HyperLogLog distinct count per group — the way to
    count distincts at corpus scale WITHOUT a distinct shuffle.

    Flajolet et al., "HyperLogLog: the analysis of a near-optimal
    cardinality estimation algorithm" (AofA 2007). Register index = first
    ``p`` bits of md5(item); rank = leading-zero run of the next ``w``
    bits + 1, computed as ``(w+1) - length(bin(v))`` (both Spark and
    DuckDB ``bin`` render integers unpadded, so the length IS the bit
    position of the leading 1). Standard bias correction, plus the
    small-range linear-counting branch driven by a pre-computed integer
    table (see ``hll_constants``).

    Scale shape (the whole point): exact distinct of N items is a shuffle
    of N rows; this is ONE ``groupBy(group, register).max(rank)`` whose
    map-side combine bounds every mapper's shuffle output at
    ``groups * 2^p`` rows regardless of corpus size, then a second agg
    over that bounded set. Register rows are also a mergeable sketch:
    union two corpora's registers and re-``max`` to merge. Every
    arithmetic step is exact-integer or a single shared-literal IEEE
    division, so the estimate is order-independent and engine-portable
    (the DuckDB oracle reproduces it bit-for-bit).

    Constraints: ``p`` and ``w`` multiples of 4 (hex-digit slicing);
    ``p + w <= 52`` keeps the register sum exactly representable as a
    double for the estimate division. Default p=8 (m=256 registers,
    ~6.5% standard error), w=20 (rank headroom to ~10^6 distincts per
    register — raise w before p when scaling up)."""
    if p % 4 or w % 4:
        raise ValueError("p and w must be multiples of 4 (hex slicing)")
    if p + w > 52:
        raise ValueError("p + w must be <= 52 (exact double register sum)")
    m = 1 << p
    scale, linc = hll_constants(p, w)
    h = F.md5(F.encode(F.col(item_col).cast("string"), "UTF-8"))
    reg = F.conv(F.substring(h, 1, p // 4), 16, 10).cast("long")
    v = F.conv(F.substring(h, p // 4 + 1, w // 4), 16, 10).cast("long")
    rank = F.when(v == F.lit(0), F.lit(w + 1)).otherwise(
        F.lit(w + 1) - F.length(F.bin(v))
    )
    gcols = list(group_cols)
    regs = (
        df.where(F.col(item_col).isNotNull())
        .select(*gcols, reg.alias("reg"), rank.alias("rank"))
        .groupBy(*gcols, "reg")
        .agg(F.max("rank").alias("mx"))
    )
    per = regs.groupBy(*gcols).agg(
        (
            F.sum(F.expr(f"shiftleft(cast(1 as bigint), {w} - mx)"))
            + (F.lit(m) - F.count(F.lit(1))) * F.lit(1 << w)
        ).alias("s_units"),
        F.count(F.lit(1)).cast("long").alias("n_seen"),
    )
    est_raw = F.floor(F.lit(scale) / F.col("s_units").cast("double")).cast("long")
    zeros = (F.lit(m) - F.col("n_seen")).cast("int")
    corrected = F.when(
        (zeros > F.lit(0)) & (est_raw <= F.lit(m * 5 // 2)),
        F.element_at(F.array(*[F.lit(x) for x in linc]), zeros).cast("long"),
    ).otherwise(est_raw)
    return per.select(*gcols, corrected.alias("hll_distinct"))


def equiwidth_histogram(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    lo: int = 0,
    hi: int = 1000,
    buckets: int = 20,
) -> DataFrame:
    """Equi-width histogram of an integer column — corpus distribution
    shape with a bounded shuffle (the third sketch leg next to
    ``hll_distinct`` "how many distinct" and ``freqsketch`` "how often
    this one": "how is it DISTRIBUTED").

    Bucket index is pure BIGINT arithmetic, ``(v - lo) * buckets DIV
    (hi - lo)`` clamped into ``[0, buckets-1]`` (under/overflow rows land
    in the edge buckets rather than disappearing — an audit histogram
    must account for every row), so the result is exact, order- and
    partition-independent, and bit-equal in any engine with integer
    division — no float ever appears.

    Scale shape: ONE ``groupBy(group, bucket).count()`` whose map-side
    combine bounds every mapper's shuffle output at ``groups * buckets``
    rows regardless of corpus size; histograms merge by adding counts.
    ``lo``/``hi`` are caller-fixed literals by design (data-dependent
    bounds would need an extra full pass; at crawl scale you know the
    audit range, and the clamp keeps outliers visible at the edges).
    """
    if buckets < 1 or hi <= lo:
        raise ValueError("need buckets >= 1 and hi > lo")
    # clamp the VALUE into [lo, hi] before the multiply: an extreme value
    # like 2^62 would otherwise overflow (v - lo) * buckets — Spark
    # (non-ANSI) wraps negative and misfiles the row in bucket 0 while
    # DuckDB errors. Post-clamp the numerator is bounded by
    # (hi - lo) * buckets, and in-range values are unchanged.
    # NB: Spark's greatest/least SKIP nulls (they return the extreme of
    # the non-null operands), so a NULL value would clamp to ``hi`` —
    # filter on the RAW column, never on the clamped expression.
    raw = F.col(value_col).cast("long")
    v = F.greatest(F.lit(lo).cast("long"), F.least(F.lit(hi).cast("long"), raw))
    gcols = list(group_cols)
    # BIGINT `div`, not `/` (double division would put an IEEE rounding
    # step in front of floor). Spark `div` truncates toward zero where
    # DuckDB `//` floors, but they only disagree on NEGATIVE numerators,
    # which the value clamp has already removed.
    num = ((v - F.lit(lo)) * F.lit(buckets)).alias("_num")
    idx = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.lit(buckets - 1).cast("long"), F.expr(f"_num div {hi - lo}")),
    )
    out = (
        df.where(raw.isNotNull())
        .select(*gcols, num)
        .select(*gcols, idx.alias("bucket"))
        .groupBy(*gcols, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    width = (hi - lo) / buckets
    return out.select(
        *gcols,
        F.col("bucket").cast("long").alias("bucket"),
        (F.lit(lo) + F.col("bucket") * F.lit(width)).cast("double").alias("bucket_lo"),
        F.col("n").cast("long").alias("n"),
    )


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    id_col: str = "doc_id",
    group_col: str = "source",
    default_rate: float = 0.0,
    salt: str = "mix0",
) -> DataFrame:
    """Deterministic per-source mixture sampling — the Pile/Dolma-style
    "X% of source A, Y% of source B" corpus-mixing step, as one stateless
    codegen projection.

    Same integer md5-bucket draw as ``hash_sample`` (engine-portable,
    rerun-stable, salt-independent of the train/val split draws), but the
    keep threshold comes from a PER-SOURCE rate map folded into literal
    integer thresholds in the plan (``floor(rate * 2^32)`` — no float
    comparison anywhere). Sources absent from ``rates`` fall back to
    ``default_rate`` (0.0 = drop, 1.0 = pass-through).

    Scale shape: zero shuffles, zero joins — the rate map is a plan
    literal (a mixture spec is dozens of sources, not data), so this
    composes into any scan-side filter and costs one md5 per row.
    """
    bucket = _md5_bucket(id_col, salt)
    thr = F.lit(int(default_rate * 2**32))
    for src, rate in sorted(rates.items()):
        thr = F.when(F.col(group_col) == F.lit(src), F.lit(int(rate * 2**32))).otherwise(thr)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias(group_col),
        bucket.alias("bucket"),
        (bucket < thr).alias("keep"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    cost_col: str,
    group_cols: tuple[str, ...] = ("source",),
    order_col: str = "doc_id",
) -> DataFrame:
    """Deterministic sequence packing — assign documents to fixed-budget
    training bins (the "pack docs into 2048-token sequences" step) with
    NO global sort.

    Contract: within each group, documents form one contiguous stream in
    ``order_col`` order; a document's bin is the budget-window its START
    offset falls in (``start div budget`` — exact BIGINT arithmetic, so
    the assignment is order-of-evaluation-independent and engine-portable).
    Documents may straddle a boundary; the trainer's loader splits those,
    which keeps the assignment a pure function of (group, order, cost)
    instead of a sequential first-fit loop no engine can parallelize.

    Scale shape: ONE window exchange, partitioned by the group columns —
    packing parallelizes across groups/shards (at crawl scale: pack per
    source-shard, never a single global stream, which would serialize the
    window into one task). ``order_col`` must be unique within a group
    (the window order must be total for the cumsum to be deterministic).
    """
    if budget < 1:
        raise ValueError("budget must be positive")
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cost = F.col(cost_col).cast("long")
    start = (F.sum(cost).over(w) - cost).alias("_start")
    gcols = list(group_cols)
    return (
        df.select(*gcols, F.col(order_col), cost.alias("_cost"), start)
        .select(
            *gcols,
            F.col(order_col),
            F.col("_start").alias("start_offset"),
            F.expr(f"_start div {int(budget)}").alias("bin"),
            F.col("_cost").alias("cost"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-span detection — the span-level SELF-dedup
    signal of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (arXiv:2107.06499): a word n-gram appearing in
    ``min_docs``+ distinct documents is duplicated TRAINING content even
    when no whole document is a near-duplicate (boilerplate, licenses,
    quoted passages). Complements ``decontaminate`` (which compares
    against an external benchmark set) and ``segment_dedup`` (whose unit
    is the line, not a sliding window).

    Output one row per doc: (doc_id, n_spans, n_dup_spans, flagged) —
    integer-only, no float anywhere, so the twin is bit-exact.

    Scale shape: the shingle subtree (split/explode/slice/distinct) runs
    ONCE — gram document-frequency is a ``count(*) over (partition by
    g)`` window on the shingle rows (the r5 dedup lesson: never consume
    a producer subtree twice when one window can annotate it), then ONE
    per-doc agg computes both counts. Two exchanges total (by gram, by
    doc); the only join carries doc ids, never payloads.
    """
    sh = word_shingle_rows(df, id_col, text_col, ngram)
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("g"))
    per_doc = (
        sh.withColumn("df", dfreq)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("df") >= min_docs).cast("long")).alias("n_dup"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup_spans"),
            (F.coalesce("n_dup", F.lit(0)) > 0).alias("flagged"),
        )
    )
