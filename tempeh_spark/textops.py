"""Text analysis operators for training-data pipelines.

All operators are pure Spark built-in expressions (JVM-side, whole-stage
codegen, no Python in the hot path). Each has an exact ANSI-SQL twin used as
a DuckDB oracle in ``__spark_entry__.oracle_sql`` — the twin is part of the
operator's contract, so expressions here deliberately stick to
dialect-portable constructs (regexp classes are RE2/Java-compatible, float
outputs are rounded).

At 100 TB these run as map-only projections over the extracted ``text``
column: no shuffle, no UDF, fully pushdown-friendly. ``char_ngrams`` and
``word_ngrams`` are the one n-gram explode every shingling operator uses
(map-only too: one row per gram, no shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# stopword regexes per language (tiny, deterministic language-ID heuristic)
LANG_STOPWORDS = {
    "en": r"\b(the|and|of|to|in|is|you|that|it|for)\b",
    "de": r"\b(der|die|und|das|nicht|ist|ich|ein|zu|den)\b",
    "fr": r"\b(le|la|les|et|des|un|une|est|dans|que)\b",
    "es": r"\b(el|los|que|de|no|un|es|por|con|para)\b",
}

# word-ish tokens: letter runs, digit runs, single other non-space symbols
# NOTE: whitespace is spelled as the explicit class [ \t\n\f\r] everywhere
# (never \s): Java's \s includes \x0B (vertical tab) while DuckDB/RE2's does
# not, so \s would silently diverge between a Spark op and its oracle twin on
# pathological input. The explicit class is identical in both engines.
WS = r" \t\n\f\r"
TOKEN_RX = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS}]"


def token_count(col: Column | str = "text") -> Column:
    """Whitespace token count (empty tokens dropped). Counted as the number
    of non-whitespace runs via regexp_count — pure codegen, identical to
    size(filter(split(...))) but without the interpreted array-filter HOF
    on the corpus-scaling path (CLAUDE.md invariant)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(rf"[^{WS}]+"))


def regex_token_count(col: Column | str = "text") -> Column:
    """BPE-ish pre-tokenizer count: letter runs / digit runs / symbols."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(TOKEN_RX))


def lang_scores(col: Column | str = "text") -> dict[str, Column]:
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(c)
    return {k: F.regexp_count(low, F.lit(rx)) for k, rx in LANG_STOPWORDS.items()}


def lang_id(col: Column | str = "text") -> Column:
    """Argmax over stopword-hit counts; ties resolve in en>de>fr>es order;
    all-zero -> 'und' (undetermined)."""
    s = lang_scores(col)
    best = F.greatest(*s.values())
    expr = F.when(best == 0, F.lit("und"))
    for k in ("en", "de", "fr", "es"):  # fixed priority order for ties
        expr = expr.when(s[k] == best, F.lit(k))
    return expr


def quality_features(col: Column | str = "text") -> dict[str, Column]:
    """Deterministic quality features (rounded for cross-engine equality)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.greatest(F.length(c), F.lit(1))
    toks = token_count(c)
    feats = {
        "n_chars": F.length(c),
        "n_tokens": toks,
        "alpha_ratio": F.round(F.regexp_count(c, F.lit(r"[A-Za-z]")) / n, 4),
        "digit_ratio": F.round(F.regexp_count(c, F.lit(r"[0-9]")) / n, 4),
        "punct_ratio": F.round(F.regexp_count(c, F.lit(r"[.,;:!?]")) / n, 4),
        "upper_ratio": F.round(F.regexp_count(c, F.lit(r"[A-Z]")) / n, 4),
        "mean_token_len": F.round(
            F.length(F.regexp_replace(c, rf"[{WS}]+", "")) / F.greatest(toks, F.lit(1)), 4
        ),
        "stopword_ratio": F.round(
            F.regexp_count(F.lower(c), F.lit(LANG_STOPWORDS["en"]))
            / F.greatest(toks, F.lit(1)),
            4,
        ),
    }
    return feats


def quality_score(col: Column | str = "text") -> Column:
    """Scalar quality score in [0,1]: rewards alpha text with normal token
    length and some stopwords; penalizes digit/punct-heavy content."""
    f = quality_features(col)
    raw = (
        0.4 * f["alpha_ratio"]
        + 0.3 * F.least(f["stopword_ratio"] * 2, F.lit(1.0))
        + 0.3
        * F.when((f["mean_token_len"] >= 3) & (f["mean_token_len"] <= 12), 1.0).otherwise(0.3)
        - 0.2 * f["digit_ratio"]
        - 0.1 * f["punct_ratio"]
    )
    return F.round(F.greatest(F.least(raw, F.lit(1.0)), F.lit(0.0)), 4)


def normalize_text(col: Column | str = "text") -> Column:
    """Dedup normalization: lowercase + whitespace collapse + trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), rf"[{WS}]+", " "))


def fingerprint(col: Column | str = "text") -> Column:
    """Document fingerprint: md5 of the normalized text."""
    return F.md5(F.encode(normalize_text(col), "UTF-8"))


def char_ngrams(
    df: DataFrame,
    keys: list[Column | str],
    text_col: Column | str,
    ngram: int,
    max_chars: int | None = None,
) -> DataFrame:
    """Character n-grams as exploded ``(keys..., g)`` rows: one row per
    start position of ``normalize_text(text_col)``, capped to its first
    ``max_chars`` characters. A bag (repeats kept); callers that want a set
    add ``distinct``. Pure codegen (``explode(sequence)`` + ``substring``),
    the form everything that scales with corpus size uses. Does not spread
    its input: callers ``spread_if_narrow`` first.

    Texts shorter than ``ngram`` (NULL and empty included) give no rows:
    Spark's ``sequence(1, end<1)`` runs DESCENDING and would fabricate a
    partial-text gram that ``generate_series`` in a SQL twin never emits.
    The twin is ``__spark_entry__._char_ngrams_sql``."""
    norm = normalize_text(text_col)
    if max_chars is not None:
        norm = F.substring(norm, 1, max_chars)
    base = df.select(*keys, norm.alias("t"))
    names = base.columns[:-1]
    pos = base.where(F.length("t") >= ngram).select(
        *names, "t", F.explode(F.sequence(F.lit(1), F.length("t") - (ngram - 1))).alias("i")
    )
    return pos.select(*names, F.expr(f"substring(t, i, {ngram})").alias("g"))


def word_ngrams(
    df: DataFrame, keys: list[Column | str], words: Column | str, ngram: int
) -> DataFrame:
    """Word n-grams of a word-array column as exploded ``(keys..., g)``
    rows: ``ngram`` consecutive words joined by one space, one row per start
    position, repeats kept. Arrays with fewer than ``ngram`` words (and
    NULL) give no rows, the guard ``char_ngrams`` documents. The twin is
    ``__spark_entry__._word_ngrams_sql``."""
    base = df.select(*keys, (F.col(words) if isinstance(words, str) else words).alias("ws"))
    names = base.columns[:-1]
    pos = base.where(F.size("ws") >= ngram).select(
        *names, "ws", F.explode(F.sequence(F.lit(1), F.size("ws") - (ngram - 1))).alias("i")
    )
    return pos.select(*names, F.array_join(F.slice("ws", F.col("i"), ngram), " ").alias("g"))


def shingle_array(norm: Column, ngram: int) -> Column:
    """Distinct character n-grams of an ALREADY-normalized column as an
    array: the per-row form of ``char_ngrams`` (an interpreted HOF, for
    per-row sketches only; anything that scales with corpus size explodes
    rows through ``char_ngrams``).

    Same short-doc guard as ``char_ngrams``: short docs get an EMPTY array,
    never the partial-text shingle a descending ``sequence`` would make."""
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - (ngram - 1)),
            lambda i: F.substring(norm, i, ngram),
        )
    )
    return F.when(F.length(norm) >= ngram, grams).otherwise(
        F.expr("cast(array() as array<string>)")
    )


def bottomk_shingle_sketch(col: Column | str = "text", k: int = 8, ngram: int = 4) -> Column:
    """Bottom-k sketch over character n-gram hashes: the k smallest md5 hex
    digests of distinct n-grams, concatenated. A compact similarity sketch
    (winnowing-style) computable identically in any SQL engine."""
    c = F.col(col) if isinstance(col, str) else col
    grams = shingle_array(normalize_text(c), ngram)
    hashes = F.array_sort(F.transform(grams, lambda g: F.md5(F.encode(g, "UTF-8"))))
    return F.array_join(F.slice(hashes, 1, k), "")

