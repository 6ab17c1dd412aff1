"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: parse a Common-Crawl-style pages table derived
from sf0.001 documents through the full engine (url-hash bucketing + Arrow
parse UDF + extraction + text analysis).

``queries()`` — one entry per implemented operator family (SURVEY.md §2 +
the training-data operator suite). ``oracle_sql()`` returns the DuckDB twin
for each; parse queries are checked against VALUES literals derived from
*executing the reference parser* (tests/goldens/goldens.json), which makes
the driver's gate a true reference-equivalence check, not a tautology.
"""

from __future__ import annotations

import hashlib
import json
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

GOLDENS_PATH = REPO / "tests" / "goldens" / "goldens.json"

# --------------------------------------------------------------------------
# shared helpers
# --------------------------------------------------------------------------

# whitespace spelled as the explicit class everywhere (never \s): Java's
# \s includes \x0B, RE2's does not — see tempeh_spark.textops.WS.
WS_SQL = r" \t\n\f\r"
NORM_SQL = "trim(regexp_replace(lower({c}), '[" + WS_SQL + "]+', ' ', 'g'))"


def _char_ngrams_sql(t: str, n: int) -> str:
    """The character ``n``-grams of string ``t`` as a list, one per start
    position, repeats kept: twin of ``textops.char_ngrams``
    (``generate_series`` is empty for texts shorter than ``n``)."""
    return (
        f"list_transform(generate_series(1, greatest(len({t}) - {n - 1}, 0)), "
        f"i -> substring({t}, i, {n}))"
    )


def _word_ngrams_sql(ws: str, n: int) -> str:
    """The word ``n``-grams of list ``ws`` as a list, each joined by one
    space: twin of ``textops.word_ngrams``."""
    return (
        f"list_transform(generate_series(1, greatest(len({ws}) - {n - 1}, 0)), "
        f"i -> array_to_string({ws}[i:i+{n - 1}], ' '))"
    )


# The vector twins. Each piece of embedding arithmetic is spelled ONCE here,
# in the exact operation order of its vecmath / grid_mean counterpart.


def _emb_cte(name: str = "e", carry: str = "") -> str:
    """CTE ``name(vec_id, [carry,] v)``: the gate embeddings as DOUBLE lists
    (vecmath's products against double operands run in f64)."""
    cols = f"vec_id, {carry}, " if carry else "vec_id, "
    return (
        f"{name} AS (SELECT {cols}list_transform(embedding, x -> x::DOUBLE) AS v "
        "FROM embeddings)"
    )


def _cos_sql(x: str, y: str) -> str:
    """``round(cosine(x, y), 4)``: twin of ``vecmath.cosine`` rounded like
    every ranking (callers that emit it add ``+ 0`` against -0.0)."""
    return (
        f"round(list_dot_product({x}, {y}) / "
        f"(sqrt(list_dot_product({x}, {x})) * sqrt(list_dot_product({y}, {y}))), 4)"
    )


def _grid_mean_sql(x: str) -> str:
    """Aggregate twin of ``vecmath.grid_mean``'s ``m``: BIGINT
    ``floor(x * 2^20 + 0.5)`` units summed exactly, one IEEE division chain."""
    from tempeh_spark.vecmath import GRID_BITS

    scale = repr(float(1 << GRID_BITS))
    return f"(sum(floor({x} * {scale} + 0.5)::BIGINT)::DOUBLE / count(*)) / {scale}"


def _bucket_sql(vec_expr: str, dim: int, n_planes: int, plane_offset: int = 0) -> str:
    """One band's hyperplane signature, twin of ``similarity.lsh_signature``
    and of one band of ``vecmath.band_buckets_udf``: the md5-derived planes
    (``vecmath._hyperplane``) are literal DOUBLE lists, bit b = sign(dot(vec,
    plane_{offset+b})), same products summed in the same order as
    ``vecmath._plane_signs``."""
    from tempeh_spark.vecmath import _hyperplane

    terms = []
    for p in range(n_planes):
        lit = "[" + ", ".join(repr(x) for x in _hyperplane(dim, plane_offset + p)) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {lit}) >= 0 THEN {1 << p} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def _band_probe_sql(src: str, vec: str, n_bands: int, ppb: int, carry: str = "") -> str:
    """``(vec_id, [carry,] band, bucket)`` probe rows of ``src``: one SELECT
    per band over disjoint plane sets (band b uses planes b*ppb ..), the
    twin of ``posexplode(band_buckets_udf(...))``."""
    cols = f"vec_id, {carry}, " if carry else "vec_id, "
    return "\nUNION ALL\n".join(
        f"SELECT {cols}{b} AS band, {_bucket_sql(vec, 64, ppb, b * ppb)} AS bucket FROM {src}"
        for b in range(n_bands)
    )


def _nearest_cell_sql(cents: list[list[float]]) -> tuple[str, str, str]:
    """(the ``d{j}`` columns, cell, dist) over ``v``: twin of
    ``clustering._assign_udf``. ``d{j} = (v.v - 2 * v.c_j) + c_j.c_j`` in
    that association order with ``c_j.c_j`` summed left to right in Python;
    the cell is the FIRST minimal ``j`` (np.argmin's tie-break)."""
    d_cols = []
    for j, c in enumerate(cents):
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        cc = 0.0
        for x in c:
            cc += x * x
        d_cols.append(
            f"(list_dot_product(v, v) - 2 * list_dot_product(v, {lit})) + {cc!r} AS d{j}"
        )
    m = "least(" + ", ".join(f"d{j}" for j in range(len(cents))) + ")"
    cell = "CASE " + " ".join(f"WHEN d{j} = {m} THEN {j}" for j in range(len(cents))) + " END"
    dist = "CASE " + " ".join(f"WHEN d{j} = {m} THEN d{j}" for j in range(len(cents))) + " END"
    return ", ".join(d_cols), cell, dist


# the known table schemas: a parquet read given its schema runs no
# schema-inference job while a query is only being built
DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.schema(DOCS_SCHEMA).parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.schema(EMB_SCHEMA).parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _docs_as_pages(df: DataFrame) -> DataFrame:
    """Wrap document text in deterministic HTML -> the pages input shape."""
    html = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>doc</title>"
              "<script>var x = '</div>';</script></head><body><article><p>"),
        F.col("text"),
        F.lit("</p></article><footer><a href=x>nav nav nav</a></footer></body></html>"),
    )
    return df.select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.col("doc_id"),
        F.col("text").alias("src_text"),
        F.encode(html, "UTF-8").alias("html"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: sf0.001 documents -> HTML -> full extraction pipeline ->
    the training-data decision columns a 100 TB run would publish per doc
    (tokens/lang/quality from the extracted text, dedup keeper decision,
    topic cell from the engine's own text embedding, deterministic sample
    bucket)."""
    from tempeh_spark import parse_html
    from tempeh_spark.clustering import kmeans_assign
    from tempeh_spark.corpusops import hash_sample
    from tempeh_spark.dedup import dedup_decisions
    from tempeh_spark.featurize import text_embedding
    from tempeh_spark.partitioning import url_buckets
    from tempeh_spark.textops import lang_id, quality_score, token_count

    docs = _docs(spark, "/root/testdata/sf0.001")
    pages = _docs_as_pages(docs)
    parsed = parse_html(url_buckets(pages, max(8, 2 * spark.sparkContext.defaultParallelism)))
    extracted = parsed.select(
        "url",
        "doc_id",
        F.col("parsed.text").alias("text"),
        F.col("parsed.main_text").alias("main_text"),
        F.col("parsed.error").alias("error"),
        F.col("parsed.n_nodes").alias("n_nodes"),
        (
            F.col("parsed.error").isNull()
            & F.col("parsed.text").contains(F.col("src_text"))
            & (F.col("parsed.main_text") == F.col("src_text"))
        ).alias("roundtrip_ok"),
        token_count(F.col("parsed.text")).cast("long").alias("n_tokens"),
        lang_id(F.col("parsed.text")).alias("lang_id"),
        quality_score(F.col("parsed.text")).alias("quality"),
    )
    dd = dedup_decisions(
        docs, num_perm=16, bands=4, ngram=8, verify_threshold=0.3, max_chars=300
    ).select("doc_id", F.col("keep").alias("dedup_keep"))
    samp = hash_sample(docs, rate=0.9, salt="train").select(
        "doc_id", F.col("keep").alias("train_split")
    )
    # the r5 vector leg: text -> hashed-ngram embedding -> topic cell
    # (nearest centroid of the deterministic gate codebook)
    vecs = text_embedding(docs).select(F.col("id").alias("vec_id"), "embedding")
    topics = kmeans_assign(vecs, _gate_centroids()).select(
        F.col("vec_id").alias("doc_id"), F.col("cell").alias("topic_cell")
    )
    return (
        extracted.join(dd, "doc_id")
        .join(samp, "doc_id")
        .join(topics, "doc_id")
        .drop("doc_id")
    )


# --------------------------------------------------------------------------
# golden-derived oracles for the parse queries
# --------------------------------------------------------------------------


def _golden_cases(casing: str = "lower"):
    g = json.loads(GOLDENS_PATH.read_text())
    out = {}
    for key, case in g.items():
        if case["kind"] != "file" or not key.endswith(f":{casing}"):
            continue
        out[case["fixture"]] = case["result"]["nodes"]
    return out


def _walk_text(nodes) -> str:
    parts, stack = [], list(reversed(nodes))
    while stack:
        nd = stack.pop()
        if "textContent" in nd:
            parts.append(nd["textContent"])
        stack.extend(reversed(nd.get("children", [])))
    return "".join(parts)


def _count_nodes(nodes) -> int:
    n, stack = 0, list(nodes)
    while stack:
        nd = stack.pop()
        n += 1
        stack.extend(nd.get("children", []))
    return n


def _canon_json(nodes) -> str:
    return json.dumps(nodes, ensure_ascii=False, separators=(",", ":"))


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _values_sql(rows: list[tuple], cols: list[str]) -> str:
    def lit(v):
        if v is None:
            return "NULL"  # str(None) would emit the invalid token `None`
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    body = ",\n".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"SELECT * FROM (VALUES\n{body}\n) AS t({', '.join(cols)})"


def _fixture_pages_df(spark: SparkSession) -> DataFrame:
    from tempeh_spark.corpus import fixture_pages

    return fixture_pages(spark)


def _local_parse_results():
    """Run the local (non-Spark) kernel over the fixtures — used as the
    oracle for engine outputs that the reference doesn't define (main_text,
    spans): the driver then checks distributed == local."""
    from tempeh_spark.corpus import fixture_bytes
    from tempeh_spark.parser import parse_bytes

    out = {}
    for name, data in sorted(fixture_bytes().items()):
        out[f"https://fixtures.test/{name}"] = parse_bytes(data)
    return out


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def q_parse_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark import parse_html

    return parse_html(_fixture_pages_df(spark)).select(
        "url",
        F.md5(F.encode(F.col("parsed.text"), "UTF-8")).alias("text_md5"),
        F.length(F.col("parsed.text")).cast("long").alias("n_chars"),
    )


def q_parse_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark import parse_html

    return parse_html(_fixture_pages_df(spark)).select(
        "url",
        F.md5(F.encode(F.col("parsed.nodes_json"), "UTF-8")).alias("nodes_md5"),
        F.col("parsed.n_nodes").cast("long").alias("n_nodes"),
    )


def q_parse_casing_upper(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark import ParserOptions, parse_html

    df = _fixture_pages_df(spark).where(
        F.col("url").contains("inlineSubComponents") | F.col("url").contains("componentWithScripts")
    )
    return parse_html(df, options=ParserOptions(tag_name_casing="upper")).select(
        "url", F.md5(F.encode(F.col("parsed.nodes_json"), "UTF-8")).alias("nodes_md5")
    )


def q_parse_main_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark import parse_html

    return parse_html(_fixture_pages_df(spark)).select(
        "url",
        F.md5(F.encode(F.col("parsed.main_text"), "UTF-8")).alias("main_md5"),
        F.col("parsed.title").alias("title"),
        F.size(F.col("parsed.spans")).cast("long").alias("n_spans"),
    )


def q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark import parse_html

    return parse_html(_fixture_pages_df(spark)).agg(
        F.count("*").alias("rows"),
        F.sum(F.col("parsed.error").isNotNull().cast("long")).alias("errors"),
        F.sum(F.col("parsed.n_nodes")).cast("long").alias("total_nodes"),
        F.sum(F.length(F.col("parsed.text"))).cast("long").alias("total_text_chars"),
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark.dedup import exact_dedup_clusters

    return exact_dedup_clusters(_docs(spark, sf_dir)).select(
        "digest", F.col("n_docs").cast("long").alias("n_docs"), F.col("keeper").cast("long").alias("keeper")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), ngram=8, threshold=0.3, max_chars=300
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs(spark, sf_dir), num_perm=16, bands=4, ngram=8, verify_threshold=0.3, max_chars=300
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark.dedup import simhash_table

    return simhash_table(_docs(spark, sf_dir), bits=16).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("simhash").cast("long").alias("simhash"),
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit simhash pairs on a deterministic 1-in-5 corpus slice: 16 bits
    SATURATE (66% of all pairs sit within hamming 6 at sf0.1 — documented
    hash-saturation demo), so the full-corpus gate emitted 8.2 M rows that
    proved nothing simhash60_pairs (full corpus, unsaturated) doesn't. The
    slice keeps the operator + oracle coverage at ~1/25 the output volume;
    the 16-bit config is additionally unit-tested on the full test corpus."""
    from tempeh_spark.dedup import simhash_near_pairs

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    return simhash_near_pairs(docs, max_hamming=6).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def q_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: connected components over the verified
    minhash-LSH pair graph (iterative min-label propagation; the oracle is
    the recursive-CTE transitive closure — procedure-independent)."""
    from tempeh_spark.dedup import duplicate_components, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), num_perm=16, bands=4, ngram=8, verify_threshold=0.3, max_chars=300
    )
    return duplicate_components(pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


def q_dedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup deliverable: exact-digest edges + verified
    minhash-LSH near-dup edges -> connected components -> one
    (doc_id, keeper, keep) row per document. Oracle = recursive-CTE
    transitive closure over an equivalent edge set + left join documents."""
    from tempeh_spark.dedup import dedup_decisions

    return dedup_decisions(
        _docs(spark, sf_dir), num_perm=16, bands=4, ngram=8,
        verify_threshold=0.3, max_chars=300,
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("keeper").cast("long").alias("keeper"),
        "keep",
    )


def q_simhash60_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale simhash configuration: 60-bit hash (16-bit saturates
    — most pairs collide within small hamming), 7 bands of 8-9 bits, exact
    recall at hamming<=6 by pigeonhole. Oracle is the unrestricted full-pair
    ground truth."""
    from tempeh_spark.dedup import simhash_near_pairs

    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=6, bits=60).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark.dedup import minhash_signatures

    return minhash_signatures(
        _docs(spark, sf_dir), num_perm=4, ngram=8, max_chars=300
    ).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("k").cast("long").alias("k"),
        "mh",
    )


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN (12 bands x 3 planes — multi-band probing
    sized for this corpus's wide-angle neighbors: recall@10 vs brute is 0.92
    at ~79% of the brute comparisons, re-measured r4; wide angles force
    low-selectivity bands, so the candidate cut is modest here by design —
    BENCH/BASELINE.md §8 shows the near-neighbor regime where the cut is
    real). The oracle replicates the md5-derived
    hyperplanes as literal DOUBLE lists in SQL: a true twin."""
    from tempeh_spark.similarity import lsh_bucket_topk

    emb = _emb(spark, sf_dir)
    return lsh_bucket_topk(
        emb,
        emb.where(F.col("vec_id") < 5),
        dim=64,
        k=10,
        n_planes=3,
        n_bands=12,
        broadcast_queries=True,  # 5 queries: small-Q physical strategy
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("nbr_id").cast("long").alias("nbr_id"),
        "cosine",
    )


def q_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF: rank cells by query-centroid cosine, search the top
    3 — recovers the cross-cell-boundary neighbors single-probe misses."""
    from tempeh_spark.similarity import ivf_multiprobe_topk

    emb = _emb(spark, sf_dir)
    return ivf_multiprobe_topk(emb, emb.where(F.col("vec_id") < 5), k=10, n_probe=3).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("nbr_id").cast("long").alias("nbr_id"),
        "cosine",
    )


def q_embedding_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path near-dup pairs: banded hyperplane-LSH candidates + exact
    cosine verify. Gate instance uses 16 bands x 2 planes because the gate
    corpus's near pairs sit at cosine 0.30-0.60 (wide angles need
    low-selectivity bands); recall vs the exact pair set is measured by
    ann_recall."""
    from tempeh_spark.similarity import embedding_lsh_near_pairs

    return embedding_lsh_near_pairs(
        _emb(spark, sf_dir), dim=64, threshold=0.30, n_bands=16, planes_per_band=2
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "cosine",
    )


# deterministic md5-derived codebook for the kmeans_assign gate (the
# TRAINED codebook is exercised by pytest — the oracle needs centroids
# known without running Spark, exactly like the LSH hyperplane literals)
_KMEANS_K = 8


def _gate_centroids() -> list[list[float]]:
    from tempeh_spark.vecmath import _hyperplane

    return [_hyperplane(64, 1000 + j) for j in range(_KMEANS_K)]


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment against a literal codebook: squared
    euclidean distance with the vecmath sequential-dot contract, argmin
    with lowest-index tie-break. (kmeans_fit — Lloyd's training — is the
    iterative, non-SQL-expressible part; its convergence properties are
    pinned by pytest and its assignment step is THIS gated kernel.)"""
    from tempeh_spark.clustering import kmeans_assign

    return kmeans_assign(_emb(spark, sf_dir), _gate_centroids()).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cell").cast("int").alias("cell"),
        (F.round("dist2", 4) + F.lit(0.0)).alias("dist2"),
    )


def _oracle_kmeans_assign() -> str:
    d_cols, cell, dist = _nearest_cell_sql(_gate_centroids())
    return f"""
WITH {_emb_cte()},
d AS (SELECT vec_id, {d_cols} FROM e)
SELECT vec_id::BIGINT AS vec_id,
       ({cell})::INTEGER AS cell,
       (round({dist}, 4) + 0) AS dist2
FROM d
"""


def q_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd's update iteration from the literal gate codebook: the
    assignment kernel (same as kmeans_assign) followed by per-(cell, dim)
    means in EXACT fixed-point units (floor(x * 2^20 + 0.5) BIGINT sums —
    order-independent, so Spark's partition-order and DuckDB's scan-order
    summation provably agree; never avg(double)). This gates the full
    training step of kmeans_fit (clustering.py) — init + iteration count
    are the only ungated parts, pinned by pytest determinism tests."""
    from tempeh_spark.clustering import kmeans_update

    return kmeans_update(_emb(spark, sf_dir), _gate_centroids()).select(
        F.col("cell").cast("int").alias("cell"),
        F.col("i").cast("int").alias("i"),
        (F.col("m") + F.lit(0.0)).alias("m"),
        F.col("n").cast("long").alias("n"),
    )


def _oracle_kmeans_update() -> str:
    d_cols, cell, _ = _nearest_cell_sql(_gate_centroids())
    return f"""
WITH {_emb_cte()},
d AS (SELECT vec_id, v, {d_cols} FROM e),
a AS (SELECT v, ({cell})::INTEGER AS cell FROM d),
x AS (
  SELECT cell, unnest(generate_series(0, len(v) - 1)) AS i, unnest(v) AS x
  FROM a
)
SELECT cell,
       i::INTEGER AS i,
       ({_grid_mean_sql('x')} + 0.0) AS m,
       count(*)::BIGINT AS n
FROM x GROUP BY cell, i
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gates for every approximate path, measured against the exact
    ground truth computed independently by BOTH engines: ivf/lsh top-k vs
    brute top-k, and LSH near-pairs vs the exact cosine pair set."""
    from tempeh_spark.dedup import embedding_near_pairs
    from tempeh_spark.similarity import (
        brute_topk,
        embedding_lsh_near_pairs,
        ivf_topk,
        lsh_bucket_topk,
    )

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 5)
    from tempeh_spark.similarity import ivf_multiprobe_topk

    brute = brute_topk(emb, q, k=10).select("query_id", "nbr_id")
    ivf = ivf_topk(emb, q, k=10).select("query_id", "nbr_id")
    ivf3 = ivf_multiprobe_topk(emb, q, k=10, n_probe=3).select("query_id", "nbr_id")
    lsh = lsh_bucket_topk(
        emb, q, dim=64, k=10, n_planes=3, n_bands=12, broadcast_queries=True
    ).select("query_id", "nbr_id")
    exact = embedding_near_pairs(emb, threshold=0.30).select("id_a", "id_b")
    lshp = embedding_lsh_near_pairs(
        emb, dim=64, threshold=0.30, n_bands=16, planes_per_band=2
    ).select("id_a", "id_b")

    def one(method: str, cand: DataFrame, truth: DataFrame, keys: list[str]) -> DataFrame:
        hits = cand.join(truth, keys, "inner").agg(F.count("*").alias("n_hits"))
        true = truth.agg(F.count("*").alias("n_true"))
        return hits.crossJoin(true).select(
            F.lit(method).alias("method"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.col("n_true").cast("long").alias("n_true"),
            F.round(F.col("n_hits") / F.col("n_true"), 4).alias("recall"),
        )

    return (
        one("ivf_topk", ivf, brute, ["query_id", "nbr_id"])
        .unionByName(one("ivf_probe_topk", ivf3, brute, ["query_id", "nbr_id"]))
        .unionByName(one("lsh_topk", lsh, brute, ["query_id", "nbr_id"]))
        .unionByName(one("lsh_pairs", lshp, exact, ["id_a", "id_b"]))
    )


# Pinned recall minima for every approximate method at the gate parameters.
# ann_recall alone is a TWIN (both engines recompute recall from shared
# parameters), so a parameter change that degrades recall identically in
# both engines keeps it green; these literals make such a regression fail
# loudly (verified: lowering lsh_topk to n_bands=6 flips its row to false).
# Floors are pinned BELOW the minimum measured across all three sf corpora
# (ivf 0.06/0.14/0.14, ivf_probe 0.34/0.46/0.38, lsh_topk 0.96/0.92/0.92,
# lsh_pairs 0.9989/1.0/0.9993 at sf0.001/0.01/0.1) so the gate holds at any
# driver scale while still tripping on real regressions (e.g. n_probe 3->1
# drops ivf_probe to ~0.14; n_bands 12->6 drops lsh_topk to 0.58).
_RECALL_FLOORS = {
    "ivf_topk": 0.05,  # single own-cell probe — low by design, see ivf_probe
    "ivf_probe_topk": 0.30,
    "lsh_topk": 0.90,
    "lsh_pairs": 0.99,
}


def q_ann_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall floors as a literal oracle: measured recall (computed by the
    engine under test) must clear the VALUES-pinned minimum per method. The
    banded simhash paths need no floor here — their full-pair oracles
    (simhash_pairs/simhash60_pairs) already pin recall at exactly 1.0."""
    rec = q_ann_recall(spark, sf_dir)
    floor = F.lit(None).cast("double")
    for m, f in _RECALL_FLOORS.items():
        floor = F.when(F.col("method") == m, F.lit(f)).otherwise(floor)
    return rec.select(
        "method",
        F.round(floor, 2).alias("floor"),
        (F.col("recall") >= floor).alias("ok"),
    )


def _oracle_ann_recall_floor() -> str:
    # DOUBLE cast: DuckDB types a bare 0.1 VALUES literal as DECIMAL, whose
    # textual form ('0.10') wouldn't hash-match Spark's double
    rows = [(m, f, True) for m, f in sorted(_RECALL_FLOORS.items())]
    inner = _values_sql(rows, ["method", "floor", "ok"])
    return f"SELECT method, floor::DOUBLE AS floor, ok FROM ({inner}) v"


# Deterministic line injection for the line-dedup gate: break the single-
# line documents into 8-word lines with a regex BOTH engines execute
# identically (leftmost, non-overlapping, greedy \S+ — same in Java regex
# and RE2): every 8th inter-word space becomes a newline.
_LINE_RX = r"(([^ \t\n\f\r]+ ){7}[^ \t\n\f\r]+) "


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global line dedup: any 8-word line whose normalized form
    appears in more than one document is dropped from every document."""
    from tempeh_spark.corpusops import segment_dedup

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.regexp_replace("text", _LINE_RX, "$1\n").alias("text")
    )
    out = segment_dedup(docs, sep="\n", max_df=1)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(F.encode("clean_text", "UTF-8")).alias("clean_md5"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
    )


def _oracle_line_dedup() -> str:
    return rf"""
WITH lined AS (
  SELECT doc_id, regexp_replace(text, '(([^ \t\n\f\r]+ ){{7}}[^ \t\n\f\r]+) ', '\1' || chr(10), 'g') AS t
  FROM documents
),
segs AS (
  SELECT doc_id,
         unnest(generate_series(1, len(string_split(t, chr(10))))) AS pos,
         unnest(string_split(t, chr(10))) AS seg
  FROM lined
),
dfreq AS (
  SELECT md5(lower(trim(seg))) AS h, count(DISTINCT doc_id) AS df
  FROM segs GROUP BY 1
),
kept AS (
  SELECT doc_id, pos, seg FROM segs JOIN dfreq ON md5(lower(trim(seg))) = h
  WHERE df <= 1
),
agg AS (
  SELECT doc_id, string_agg(seg, chr(10) ORDER BY pos) AS ct, count(*) AS nk
  FROM kept GROUP BY 1
),
tot AS (SELECT doc_id, count(*) AS t FROM segs GROUP BY 1)
SELECT d.doc_id::BIGINT AS doc_id,
       md5(coalesce(a.ct, '')) AS clean_md5,
       coalesce(a.nk, 0)::BIGINT AS n_kept,
       (tot.t - coalesce(a.nk, 0))::BIGINT AS n_dropped
FROM documents d JOIN tot ON d.doc_id = tot.doc_id
LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


_GOPHER = dict(min_words=40, max_words=100_000, min_mwl=2.0, max_mwl=12.0,
               min_alpha=0.8, max_top=0.25)


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality signals + keep decision over the documents."""
    from tempeh_spark.corpusops import gopher_quality

    return gopher_quality(
        _docs(spark, sf_dir),
        min_words=_GOPHER["min_words"], max_words=_GOPHER["max_words"],
        min_mean_word_len=_GOPHER["min_mwl"], max_mean_word_len=_GOPHER["max_mwl"],
        min_alpha_word_frac=_GOPHER["min_alpha"], max_top_word_frac=_GOPHER["max_top"],
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_words", "mean_word_len", "alpha_word_frac", "top_word_frac", "keep",
    )


def _oracle_gopher_quality() -> str:
    g = _GOPHER
    return r"""
WITH w AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> x <> '')) AS w
  FROM documents
),
wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
agg AS (
  SELECT doc_id, sum(c) AS total, max(c) AS top_c,
         sum(length(w) * c) AS chars,
         sum(CASE WHEN regexp_matches(w, '[A-Za-z]') THEN c ELSE 0 END) AS alpha
  FROM wc GROUP BY 1
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(total, 0)::BIGINT AS n_words,
       round(coalesce(chars / total, 0), 4) AS mean_word_len,
       round(coalesce(alpha / total, 0), 4) AS alpha_word_frac,
       round(coalesce(top_c / total, 0), 4) AS top_word_frac,
       (coalesce(total, 0) >= {min_words} AND coalesce(total, 0) <= {max_words}
        AND round(coalesce(chars / total, 0), 4) >= {min_mwl}
        AND round(coalesce(chars / total, 0), 4) <= {max_mwl}
        AND round(coalesce(alpha / total, 0), 4) >= {min_alpha}
        AND round(coalesce(top_c / total, 0), 4) <= {max_top}) AS keep
FROM documents d LEFT JOIN agg USING (doc_id)
""".format(**g)


def q_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document cap (crawl-skew control): synthetic hosts derived
    deterministically from doc ids, cap 10 docs per host."""
    from tempeh_spark.corpusops import per_host_cap

    pages = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            "", F.lit("https://h"), F.col("doc_id") % 37, F.lit(".example.com/"),
            F.col("doc_id"),
        ).alias("url"),
    )
    return per_host_cap(pages, cap=10).select(
        F.col("doc_id").cast("long").alias("doc_id"), "host",
        F.col("host_rank").cast("long").alias("host_rank"), "keep",
    )


def _oracle_host_cap() -> str:
    return """
WITH p AS (
  SELECT doc_id, 'h' || (doc_id % 37) || '.example.com' AS host FROM documents
),
r AS (
  SELECT doc_id, host,
         row_number() OVER (PARTITION BY host ORDER BY doc_id ASC) AS host_rank
  FROM p
)
SELECT doc_id::BIGINT AS doc_id, host, host_rank::BIGINT AS host_rank,
       (host_rank <= 10) AS keep
FROM r
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any distinct 8-word
    shingle with the benchmark subset (doc_id % 29 == 0) are flagged."""
    from tempeh_spark.corpusops import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 29 == 0)
    return decontaminate(docs, bench, ngram=8, min_hits=1).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_hits").cast("long").alias("n_hits"),
        "contaminated",
    )


def _oracle_decontaminate() -> str:
    return rf"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> x <> '') AS ws
  FROM documents
),
sh AS (SELECT doc_id, list_distinct({_word_ngrams_sql('ws', 8)}) AS gs FROM w),
cs AS (SELECT doc_id, unnest(gs) AS g FROM sh),
bs AS (SELECT DISTINCT unnest(gs) AS g FROM sh WHERE doc_id % 29 = 0),
hits AS (SELECT doc_id, count(*) AS n FROM cs JOIN bs USING (g) GROUP BY 1)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(n, 0)::BIGINT AS n_hits,
       (coalesce(n, 0) >= 1) AS contaminated
FROM documents d LEFT JOIN hits USING (doc_id)
"""


# deterministic PII injection for the scrub gate: the same CASE in both
# engines appends an email / IPv4 / phone-like run / nothing by doc_id % 4
_PII_TAILS = [
    " contact user{id}@example.com now",
    " server at 10.0.{m}.7 port",
    " call 555-01{d}2-7777 now",
    "",
]


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails, IPv4, phone-like digit runs) with per-type
    counts — patterns restricted to the Java/RE2 common regex subset."""
    from tempeh_spark.corpusops import pii_scrub

    tail = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com now")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit(" server at 10.0."), F.col("doc_id") % 256, F.lit(".7 port")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit(" call 555-01"), F.col("doc_id") % 10, F.lit("2-7777 now")),
        )
        .otherwise(F.lit(""))
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), tail).alias("text")
    )
    out = pii_scrub(docs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(F.encode("clean_text", "UTF-8")).alias("clean_md5"),
        "n_emails",
        "n_ips",
        "n_phones",
    )


def _oracle_pii_scrub() -> str:
    from tempeh_spark.corpusops import PII_EMAIL_RX, PII_IP_RX, PII_PHONE_RX

    def count(expr: str, rx: str) -> str:
        return "len(regexp_extract_all(" + expr + ", '" + rx + "'))"

    def sub(expr: str, rx: str, tok: str) -> str:
        return "regexp_replace(" + expr + ", '" + rx + "', '" + tok + "', 'g')"

    t1 = sub("t", PII_EMAIL_RX, "<EMAIL>")
    t2 = sub("t1", PII_IP_RX, "<IP>")
    t3 = sub("t2", PII_PHONE_RX, "<PHONE>")
    return f"""
WITH p AS (
  SELECT doc_id, text || (CASE doc_id % 4
    WHEN 0 THEN ' contact user' || doc_id || '@example.com now'
    WHEN 1 THEN ' server at 10.0.' || (doc_id % 256) || '.7 port'
    WHEN 2 THEN ' call 555-01' || (doc_id % 10) || '2-7777 now'
    ELSE '' END) AS t
  FROM documents
),
s1 AS (SELECT doc_id, t, {count("t", PII_EMAIL_RX)} AS ne, {t1} AS t1 FROM p),
s2 AS (SELECT doc_id, ne, {count("t1", PII_IP_RX)} AS ni, {t2} AS t2 FROM s1),
s3 AS (SELECT doc_id, ne, ni, {count("t2", PII_PHONE_RX)} AS np, {t3} AS t3 FROM s2)
SELECT doc_id::BIGINT AS doc_id, md5(t3) AS clean_md5,
       ne::BIGINT AS n_emails, ni::BIGINT AS n_ips, np::BIGINT AS n_phones
FROM s3
"""


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals: top-bigram fraction + duplicate-word
    fraction per document."""
    from tempeh_spark.corpusops import repetition_signals

    return repetition_signals(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "top_bigram_frac",
        "dup_word_frac",
    )


def _oracle_repetition_signals() -> str:
    return rf"""
WITH w AS (
  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> x <> '') AS ws
  FROM documents
),
bi AS (SELECT doc_id, unnest({_word_ngrams_sql('ws', 2)}) AS bg FROM w),
bc AS (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY 1, 2),
ba AS (SELECT doc_id, max(c) AS top_bg, sum(c) AS n_bg FROM bc GROUP BY 1),
u AS (SELECT doc_id, unnest(ws) AS w FROM w),
ua AS (SELECT doc_id, count(*) AS total, count(DISTINCT w) AS dw FROM u GROUP BY 1)
SELECT d.doc_id::BIGINT AS doc_id,
       round(coalesce(top_bg / n_bg, 0), 4) AS top_bigram_frac,
       round(coalesce(1 - dw / total, 0), 4) AS dup_word_frac
FROM documents d LEFT JOIN ba USING (doc_id) LEFT JOIN ua USING (doc_id)
"""


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-bucket sampling (rate 0.25, salt 's0') — the
    engine-portable train/val splitter."""
    from tempeh_spark.corpusops import hash_sample

    return hash_sample(_docs(spark, sf_dir), rate=0.25, salt="s0").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("bucket").cast("long").alias("bucket"),
        "keep",
    )


def _oracle_hash_sample() -> str:
    threshold = int(0.25 * 2**32)
    return f"""
SELECT doc_id::BIGINT AS doc_id,
       ('0x' || substr(md5('s0:' || doc_id), 1, 8))::BIGINT AS bucket,
       (('0x' || substr(md5('s0:' || doc_id), 1, 8))::BIGINT < {threshold}) AS keep
FROM documents
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level descriptive statistics with EXACT percentiles (Spark
    `percentile` and DuckDB `quantile_cont` both implement the R-7 linear
    interpolation): the dataset card numbers a training-data pipeline
    publishes."""
    from tempeh_spark.textops import WS

    docs = _docs(spark, sf_dir)
    # array_remove not F.filter-lambda: codegen, same ""-token drop semantics
    toks = F.size(F.array_remove(F.split("text", rf"[{WS}]+"), ""))
    base = docs.select(F.col("n_chars").cast("double").alias("c"), toks.cast("double").alias("t"))
    # mean via exact BIGINT sum / count — NEVER round(avg(double)) (CLAUDE.md
    # float rule): n_chars is integer-valued so the sum is exact, and the one
    # IEEE division is bit-identical in both engines; no final round.
    return base.agg(
        F.count("*").cast("long").alias("docs"),
        F.sum("c").cast("long").alias("total_chars"),
        (F.sum("c").cast("long").cast("double") / F.count(F.lit(1))).alias("mean_chars"),
        F.round(F.expr("percentile(c, 0.5)"), 4).alias("p50_chars"),
        F.round(F.expr("percentile(c, 0.9)"), 4).alias("p90_chars"),
        F.sum("t").cast("long").alias("total_tokens"),
        F.round(F.expr("percentile(t, 0.5)"), 4).alias("p50_tokens"),
        F.round(F.expr("percentile(t, 0.9)"), 4).alias("p90_tokens"),
    )


def _oracle_corpus_stats() -> str:
    return r"""
WITH b AS (
  SELECT n_chars::DOUBLE AS c,
         len(list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> x <> ''))::DOUBLE AS t
  FROM documents
)
SELECT count(*)::BIGINT AS docs,
       sum(c)::BIGINT AS total_chars,
       (CAST(sum(c) AS BIGINT)::DOUBLE / count(*)) AS mean_chars,
       round(quantile_cont(c, 0.5), 4) AS p50_chars,
       round(quantile_cont(c, 0.9), 4) AS p90_chars,
       sum(t)::BIGINT AS total_tokens,
       round(quantile_cont(t, 0.5), 4) AS p50_tokens,
       round(quantile_cont(t, 0.9), 4) AS p90_tokens
FROM b
"""


def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark.textops import (
        fingerprint,
        lang_id,
        quality_score,
        regex_token_count,
        token_count,
    )

    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        token_count("text").cast("long").alias("n_tokens"),
        regex_token_count("text").cast("long").alias("n_tokens_regex"),
        lang_id("text").alias("lang_pred"),
        quality_score("text").alias("quality"),
        fingerprint("text").alias("fingerprint"),
    )


def q_bottomk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark.textops import bottomk_shingle_sketch

    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        bottomk_shingle_sketch("text", k=8, ngram=4).alias("sketch"),
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark.dedup import embedding_near_pairs

    return embedding_near_pairs(_emb(spark, sf_dir), threshold=0.30).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "cosine",
    )


def q_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark.similarity import brute_topk

    emb = _emb(spark, sf_dir)
    return brute_topk(emb, emb.where(F.col("vec_id") < 5), k=10).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("nbr_id").cast("long").alias("nbr_id"),
        "cosine",
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    return ivf_topk(emb, emb.where(F.col("vec_id") < 5), k=10).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("nbr_id").cast("long").alias("nbr_id"),
        "cosine",
    )


def _stable_avg(value_col: str):
    """Order- and engine-independent average: round each value to the 1e-4
    grid, convert to EXACT integer units (decimal arithmetic), sum the
    integers (no float summation order), then one identical IEEE division
    chain — and NO final round. Two separate hazards this dodges, both
    observed at sf0.1:

    * ``round(avg(double), 4)`` is summation-order-sensitive across engines
      (Spark sums in partition order, DuckDB in scan order);
    * ANY engine-native ``round`` of a double — aggregate OR per-element —
      diverges on .00005 boundaries: Spark rounds the shortest-decimal repr
      (HALF_UP on Double.toString), DuckDB rounds the binary value. So the
      per-element gridding here is ``floor(x * 10000 + 0.5)``: plain IEEE
      multiply/add/floor on the binary value, bit-identical in both engines
      for every input (round-half-toward-+inf at 1e-4), never a repr.
    """
    units = F.sum(F.floor(F.col(value_col) * 10000 + F.lit(0.5)).cast("long"))
    return (units.cast("double") / F.count(F.lit(1))) / F.lit(10000.0)


_STABLE_AVG_SQL = (
    "(CAST(sum(CAST(floor({c} * 10000 + 0.5) AS BIGINT)) AS DOUBLE)"
    " / count(*)) / 10000.0"
)


def q_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            _stable_avg("value").alias("avg_value"),
        )
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = e.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return marked.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.sum("new_s").cast("long").alias("n_sessions"),
        F.count("*").cast("long").alias("n_events"),
    )


def q_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        _events(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_id").cast("long").alias("event_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
    )


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming state-store dedup gate: readStream file source ->
    ``dropDuplicates`` on (user_id, event_type) -> append-mode memory sink
    (availableNow). Emits each newly-seen key exactly once, so the drained
    result IS the distinct key set — value-twinned with SELECT DISTINCT.
    The crawl-scale bounded-state variant (dropDuplicatesWithinWatermark)
    shares the implementation and is pinned by pytest
    (tests/test_streaming.py)."""
    from tempeh_spark.streaming import stream_dedup_keys

    out = stream_dedup_keys(
        spark, f"{sf_dir}/events.parquet", ("user_id", "event_type")
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"), "event_type"
    )


def q_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming gate: readStream file source -> watermark ->
    1-hour tumbling-window agg -> memory sink (availableNow drains the
    backlog, so the result equals the batch rollup the oracle computes)."""
    from tempeh_spark.streaming import stream_hourly_events

    return stream_hourly_events(spark, f"{sf_dir}/events.parquet")


def q_streaming_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION streaming path, gated end-to-end: documents -> pages
    parquet source -> ``readStream`` -> watermark + url dedup -> Arrow
    parse UDF -> exactly-once PARQUET FILE SINK with checkpoint
    (run_stream_to_parquet) -> read back -> roundtrip check. Unlike
    streaming_hourly (whose availableNow drain uses a memory sink as gate
    plumbing), this exercises the checkpointed file-sink commit protocol a
    100 TB deployment actually runs."""
    import tempfile

    from tempeh_spark.streaming import run_stream_to_parquet

    pages = _docs_as_pages(_docs(spark, sf_dir)).select(
        "url",
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        "html",
    )
    base = tempfile.mkdtemp(prefix="tempeh_stream_gate_")
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    pages.repartition(4).write.parquet(src)
    q = run_stream_to_parquet(spark, src, out, ckpt)
    q.awaitTermination()
    back = spark.read.parquet(out).select(
        F.substring("url", 7, 100).cast("long").alias("doc_id"),
        F.col("main_text").alias("main_text"),
        F.col("error").alias("err"),
    )
    src_text = _docs(spark, sf_dir).select("doc_id", F.col("text").alias("src_text"))
    result = (
        back.join(src_text, "doc_id")
        .select(
            "doc_id",
            (F.col("err").isNull() & (F.col("main_text") == F.col("src_text"))).alias(
                "roundtrip_ok"
            ),
        )
        .localCheckpoint(eager=True)  # materialize before the tmp dir goes
    )
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    return result


def q_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


# ASCII magic prefixes keep the gate payloads valid UTF-8, which the DuckDB
# twin needs (its md5/sha256 are VARCHAR-only). The non-ASCII magics
# (jpeg/png) are pinned by unit tests instead
# (tests/test_ops.py::test_multimodal_plumbing).
_MEDIA_PREFIXES = [
    "GIF87a",  # gif -> image
    "RIFFxxxxWAVE",  # riff + WAVE fourcc -> audio
    "ID3x",  # mp3 -> audio
    "RIFFxxxxAVI ",  # riff + AVI fourcc -> video
    "xxxxftypisom",  # ISO-BMFF: 'ftyp' at byte 5 -> mp4 -> video
    "",  # plain -> unknown
]


def _docs_as_media(df: DataFrame) -> DataFrame:
    """Documents -> binary media payloads with REAL magic-byte headers, so
    the gate exercises every sniff/kind branch (gif->image, riff-WAVE->
    audio, ID3->mp3->audio, riff-AVI->video, ftyp->mp4->video,
    plain->unknown)."""
    mod = len(_MEDIA_PREFIXES)
    expr = F.when(F.col("doc_id") % mod == 0, F.lit(_MEDIA_PREFIXES[0]))
    for i in range(1, mod - 1):
        expr = expr.when(F.col("doc_id") % mod == i, F.lit(_MEDIA_PREFIXES[i]))
    prefix = expr.otherwise(F.lit(""))
    return df.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.concat(prefix, F.col("text")), "UTF-8").alias("media"),
    )


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark.multimodal import media_metadata

    media = _docs_as_media(_docs(spark, sf_dir))
    return media_metadata(media).select(
        F.col("media_id").cast("long").alias("media_id"),
        "kind",
        "n_bytes",
        "magic",
        "sha",
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction with a full VALUE oracle: the fake
    decode's first feature is md5-derived (int32/2^31 - 1, exact in double),
    reproducible in DuckDB SQL."""
    from tempeh_spark.multimodal import extract_media_features

    media = _docs_as_media(_docs(spark, sf_dir))
    # the oracle hashes the FULL payload string while the UDF hashes
    # data[:4096]; enforce the coupling instead of assuming it, so a grown
    # corpus fails loudly here rather than as a baffling f0 hash mismatch
    max_bytes = media.agg(F.max(F.length("media"))).first()[0]
    if max_bytes is not None and max_bytes >= 4096:
        raise AssertionError(
            f"media_features oracle contract violated: payload of {max_bytes} "
            "bytes >= 4096 (the UDF truncates at 4096, the SQL twin cannot)"
        )
    feats = extract_media_features(media, dim=8)
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        "n_bytes",
        "magic",
        (F.round(F.element_at("feature", 1), 4) + F.lit(0.0)).alias("f0"),
        F.col("n_frames").cast("long").alias("n_frames"),
    )


# media_dims gate spec: ONE variant table drives both the Spark payload
# construction (real binary containers from multimodal.make_*) and the
# DuckDB oracle (a CASE over doc_id % 9 with the fields the decoder must
# recover). The decoder parses actual bytes; the oracle predicts from the
# generative formula — a true twin for binary-format decoding that VARCHAR-
# only DuckDB could never hash directly.
_JPEG_ERR = (
    "jpeg: payload decode requires codec libraries not present in this "
    "environment; wire PIL/av/librosa here for production"
)
_DIM_VARIANTS = [
    # (builder-kind, args, fmt, width, height, channels, rate, duration_ms, error)
    ("wav", (44100, 2, 16, 1764), "wav", None, None, 2, 44100, 10, None),
    ("wav", (8000, 1, 8, 2000), "wav", None, None, 1, 8000, 250, None),
    ("wav", (22050, 1, 16, 441), "wav", None, None, 1, 22050, 10, None),
    ("gif87", (320, 200), "gif", 320, 200, None, None, None, None),
    ("gif", (1024, 768), "gif", 1024, 768, None, None, None, None),
    ("png", (640, 480), "png", 640, 480, None, None, None, None),
    ("png", (16, 16), "png", 16, 16, None, None, None, None),
    # mp3: (n_frames, bitrate_kbps, sample_rate, mono, id3_pad);
    # duration_ms = n_frames * 1152 * 1000 // rate (MPEG1 Layer III)
    ("mp3", (38, 128, 44100, False, 17), "mp3", None, None, 2, 44100, 992, None),
    ("mp3", (10, 32, 32000, True, 0), "mp3", None, None, 1, 32000, 360, None),
    # mp4: (timescale, duration, mvhd version); duration_ms = d * 1000 // ts
    ("mp4", (600, 7200, 0), "mp4", None, None, None, None, 12000, None),
    ("mp4", (90000, 123456789, 1), "mp4", None, None, None, None, 1371742, None),
    # mp4 with a video trak/tkhd: (timescale, duration, width, height)
    ("mp4v", (1000, 95500, 1280, 720), "mp4", 1280, 720, None, None, 95500, None),
    ("jpeg", (), None, None, None, None, None, None, _JPEG_ERR),
    ("junk", (), None, None, None, None, None, None, "unsupported format: unknown"),
]


def _dim_header(kind: str, args: tuple) -> bytes:
    from tempeh_spark.multimodal import make_gif, make_mp3, make_mp4, make_png, make_wav

    if kind == "wav":
        return make_wav(*args)
    if kind == "gif87":
        return make_gif(*args, version=b"GIF87a")
    if kind == "gif":
        return make_gif(*args)
    if kind == "png":
        return make_png(*args)
    if kind == "mp3":
        n, br, sr, mono, pad = args
        return make_mp3(n, br, sr, mono=mono, id3_pad=pad)
    if kind == "mp4":
        ts, dur, ver = args
        return make_mp4(ts, dur, version=ver)
    if kind == "mp4v":
        ts, dur, w, h = args
        return make_mp4(ts, dur, track_dims=(w, h))
    if kind == "jpeg":
        return b"\xff\xd8\xff\xe0\x00\x10JFIF"
    return b"JUNK0000"  # no magic matches; bytes 4:8 != 'ftyp'


def _docs_as_dim_media(df: DataFrame) -> DataFrame:
    mod = len(_DIM_VARIANTS)
    expr = F.when(F.col("doc_id") % mod == 0, F.lit(_dim_header(*_DIM_VARIANTS[0][:2])))
    for i, v in enumerate(_DIM_VARIANTS[1:], start=1):
        expr = expr.when(F.col("doc_id") % mod == i, F.lit(_dim_header(v[0], v[1])))
    expr = expr.otherwise(F.lit(b""))  # unreachable: % mod covers 0..mod-1
    return df.select(
        F.col("doc_id").alias("media_id"),
        # trailing text bytes after each valid container: the decoder must
        # honor DECLARED sizes, never len(payload)
        F.concat(expr, F.encode(F.col("text"), "UTF-8")).alias("media"),
    )


def q_media_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real stdlib media decoding: WAV fmt/data chunk walk (channels, rate,
    duration), PNG IHDR and GIF screen-descriptor dimensions, MP3 ID3-skip
    + MPEG frame-header walk (channels, rate, summed-frame duration), MP4
    moov/mvhd box walk (timescale/duration) — all parsed from actual
    container bytes built by multimodal.make_*; the remaining
    codec-requiring format (jpeg pixels) surfaces as a per-row error."""
    from tempeh_spark.multimodal import media_dims

    media = _docs_as_dim_media(_docs(spark, sf_dir))
    return media_dims(media).select(
        F.col("media_id").cast("long").alias("media_id"),
        "fmt",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        F.col("sample_rate_hz").cast("int").alias("sample_rate_hz"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
        "error",
    )


def _oracle_media_dims() -> str:
    def case(col_idx: int, sql_type: str) -> str:
        whens = []
        for i, v in enumerate(_DIM_VARIANTS):
            val = v[col_idx]
            if val is None:
                continue
            lit = "'" + str(val).replace("'", "''") + "'" if isinstance(val, str) else str(val)
            whens.append(f"WHEN {i} THEN {lit}")
        if not whens:
            return f"CAST(NULL AS {sql_type})"
        return f"CAST(CASE (doc_id % {len(_DIM_VARIANTS)}) {' '.join(whens)} ELSE NULL END AS {sql_type})"

    return f"""
SELECT doc_id::BIGINT AS media_id,
       {case(2, 'VARCHAR')} AS fmt,
       {case(3, 'INTEGER')} AS width,
       {case(4, 'INTEGER')} AS height,
       {case(5, 'INTEGER')} AS channels,
       {case(6, 'INTEGER')} AS sample_rate_hz,
       {case(7, 'BIGINT')} AS duration_ms,
       {case(8, 'VARCHAR')} AS error
FROM documents
"""


def q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF/layout leg: documents -> deterministic synthetic PDFs (FlateDecode
    content streams) -> pure-stdlib text extraction. The oracle is the
    roundtrip identity: extracted text must hash equal to the source text."""
    from tempeh_spark.pdfops import build_pdf_column, extract_pdf_text

    pdfs = build_pdf_column(_docs(spark, sf_dir))
    out = extract_pdf_text(pdfs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(F.encode("text", "UTF-8")).alias("text_md5"),
        F.col("n_streams").cast("long").alias("n_streams"),
        F.col("error").isNull().alias("ok"),
    )


def q_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction invariant over generated pages: <p> payload text survives
    the parse byte-identically, and the parse never errors."""
    from tempeh_spark import parse_html

    pages = _docs_as_pages(_docs(spark, sf_dir))
    parsed = parse_html(pages)
    return parsed.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (
            (F.col("parsed.error").isNull())
            & F.col("parsed.text").contains(F.col("src_text"))
            & (F.col("parsed.main_text") == F.col("src_text"))
        ).alias("roundtrip_ok"),
    )


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END crawl-to-training-data composition, value-gated: raw HTML
    pages -> the REAL Arrow parse kernel -> main-content extraction ->
    Gopher quality keep -> exact-dedup keeper election on the extracted
    text -> PII scrub -> per-doc decision row (the columns a 100 TB run
    publishes). The oracle runs the same quality/dedup/scrub logic on the
    source text directly — so the gate simultaneously re-proves the
    byte-identical extraction (any parse drift flips clean_md5) AND the
    downstream operator chain, as one composed value check."""
    from tempeh_spark import parse_html
    from tempeh_spark.corpusops import gopher_quality, pii_scrub
    from tempeh_spark.partitioning import url_buckets
    from tempeh_spark.textops import fingerprint

    pages = _docs_as_pages(_docs(spark, sf_dir))
    # Two scale rules applied here (plan-asserted by
    # test_training_pipeline_parses_once):
    # * spread the single-file parquet BEFORE the Arrow parse through
    #   partitioning.url_buckets, the bucketing entry() and the extraction
    #   job use — one partition would run the whole parse on one core;
    # * materialize the extracted text ONCE for the quality/dedup/scrub
    #   branches — the unmaterialized plan re-ran the parse SIX times.
    #   lazy localCheckpoint, not persist(): CacheManager entries from
    #   repeated gate invocations are never evicted, while checkpoint RDD
    #   blocks are released by the ContextCleaner when the DataFrame goes
    #   out of scope. Production at 10^12 rows does the same thing one
    #   level up: extraction lands as the table's text column
    #   (pipeline.py) and every downstream operator reads that column.
    text = (
        parse_html(url_buckets(pages, max(8, 2 * spark.sparkContext.defaultParallelism)))
        .select("doc_id", F.col("parsed.main_text").alias("text"))
        .localCheckpoint(eager=False)
    )
    gq = gopher_quality(
        text,
        min_words=_GOPHER["min_words"], max_words=_GOPHER["max_words"],
        min_mean_word_len=_GOPHER["min_mwl"], max_mean_word_len=_GOPHER["max_mwl"],
        min_alpha_word_frac=_GOPHER["min_alpha"], max_top_word_frac=_GOPHER["max_top"],
    ).select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("keep").alias("keep_quality"),
    )
    fp = text.select("doc_id", fingerprint("text").alias("f"))
    keepers = fp.groupBy("f").agg(F.min("doc_id").alias("keeper"))
    dd = fp.join(keepers, "f").select("doc_id", "keeper")
    sc = pii_scrub(text).select(
        "doc_id", F.md5(F.encode("clean_text", "UTF-8")).alias("clean_md5")
    )
    return (
        gq.join(dd, "doc_id")
        .join(sc, "doc_id")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_words",
            "keep_quality",
            F.col("keeper").cast("long").alias("keeper"),
            (F.col("keep_quality") & (F.col("doc_id") == F.col("keeper"))).alias("keep"),
            "clean_md5",
        )
    )


def _oracle_training_pipeline() -> str:
    from tempeh_spark.corpusops import PII_EMAIL_RX, PII_IP_RX, PII_PHONE_RX

    gq = _oracle_gopher_quality()
    # the Spark side scrubs the EXTRACTED main_text, whose whitespace is
    # collapsed to the HTML5 ASCII class (extract._collapse_ws) — apply the
    # identical collapse here. Tokenization (gopher) and the lowercased
    # fingerprint are collapse-invariant, so those sub-oracles stay on the
    # raw text.
    collapsed = "trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g'))"
    t1 = f"regexp_replace(ct, '{PII_EMAIL_RX}', '<EMAIL>', 'g')"
    t2 = f"regexp_replace(t1, '{PII_IP_RX}', '<IP>', 'g')"
    t3 = f"regexp_replace(t2, '{PII_PHONE_RX}', '<PHONE>', 'g')"
    return f"""
WITH gq AS (SELECT doc_id, n_words, keep AS keep_quality FROM ({gq}) g),
fp AS (SELECT doc_id, md5({NORM_SQL.format(c='text')}) AS f FROM documents),
k AS (SELECT f, min(doc_id) AS keeper FROM fp GROUP BY 1),
dd AS (SELECT fp.doc_id AS doc_id, k.keeper AS keeper FROM fp JOIN k USING (f)),
s1 AS (SELECT doc_id, {t1} AS t1 FROM (SELECT doc_id, {collapsed} AS ct FROM documents) c),
s2 AS (SELECT doc_id, {t2} AS t2 FROM s1),
s3 AS (SELECT doc_id, {t3} AS t3 FROM s2)
SELECT gq.doc_id::BIGINT AS doc_id,
       gq.n_words,
       gq.keep_quality,
       dd.keeper::BIGINT AS keeper,
       (gq.keep_quality AND gq.doc_id = dd.keeper) AS keep,
       md5(s3.t3) AS clean_md5
FROM gq JOIN dd ON dd.doc_id = gq.doc_id JOIN s3 ON s3.doc_id = gq.doc_id
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-side dedup: canonicalize messy url spellings (scheme/host case,
    default ports, tracking params, fragments — urlops.py rules) and keep
    the min doc_id per canonical url. The messy urls are synthesized
    deterministically from doc_id: url "groups" of 7 consecutive doc_ids
    (g = doc_id div 7) x 7 spelling variants (w = doc_id % 7), so some
    variants collapse under canonicalization (w=0/1/5 on case/port/
    tracking/userinfo; w=2/3 on :443/tracking) and some stay distinct
    (w=4: non-default port + non-tracking param; w=6: percent-escapes,
    whose hex case is normalized but whose path stays unique) — both
    sides of the decision are exercised. Oracle applies the identical
    rules in DuckDB regexp syntax."""
    from tempeh_spark.urlops import url_dedup

    d = _docs(spark, sf_dir).select("doc_id")
    g = F.expr("doc_id div 7").cast("long")
    w = (F.col("doc_id") % 7).cast("int")
    scheme = (
        F.when(w == 1, "HTTP").when((w == 2) | (w == 3), "https").otherwise("http")
    )
    userinfo = F.when(w == 5, "User:Pass@").otherwise("")
    port = (
        F.when((w == 0) | (w == 5), ":80")
        .when(w == 2, ":443")
        .when(w == 4, ":8080")
        .otherwise("")
    )
    path = F.when(
        w == 6, F.concat(F.lit("/Articles/x%3a"), g.cast("string"))
    ).otherwise(F.concat(F.lit("/Articles/"), g.cast("string")))
    query = (
        F.when(
            w == 0,
            F.concat(F.lit("?id="), g.cast("string"), F.lit("&utm_source=feed&ref=tw")),
        )
        .when(w == 1, F.concat(F.lit("?utm_campaign=x&id="), g.cast("string")))
        .when(w == 2, F.lit("?utm_medium=email"))
        .when(w == 4, F.lit("?a=1&fbclid=XYZ"))
        .when(w == 5, F.concat(F.lit("?id="), g.cast("string")))
        .when(w == 6, F.lit("?tag=caf%c3%a9"))
        .otherwise("")
    )
    frag = F.when(
        w % 2 == 0, F.concat(F.lit("#section-"), (g % 9).cast("string"))
    ).otherwise("")
    url = F.concat(
        scheme,
        F.lit("://"),
        userinfo,
        F.lit("WWW.Site"),
        (g % 7).cast("string"),
        F.lit(".Example.COM"),
        port,
        path,
        query,
        frag,
    )
    pages = d.select("doc_id", url.alias("url"))
    return url_dedup(pages).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "url",
        "canon_url",
        F.col("keeper").cast("long").alias("keeper"),
        "keep",
    )


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion roundtrip: wrap each document's deterministic HTML in
    multi-record WARC files (50 records/file, url-ordered), read them back
    through the mapInPandas WARC reader, and prove every page survives
    byte-identically (html bytes, url, capture timestamp). Oracle recomputes
    md5 of the same deterministic HTML template in SQL — the pdf_extract
    pattern applied to the ingestion edge."""
    from tempeh_spark.warc import build_warc, parse_warc

    pages = _docs_as_pages(_docs(spark, sf_dir)).select(
        "doc_id",
        "url",
        "html",
        F.expr("doc_id div 50").alias("file_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("warc_ts"),
    )
    recs = parse_warc(build_warc(pages))
    return (
        pages.alias("p")
        .join(recs.alias("r"), "url")
        .select(
            F.col("p.doc_id").cast("long").alias("doc_id"),
            F.md5(F.col("r.html")).alias("html_md5"),
            (
                F.col("r.error").isNull()
                & (F.col("r.html") == F.col("p.html"))
                & (F.col("r.warc_ts") == F.col("p.warc_ts"))
            ).alias("ok"),
        )
    )


def q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink/anchor extraction over deterministic link-bearing pages:
    three link variants per doc (quoted href with nested markup in the
    anchor, unquoted href + a second fragment link, an href-less anchor
    that must be skipped followed by an absolute url with a query). The
    oracle predicts every (link_idx, href, anchor) row from the shared
    generative spec — the media_dims pattern applied to the webgraph op."""
    from tempeh_spark.links import extract_links

    d = _docs(spark, sf_dir)
    g = (F.col("doc_id") % 100).cast("string")
    w = F.col("doc_id") % 3
    links = (
        F.when(w == 0, F.concat(F.lit('<a href="/p/'), g, F.lit('">go <b>now</b></a>')))
        .when(
            w == 1,
            F.concat(F.lit("<a href=/q/"), g, F.lit('>first</a><a href="#frag">second</a>')),
        )
        .otherwise(
            F.concat(
                F.lit('<a name=x>skip</a><a href="http://ex.com/'),
                g,
                F.lit('?a=1">Ex '),
                g,
                F.lit("</a>"),
            )
        )
    )
    html = F.concat(
        F.lit("<html><head><title>t</title></head><body><p>"),
        F.col("text"),
        F.lit("</p><nav>"),
        links,
        F.lit("</nav></body></html>"),
    )
    pages = d.select("doc_id", F.encode(html, "UTF-8").alias("html"))
    return extract_links(pages).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("link_idx").cast("long").alias("link_idx"),
        "href",
        "anchor",
    )


def _docs_as_link_pages(df: DataFrame) -> DataFrame:
    """Deterministic webgraph corpus for the host_graph/pagerank gates:
    7 hosts (k = doc_id % 7), per doc —

    * always: absolute cross-link to site (k+1)%7 (case-messy host);
    * odd k: a SECOND anchor to the same (k+1)%7 target (n_links > n_docs);
    * even k: protocol-relative link to site (k+3)%7 (unquoted attr);
    * k % 3 == 0: https link with userinfo + default :443 to site (k+2)%7;
    * always: relative self-link and a mailto: (dropped by resolution).

    The oracle reconstructs the same edge instances from doc_id arithmetic."""
    k = F.col("doc_id") % 7
    g = F.col("doc_id").cast("string")

    def site(expr, pre="site", post=".example.com"):
        return F.concat(F.lit(pre), expr.cast("string"), F.lit(post))

    l1 = F.concat(
        F.lit('<a href="http://'),
        site((k + 1) % 7, pre="Site", post=".Example.com"),
        F.lit('/x/'), g, F.lit('">next '), g, F.lit("</a>"),
    )
    l2 = F.when(
        k % 2 == 1,
        F.concat(
            F.lit('<a href="http://'), site((k + 1) % 7), F.lit('/x2">again</a>')
        ),
    ).otherwise("")
    l3 = F.when(
        k % 2 == 0,
        F.concat(F.lit("<a href=//"), site((k + 3) % 7), F.lit("/y>proto</a>")),
    ).otherwise("")
    l4 = F.when(
        k % 3 == 0,
        F.concat(
            F.lit('<a href="https://u:p@'), site((k + 2) % 7), F.lit(':443/z">sec</a>')
        ),
    ).otherwise("")
    l5 = F.concat(F.lit('<a href="/local/'), g, F.lit('">here</a>'))
    l6 = F.lit('<a href="mailto:x@example.com">mail</a>')
    html = F.concat(
        F.lit("<html><body><nav>"), l1, l2, l3, l4, l5, l6, F.lit("</nav></body></html>")
    )
    return df.select(
        "doc_id",
        F.concat(F.lit("http://"), site(k, pre="Site", post=".Example.com"),
                 F.lit("/p/"), g).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )


def _link_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared per-anchor rows (with the source url) for every webgraph
    gate. The single-file parquet arrives as ONE partition, so the pages
    are url-hash-repartitioned BEFORE the row-multiplying extract_links
    walk (CLAUDE.md: spread before row-multiplying ops) — the same
    bucketing entry() uses."""
    from tempeh_spark.links import extract_links

    pages = _docs_as_link_pages(_docs(spark, sf_dir))
    # extract_links spreads narrow inputs itself now (partitioning.py) —
    # the previous explicit url-hash repartition here would add a second
    # shuffle of the html payloads for the same balance
    return extract_links(pages).join(pages.select("doc_id", "url"), "doc_id")


def _link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tempeh_spark.webgraph import host_edges

    return host_edges(_link_rows(spark, sf_dir))


_LINK_RAW_SQL = """
  SELECT doc_id, doc_id % 7 AS s, (doc_id % 7 + 1) % 7 AS t FROM documents
  UNION ALL
  SELECT doc_id, doc_id % 7, (doc_id % 7 + 1) % 7 FROM documents WHERE doc_id % 7 % 2 = 1
  UNION ALL
  SELECT doc_id, doc_id % 7, (doc_id % 7 + 3) % 7 FROM documents WHERE doc_id % 7 % 2 = 0
  UNION ALL
  SELECT doc_id, doc_id % 7, (doc_id % 7 + 2) % 7 FROM documents WHERE doc_id % 7 % 3 = 0
  UNION ALL
  SELECT doc_id, doc_id % 7, doc_id % 7 FROM documents
"""


def q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level webgraph edges: extract_links over deterministic
    link-bearing pages -> href->host resolution (absolute, protocol-
    relative, relative-to-source, userinfo/default-port canonicalization,
    mailto dropped) -> one (src_host, dst_host) hash agg with link-instance
    and distinct-source-doc counts. Oracle reconstructs the identical edge
    instances from doc_id arithmetic."""
    return _link_edges(spark, sf_dir).select(
        "src_host",
        "dst_host",
        F.col("n_links").cast("long").alias("n_links"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


def _oracle_host_graph() -> str:
    return f"""
WITH raw AS ({_LINK_RAW_SQL})
SELECT concat('site', s, '.example.com') AS src_host,
       concat('site', t, '.example.com') AS dst_host,
       count(*)::BIGINT AS n_links,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM raw GROUP BY 1, 2
"""


def q_host_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 anchor-text terms per TARGET host (anchor text describes the
    page it points at — retrieval-training query/doc pairs). Oracle
    reconstructs every (dst_host, anchor) instance from the generative
    spec and applies the identical tokenize/count/rank pipeline in SQL."""
    from tempeh_spark.webgraph import anchor_stats

    return anchor_stats(_link_rows(spark, sf_dir), k=3).select(
        "dst_host",
        "term",
        F.col("n").cast("long").alias("n"),
        F.col("rank").cast("long").alias("rank"),
    )


_ANCHOR_COUNTS_CTES = r"""raw AS (
  SELECT (doc_id % 7 + 1) % 7 AS t, concat('next ', doc_id::VARCHAR) AS anchor FROM documents
  UNION ALL SELECT (doc_id % 7 + 1) % 7, 'again' FROM documents WHERE doc_id % 7 % 2 = 1
  UNION ALL SELECT (doc_id % 7 + 3) % 7, 'proto' FROM documents WHERE doc_id % 7 % 2 = 0
  UNION ALL SELECT (doc_id % 7 + 2) % 7, 'sec' FROM documents WHERE doc_id % 7 % 3 = 0
  UNION ALL SELECT doc_id % 7, 'here' FROM documents
),
terms AS (
  SELECT t, unnest(list_filter(string_split_regex(lower(anchor), '[ \t\n\f\r]+'), x -> x <> '')) AS term
  FROM raw
),
counts AS (SELECT t, term, count(*)::BIGINT AS n FROM terms GROUP BY 1, 2)"""


def _oracle_host_anchors() -> str:
    return f"""
WITH {_ANCHOR_COUNTS_CTES},
ranked AS (
  SELECT t, term, n,
         row_number() OVER (PARTITION BY t ORDER BY n DESC, term ASC) AS rank
  FROM counts
)
SELECT concat('site', t, '.example.com') AS dst_host, term, n, rank::BIGINT AS rank
FROM ranked WHERE rank <= 3
"""


def _oracle_anchor_pairs() -> str:
    return f"""
WITH {_ANCHOR_COUNTS_CTES},
ranked AS (
  SELECT t, term, n,
         sum(n) OVER (PARTITION BY t) AS host_total,
         row_number() OVER (PARTITION BY t ORDER BY n DESC, term ASC) AS rank
  FROM counts
)
SELECT term AS query_term, concat('site', t, '.example.com') AS dst_host, n,
       ((n * 1000000) // host_total)::BIGINT AS weight_ppm, rank::BIGINT AS rank
FROM ranked WHERE rank <= 3
"""


def q_anchor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval-training pairs DELIVERABLE: (query_term, dst_host)
    with an exact integer ppm weight (term's share of the host's counted
    anchor occurrences, integer division only — bit-stable across
    engines). Makes the webgraph family produce training data, not just
    statistics."""
    from tempeh_spark.webgraph import anchor_pairs

    return anchor_pairs(_link_rows(spark, sf_dir), k=3).select(
        "query_term",
        "dst_host",
        F.col("n").cast("long").alias("n"),
        F.col("weight_ppm").cast("long").alias("weight_ppm"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration (3) PageRank over the host graph in EXACT
    scaled-integer arithmetic (webgraph.pagerank_units): ranks are BIGINT
    1e-12 units, every step integer div/multiply — order-independent, so
    the DuckDB twin (the same recurrence unrolled as 3 CTEs) matches
    bit-for-bit. Self-loops excluded, dangling mass not redistributed.

    Eager: building the DataFrame runs the whole PageRank
    (``pagerank_units`` counts the hosts and checkpoints eagerly; 25 build
    jobs and 1 action job at sf0.1 in BENCH/profile_sf0.1-local4.json)."""
    from tempeh_spark.webgraph import pagerank_units

    return pagerank_units(_link_edges(spark, sf_dir), n_iter=3).select(
        "host", F.col("rank_units").cast("long").alias("rank_units")
    )


def _oracle_pagerank(n_iter: int = 3, scale: int = 10**12, damping_pct: int = 85) -> str:
    head = f"""
WITH raw AS ({_LINK_RAW_SQL}),
pairs AS (SELECT DISTINCT s, t FROM raw WHERE s <> t),
hosts AS (SELECT s AS h FROM pairs UNION SELECT t FROM pairs),
consts AS (
  SELECT ({scale} // (SELECT count(*) FROM hosts))::BIGINT AS r0,
         (({100 - damping_pct} * ({scale} // (SELECT count(*) FROM hosts))) // 100)::BIGINT AS base
),
outdeg AS (SELECT s, count(*)::BIGINT AS o FROM pairs GROUP BY 1),
it0 AS (SELECT h, (SELECT r0 FROM consts) AS r FROM hosts)"""
    body = ""
    prev = "it0"
    for i in range(1, n_iter + 1):
        body += f""",
it{i} AS (
  SELECT h.h AS h,
         ((SELECT base FROM consts)
          + ({damping_pct} * coalesce(inf.su, 0)) // 100)::BIGINT AS r
  FROM hosts h
  LEFT JOIN (
    SELECT p.t AS h, sum(r.r // o.o)::BIGINT AS su
    FROM pairs p JOIN {prev} r ON r.h = p.s JOIN outdeg o ON o.s = p.s
    GROUP BY p.t
  ) inf ON inf.h = h.h
)"""
        prev = f"it{i}"
    return (
        head
        + body
        + f"""
SELECT concat('site', h, '.example.com') AS host, r AS rank_units FROM {prev}
"""
    )


def q_text_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text -> dim-64 vector featurization (hashed bag of char 3-grams,
    exact-integer L2 norm — featurize.text_embedding). The bridge that
    connects the extraction leg to the vector leg of the pipeline: every
    downstream vector operator (LSH, k-means, near-dup) can now run on
    engine-produced embeddings instead of fixture vectors. Output is the
    tall (doc_id, i, v) unpivot — 64 rows per doc, every component
    value-checked bit-exactly against the DuckDB twin."""
    from tempeh_spark.featurize import text_embedding

    emb = text_embedding(_docs(spark, sf_dir))
    return emb.select(
        F.col("id").cast("long").alias("doc_id"),
        F.posexplode("embedding").alias("i", "v"),
    ).select("doc_id", F.col("i").cast("long").alias("i"), "v")


def q_text_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs over TEXT-derived vectors (featurize -> exact cosine
    verifier): the embedding leg of dedup fed by the engine's own
    featurizer. Gate threshold 0.98 — the gate corpus's true near-dups sit
    at cosine >= 0.98 while the background pair mass tops out near 0.96
    (measured p99.9 = 0.957)."""
    from tempeh_spark.dedup import embedding_near_pairs
    from tempeh_spark.featurize import text_embedding

    vecs = text_embedding(_docs(spark, sf_dir)).select(
        F.col("id").alias("vec_id"), "embedding"
    )
    return embedding_near_pairs(vecs, threshold=0.98).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "cosine",
    )


def q_text_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content clustering straight from text: featurize -> nearest-centroid
    assignment against the literal md5-derived gate codebook (same
    broadcast-closure kernel as kmeans_assign — zero extra shuffles beyond
    the featurizer's one hash agg). At crawl scale this is the corpus
    topic-bucketing step of a training-data pipeline, running end-to-end
    inside the engine."""
    from tempeh_spark.clustering import kmeans_assign
    from tempeh_spark.featurize import text_embedding

    vecs = text_embedding(_docs(spark, sf_dir)).select(
        F.col("id").alias("vec_id"), "embedding"
    )
    return kmeans_assign(vecs, _gate_centroids()).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cell").cast("int").alias("cell"),
        (F.round("dist2", 4) + F.lit(0.0)).alias("dist2"),
    )


def q_text_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full text->vector->decision pipeline leg in one gated query:
    featurize (hashed-ngram embedding) -> exact cosine near-dup edges at
    0.98 -> connected components -> per-doc (keeper, keep). The embedding
    analogue of dedup_decisions, fed by engine-produced vectors; oracle is
    the recursive-CTE transitive closure over the same edge set."""
    from tempeh_spark.dedup import embedding_dedup_decisions
    from tempeh_spark.featurize import text_embedding

    vecs = text_embedding(_docs(spark, sf_dir)).select(
        F.col("id").alias("vec_id"), "embedding"
    )
    return embedding_dedup_decisions(vecs, threshold=0.98).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("keeper").cast("long").alias("keeper"),
        "keep",
    )


def q_pipeline_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL LLM-data-pipeline keep/drop story in one value-twinned
    query: every duplicate-evidence family the engine produces — exact
    normalized-digest star edges, verified minhash-LSH near-dup pairs, and
    embedding-cosine near-dup pairs over the engine's own text featurizer —
    unioned into ONE connected-component pass, then one (doc_id, keeper,
    keep) row per document. Per-family decisions can disagree (a doc can be
    a minhash keeper but an embedding dup); the single component pass makes
    the final call consistent by construction.

    Scale shape: all three producers are bucketed equi-joins or one wide
    hash agg. The embedding evidence comes from the CRAWL-SCALE producer —
    ``similarity.embedding_lsh_near_pairs`` (banded hyperplane candidates +
    exact-cosine verify on candidates only; 8 bands x 8 planes, the tight-
    threshold configuration: ~0.999 analytic recall at cos >= 0.98), NOT
    the all-pairs exact verifier (r6: the exact leg measured 31-47 s at
    sf0.1 and is quadratic in the corpus — the one shape this gate exists
    to avoid). The oracle applies the IDENTICAL banded restriction (the
    hyperplanes are deterministic literals, the vectors are the bit-twinned
    featurizer output), so the value check is exact even though LSH recall
    is not 1.0. The union feeds duplicate_components' measured-size
    strategy gate, and the final assignment is one left join. Oracle =
    recursive-CTE transitive closure over the identical three-family edge
    set."""
    from tempeh_spark.dedup import dedup_decisions
    from tempeh_spark.featurize import text_embedding
    from tempeh_spark.similarity import embedding_lsh_near_pairs

    docs = _docs(spark, sf_dir)
    vecs = text_embedding(docs).select(F.col("id").alias("vec_id"), "embedding")
    emb_pairs = embedding_lsh_near_pairs(
        vecs, dim=64, threshold=0.98, n_bands=12, planes_per_band=16,
        center=True,
    ).select("id_a", "id_b")
    return dedup_decisions(
        docs, num_perm=16, bands=4, ngram=8, verify_threshold=0.3, max_chars=300,
        extra_pairs=emb_pairs,
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("keeper").cast("long").alias("keeper"),
        "keep",
    )


# Recall floors for ANN over the engine's OWN text embeddings (hashed
# 3-gram vectors are much spikier than the smooth fixture vectors, so the
# floors are pinned separately). Pinned BELOW the minimum measured across
# sf0.001/0.01/0.1 — see the measurement table in the q_text_ann docstring.
_TEXT_ANN_FLOORS: dict[str, float] = {
    "text_ivf": 0.50,
    "text_ivf_probe": 0.90,
}


def q_text_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN retrieval over the engine's OWN text embeddings — the last
    vector-family leg to move off fixture vectors: featurize (hashed-ngram
    embedding) -> k-means cell assignment (the text_kmeans codebook) ->
    IVF top-k (own-cell and 3-probe), recall measured against brute-force
    cosine ground truth over the same vectors, floor-pinned as a literal
    oracle (the ann_recall_floor pattern).

    Measured recalls at the gate parameters (k=10, 5 queries, 2026-08-17):
    sf0.001 ivf 0.94 / probe 1.00; sf0.01 ivf 0.60 / probe 1.00;
    sf0.1 ivf 0.80 / probe 1.00. Far above the fixture-vector family
    (hashed 3-gram embeddings cluster tightly by topic, so the query's own
    cell holds most true neighbors); floors pinned below every measured
    point (0.50 / 0.90) while still tripping real regressions — dropping
    n_probe to 1 lands probe at the ivf line, under 0.90 at sf0.01/0.1.

    Scale shape: featurizer is ONE wide map-side-combinable agg; assignment
    is a broadcast-closure Arrow pass (no shuffle); IVF search streams the
    corpus through one equi-join on cell with queries/centroids broadcast.
    The two localCheckpoints below materialize the corpus-wide
    featurizer + labeling ONCE for their four consumers (the branch-fanout
    trap: each consumer would otherwise re-run the whole producer subtree).
    They are not lazy: under AQE ``localCheckpoint(eager=False)`` runs the
    shuffle stages of its input when called, so building this DataFrame
    runs Spark jobs."""
    from tempeh_spark.clustering import kmeans_assign
    from tempeh_spark.featurize import text_embedding
    from tempeh_spark.similarity import brute_topk, ivf_multiprobe_topk, ivf_topk

    vecs = (
        text_embedding(_docs(spark, sf_dir))
        .select(F.col("id").alias("vec_id"), "embedding")
        .localCheckpoint(eager=False)
    )
    labeled = (
        vecs.join(
            kmeans_assign(vecs, _gate_centroids()).select(
                "vec_id", F.col("cell").alias("label")
            ),
            "vec_id",
        )
        .localCheckpoint(eager=False)
    )
    q = labeled.where(F.col("vec_id") < 5)
    brute = brute_topk(labeled, q, k=10).select("query_id", "nbr_id")
    ivf = ivf_topk(labeled, q, k=10).select("query_id", "nbr_id")
    probe = ivf_multiprobe_topk(labeled, q, k=10, n_probe=3).select(
        "query_id", "nbr_id"
    )

    def one(method: str, cand: DataFrame) -> DataFrame:
        hits = cand.join(brute, ["query_id", "nbr_id"], "inner").agg(
            F.count("*").alias("n_hits")
        )
        true = brute.agg(F.count("*").alias("n_true"))
        return hits.crossJoin(true).select(
            F.lit(method).alias("method"),
            F.round(F.lit(_TEXT_ANN_FLOORS[method]), 2).alias("floor"),
            ((F.col("n_hits") / F.col("n_true")) >= F.lit(_TEXT_ANN_FLOORS[method])).alias("ok"),
        )

    return one("text_ivf", ivf).unionByName(one("text_ivf_probe", probe))


def _oracle_text_ann() -> str:
    # same literal-floor twin shape as ann_recall_floor: DOUBLE cast keeps
    # DuckDB from typing the VALUES literal as DECIMAL ('0.30' text form)
    rows = [(m, f, True) for m, f in sorted(_TEXT_ANN_FLOORS.items())]
    inner = _values_sql(rows, ["method", "floor", "ok"])
    return f"SELECT method, floor::DOUBLE AS floor, ok FROM ({inner}) v"


_BM25_QUERIES = [
    # multi-term, single-term, and a vanished term (df=0 -> no candidate
    # rows -> contributes nothing, the documented edge)
    ("q_hash_join", "hash"),
    ("q_hash_join", "join"),
    ("q_merge", "merge"),
    ("q_vec", "vector"),
    ("q_vec", "scan"),
    ("q_vec", "zzzmissing"),
]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BM25 top-10 per query (retrieval.bm25_topk): exact
    rational k1/b folding, log-free integer idf, 1e-6-unit integer score
    sum — see the retrieval module docstring for why each piece is
    engine-portable."""
    from tempeh_spark.retrieval import bm25_topk

    out = bm25_topk(_docs(spark, sf_dir), _BM25_QUERIES, k=10)
    return out.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        "score_units",
    )


def _oracle_bm25_topk() -> str:
    vals = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)
    return f"""
WITH q(query_id, term) AS (VALUES {vals}),
toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[{WS_SQL}]+'),
                            x -> x <> '')) AS term
  FROM documents
),
dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
totals AS (
  SELECT count(*)::BIGINT AS n_docs,
         sum(coalesce(dl, 0))::BIGINT AS total_len
  FROM documents d LEFT JOIN dls USING (doc_id)
),
tf AS (
  SELECT query_id, term, doc_id, count(*) AS tf
  FROM toks JOIN q USING (term) GROUP BY query_id, term, doc_id
),
dfreq AS (SELECT query_id, term, count(*) AS df_t FROM tf GROUP BY query_id, term),
scored AS (
  SELECT query_id, doc_id,
         floor(((1000000 * (2 * n_docs - 2 * df_t + 1)) // (2 * df_t + 1))
               * ((22 * tf * total_len)::DOUBLE
                  / (10 * tf * total_len + 3 * total_len + 9 * dl * n_docs)::DOUBLE)
               + 0.5)::BIGINT AS contrib_units
  FROM tf
  JOIN dfreq USING (query_id, term)
  JOIN dls USING (doc_id)
  CROSS JOIN totals
),
per_doc AS (
  SELECT query_id, doc_id, sum(contrib_units)::BIGINT AS score_units
  FROM scored GROUP BY query_id, doc_id
),
rk AS (
  SELECT query_id, doc_id, score_units,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_units DESC, doc_id) AS rank
  FROM per_doc
)
SELECT query_id, rank::INT AS rank, doc_id::BIGINT AS doc_id, score_units
FROM rk WHERE rank <= 10
"""


def q_robots_allowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-permission gate (robots.robots_rules + robots_allowed): the
    full sequential robots.txt parse — comment strip, directive parse,
    window-based user-agent GROUP assembly (stacked UA lines share
    rules), empty-pattern drop — then longest-prefix-match decisions
    with Allow breaking ties, exact-agent group preferred over '*'.
    Ten host profiles exercise every leg: * groups with nested
    allow-in-disallow, an exact tempehbot group, a group for a different
    agent only (unrestricted for us), comments-only and empty-disallow
    files (no rules). The DuckDB twin re-implements the ENTIRE parse
    with the same window algebra — value equality between two
    independent implementations of the sequential format is the gate."""
    from tempeh_spark.robots import robots_allowed, robots_rules

    d = _docs(spark, sf_dir).select("doc_id")
    m = (F.col("doc_id") % 10).cast("int")
    host = F.concat(F.lit("h"), m.cast("string"), F.lit(".example"))
    body = (
        F.when(
            m <= 3,
            F.concat(
                F.lit("# synthetic robots\nUser-agent: *\nDisallow: /private\nAllow: /private/ok"),
                m.cast("string"),
                F.lit("\n"),
            ),
        )
        .when(
            (m >= 4) & (m <= 6),
            F.lit(
                "User-agent: tempehbot\nUser-agent: buddybot\nDisallow: /\nAllow: /data\n\nUser-agent: *\nDisallow: /tmp\n"
            ),
        )
        .when(m == 7, F.lit("User-agent: other\nDisallow: /\n"))
        .when(m == 8, F.lit("# comments only\n"))
        .otherwise(F.lit("User-agent: *\nDisallow:\n"))
    )
    p = (F.col("doc_id") % 7).cast("int")
    path = (
        F.when(p == 0, "/private/ok0/x")
        .when(p == 1, "/private/zz")
        .when(p == 2, "/data/set")
        .when(p == 3, "/tmp/file")
        .when(p == 4, "")  # bare authority -> path defaults to '/'
        .when(p == 5, "/pub/page")
        .otherwise("/private")
    )
    robots = d.select(host.alias("host"), body.alias("robots_txt")).distinct()
    urls = d.select(
        "doc_id", F.concat(F.lit("http://"), host, path).alias("url")
    )
    out = robots_allowed(urls, robots_rules(robots), "TempehBot")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "host", "path", "allowed"
    )


def q_host_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-policy gate (urlops.host_blocklist): label-boundary domain
    blocklist via suffix-chain explode + equi-join (the million-entry
    scale path — no LIKE scan). Hosts are synthesized deterministically
    from doc_id: w = doc_id % 5 picks exact-match, subdomain-match,
    2-deep subdomain, clean, and the notspam.example boundary trap (a
    substring/endswith bug would block it; the oracle's LIKE form pins
    the label-boundary semantics)."""
    from tempeh_spark.urlops import host_blocklist

    d = _docs(spark, sf_dir).select("doc_id")
    g = F.expr("doc_id div 5").cast("long")
    w = (F.col("doc_id") % 5).cast("int")
    host = (
        F.when(w == 0, F.concat(F.lit("sub"), g, F.lit(".spam.example")))
        .when(w == 1, F.lit("spam.example"))
        .when(w == 2, F.lit("notspam.example"))
        .when(w == 3, F.concat(F.lit("ok"), g, F.lit(".example.org")))
        .otherwise(F.concat(F.lit("deep.sub"), g, F.lit(".ads.net")))
    )
    urls = d.select(
        "doc_id",
        F.concat(F.lit("http://"), host, F.lit("/p"), F.col("doc_id")).alias("url"),
    )
    out = host_blocklist(urls, ["spam.example", "ads.net"])
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "host", "blocked"
    )


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level self-dedup gate (corpusops.duplicate_spans): word
    8-grams appearing in >=2 distinct documents flag every document
    carrying them — integer-only per-doc counts, bit-exact twin."""
    from tempeh_spark.corpusops import duplicate_spans

    docs = _docs(spark, sf_dir)
    out = duplicate_spans(docs, ngram=8, min_docs=2)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_spans",
        "n_dup_spans",
        "flagged",
    )


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture sampling gate (corpusops.mixture_sample): the
    rate map folds into literal integer thresholds in ONE codegen
    projection — zero shuffles, zero joins; exact integer md5-bucket
    compare, so keep/drop is bit-stable across engines and reruns."""
    from tempeh_spark.corpusops import mixture_sample

    docs = _docs(spark, sf_dir)
    out = mixture_sample(
        docs,
        {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.0},
        default_rate=0.1,
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("bucket").cast("long").alias("bucket"),
        "keep",
    )


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing gate (corpusops.pack_sequences):
    per-source contiguous streams in doc_id order, bin = start div budget
    — ONE window exchange partitioned by source (packing parallelizes
    across shards; no global sort anywhere)."""
    from tempeh_spark.corpusops import pack_sequences

    docs = _docs(spark, sf_dir)
    out = pack_sequences(docs, budget=2048, cost_col="n_chars")
    return out.select(
        "source",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("start_offset").cast("long").alias("start_offset"),
        F.col("bin").cast("long").alias("bin"),
        F.col("cost").cast("long").alias("cost"),
    )


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source equi-width length histogram (corpusops.equiwidth_histogram):
    exact BIGINT bucketing (integer `div`, clamped edge buckets so every
    row is accounted for), ONE map-side-combined (source, bucket) agg —
    shuffle bounded at sources x buckets rows at any corpus size."""
    from tempeh_spark.corpusops import equiwidth_histogram

    docs = _docs(spark, sf_dir)
    out = equiwidth_histogram(
        docs, "n_chars", group_cols=("source",), lo=0, hi=600, buckets=12
    )
    return out.select(
        "source", "bucket", "bucket_lo", F.col("n").alias("n_docs")
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct counts via the deterministic HyperLogLog sketch
    (corpusops.hll_distinct) next to the exact answers it approximates.

    Two legs on purpose: the 4-gram shingle vocabulary (thousands of
    distincts per source — the raw bias-corrected estimator path) and the
    language set (4-5 distincts — the small-range linear-counting branch).
    The shingle leg feeds RAW gram rows straight into the sketch with no
    ``distinct`` anywhere: at corpus scale that is the whole point — the
    only shuffle over data rows is the map-side-combined
    (source, register) agg, bounded at 256 rows per source per mapper."""
    from tempeh_spark.corpusops import hll_distinct
    from tempeh_spark.partitioning import ROW_MULTIPLYING, spread_if_narrow
    from tempeh_spark.textops import char_ngrams

    docs = _docs(spark, sf_dir)
    # spread BEFORE the ~300x gram explode: the single-footer scan would
    # otherwise run both shingle legs' explode + partial aggs on one core
    # (measured 14.6 s at sf1.0; the aggs themselves are bounded)
    base = spread_if_narrow(docs, "doc_id", ROW_MULTIPLYING)
    # both the sketch leg and the exact leg consume the gram rows:
    # materialize the explode once (lazy, ContextCleaner-released)
    grams = char_ngrams(base, ["source"], "text", 4).localCheckpoint(eager=False)
    sh_h = hll_distinct(grams, "g", ("source",), p=8, w=20).withColumnRenamed(
        "hll_distinct", "hll_shingles"
    )
    sh_e = grams.groupBy("source").agg(
        F.count_distinct("g").alias("exact_shingles")
    )
    lg_h = hll_distinct(
        docs.select("source", "lang"), "lang", ("source",), p=8, w=20
    ).withColumnRenamed("hll_distinct", "hll_langs")
    lg_e = docs.groupBy("source").agg(F.count_distinct("lang").alias("exact_langs"))
    return (
        sh_e.join(sh_h, "source")
        .join(lg_e, "source")
        .join(lg_h, "source")
        .select(
            "source", "exact_shingles", "hll_shingles", "exact_langs", "hll_langs"
        )
    )


def _oracle_hll_distinct() -> str:
    # Twin of corpusops.hll_distinct at p=8 (m=256, 2 hex digits), w=20
    # (5 hex digits). All constants come from the SAME hll_constants()
    # call the Spark side uses: one shared double literal for the
    # bias-corrected numerator (single IEEE division per group on both
    # engines) and a pre-rounded integer linear-counting table (no
    # cross-engine ln). bin() renders unpadded in both engines, so
    # rank = 21 - length(bin(v)).
    from tempeh_spark.corpusops import hll_constants

    scale, linc = hll_constants(8, 20)
    linc_sql = "[" + ", ".join(str(x) for x in linc) + "]"
    est = f"floor({scale!r} / (s_units::DOUBLE))::BIGINT"

    def leg(tag: str, items: str) -> str:
        return f"""
{tag}_regs AS (
  SELECT source,
         ('0x' || substr(h, 1, 2))::BIGINT AS reg,
         CASE WHEN v = 0 THEN 21 ELSE 21 - length(bin(v)) END AS rank
  FROM (SELECT source, md5(g) AS h,
               ('0x' || substr(md5(g), 3, 5))::BIGINT AS v
        FROM {tag}_items WHERE g IS NOT NULL)
),
{tag}_mx AS (SELECT source, reg, max(rank) AS mx FROM {tag}_regs GROUP BY source, reg),
{tag}_est AS (
  SELECT source,
         CASE WHEN (256 - n_seen) > 0 AND {est} <= 640
              THEN ({linc_sql})[(256 - n_seen)::INT]::BIGINT
              ELSE {est} END AS hll
  FROM (SELECT source,
               sum(1::BIGINT << (20 - mx)) + (256 - count(*)) * 1048576 AS s_units,
               count(*) AS n_seen
        FROM {tag}_mx GROUP BY source))"""

    return f"""
WITH sh_items AS (
  SELECT source, unnest({_char_ngrams_sql('t', 4)}) AS g
  FROM (SELECT source, {NORM_SQL.format(c='text')} AS t FROM documents)
),
lg_items AS (SELECT source, lang AS g FROM documents),
{leg('sh', 'sh_items')},
{leg('lg', 'lg_items')},
sh_exact AS (SELECT source, count(DISTINCT g)::BIGINT AS exact_shingles
             FROM sh_items GROUP BY source),
lg_exact AS (SELECT source, count(DISTINCT g)::BIGINT AS exact_langs
             FROM lg_items WHERE g IS NOT NULL GROUP BY source)
SELECT se.source AS source,
       se.exact_shingles,
       sh_est.hll AS hll_shingles,
       lg_exact.exact_langs,
       lg_est.hll AS hll_langs
FROM sh_exact se
JOIN sh_est USING (source)
JOIN lg_exact USING (source)
JOIN lg_est USING (source)
"""


_CMS_DEPTH, _CMS_WIDTH, _CMS_K = 3, 64, 30


def q_cms_hot_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-token discovery via the deterministic count-min sketch
    (freqsketch.cms_sketch / cms_estimate): top-30 tokens by estimated
    frequency, with the exact count alongside so the one-sided error law
    (est >= exact) is value-checked row by row.

    The gate width (64 counters x 3 rows) is deliberately narrow so
    collisions OCCUR at gate scale and the twin proves the SKETCH —
    register sums and min-over-rows — not just exact counting (at sf0.01
    the top token by estimate overshoots its exact count). Scale shape:
    the corpus flows through ONE map-side-combined (row, pos) hash agg
    bounded at depth*width rows per mapper; the probe join is
    broadcast-sized by construction. Tokenization is the engine-common
    whitespace class (textops.WS), the same twin bm25_topk uses."""
    from tempeh_spark.freqsketch import cms_estimate, cms_sketch
    from tempeh_spark.partitioning import ROW_MULTIPLYING, spread_if_narrow
    from tempeh_spark.textops import WS

    # spread BEFORE the token explode (three consumers re-derive this
    # subtree: sketch, estimate probe, exact counts — all were single-core
    # off the one-partition scan; measured 16.6 s at sf1.0)
    docs = spread_if_narrow(_docs(spark, sf_dir), "doc_id", ROW_MULTIPLYING)
    toks = docs.select(
        F.explode(
            F.array_remove(F.split(F.lower(F.col("text")), rf"[{WS}]+"), "")
        ).alias("tok")
    )
    sk = cms_sketch(toks, "tok", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    est = cms_estimate(sk, toks, "tok", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_n"))
    return (
        est.join(exact, "tok")
        .orderBy(F.col("est").desc(), "tok")
        .limit(_CMS_K)
        .select("tok", "est", "exact_n")
    )


def _oracle_cms_hot_tokens() -> str:
    # Twin of freqsketch at (depth 3, width 64): position =
    # 48-bit md5 slice of '<row>:<token>' mod width (('0x'||substr)::BIGINT
    # is the repo-standard md5->BIGINT idiom), registers are exact BIGINT
    # count sums, estimate = min over rows with absent registers
    # coalesced to 0. (est DESC, tok) is a total order, so LIMIT 30 is
    # deterministic on both engines.
    d, w, k = _CMS_DEPTH, _CMS_WIDTH, _CMS_K
    pos = f"(('0x' || substr(md5(t.rn || ':' || tok), 1, 12))::BIGINT % {w})"
    return f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[{WS_SQL}]+'),
                            x -> x <> '')) AS tok
  FROM documents
),
reg AS (
  SELECT row, pos, count(*)::BIGINT AS total FROM (
    SELECT t.rn AS row, {pos} AS pos
    FROM toks, range(0, {d}) t(rn)
  ) GROUP BY row, pos
),
probe AS (
  SELECT tok, t.rn AS row, {pos} AS pos
  FROM (SELECT DISTINCT tok FROM toks), range(0, {d}) t(rn)
),
est AS (
  SELECT tok, min(coalesce(total, 0))::BIGINT AS est
  FROM probe LEFT JOIN reg USING (row, pos) GROUP BY tok
),
ex AS (SELECT tok, count(*)::BIGINT AS exact_n FROM toks GROUP BY tok)
SELECT tok, est, exact_n FROM est JOIN ex USING (tok)
ORDER BY est DESC, tok LIMIT {k}
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordered least-driver-verified FIRST: the per-round driver gate samples
    # the head of this dict (CORRECTNESS_r04/r05 rows == the first 50 entries,
    # in order), so gates that have never (or rarely) had a driver-verified
    # CORRECTNESS row must sort into the sampled set.  The tail holds gates
    # with 5 consecutive green driver rounds whose semantics are unchanged;
    # they remain covered by the full-gate local rehearsal
    # (tools/check_oracles.py) and the pytest suite every session.
    return {
        # -- r7 rotation (VERDICT r6 #4): the 20 gates whose newest driver
        #    row is r05 sort into the sampled head, so the union of
        #    r06+r07 driver rows covers all 70 gates none older than two
        #    rounds --
        "parse_casing_upper": q_parse_casing_upper,
        "corpus_rollup": q_corpus_rollup,
        "roundtrip": q_roundtrip,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_signatures": q_minhash_signatures,
        "simhash_pairs": q_simhash_pairs,
        "hourly_events": q_hourly_events,
        "sessionize": q_sessionize,
        "latest_event": q_latest_event,
        "q1_pricing": q_q1_pricing,
        "exact_dedup": q_exact_dedup,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "lsh_topk": q_lsh_topk,
        "text_analysis": q_text_analysis,
        "bottomk_sketch": q_bottomk_sketch,
        "embedding_neardup": q_embedding_neardup,
        "brute_topk": q_brute_topk,
        "ivf_topk": q_ivf_topk,
        "parse_main_text": q_parse_main_text,
        # -- queries whose operators this optimization round touched:
        #    inside the sample window so the driver re-verifies them --
        "pipeline_decisions": q_pipeline_decisions,
        "dedup_decisions": q_dedup_decisions,
        "embedding_lsh_neardup": q_embedding_lsh_neardup,
        "cms_hot_tokens": q_cms_hot_tokens,
        "hll_distinct": q_hll_distinct,
        "pdf_extract": q_pdf_extract,
        "extract_links": q_extract_links,
        "bm25_topk": q_bm25_topk,
        "anchor_pairs": q_anchor_pairs,
        "pagerank": q_pagerank,
        "host_anchors": q_host_anchors,
        "host_graph": q_host_graph,
        "text_embedding": q_text_embedding,
        "training_pipeline": q_training_pipeline,
        # -- flagship parse gates + r6-new gates with a single driver row --
        "parse_text": q_parse_text,
        "parse_nodes": q_parse_nodes,
        "streaming_dedup": q_streaming_dedup,
        "length_histogram": q_length_histogram,
        "mixture_sample": q_mixture_sample,
        "sequence_packing": q_sequence_packing,
        "duplicate_spans": q_duplicate_spans,
        "host_blocklist": q_host_blocklist,
        "robots_allowed": q_robots_allowed,
        "text_neardup": q_text_neardup,
        "text_kmeans": q_text_kmeans,
        "text_dedup": q_text_dedup,
        "text_ann": q_text_ann,
        "media_meta": q_media_meta,
        "media_features": q_media_features,
        "media_dims": q_media_dims,
        # -- multi-round green, untouched this round: likely past the
        #    driver's sample horizon; still run locally every session --
        "line_dedup": q_line_dedup,
        "gopher_quality": q_gopher_quality,
        "host_cap": q_host_cap,
        "decontaminate": q_decontaminate,
        "pii_scrub": q_pii_scrub,
        "repetition_signals": q_repetition_signals,
        "hash_sample": q_hash_sample,
        "url_dedup": q_url_dedup,
        "warc_roundtrip": q_warc_roundtrip,
        "corpus_stats": q_corpus_stats,
        "ann_recall_floor": q_ann_recall_floor,
        "kmeans_assign": q_kmeans_assign,
        "streaming_sink": q_streaming_sink,
        "dup_components": q_dup_components,
        "simhash60_pairs": q_simhash60_pairs,
        "ivf_probe_topk": q_ivf_probe_topk,
        "ann_recall": q_ann_recall,
        "streaming_hourly": q_streaming_hourly,
        "nation_revenue": q_nation_revenue,
        "kmeans_update": q_kmeans_update,
    }


# --------------------------------------------------------------------------
# oracle SQL
# --------------------------------------------------------------------------


def _oracle_parse_text() -> str:
    rows = []
    for name, nodes in sorted(_golden_cases("lower").items()):
        text = _walk_text(nodes)
        rows.append((f"https://fixtures.test/{name}", _md5(text), len(text)))
    return _values_sql(rows, ["url", "text_md5", "n_chars"])


def _oracle_parse_nodes() -> str:
    rows = []
    for name, nodes in sorted(_golden_cases("lower").items()):
        rows.append(
            (f"https://fixtures.test/{name}", _md5(_canon_json(nodes)), _count_nodes(nodes))
        )
    return _values_sql(rows, ["url", "nodes_md5", "n_nodes"])


def _oracle_parse_casing_upper() -> str:
    g = json.loads(GOLDENS_PATH.read_text())
    rows = []
    for key, case in sorted(g.items()):
        if case["kind"] != "file" or not key.endswith(":upper"):
            continue
        rows.append(
            (
                f"https://fixtures.test/{case['fixture']}",
                _md5(_canon_json(case["result"]["nodes"])),
            )
        )
    return _values_sql(rows, ["url", "nodes_md5"])


def _oracle_parse_main_text() -> str:
    rows = []
    for url, r in sorted(_local_parse_results().items()):
        rows.append((url, _md5(r.main_text), r.extraction.title, len(r.extraction.spans)))
    return _values_sql(rows, ["url", "main_md5", "title", "n_spans"])


def _oracle_corpus_rollup() -> str:
    rs = _local_parse_results()
    rows = [
        (
            len(rs),
            sum(1 for r in rs.values() if r.error is not None),
            sum(r.extraction.n_nodes for r in rs.values()),
            sum(len(r.text) for r in rs.values()),
        )
    ]
    return _values_sql(rows, ["rows", "errors", "total_nodes", "total_text_chars"])


_SHINGLES_CTE = f"""
shingled AS (
  SELECT doc_id, list_distinct({_char_ngrams_sql('t', 8)}) AS sh
  FROM (SELECT doc_id, substring({NORM_SQL.format(c='text')}, 1, 300) AS t
        FROM documents)
)
"""


def _oracle_ngram_jaccard() -> str:
    return f"""
WITH {_SHINGLES_CTE.strip()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh)) > 0
  AND round(len(list_intersect(a.sh, b.sh))::DOUBLE
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= 0.3
"""


def _minhash_lsh_ctes() -> str:
    """CTE block ending in ``mh_pairs(id_a, id_b, jaccard)`` — shared by the
    minhash_lsh gate and the dup_components transitive-closure oracle."""
    mh_cols = ",\n         ".join(
        f"list_min(list_transform(sh, g -> md5('p{k}:' || g))) AS mh{k}" for k in range(16)
    )
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, concat_ws('|', mh{4*b}, mh{4*b+1}, mh{4*b+2}, mh{4*b+3}) AS sig FROM sigs"
        for b in range(4)
    )
    return f"""
{_SHINGLES_CTE.strip()},
sigs AS (
  SELECT doc_id, sh,
         {mh_cols}
  FROM shingled
  WHERE len(sh) > 0
),
banded AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
mh_pairs AS (
  SELECT c.id_a, c.id_b,
         round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
  FROM cand c
  JOIN shingled sa ON sa.doc_id = c.id_a
  JOIN shingled sb ON sb.doc_id = c.id_b
  WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
              / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) >= 0.3
)"""


def _oracle_minhash_lsh() -> str:
    return f"""
WITH {_minhash_lsh_ctes().strip()}
SELECT id_a, id_b, jaccard FROM mh_pairs
"""


def _oracle_dup_components() -> str:
    """TRUE transitive closure via a recursive CTE — the Spark side's
    iterative min-label propagation must land on the same fixpoint."""
    return f"""
WITH RECURSIVE {_minhash_lsh_ctes().strip()},
edges AS (
  SELECT id_a AS s, id_b AS d FROM mh_pairs
  UNION
  SELECT id_b, id_a FROM mh_pairs
),
reach (s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
)
SELECT s::BIGINT AS doc_id, least(s, min(d))::BIGINT AS component
FROM reach GROUP BY s
"""


def _oracle_dedup_decisions() -> str:
    """Transitive closure over minhash-LSH pairs UNION exact-digest cliques,
    then every document left-joined in (singletons keep themselves)."""
    return f"""
WITH RECURSIVE {_minhash_lsh_ctes().strip()},
dig AS (
  SELECT doc_id, md5({NORM_SQL.format(c='text')}) AS g FROM documents
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM mh_pairs
  UNION
  SELECT id_b, id_a FROM mh_pairs
  UNION
  SELECT a.doc_id, b.doc_id FROM dig a JOIN dig b ON a.g = b.g AND a.doc_id <> b.doc_id
),
reach (s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
),
comp AS (
  SELECT s AS doc_id, least(s, min(d)) AS component FROM reach GROUP BY s
)
SELECT documents.doc_id::BIGINT AS doc_id,
       coalesce(comp.component, documents.doc_id)::BIGINT AS keeper,
       (coalesce(comp.component, documents.doc_id) = documents.doc_id) AS keep
FROM documents LEFT JOIN comp ON documents.doc_id = comp.doc_id
"""


def _oracle_minhash_signatures() -> str:
    return f"""
WITH {_SHINGLES_CTE.strip()},
u AS (SELECT doc_id, unnest(sh) AS g FROM shingled),
crossed AS (SELECT doc_id, g, unnest([0, 1, 2, 3]) AS k FROM u)
SELECT doc_id::BIGINT AS doc_id, k::BIGINT AS k,
       min(md5('p' || k || ':' || g)) AS mh
FROM crossed GROUP BY 1, 2
"""


def _simhash_cte(bits: int = 16, where: str = "") -> str:
    votes = ",\n         ".join(
        f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    total = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END)" for b in range(bits)
    )
    return f"""
toks AS (
  SELECT doc_id, unnest(list_filter(string_split({NORM_SQL.format(c='text')}, ' '),
                                    x -> x <> '')) AS tok
  FROM documents {where}
),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, {bits // 4}))::BIGINT AS hv FROM toks
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM hashed GROUP BY doc_id
),
sh AS (SELECT doc_id, ({total})::BIGINT AS simhash FROM votes)
"""


def _oracle_simhash_pairs(bits: int = 16, max_hamming: int = 6, where: str = "") -> str:
    """FULL-PAIR ground truth — no bucket restriction. The Spark operator's
    banded equi-join must reproduce this exactly, so the gate checks the
    candidate-generation recall for real (not a tautology)."""
    return f"""
WITH {_simhash_cte(bits, where).strip()}
SELECT a.doc_id::BIGINT AS id_a, c.doc_id::BIGINT AS id_b,
       bit_count(xor(a.simhash, c.simhash))::BIGINT AS hamming
FROM sh a JOIN sh c ON a.doc_id < c.doc_id
WHERE bit_count(xor(a.simhash, c.simhash)) <= {max_hamming}
"""


def _oracle_simhash() -> str:
    votes = ",\n         ".join(
        f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(16)
    )
    bits = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split({NORM_SQL.format(c='text')}, ' '),
                                    x -> x <> '')) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::INTEGER AS hv FROM toks
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id::BIGINT AS doc_id, ({bits})::BIGINT AS simhash FROM votes
"""


_EN = r"\b(the|and|of|to|in|is|you|that|it|for)\b"
_DE = r"\b(der|die|und|das|nicht|ist|ich|ein|zu|den)\b"
_FR = r"\b(le|la|les|et|des|un|une|est|dans|que)\b"
_ES = r"\b(el|los|que|de|no|un|es|por|con|para)\b"
_TOKEN_RX_SQL = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_SQL}]"


def _oracle_text_analysis() -> str:
    ntok = (
        "len(list_filter(string_split_regex(text, '[" + WS_SQL + "]+'), x -> x <> ''))"
    )

    def rc(subject: str, rx: str) -> str:
        return f"len(regexp_extract_all({subject}, '{rx}'))"

    scores = {
        "en": rc("lower(text)", _EN),
        "de": rc("lower(text)", _DE),
        "fr": rc("lower(text)", _FR),
        "es": rc("lower(text)", _ES),
    }
    best = f"greatest({scores['en']}, {scores['de']}, {scores['fr']}, {scores['es']})"
    lang = (
        f"CASE WHEN {best} = 0 THEN 'und' "
        + " ".join(f"WHEN {scores[k]} = {best} THEN '{k}'" for k in ("en", "de", "fr", "es"))
        + " END"
    )
    n = "greatest(len(text), 1)"
    toks = f"greatest({ntok}, 1)"
    alpha = f"round({rc('text', '[A-Za-z]')} / {n}, 4)"
    digit = f"round({rc('text', '[0-9]')} / {n}, 4)"
    punct = f"round({rc('text', '[.,;:!?]')} / {n}, 4)"
    mean_tok = (
        f"round(len(regexp_replace(text, '[{WS_SQL}]+', '', 'g')) / {toks}, 4)"
    )
    stop = f"round({rc('lower(text)', _EN)} / {toks}, 4)"
    raw = (
        f"0.4 * {alpha} + 0.3 * least({stop} * 2, 1.0) "
        f"+ 0.3 * (CASE WHEN {mean_tok} >= 3 AND {mean_tok} <= 12 THEN 1.0 ELSE 0.3 END) "
        f"- 0.2 * {digit} - 0.1 * {punct}"
    )
    quality = f"round(greatest(least({raw}, 1.0), 0.0), 4)"
    fingerprint = f"md5({NORM_SQL.format(c='text')})"
    return f"""
SELECT doc_id::BIGINT AS doc_id,
       {ntok}::BIGINT AS n_tokens,
       len(regexp_extract_all(text, '{_TOKEN_RX_SQL}'))::BIGINT AS n_tokens_regex,
       {lang} AS lang_pred,
       {quality} AS quality,
       {fingerprint} AS fingerprint
FROM documents
"""


def _oracle_bottomk_sketch() -> str:
    return f"""
SELECT doc_id::BIGINT AS doc_id,
       coalesce(array_to_string(list_sort(list_transform(
         list_distinct({_char_ngrams_sql('t', 4)}), g -> md5(g)))[1:8], ''), '') AS sketch
FROM (SELECT doc_id, {NORM_SQL.format(c='text')} AS t FROM documents)
"""


def _text_emb_ctes(dim: int = 64, ngram: int = 3) -> str:
    """CTE block ending in ``temb(doc_id, v)`` — twin of
    featurize.text_embedding: hashed bag of char n-grams (md5 first-8-hex
    bucket, the hash_sample idiom), BIGINT bucket counts in one wide agg,
    exact-integer sum of squares (< 2^53 so the DOUBLE cast is exact), one
    IEEE division per component. Short docs get the zero vector via the
    left join, exactly like the Spark side."""
    c_cols = ", ".join(
        f"sum(CASE WHEN b = {k} THEN 1 ELSE 0 END)::BIGINT AS c{k}" for k in range(dim)
    )
    sumsq = " + ".join(f"c{k}*c{k}" for k in range(dim))
    comps = ", ".join(f"(c{k}::DOUBLE / l2)" for k in range(dim))
    zeros = ", ".join("0.0" for _ in range(dim))
    return f"""
tn AS (SELECT doc_id, {NORM_SQL.format(c='text')} AS t FROM documents),
tg AS (SELECT doc_id, unnest({_char_ngrams_sql('t', ngram)}) AS g FROM tn),
tbk AS (SELECT doc_id, (('0x' || substr(md5(g), 1, 8))::BIGINT % {dim}) AS b FROM tg),
twd AS (SELECT doc_id, {c_cols} FROM tbk GROUP BY doc_id),
tvc AS (SELECT doc_id, [{comps}] AS v
        FROM (SELECT *, sqrt(({sumsq})::DOUBLE) AS l2 FROM twd)),
temb AS (SELECT d.doc_id, coalesce(tvc.v, [{zeros}]) AS v
         FROM (SELECT doc_id FROM documents) d LEFT JOIN tvc USING (doc_id))"""


def _oracle_text_embedding() -> str:
    return f"""
WITH {_text_emb_ctes().strip()}
SELECT doc_id::BIGINT AS doc_id, i::BIGINT - 1 AS i, v[i::INT] AS v
FROM temb, range(1, 65) r(i)
"""


def _oracle_text_neardup() -> str:
    return f"""
WITH {_text_emb_ctes().strip()},
e AS (SELECT doc_id AS vec_id, v FROM temb)
SELECT a.vec_id::BIGINT AS id_a, b.vec_id::BIGINT AS id_b, ({_cos_sql('a.v', 'b.v')} + 0) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ({_cos_sql('a.v', 'b.v')} + 0) >= 0.98
"""


def _oracle_text_dedup() -> str:
    """Featurizer CTEs -> exact cosine pair set at 0.98 -> recursive-CTE
    transitive closure -> every doc left-joined in (the dedup_decisions
    oracle pattern over embedding-space edges)."""
    return f"""
WITH RECURSIVE {_text_emb_ctes().strip()},
e AS (SELECT doc_id AS vec_id, v FROM temb),
np AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE ({_cos_sql('a.v', 'b.v')} + 0) >= 0.98
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM np
  UNION
  SELECT id_b, id_a FROM np
),
reach (s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s
),
comp AS (
  SELECT s AS doc_id, least(s, min(d)) AS component FROM reach GROUP BY s
)
SELECT documents.doc_id::BIGINT AS doc_id,
       coalesce(comp.component, documents.doc_id)::BIGINT AS keeper,
       (coalesce(comp.component, documents.doc_id) = documents.doc_id) AS keep
FROM documents LEFT JOIN comp ON documents.doc_id = comp.doc_id
"""


def _oracle_pipeline_decisions() -> str:
    """Recursive-CTE transitive closure over ALL THREE duplicate-evidence
    families — exact-digest cliques (equivalent to the Spark side's star
    edges by construction), verified minhash-LSH pairs, and embedding
    cosine near-dup pairs RESTRICTED to the same banded-LSH candidates the
    Spark side generates (identical hyperplane literals over the
    bit-twinned featurizer vectors, centered on the ``vmu`` grid mean:
    ``embedding_lsh_near_pairs(center=True)`` at 12 bands x 16 planes) —
    then every document left-joined in."""
    return f"""
WITH RECURSIVE {_minhash_lsh_ctes().strip()},
{_text_emb_ctes().strip()},
dig AS (
  SELECT doc_id, md5({NORM_SQL.format(c='text')}) AS g FROM documents
),
e AS (SELECT doc_id AS vec_id, v FROM temb),
vmu AS (
  SELECT list(m ORDER BY i) AS mv FROM (
    SELECT i, {_grid_mean_sql('v[i]')} AS m
    FROM e, range(1, 65) t(i) GROUP BY i)
),
ce AS (
  SELECT vec_id,
         list_transform(generate_series(1, 64), i -> v[i] - mv[i]) AS cv
  FROM e, vmu
),
np_probe AS ({_band_probe_sql('ce', 'cv', 12, 16)}),
np_cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM np_probe a
  JOIN np_probe b ON a.band = b.band AND a.bucket = b.bucket
                 AND a.vec_id < b.vec_id
),
np AS (
  SELECT id_a, id_b
  FROM np_cand
  JOIN e ea ON ea.vec_id = id_a
  JOIN e eb ON eb.vec_id = id_b
  WHERE ({_cos_sql('ea.v', 'eb.v')} + 0) >= 0.98
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM mh_pairs
  UNION
  SELECT id_b, id_a FROM mh_pairs
  UNION
  SELECT a.doc_id, b.doc_id FROM dig a JOIN dig b ON a.g = b.g AND a.doc_id <> b.doc_id
  UNION
  SELECT id_a, id_b FROM np
  UNION
  SELECT id_b, id_a FROM np
),
reach (s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s
),
comp AS (
  SELECT s AS doc_id, least(s, min(d)) AS component FROM reach GROUP BY s
)
SELECT documents.doc_id::BIGINT AS doc_id,
       coalesce(comp.component, documents.doc_id)::BIGINT AS keeper,
       (coalesce(comp.component, documents.doc_id) = documents.doc_id) AS keep
FROM documents LEFT JOIN comp ON documents.doc_id = comp.doc_id
"""


def _oracle_text_kmeans() -> str:
    d_cols, cell, dist = _nearest_cell_sql(_gate_centroids())
    return f"""
WITH {_text_emb_ctes().strip()},
d AS (SELECT doc_id AS vec_id, {d_cols} FROM temb)
SELECT vec_id::BIGINT AS vec_id,
       ({cell})::INTEGER AS cell,
       (round({dist}, 4) + 0) AS dist2
FROM d
"""


def _oracle_embedding_neardup() -> str:
    return f"""
WITH {_emb_cte()}
SELECT a.vec_id::BIGINT AS id_a, b.vec_id::BIGINT AS id_b, ({_cos_sql('a.v', 'b.v')} + 0) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ({_cos_sql('a.v', 'b.v')} + 0) >= 0.30
"""


def _oracle_brute_topk() -> str:
    return f"""
WITH {_emb_cte()},
q AS (SELECT * FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
         ({_cos_sql('q.v', 'e.v')} + 0) AS cosine
  FROM q JOIN e ON q.vec_id <> e.vec_id
),
ranked AS (
  SELECT query_id, nbr_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rank
  FROM scored
)
SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank, nbr_id::BIGINT AS nbr_id, cosine
FROM ranked WHERE rank <= 10
"""


def _lsh_topk_ctes(n_planes: int = 3, n_bands: int = 12) -> str:
    """Banded multi-probe topk CTEs (assumes CTE ``e`` is in scope): twin of
    similarity.lsh_bucket_topk at the gate parameters."""
    return f"""
tprobe AS ({_band_probe_sql('e', 'v', n_bands, n_planes, carry='v')}),
tcand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nbr_id
  FROM tprobe q JOIN tprobe c ON q.band = c.band AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 5
),
tranked AS (
  SELECT query_id, nbr_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rank
  FROM (
    SELECT query_id, nbr_id,
           ({_cos_sql('ea.v', 'eb.v')} + 0) AS cosine
    FROM tcand JOIN e ea ON ea.vec_id = query_id JOIN e eb ON eb.vec_id = nbr_id
  )
)"""


def _ivf_probe_ctes(n_probe: int = 3, dim: int = 64) -> str:
    """Multi-probe IVF CTEs (assumes nothing): el (vec+label), cent
    (per-cell mean via a lateral range over the 64 dims), probes (top
    n_probe cells per query by centroid cosine), ivf3_ranked.

    cent is similarity.ivf_centroids: the ``_grid_mean_sql`` exact
    fixed-point mean per (label, dim) — order-independent, bit-equal across
    engines (avg(double) would sum in engine-specific order)."""
    return f"""
{_emb_cte('el', carry='label')},
cent AS (
  SELECT label, list(m ORDER BY i) AS cv
  FROM (
    SELECT label, i, {_grid_mean_sql('v[i]')} AS m
    FROM el, range(1, {dim + 1}) t(i)
    GROUP BY label, i
  ) GROUP BY label
),
probes AS (
  SELECT vec_id AS query_id, v AS qv, cell FROM (
    SELECT q.vec_id, q.v, c.label AS cell,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             {_cos_sql('q.v', 'c.cv')} DESC,
             c.label ASC) AS pr
    FROM el q, cent c WHERE q.vec_id < 5
  ) WHERE pr <= {n_probe}
),
ivf3_ranked AS (
  SELECT query_id, nbr_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rank
  FROM (
    SELECT p.query_id, e.vec_id AS nbr_id,
           ({_cos_sql('p.qv', 'e.v')} + 0) AS cosine
    FROM probes p JOIN el e ON e.label = p.cell AND e.vec_id <> p.query_id
  )
)"""


def _oracle_ivf_probe_topk() -> str:
    return f"""
WITH {_ivf_probe_ctes().strip()}
SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank, nbr_id::BIGINT AS nbr_id, cosine
FROM ivf3_ranked WHERE rank <= 10
"""


def _oracle_lsh_topk() -> str:
    return f"""
WITH {_emb_cte()},
{_lsh_topk_ctes().strip()}
SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank, nbr_id::BIGINT AS nbr_id, cosine
FROM tranked WHERE rank <= 10
"""


def _lsh_pairs_ctes(threshold: float = 0.30, n_bands: int = 16, planes_per_band: int = 2) -> str:
    """Shared CTE block: e (double vectors), probe (banded signatures),
    lsh_pairs (candidates + exact-cosine verify). Twin of
    similarity.embedding_lsh_near_pairs at the gate parameters."""
    return f"""
{_emb_cte()},
probe AS ({_band_probe_sql('e', 'v', n_bands, planes_per_band, carry='v')}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM probe a JOIN probe b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
lsh_pairs AS (
  SELECT id_a, id_b,
         ({_cos_sql('ea.v', 'eb.v')} + 0) AS cosine
  FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
  WHERE {_cos_sql('ea.v', 'eb.v')} >= {threshold}
)"""


def _oracle_embedding_lsh_neardup() -> str:
    return f"""
WITH {_lsh_pairs_ctes().strip()}
SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b, cosine FROM lsh_pairs
"""


def _oracle_ann_recall() -> str:
    return f"""
WITH {_lsh_pairs_ctes().strip()},
{_lsh_topk_ctes().strip()},
q AS (SELECT * FROM e WHERE vec_id < 5),
brute AS (
  SELECT query_id, nbr_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             {_cos_sql('q.v', 'e.v')} DESC,
             e.vec_id ASC) AS rank
    FROM q JOIN e ON q.vec_id <> e.vec_id
  ) WHERE rank <= 10
),
{_ivf_probe_ctes().strip().lstrip()},
ivf_probe AS (SELECT query_id, nbr_id FROM ivf3_ranked WHERE rank <= 10),
ivf AS (
  SELECT query_id, nbr_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             {_cos_sql('q.v', 'c.v')} DESC,
             c.vec_id ASC) AS rank
    FROM el q JOIN el c ON q.label = c.label AND q.vec_id <> c.vec_id
    WHERE q.vec_id < 5
  ) WHERE rank <= 10
),
lsh_topk AS (SELECT query_id, nbr_id FROM tranked WHERE rank <= 10),
exact_pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE {_cos_sql('a.v', 'b.v')} >= 0.30
)
SELECT 'ivf_topk' AS method,
       (SELECT count(*) FROM ivf JOIN brute USING (query_id, nbr_id))::BIGINT AS n_hits,
       (SELECT count(*) FROM brute)::BIGINT AS n_true,
       round((SELECT count(*) FROM ivf JOIN brute USING (query_id, nbr_id))::DOUBLE
             / (SELECT count(*) FROM brute), 4) AS recall
UNION ALL
SELECT 'ivf_probe_topk',
       (SELECT count(*) FROM ivf_probe JOIN brute USING (query_id, nbr_id))::BIGINT,
       (SELECT count(*) FROM brute)::BIGINT,
       round((SELECT count(*) FROM ivf_probe JOIN brute USING (query_id, nbr_id))::DOUBLE
             / (SELECT count(*) FROM brute), 4)
UNION ALL
SELECT 'lsh_topk',
       (SELECT count(*) FROM lsh_topk JOIN brute USING (query_id, nbr_id))::BIGINT,
       (SELECT count(*) FROM brute)::BIGINT,
       round((SELECT count(*) FROM lsh_topk JOIN brute USING (query_id, nbr_id))::DOUBLE
             / (SELECT count(*) FROM brute), 4)
UNION ALL
SELECT 'lsh_pairs',
       (SELECT count(*) FROM lsh_pairs p JOIN exact_pairs x USING (id_a, id_b))::BIGINT,
       (SELECT count(*) FROM exact_pairs)::BIGINT,
       round((SELECT count(*) FROM lsh_pairs p JOIN exact_pairs x USING (id_a, id_b))::DOUBLE
             / (SELECT count(*) FROM exact_pairs), 4)
"""


def _oracle_ivf_topk() -> str:
    return f"""
WITH {_emb_cte(carry='label')},
q AS (SELECT * FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
         ({_cos_sql('q.v', 'e.v')} + 0) AS cosine
  FROM q JOIN e ON q.label = e.label AND q.vec_id <> e.vec_id
),
ranked AS (
  SELECT query_id, nbr_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rank
  FROM scored
)
SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank, nbr_id::BIGINT AS nbr_id, cosine
FROM ranked WHERE rank <= 10
"""


# Twin of _docs_as_media + multimodal.sniff_magic/media_kind_col, working on
# the pre-encode STRING (mstr): the gate payloads are ASCII-prefixed valid
# UTF-8, so char positions == byte positions for every reachable branch, and
# DuckDB's VARCHAR-only md5/sha256 hash exactly the bytes Spark hashes.
# jpeg/png/mp4ish signatures are invalid UTF-8 and cannot occur in mstr.
_MEDIA_CTE = """
m AS (
  SELECT doc_id,
         (CASE doc_id % 6
            WHEN 0 THEN 'GIF87a'
            WHEN 1 THEN 'RIFFxxxxWAVE'
            WHEN 2 THEN 'ID3x'
            WHEN 3 THEN 'RIFFxxxxAVI '
            WHEN 4 THEN 'xxxxftypisom'
            ELSE '' END) || text AS mstr
  FROM documents
),
sniffed AS (
  SELECT doc_id, mstr,
         CASE WHEN mstr IS NULL THEN NULL
              WHEN starts_with(mstr, 'GIF8') THEN 'gif'
              WHEN starts_with(mstr, 'RIFF') THEN 'riff'
              WHEN starts_with(mstr, 'ID3')  THEN 'mp3'
              WHEN substr(mstr, 5, 4) = 'ftyp' THEN 'mp4'
              ELSE 'unknown' END AS magic
  FROM m
)
"""


def _oracle_media_meta() -> str:
    return f"""
WITH {_MEDIA_CTE.strip()}
SELECT doc_id::BIGINT AS media_id,
       CASE WHEN magic IN ('jpeg', 'png', 'gif') THEN 'image'
            WHEN magic = 'mp3' THEN 'audio'
            WHEN magic = 'mp4' THEN 'video'
            WHEN magic = 'riff' THEN
              CASE substr(mstr, 9, 4) WHEN 'WAVE' THEN 'audio'
                                      WHEN 'AVI ' THEN 'video'
                                      ELSE 'unknown' END
            ELSE 'unknown' END AS kind,
       octet_length(encode(mstr))::BIGINT AS n_bytes,
       magic,
       sha256(mstr) AS sha
FROM sniffed
"""


def _oracle_media_features() -> str:
    # f0 = int32(md5(payload[:4096])[0:4]) / 2^31 - 1; every gate doc is
    # < 4096 bytes (max 577 across sf dirs) so the byte-truncation is a
    # no-op and md5(mstr) hashes exactly the bytes the UDF hashes
    return f"""
WITH {_MEDIA_CTE.strip()}
SELECT doc_id::BIGINT AS media_id,
       octet_length(encode(mstr))::BIGINT AS n_bytes,
       magic,
       (round(('0x' || substr(md5(mstr), 1, 8))::BIGINT / 2147483648.0 - 1.0, 4) + 0) AS f0,
       greatest(1, octet_length(encode(mstr)) // 65536)::BIGINT AS n_frames
FROM sniffed
"""


def _oracle_url_dedup() -> str:
    """Twin of q_url_dedup: identical synthesis + canonicalization rules in
    DuckDB regexp syntax (RE2; backrefs are \\1, global flag explicit —
    Spark's regexp_replace is always-global, DuckDB's is first-match)."""
    tr = "utm_[^=&]*|fbclid|gclid|ref"
    pre = "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"
    nofrag = "regexp_replace(url, '#.*$', '')"
    prefix = (
        f"regexp_replace(regexp_replace(regexp_replace("
        f"lower(regexp_extract({nofrag}, '{pre}', 1)), "
        f"'^([a-z][a-z0-9+.-]*://)[^/?#@]*@', '\\1'), "
        f"'^(http://[^:/?#]*):80$', '\\1'), "
        f"'^(https://[^:/?#]*):443$', '\\1')"
    )
    rest = (
        f"regexp_replace(regexp_replace(regexp_replace("
        f"substr({nofrag}, length(regexp_extract({nofrag}, '{pre}', 1)) + 1), "
        f"'&({tr})=[^&]*', '', 'g'), "
        f"'\\?({tr})=[^&]*&', '?'), "
        f"'\\?({tr})=[^&]*$', '')"
    )
    # percent-escape hex uppercasing: the same 12-pass chain as urlops.py
    # rule 6 (position 1 per hex letter, then position 2)
    for c in "abcdef":
        rest = f"regexp_replace({rest}, '%{c}([0-9a-fA-F])', '%{c.upper()}\\1', 'g')"
    for c in "abcdef":
        rest = f"regexp_replace({rest}, '%([0-9A-F]){c}', '%\\1{c.upper()}', 'g')"
    return f"""
WITH syn AS (
  SELECT doc_id::BIGINT AS doc_id,
    concat(
      CASE doc_id % 7 WHEN 1 THEN 'HTTP' WHEN 2 THEN 'https' WHEN 3 THEN 'https' ELSE 'http' END,
      '://',
      CASE doc_id % 7 WHEN 5 THEN 'User:Pass@' ELSE '' END,
      'WWW.Site', ((doc_id // 7) % 7)::VARCHAR, '.Example.COM',
      CASE doc_id % 7 WHEN 0 THEN ':80' WHEN 5 THEN ':80' WHEN 2 THEN ':443' WHEN 4 THEN ':8080' ELSE '' END,
      CASE doc_id % 7 WHEN 6 THEN concat('/Articles/x%3a', (doc_id // 7)::VARCHAR)
                      ELSE concat('/Articles/', (doc_id // 7)::VARCHAR) END,
      CASE doc_id % 7
        WHEN 0 THEN concat('?id=', (doc_id // 7)::VARCHAR, '&utm_source=feed&ref=tw')
        WHEN 1 THEN concat('?utm_campaign=x&id=', (doc_id // 7)::VARCHAR)
        WHEN 2 THEN '?utm_medium=email'
        WHEN 4 THEN '?a=1&fbclid=XYZ'
        WHEN 5 THEN concat('?id=', (doc_id // 7)::VARCHAR)
        WHEN 6 THEN '?tag=caf%c3%a9' ELSE '' END,
      CASE WHEN (doc_id % 7) % 2 = 0 THEN concat('#section-', ((doc_id // 7) % 9)::VARCHAR) ELSE '' END
    ) AS url
  FROM documents
), canon AS (
  SELECT doc_id, url, concat({prefix}, {rest}) AS canon_url FROM syn
), keepers AS (
  SELECT canon_url, min(doc_id) AS keeper FROM canon GROUP BY 1
)
SELECT c.doc_id AS doc_id, c.url AS url, c.canon_url AS canon_url,
       k.keeper AS keeper, c.doc_id = k.keeper AS keep
FROM canon c JOIN keepers k USING (canon_url)
"""


def oracle_sql() -> dict[str, str]:
    return {
        "cms_hot_tokens": _oracle_cms_hot_tokens(),
        # an INDEPENDENT re-implementation of the sequential robots.txt
        # parse: zipped unnest for (ln, raw), lag/sum windows for group
        # assembly, integer arg_max for longest-prefix + allow-tiebreak
        "robots_allowed": r"""
WITH docs AS (SELECT doc_id, (doc_id % 10)::INT AS m, (doc_id % 7)::INT AS p FROM documents),
hosts AS (
  SELECT DISTINCT m, 'h' || m::VARCHAR || '.example' AS host,
         CASE
           WHEN m <= 3 THEN '# synthetic robots' || chr(10) || 'User-agent: *' || chr(10) ||
                'Disallow: /private' || chr(10) || 'Allow: /private/ok' || m::VARCHAR || chr(10)
           WHEN m BETWEEN 4 AND 6 THEN 'User-agent: tempehbot' || chr(10) || 'User-agent: buddybot' || chr(10) ||
                'Disallow: /' || chr(10) || 'Allow: /data' || chr(10) || chr(10) ||
                'User-agent: *' || chr(10) || 'Disallow: /tmp' || chr(10)
           WHEN m = 7 THEN 'User-agent: other' || chr(10) || 'Disallow: /' || chr(10)
           WHEN m = 8 THEN '# comments only' || chr(10)
           ELSE 'User-agent: *' || chr(10) || 'Disallow:' || chr(10)
         END AS txt
  FROM docs
),
lines AS (
  SELECT host, unnest(generate_series(1, len(parts))) AS ln, unnest(parts) AS raw
  FROM (SELECT host, string_split(txt, chr(10)) AS parts FROM hosts)
),
parsed AS (
  SELECT host, ln,
         lower(regexp_extract(clean, '^([A-Za-z-]+)[ \t]*:', 1)) AS d,
         regexp_replace(regexp_extract(clean, '^[A-Za-z-]+[ \t]*:(.*)$', 1),
                        '^[ \t]+|[ \t]+$', '', 'g') AS v
  FROM (SELECT host, ln,
               regexp_replace(regexp_replace(raw, '#.*$', ''), '^[ \t\r]+|[ \t\r]+$', '', 'g') AS clean
        FROM lines)
  WHERE lower(regexp_extract(clean, '^([A-Za-z-]+)[ \t]*:', 1)) IN ('user-agent','allow','disallow')
),
marked AS (
  SELECT host, ln, d, v,
         CASE WHEN d = 'user-agent'
               AND coalesce(lag(CASE WHEN d = 'user-agent' THEN 1 ELSE 0 END)
                            OVER (PARTITION BY host ORDER BY ln), 0) = 0
              THEN 1 ELSE 0 END AS st
  FROM parsed
),
grouped AS (
  SELECT host, ln, d, v,
         sum(st) OVER (PARTITION BY host ORDER BY ln ROWS UNBOUNDED PRECEDING) AS gid
  FROM marked
),
agents AS (SELECT DISTINCT host, gid, lower(v) AS agent FROM grouped WHERE d = 'user-agent'),
rules AS (
  SELECT g.host, a.agent, (g.d = 'allow') AS allow, g.v AS pattern, len(g.v) AS plen
  FROM grouped g JOIN agents a USING (host, gid)
  WHERE g.d IN ('allow','disallow') AND g.v <> ''
),
mine AS (SELECT * FROM rules WHERE agent IN ('tempehbot','*')),
hx AS (SELECT host, max(CASE WHEN agent = 'tempehbot' THEN 1 ELSE 0 END) AS hx FROM mine GROUP BY 1),
chosen AS (
  SELECT m.host, m.allow, m.pattern, m.plen
  FROM mine m JOIN hx USING (host)
  WHERE (hx = 1 AND agent = 'tempehbot') OR (hx = 0 AND agent = '*')
),
urls AS (
  SELECT doc_id, 'h' || m::VARCHAR || '.example' AS host,
         CASE p WHEN 0 THEN '/private/ok0/x' WHEN 1 THEN '/private/zz'
                WHEN 2 THEN '/data/set' WHEN 3 THEN '/tmp/file'
                WHEN 4 THEN '/' WHEN 5 THEN '/pub/page' ELSE '/private' END AS path
  FROM docs
),
hits AS (
  SELECT doc_id, arg_max(allow, plen * 2 + allow::INT) AS verdict
  FROM urls u JOIN chosen c USING (host)
  WHERE starts_with(u.path, c.pattern)
  GROUP BY 1
)
SELECT u.doc_id::BIGINT AS doc_id, u.host, u.path,
       coalesce(verdict, true) AS allowed
FROM urls u LEFT JOIN hits USING (doc_id)
""",
        # the oracle states label-boundary suffix semantics in its LIKE
        # form (host = e OR host LIKE '%.'||e); the Spark side computes
        # the same thing via suffix-explode + equi-join — value equality
        # between the two FORMS is the gate
        "host_blocklist": """
WITH h AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN 'sub' || (doc_id // 5)::VARCHAR || '.spam.example'
           WHEN 1 THEN 'spam.example'
           WHEN 2 THEN 'notspam.example'
           WHEN 3 THEN 'ok' || (doc_id // 5)::VARCHAR || '.example.org'
           ELSE 'deep.sub' || (doc_id // 5)::VARCHAR || '.ads.net'
         END AS host
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id, host,
       (host = 'spam.example' OR host LIKE '%.spam.example'
        OR host = 'ads.net' OR host LIKE '%.ads.net') AS blocked
FROM h
""",
        # same distinct word-8-gram substrate as the decontaminate twin;
        # integer-only counts so the compare is bit-exact
        "duplicate_spans": rf"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> x <> '') AS ws
  FROM documents
),
sh AS (SELECT doc_id, list_distinct({_word_ngrams_sql('ws', 8)}) AS gs FROM w),
cs AS (SELECT doc_id, unnest(gs) AS g FROM sh),
dup AS (SELECT g FROM (SELECT g, count(*) AS df FROM cs GROUP BY 1) WHERE df >= 2),
per_doc AS (SELECT doc_id, count(*) AS n_spans FROM cs GROUP BY 1),
per_dup AS (SELECT doc_id, count(*) AS n_dup FROM cs JOIN dup USING (g) GROUP BY 1)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(n_spans, 0)::BIGINT AS n_spans,
       coalesce(n_dup, 0)::BIGINT AS n_dup_spans,
       (coalesce(n_dup, 0) > 0) AS flagged
FROM documents d LEFT JOIN per_doc USING (doc_id) LEFT JOIN per_dup USING (doc_id)
""",
        # exact integer md5-bucket draw; per-source thresholds are the
        # same floor(rate * 2^32) literals the Spark plan folds in
        "mixture_sample": f"""
SELECT doc_id::BIGINT AS doc_id, source,
       ('0x' || substr(md5('mix0:' || doc_id::VARCHAR), 1, 8))::BIGINT AS bucket,
       ('0x' || substr(md5('mix0:' || doc_id::VARCHAR), 1, 8))::BIGINT <
       (CASE source WHEN 'src0' THEN {2**32} WHEN 'src1' THEN {2**31}
                    WHEN 'src2' THEN {2**30} WHEN 'src3' THEN 0
                    ELSE {int(0.1 * 2**32)} END) AS keep
FROM documents
""",
        # per-source window cumsum; start div budget (values >= 0, so
        # DuckDB // floor == Spark div truncation)
        "sequence_packing": """
SELECT source, doc_id::BIGINT AS doc_id,
       (sum(n_chars) OVER w - n_chars)::BIGINT AS start_offset,
       ((sum(n_chars) OVER w - n_chars) // 2048)::BIGINT AS bin,
       n_chars::BIGINT AS cost
FROM documents
WINDOW w AS (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
""",
        # same BIGINT bucket arithmetic incl. the pre-multiply value clamp
        # (overflow guard); width 600/12 = 50.0 exact
        "length_histogram": """
SELECT source, bucket, (0 + bucket * 50.0)::DOUBLE AS bucket_lo,
       count(*)::BIGINT AS n_docs
FROM (SELECT source,
             greatest(0, least(11,
               ((least(greatest(n_chars, 0), 600) - 0) * 12) // 600))::BIGINT AS bucket
      FROM documents WHERE n_chars IS NOT NULL)
GROUP BY 1, 2
""",
        "hll_distinct": _oracle_hll_distinct(),
        "bm25_topk": _oracle_bm25_topk(),
        "parse_text": _oracle_parse_text(),
        "parse_nodes": _oracle_parse_nodes(),
        "parse_casing_upper": _oracle_parse_casing_upper(),
        "parse_main_text": _oracle_parse_main_text(),
        "corpus_rollup": _oracle_corpus_rollup(),
        "roundtrip": "SELECT doc_id::BIGINT AS doc_id, true AS roundtrip_ok FROM documents",
        "pdf_extract": """
SELECT doc_id::BIGINT AS doc_id, md5(text) AS text_md5,
       1::BIGINT AS n_streams, true AS ok
FROM documents
""",
        "exact_dedup": f"""
SELECT md5({NORM_SQL.format(c='text')}) AS digest,
       count(*)::BIGINT AS n_docs, min(doc_id)::BIGINT AS keeper
FROM documents GROUP BY 1
""",
        "ngram_jaccard": _oracle_ngram_jaccard(),
        "minhash_lsh": _oracle_minhash_lsh(),
        "dup_components": _oracle_dup_components(),
        "dedup_decisions": _oracle_dedup_decisions(),
        "minhash_signatures": _oracle_minhash_signatures(),
        "simhash": _oracle_simhash(),
        "simhash_pairs": _oracle_simhash_pairs(where="WHERE doc_id % 5 = 0"),
        "simhash60_pairs": _oracle_simhash_pairs(bits=60, max_hamming=6),
        "lsh_topk": _oracle_lsh_topk(),
        "ivf_probe_topk": _oracle_ivf_probe_topk(),
        "embedding_lsh_neardup": _oracle_embedding_lsh_neardup(),
        "ann_recall": _oracle_ann_recall(),
        "ann_recall_floor": _oracle_ann_recall_floor(),
        "kmeans_assign": _oracle_kmeans_assign(),
        "kmeans_update": _oracle_kmeans_update(),
        "line_dedup": _oracle_line_dedup(),
        "gopher_quality": _oracle_gopher_quality(),
        "host_cap": _oracle_host_cap(),
        "decontaminate": _oracle_decontaminate(),
        "pii_scrub": _oracle_pii_scrub(),
        "repetition_signals": _oracle_repetition_signals(),
        "hash_sample": _oracle_hash_sample(),
        "training_pipeline": _oracle_training_pipeline(),
        "url_dedup": _oracle_url_dedup(),
        "host_graph": _oracle_host_graph(),
        "host_anchors": _oracle_host_anchors(),
        "anchor_pairs": _oracle_anchor_pairs(),
        "pagerank": _oracle_pagerank(),
        "extract_links": """
WITH d AS (
  SELECT doc_id::BIGINT AS doc_id, (doc_id % 100)::VARCHAR AS g, doc_id % 3 AS w
  FROM documents
)
SELECT doc_id, 0::BIGINT AS link_idx,
  CASE w WHEN 0 THEN '/p/' || g WHEN 1 THEN '/q/' || g
         ELSE 'http://ex.com/' || g || '?a=1' END AS href,
  CASE w WHEN 0 THEN 'go now' WHEN 1 THEN 'first' ELSE 'Ex ' || g END AS anchor
FROM d
UNION ALL
SELECT doc_id, 1::BIGINT AS link_idx, '#frag' AS href, 'second' AS anchor
FROM d WHERE w = 1
""",
        "warc_roundtrip": """
SELECT doc_id::BIGINT AS doc_id,
       md5('<!DOCTYPE html><html><head><title>doc</title><script>var x = ''</div>'';</script></head><body><article><p>'
           || text ||
           '</p></article><footer><a href=x>nav nav nav</a></footer></body></html>') AS html_md5,
       true AS ok
FROM documents
""",
        "corpus_stats": _oracle_corpus_stats(),
        "text_analysis": _oracle_text_analysis(),
        "bottomk_sketch": _oracle_bottomk_sketch(),
        "embedding_neardup": _oracle_embedding_neardup(),
        "brute_topk": _oracle_brute_topk(),
        "ivf_topk": _oracle_ivf_topk(),
        # avg via _STABLE_AVG_SQL — the SAME floor-gridding form _stable_avg
        # uses (an inline round()::DECIMAL copy here diverged for negative
        # .00005-boundary values; single source of truth now)
        "hourly_events": f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       count(*)::BIGINT AS n,
       {_STABLE_AVG_SQL.format(c='value')} AS avg_value
FROM events GROUP BY 1, 2
""",
        # streaming gate: availableNow drains the backlog, so the finished
        # stream equals the batch rollup
        # append-mode streaming dedup emits each key once -> distinct set
        "streaming_dedup": (
            "SELECT DISTINCT user_id::BIGINT AS user_id, event_type FROM events"
        ),
        "streaming_hourly": f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       count(*)::BIGINT AS n,
       {_STABLE_AVG_SQL.format(c='value')} AS avg_value
FROM events GROUP BY 1, 2
""",
        # file-sink streaming gate: exactly-once parquet sink + checkpoint,
        # every document must roundtrip byte-identically through the stream
        "streaming_sink": (
            "SELECT doc_id::BIGINT AS doc_id, true AS roundtrip_ok FROM documents"
        ),
        "sessionize": """
WITH g AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT user_id::BIGINT AS user_id,
       sum(CASE WHEN prev IS NULL OR date_diff('second', prev, ts) > 1800 THEN 1 ELSE 0 END)::BIGINT AS n_sessions,
       count(*)::BIGINT AS n_events
FROM g GROUP BY 1
""",
        "latest_event": """
WITH r AS (
  SELECT user_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id::BIGINT AS user_id, event_id::BIGINT AS event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM r WHERE rn = 1
""",
        "q1_pricing": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
""",
        "nation_revenue": """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
""",
        "media_meta": _oracle_media_meta(),
        "media_features": _oracle_media_features(),
        "media_dims": _oracle_media_dims(),
        "text_embedding": _oracle_text_embedding(),
        "text_neardup": _oracle_text_neardup(),
        "text_kmeans": _oracle_text_kmeans(),
        "text_dedup": _oracle_text_dedup(),
        "pipeline_decisions": _oracle_pipeline_decisions(),
        "text_ann": _oracle_text_ann(),
    }
