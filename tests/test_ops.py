"""Operator sanity tests with constructed inputs (known answers)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumped over the lazy dog"),  # near dup
        (4, "completely different content about databases and queries"),
        (5, "der hund und die katze sind nicht zu haus ein tag"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    from tempeh_spark.dedup import exact_dedup_clusters

    clusters = {r["keeper"]: r["n_docs"] for r in exact_dedup_clusters(docs).collect()}
    assert clusters[1] == 2  # docs 1+2 collapse
    assert clusters[3] == 1


def test_ngram_jaccard_finds_near_dup(spark, docs):
    from tempeh_spark.dedup import ngram_jaccard_pairs

    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_lsh_recall(spark, docs):
    from tempeh_spark.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, verify_threshold=0.5).collect()}
    # verified-LSH returns a subset of exact pairs; the identical pair must be found
    assert lsh <= exact
    assert (1, 2) in lsh


def test_simhash_consistency(spark, docs):
    from tempeh_spark.dedup import simhash_near_pairs, simhash_table

    sh = {r["id"]: r["simhash"] for r in simhash_table(docs, bits=16).collect()}
    assert sh[1] == sh[2]  # identical text -> identical simhash
    assert 0 <= sh[1] < 2**16
    assert 6 not in sh  # zero-token docs are dropped (matches the SQL twin)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_pairs(docs).collect()}
    assert pairs[(1, 2)] == 0


def test_lang_and_quality(spark, docs):
    from tempeh_spark.textops import fingerprint, lang_id, quality_score, token_count

    rows = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            lang_id("text").alias("lang_id"),
            quality_score("text").alias("quality"),
            token_count("text").alias("n_tokens"),
            fingerprint("text").alias("fingerprint"),
        ).collect()
    }
    assert rows[1]["lang_id"] == "en"
    assert rows[5]["lang_id"] == "de"
    assert rows[6]["lang_id"] == "und"
    assert rows[1]["quality"] > rows[6]["quality"]
    assert rows[1]["n_tokens"] == 9
    assert rows[1]["fingerprint"] == rows[2]["fingerprint"]


def test_similarity_topk(spark):
    from tempeh_spark.similarity import brute_topk, ivf_topk, lsh_bucket_topk

    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),  # closest to 0
        (2, [0.0, 1.0, 0.0], 1),
        (3, [0.5, 0.5, 0.0], 0),
        (4, [-1.0, 0.0, 0.0], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    q = emb.where(F.col("vec_id") == 0)
    top = brute_topk(emb, q, k=2).collect()
    assert [r["nbr_id"] for r in top] == [1, 3]
    ivf = ivf_topk(emb, q, k=2).collect()
    assert [r["nbr_id"] for r in ivf] == [1, 3]  # same-cell neighbors only
    lsh = lsh_bucket_topk(emb, q, dim=3, k=2, n_planes=2).collect()
    assert all(r["query_id"] == 0 for r in lsh)

    from tempeh_spark.similarity import ivf_multiprobe_topk

    # probing both cells recovers the full brute result, incl. cross-cell
    mp = ivf_multiprobe_topk(emb, q, k=4, n_probe=2).collect()
    assert [r["nbr_id"] for r in mp] == [r["nbr_id"] for r in brute_topk(emb, q, k=4).collect()]


def test_multimodal_plumbing(spark):
    from tempeh_spark.multimodal import extract_media_features, media_metadata

    rows = [
        (1, b"\xff\xd8\xffjpegdata"),
        (2, b"\x89PNGdata"),
        (3, b"plain bytes"),
        (4, None),
        (5, b"RIFFxxxxWAVEdata"),
        (6, b"RIFFxxxxAVI data"),
        (7, b"ID3audio"),
        (8, b"GIF87adata"),
        (9, b"RIFFxxxxJUNK"),
        (12, b"\x00\x00\x00\x18ftypisom"),  # ISO-BMFF: ftyp at offset 5
        (13, b"\x00\x00\x00leading NULs are NOT an mp4"),
    ]
    media = spark.createDataFrame(rows, "media_id long, media binary")
    meta = {r["media_id"]: r for r in media_metadata(media).collect()}
    assert meta[1]["magic"] == "jpeg"
    assert meta[2]["magic"] == "png"
    assert meta[3]["magic"] == "unknown"
    assert meta[1]["n_bytes"] == 11
    # kind is DERIVED from the sniffed magic, incl. the RIFF fourcc
    assert meta[1]["kind"] == "image"
    assert meta[2]["kind"] == "image"
    assert meta[3]["kind"] == "unknown"
    assert meta[5]["kind"] == "audio" and meta[5]["magic"] == "riff"
    assert meta[6]["kind"] == "video" and meta[6]["magic"] == "riff"
    assert meta[7]["kind"] == "audio" and meta[7]["magic"] == "mp3"
    assert meta[8]["kind"] == "image" and meta[8]["magic"] == "gif"
    assert meta[9]["kind"] == "unknown" and meta[9]["magic"] == "riff"
    assert meta[12]["kind"] == "video" and meta[12]["magic"] == "mp4"
    assert meta[13]["kind"] == "unknown" and meta[13]["magic"] == "unknown"

    feats = {r["media_id"]: r for r in extract_media_features(media, dim=4).collect()}
    assert len(feats[1]["feature"]) == 4
    assert feats[1]["feature"] == feats[1]["feature"]  # deterministic not-NaN
    assert feats[4]["error"] == "null media"

    strict = {r["media_id"]: r for r in extract_media_features(media, strict=True).collect()}
    assert strict[1]["error"] is not None and "decod" in strict[1]["error"]


def test_bottomk_sketch_similarity(spark, docs):
    from tempeh_spark.textops import bottomk_shingle_sketch

    out = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", bottomk_shingle_sketch("text").alias("s")).collect()
    }
    assert out[1] == out[2]
    assert out[1] != out[4]


def _grams(df) -> dict:
    out = {}
    for r in df.collect():
        out.setdefault(tuple(r[:-1]), []).append(r["g"])
    return {k: sorted(v) for k, v in out.items()}


def test_char_ngrams_rows(spark):
    from tempeh_spark.textops import char_ngrams

    df = spark.createDataFrame(
        [(1, "a", "ab"), (2, "a", "aBc"), (3, "a", ""), (4, "a", None),
         (5, "a", "  Ab \t AB\n ab "), (5, "b", "abcd")],
        "k1 long, k2 string, text string",
    )
    grams = char_ngrams(df, ["k1", "k2"], "text", 3)
    assert grams.columns == ["k1", "k2", "g"]
    # shorter than n, empty and NULL give no rows; length n gives one;
    # repeats are kept ("ab ab ab" has two of each gram)
    assert _grams(grams) == {
        (2, "a"): ["abc"],
        (5, "a"): [" ab", " ab", "ab ", "ab ", "b a", "b a"],
        (5, "b"): ["abc", "bcd"],
    }
    # the cap cuts the NORMALIZED text: "ab a", not the raw "  Ab"
    capped = char_ngrams(df, [F.col("k1").alias("id")], "text", 3, max_chars=4)
    assert capped.columns == ["id", "g"]
    assert _grams(capped) == {(2,): ["abc"], (5,): ["ab ", "abc", "b a", "bcd"]}


def test_word_ngrams_rows(spark):
    from tempeh_spark.corpusops import _words
    from tempeh_spark.textops import word_ngrams

    df = spark.createDataFrame(
        [(1, " a  b\t\tc \n d "), (2, "a b"), (3, "x y z"), (4, None), (5, "a b a b")],
        "id long, text string",
    )
    grams = word_ngrams(df, ["id"], _words("text"), 3)
    # whitespace runs split once; fewer words than n give no rows
    assert _grams(grams) == {
        (1,): ["a b c", "b c d"],
        (3,): ["x y z"],
        (5,): ["a b a", "b a b"],
    }
    assert _grams(word_ngrams(df.where("id = 5"), ["id"], _words("text"), 2)) == {
        (5,): ["a b", "a b", "b a"]
    }


def test_duplicate_components(spark, monkeypatch):
    """Both physical strategies (driver union-find fast path AND the
    distributed min-label loop) must reach the same transitive-closure
    fixpoint — including a 6-node path (diameter > 1 hop) and a separate
    2-clique."""
    from tempeh_spark import dedup
    from tempeh_spark.dedup import duplicate_components

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 10)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    for limit in (5_000_000, 0):  # fast path, then forced distributed loop
        monkeypatch.setattr(dedup, "DRIVER_EDGE_LIMIT", limit)
        out = duplicate_components(df)
        comp = {r["doc_id"]: r["component"] for r in out.collect()}
        assert all(comp[v] == 1 for v in (1, 2, 3, 4, 5, 6)), limit
        assert comp[10] == 10 and comp[11] == 10, limit
        assert out.schema.simpleString() == "struct<doc_id:bigint,component:bigint>"
    # the fast path's labels are an Arrow-backed local relation, not a scan
    # of pickled rows that a second Python worker pool must read
    monkeypatch.setattr(dedup, "DRIVER_EDGE_LIMIT", 5_000_000)
    plan = duplicate_components(df)._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan


def test_vecmath_bit_equal_to_interpreted_fold(spark):
    """The vectorized NumPy kernels must be BIT-identical to the interpreted
    zip_with/aggregate fold they replaced (the DuckDB oracles and frozen
    gate hashes depend on it): f32*f32 products stay f32, mixed promotes,
    accumulation is sequential-left-to-right in f64."""
    from tempeh_spark.similarity import _dot, lsh_signature
    from tempeh_spark.vecmath import band_buckets_udf, cosine, masked_cosine_udf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pairs = (
        emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
        .join(
            emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb")),
            F.col("ia") < F.col("ib"),
        )
    )
    hof = _dot(F.col("va"), F.col("vb")) / (
        F.sqrt(_dot(F.col("va"), F.col("va"))) * F.sqrt(_dot(F.col("vb"), F.col("vb")))
    )
    diff = pairs.select(
        (cosine(F.col("va"), F.col("vb")) == hof).alias("eq")
    ).where(~F.col("eq"))
    assert diff.count() == 0

    # banded buckets == per-band interpreted lsh_signature, all bands
    n_bands, ppb = 4, 3
    bk = band_buckets_udf(64, n_bands, ppb)(F.col("embedding"))
    checks = [
        (F.element_at(bk, b + 1) == lsh_signature(F.col("embedding"), 64, ppb, b * ppb))
        for b in range(n_bands)
    ]
    bad = emb.select(
        F.array(*checks).alias("ok")
    ).where(~F.forall(F.col("ok"), lambda x: x))
    assert bad.count() == 0

    # masked cosine: non-NaN exactly where a band bucket matches, value == cosine
    mc = masked_cosine_udf(64, n_bands, ppb)
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"), bk.alias("ba"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"), bk.alias("bb"))
    j = a.join(b, F.col("ia") < F.col("ib")).select(
        mc(F.col("ia"), F.col("va"), F.col("ib"), F.col("vb")).alias("m"),
        cosine(F.col("va"), F.col("vb")).alias("c"),
        F.exists(
            F.zip_with(F.col("ba"), F.col("bb"), lambda x, y: x == y), lambda z: z
        ).alias("hit"),
    )
    # the NaN miss-marker crosses the Arrow hop as SQL NULL
    miss = F.col("m").isNull() | F.isnan("m")
    bad = j.where(
        (F.col("hit") & (miss | (F.col("m") != F.col("c")))) | (~F.col("hit") & ~miss)
    )
    assert bad.count() == 0


def test_media_dims_decoding(spark):
    """Real stdlib container decoding: WAV chunk walk, PNG IHDR, GIF screen
    descriptor — correct fields, declared-size semantics (trailing junk
    ignored), per-row errors on malformed/codec-requiring payloads."""
    from tempeh_spark.multimodal import (
        decode_media_headers,
        make_gif,
        make_png,
        make_wav,
        media_dims,
    )

    wav = make_wav(44100, 2, 16, 88200)
    d = decode_media_headers(wav + b"trailing junk after the container")
    assert (d["fmt"], d["channels"], d["sample_rate_hz"], d["duration_ms"]) == (
        "wav", 2, 44100, 500,
    )
    d = decode_media_headers(make_png(1920, 1080) + b"junk")
    assert (d["fmt"], d["width"], d["height"]) == ("png", 1920, 1080)
    d = decode_media_headers(make_gif(13, 7, version=b"GIF87a"))
    assert (d["fmt"], d["width"], d["height"]) == ("gif", 13, 7)

    # mp3: ID3v2 skip, frame walk honoring per-frame declared lengths,
    # duration from summed sample counts; trailing junk ignored
    from tempeh_spark.multimodal import make_mp3, make_mp4

    d = decode_media_headers(make_mp3(38, 128, 44100, id3_pad=17) + b"junk")
    assert (d["fmt"], d["channels"], d["sample_rate_hz"], d["duration_ms"]) == (
        "mp3", 2, 44100, 38 * 1152 * 1000 // 44100,
    )
    # bare stream (no ID3), mono, MPEG1 tables at a different rate
    d = decode_media_headers(make_mp3(10, 32, 32000, mono=True) + b"\x00x")
    assert (d["channels"], d["sample_rate_hz"], d["duration_ms"]) == (1, 32000, 360)

    # mp4: mvhd v0 and v1, declared box sizes, trailing junk ignored
    d = decode_media_headers(make_mp4(600, 7200) + b"padpadpad")
    assert (d["fmt"], d["duration_ms"]) == ("mp4", 12000)
    d = decode_media_headers(make_mp4(90000, 123456789, version=1))
    assert d["duration_ms"] == 123456789 * 1000 // 90000
    # video track dims from trak/tkhd (16.16 fixed); audio-only stays None
    d = decode_media_headers(make_mp4(1000, 95500, track_dims=(1280, 720)))
    assert (d["width"], d["height"], d["duration_ms"]) == (1280, 720, 95500)
    assert decode_media_headers(make_mp4(600, 7200))["width"] is None

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_media_headers(b"\xff\xd8\xff\xe0jpegdata")
    with _pytest.raises(ValueError):
        decode_media_headers(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt/data chunks
    with _pytest.raises(ValueError):
        decode_media_headers(b"GIF87a")  # truncated screen descriptor
    with _pytest.raises(ValueError):
        decode_media_headers(b"\x89PNG\r\n\x1a\x00 not a real png")
    with _pytest.raises(ValueError):
        decode_media_headers(b"plain text")
    with _pytest.raises(ValueError):
        decode_media_headers(b"ID3\x04\x00\x00")  # truncated ID3v2 tag
    with _pytest.raises(ValueError):
        decode_media_headers(b"ID3\x04\x00\x00\x00\x00\x00\x00no sync here")
    with _pytest.raises(ValueError):
        # mp4 with a moov but no mvhd child
        import struct
        ftyp = struct.pack(">I", 16) + b"ftypisom\x00\x00\x02\x00"
        moov = struct.pack(">I", 16) + b"moov" + struct.pack(">I", 8) + b"free"
        decode_media_headers(ftyp + moov)
    with _pytest.raises(ValueError):
        decode_media_headers(make_mp4(0, 100))  # zero timescale
    # ID3v2.4 footer flag: 10-byte footer after the tag body, excluded
    # from the syncsafe size — the frame walk must skip it
    with_footer = make_mp3(4, 128, 44100, id3_pad=6)
    assert with_footer[5] == 0
    footered = (with_footer[:5] + b"\x10" + with_footer[6:16]
                + b"3DI\x04\x00\x10\x00\x00\x00\x06" + with_footer[16:])
    d = decode_media_headers(footered)
    assert d["fmt"] == "mp3" and d["duration_ms"] == 4 * 1152 * 1000 // 44100
    # an 8-byte mvhd box ending exactly at EOF must raise ValueError (typed
    # per-row error), never IndexError
    import struct as _struct
    ftyp = _struct.pack(">I", 16) + b"ftypisom\x00\x00\x02\x00"
    moov = _struct.pack(">I", 16) + b"moov" + _struct.pack(">I", 8) + b"mvhd"
    with _pytest.raises(ValueError):
        decode_media_headers(ftyp + moov)

    rows = [
        (1, make_wav(8000, 1, 8, 4000)),
        (2, make_gif(320, 200)),
        (3, b"\xff\xd8\xffjpeg"),
        (4, None),
        (5, b"not media"),
    ]
    media = spark.createDataFrame(rows, "media_id long, media binary")
    out = {r["media_id"]: r for r in media_dims(media).collect()}
    assert out[1]["fmt"] == "wav" and out[1]["duration_ms"] == 500
    assert out[2]["width"] == 320 and out[2]["error"] is None
    assert out[3]["error"] is not None and "codec" in out[3]["error"]
    assert out[4]["error"] == "null media"
    assert out[5]["error"] == "unsupported format: unknown"


def test_media_decoder_never_crashes_on_arbitrary_bytes():
    """Robustness contract: any byte string either decodes or raises the
    typed per-row errors (ValueError / NotImplementedError) — never an
    IndexError/struct.error/KeyError that would poison a whole Arrow batch.
    Seeds include truncations of every valid builder output."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tempeh_spark.multimodal import (
        decode_media_headers,
        make_gif,
        make_mp3,
        make_mp4,
        make_png,
        make_wav,
    )

    valid = [
        make_wav(44100, 2, 16, 1764),
        make_gif(320, 200),
        make_png(640, 480),
        make_mp3(3, 128, 44100, id3_pad=5),
        make_mp4(600, 7200, track_dims=(640, 360)),
        make_mp4(90000, 7, version=1),
    ]

    def probe(data: bytes):
        try:
            d = decode_media_headers(data)
            assert d["fmt"] in ("wav", "png", "gif", "mp3", "mp4")
        except (ValueError, NotImplementedError):
            pass

    for v in valid:
        for cut in (0, 1, 4, 9, 11, len(v) // 2, len(v) - 1):
            probe(v[:cut])
            probe(v[:cut] + b"\xff\xe3\x00WARC/1.0")

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def fuzz(data):
        probe(data)
        # grafting magic prefixes onto junk probes each decoder's walker
        for pre in (b"ID3", b"\xff\xfb", b"RIFF", b"\x89PNG\r\n\x1a\n",
                    b"GIF89a", b"\x00\x00\x00\x10ftypisom"):
            probe(pre + data)

    fuzz()


def test_dedup_decisions_composition(spark):
    """dedup_decisions must merge exact-digest edges (docs too short to
    shingle) with minhash near-dup edges and give every doc a row."""
    from tempeh_spark.dedup import dedup_decisions

    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [
        (1, base),
        (2, base + " near duplicate tail"),  # near-dup of 1 via minhash
        (3, "hi"),  # too short to shingle (ngram=8)...
        (4, "HI  "),  # ...but exact-dup of 3 after normalization
        (5, "completely different unique content nothing shares this text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup_decisions(
        df, num_perm=16, bands=4, ngram=8, verify_threshold=0.3
    ).collect()}
    assert len(out) == 5
    assert out[1]["keep"] and out[1]["keeper"] == 1
    assert not out[2]["keep"] and out[2]["keeper"] == 1
    assert out[3]["keep"] and out[3]["keeper"] == 3
    assert not out[4]["keep"] and out[4]["keeper"] == 3
    assert out[5]["keep"] and out[5]["keeper"] == 5


def test_kmeans_fit_and_assign(spark):
    """Lloyd's k-means: objective decreases monotonically, converged
    assignments are the argmin of the final centroids, and the trained
    cells compose with the IVF searcher."""
    import numpy as np

    from tempeh_spark.clustering import kmeans_assign, kmeans_fit

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # objective monotonicity across increasing iteration budgets
    objs = []
    for iters in (1, 3, 8):
        _, assigned = kmeans_fit(emb, k=4, max_iter=iters)
        objs.append(float(assigned.agg(F.sum("dist2")).first()[0]))
    assert objs[0] >= objs[1] >= objs[2]

    cents, assigned = kmeans_fit(emb, k=4, max_iter=8)
    rows = {r["vec_id"]: r for r in assigned.collect()}
    # every cell used, assignment is the true argmin
    assert {r["cell"] for r in rows.values()} == set(range(4))
    C = np.array(cents)
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.select("vec_id", "embedding").collect()}
    for vid in list(vecs)[:50]:
        d2 = ((vecs[vid] - C) ** 2).sum(axis=1)
        assert rows[vid]["cell"] == int(d2.argmin())

    # determinism: rerun produces identical codebook + assignments
    cents2, assigned2 = kmeans_fit(emb, k=4, max_iter=8)
    assert cents == cents2

    # composition: trained cells feed the IVF searcher
    from tempeh_spark.similarity import ivf_topk

    labeled = emb.drop("label").join(
        kmeans_assign(emb, cents).select("vec_id", F.col("cell").alias("label")),
        "vec_id",
    )
    out = ivf_topk(labeled, labeled.where(F.col("vec_id") < 3), k=5)
    assert out.count() == 15


def test_duplicate_components_null_ids(spark, monkeypatch):
    """NULL-id pairs are malformed evidence: dropped before mirroring, so
    BOTH physical strategies agree — no TypeError in the driver union-find
    and no phantom singleton from the distributed loop."""
    from tempeh_spark import dedup
    from tempeh_spark.dedup import duplicate_components

    pairs = [(1, 2), (2, 3), (None, 7), (8, None), (None, None), (10, 11)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    for limit in (5_000_000, 0):  # fast path, then forced distributed loop
        monkeypatch.setattr(dedup, "DRIVER_EDGE_LIMIT", limit)
        rows = duplicate_components(df).collect()
        comp = {r["doc_id"]: r["component"] for r in rows}
        assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}, limit  # 7/8/None absent


def test_duplicate_components_nonconvergence_releases_cache(spark, monkeypatch):
    """A loop that runs out of rounds raises, and leaves nothing cached: the
    edges AND the last round's persisted labels are released."""
    from tempeh_spark import dedup

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    monkeypatch.setattr(dedup, "DRIVER_EDGE_LIMIT", 0)
    monkeypatch.setattr(dedup, "MAX_ROUNDS", 2)
    path = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]  # needs 5 rounds
    df = spark.createDataFrame(path, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="MAX_ROUNDS"):
        dedup.duplicate_components(df)
    assert cache.isEmpty()


def test_dedup_decisions_extra_pairs_union(spark):
    """pipeline_decisions contract: an extra_pairs edge family (embedding
    evidence) must merge into the SAME single component pass as exact +
    minhash edges — a chain linked only through the extra family still
    collapses to one keeper."""
    from tempeh_spark.dedup import dedup_decisions

    rows = [
        (1, "alpha beta gamma delta " * 40),       # near-dup of 2 (shingles)
        (2, "alpha beta gamma delta " * 40 + "x"),
        (3, "totally different text " * 40),
        (4, "unrelated content here " * 40),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = {
        r["doc_id"]: r["keeper"]
        for r in dedup_decisions(df, num_perm=8, bands=4, ngram=4, verify_threshold=0.3).collect()
    }
    assert base[1] == base[2] == 1 and base[3] == 3 and base[4] == 4

    # embedding evidence bridges 2-3 and 3-4: everything collapses to keeper 1
    extra = spark.createDataFrame([(2, 3), (3, 4)], "id_a long, id_b long")
    merged = {
        r["doc_id"]: (r["keeper"], r["keep"])
        for r in dedup_decisions(
            df, num_perm=8, bands=4, ngram=4, verify_threshold=0.3, extra_pairs=extra
        ).collect()
    }
    assert merged == {1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False)}


def test_hll_distinct_small_range_is_near_exact(spark):
    # 5 distinct items repeated many times: V = 256 - n_seen is large, the
    # linear-counting branch fires and (absent register collisions among 5
    # hashes) reproduces the exact count.
    from tempeh_spark.corpusops import hll_distinct

    rows = [("g1", f"item{i % 5}") for i in range(200)] + [("g1", None)]
    df = spark.createDataFrame(rows, "grp string, item string")
    out = hll_distinct(df, "item", ("grp",)).collect()
    assert len(out) == 1
    # hashing 5 items into 256 registers collides with prob ~4%; accept the
    # honest sketch answer of 4 if it does, but never over-count or miss more
    assert out[0]["hll_distinct"] in (4, 5)


def test_hll_distinct_estimate_and_order_independence(spark):
    from tempeh_spark.corpusops import hll_distinct

    n = 5000
    rows = [("g", f"id-{i}") for i in range(n)] * 2  # duplicates are free
    df = spark.createDataFrame(rows, "grp string, item string")
    est = hll_distinct(df, "item", ("grp",)).collect()[0]["hll_distinct"]
    # m=256 -> standard error 1.04/16 = 6.5%; 3 sigma bound
    assert abs(est - n) / n < 0.20
    # register max() is order/partitioning independent: same value at any
    # parallelism (the determinism contract the oracle twin relies on)
    est2 = hll_distinct(df.repartition(13), "item", ("grp",)).collect()[0][
        "hll_distinct"
    ]
    assert est2 == est


def test_hll_distinct_sketch_merge(spark):
    # registers are a mergeable sketch: the union of two halves equals the
    # sketch of the whole (max is associative) -- the property that makes
    # per-shard sketches combinable without re-reading data at 100 TB.
    from tempeh_spark.corpusops import hll_distinct

    rows = [("g", f"id-{i}") for i in range(3000)]
    df = spark.createDataFrame(rows, "grp string, item string")
    half_a = spark.createDataFrame(rows[:2000], "grp string, item string")
    half_b = spark.createDataFrame(rows[1000:], "grp string, item string")
    whole = hll_distinct(df, "item", ("grp",)).collect()[0]["hll_distinct"]
    merged = hll_distinct(half_a.unionByName(half_b), "item", ("grp",)).collect()[
        0
    ]["hll_distinct"]
    assert merged == whole


def test_bm25_topk_ranking(spark):
    from tempeh_spark.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark runs fast"),
            (2, "spark is a engine"),
            (3, "duck duck goose"),
            (4, "nothing relevant here at all in this much longer document text"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, [("q1", "spark"), ("q2", "goose"), ("q2", "zzz")], k=3)
    rows = {(r["query_id"], r["rank"]): r for r in out.collect()}
    # tf saturation still ranks the term-stuffed doc first
    assert rows[("q1", 1)]["doc_id"] == 1
    assert rows[("q1", 2)]["doc_id"] == 2
    assert ("q1", 3) not in rows  # only 2 docs contain 'spark'
    # missing term contributes nothing; 'goose' alone drives q2
    assert rows[("q2", 1)]["doc_id"] == 3
    assert ("q2", 2) not in rows
    # order-independence: same scores at any partitioning
    out2 = bm25_topk(docs.repartition(7), [("q1", "spark")], k=3)
    assert {(r["doc_id"], r["score_units"]) for r in out2.collect()} == {
        (r["doc_id"], rows[("q1", r["rank"])]["score_units"])
        for r in out.where(F.col("query_id") == "q1").collect()
        for r in [r]
    }


def test_bm25_multi_term_beats_single(spark):
    from tempeh_spark.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha alpha omega kappa"),
            (3, "beta beta omega kappa"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, [("q", "alpha"), ("q", "beta")], k=3).collect()
    ranks = {r["rank"]: r["doc_id"] for r in out}
    # covering both query terms outweighs doubling up on one
    assert ranks[1] == 1


def test_embedding_lsh_centered_concentrated(spark):
    # the text-embedding regime: every vector shares a dominant direction
    # (same-language n-gram mass), where uncentered hyperplane buckets stop
    # discriminating. center=True must still surface the planted near-dup
    # pair, and the verified output must be partitioning-independent.
    import numpy as np

    from tempeh_spark.similarity import embedding_lsh_near_pairs

    rng = np.random.default_rng(7)
    base = rng.normal(size=64)
    base /= np.linalg.norm(base)
    V = base + 0.05 * rng.normal(size=(200, 64))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    V[151] = V[150] + 1e-3 * rng.normal(size=64)  # planted near-dup
    V[151] /= np.linalg.norm(V[151])
    med = np.median((V[:50] @ V[50:100].T))
    assert med > 0.8  # the corpus really is a narrow cone
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    out = embedding_lsh_near_pairs(
        df, dim=64, threshold=0.98, n_bands=12, planes_per_band=16, center=True
    )
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (150, 151) in pairs
    out2 = embedding_lsh_near_pairs(
        df.repartition(9), dim=64, threshold=0.98, n_bands=12,
        planes_per_band=16, center=True,
    )
    assert {(r["id_a"], r["id_b"]) for r in out2.collect()} == pairs


def _bucket_pairs(banded_rows) -> set[tuple[int, int]]:
    """Brute force: every id_a < id_b that share a (band, sig) bucket."""
    return {
        (a, b)
        for a, band_a, sig_a in banded_rows
        for b, band_b, sig_b in banded_rows
        if a < b and (band_a, sig_a) == (band_b, sig_b)
    }


def test_lsh_candidates_match_brute_force(spark):
    """One group per bucket gives exactly the pairs that share a bucket:
    a three-id bucket expands to its three pairs, a pair colliding in two
    bands comes out once, and a duplicate id pairs with nothing but others."""
    from tempeh_spark.dedup import lsh_candidates

    rows = [
        (1, 0, "s1"), (2, 0, "s1"), (3, 0, "s1"),  # a bucket of three ids
        (4, 0, "s2"), (5, 0, "s2"),
        (4, 1, "t2"), (5, 1, "t2"),                # 4-5 collide in two bands
        (6, 0, "s3"), (6, 0, "s3"), (7, 0, "s3"),  # a duplicate id row
        (6, 1, "t6"), (6, 1, "t6"),                # ... alone in a bucket
        (8, 2, "s1"),                              # same sig, other band
    ]
    banded = spark.createDataFrame(rows, "id long, band int, sig string")
    got = [tuple(r) for r in lsh_candidates(banded).collect()]
    assert len(got) == len(set(got))
    assert set(got) == _bucket_pairs(rows) == {(1, 2), (1, 3), (2, 3), (4, 5), (6, 7)}


def test_minhash_candidates_one_signature_aggregate(spark, docs):
    """minhash_lsh_pairs' candidates are the brute-force bucket pairs of
    the same band signatures, and the candidate plan aggregates the
    signatures once, not once per side of a self-join."""
    from tempeh_spark.dedup import band_signatures, lsh_candidates, minhash_lsh_pairs, shingle_rows

    more = docs.union(
        spark.createDataFrame(
            [(7, "the quick brown fox jumps over the lazy dog")] * 2,  # a duplicate id
            "doc_id long, text string",
        )
    )
    banded = band_signatures(shingle_rows(more))
    want = _bucket_pairs([tuple(r) for r in banded.collect()])
    # docs 1, 2 and 7 share every band: a three-id bucket, in four bands
    assert {(1, 2), (1, 7), (2, 7)} <= want
    got = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(more, verify_threshold=0.0).collect()}
    assert got == want

    cand = lsh_candidates(banded)
    cand.collect()
    plan = cand._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("functions=[min(md5(") == 1, final
