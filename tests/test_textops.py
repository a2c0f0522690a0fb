"""Unit tests for the training-data pipeline operators (textops)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from tests.harness import (ann_recall, encode_bmp_gray,
                           winnowing_fingerprints)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _perturbed(docs):
    base = docs.filter((F.col("doc_id") < 20) & F.col("text").isNotNull())
    pert = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"))
    return docs.select("doc_id", "text").unionByName(pert)


def test_minhash_finds_planted_near_dups(docs):
    from json_schema_spark.textops.dedup import near_duplicates

    corpus = _perturbed(docs)
    planted_ids = [r["doc_id"] for r in
                   docs.filter((F.col("doc_id") < 20)
                               & F.col("text").isNotNull())
                   .select("doc_id").collect()]
    found = {(r["id_a"], r["id_b"])
             for r in near_duplicates(corpus, threshold=0.5).collect()}
    missing = [i for i in planted_ids if (i, i + 100000) not in found]
    # one appended word on a >=30-word doc keeps jaccard >> 0.5 and the
    # minhash signature nearly identical; all planted pairs must surface
    assert not missing, f"planted near-dup pairs missed: {missing}"
    for a, b in found:
        assert a < b


def test_exact_duplicates(docs):
    from json_schema_spark.textops.dedup import exact_duplicates

    base = docs.select("doc_id", "text")
    copies = (base.filter((F.col("doc_id") < 10)
                          & F.col("text").isNotNull())
              .select((F.col("doc_id") + 500000).alias("doc_id"), "text"))
    dups = exact_duplicates(base.unionByName(copies)).collect()
    n_copied = copies.count()
    assert len(dups) == n_copied
    for row in dups:
        assert row["dup_count"] == 2
        assert row["doc_ids"][0] + 500000 == row["doc_ids"][1]


def test_jaccard_expression(spark):
    from json_schema_spark.textops.dedup import jaccard

    df = spark.createDataFrame(
        [(["a", "b", "c"], ["b", "c", "d"]),
         (["a", "a", "b"], ["a", "b"]),
         ([], [])],
        "a array<string>, b array<string>")
    vals = [r[0] for r in df.select(jaccard(F.col("a"),
                                            F.col("b"))).collect()]
    assert vals[0] == pytest.approx(2 / 4)
    assert vals[1] == pytest.approx(1.0)  # distinct-set semantics
    assert vals[2] == 0.0


def test_simhash_similar_docs_close(spark):
    from json_schema_spark.textops.dedup import simhash_table

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "the quick brown fox jumps over the lazy dog again and againx"),
         (3, "completely different words entirely unrelated content here")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r["simhash"]
            for r in simhash_table(df).collect()}
    d12 = bin(rows[1] ^ rows[2]).count("1")
    d13 = bin(rows[1] ^ rows[3]).count("1")
    assert d12 < d13


def test_cosine_topk_ordering(emb):
    from json_schema_spark.textops.similarity import cosine_topk

    out = cosine_topk(emb.filter(F.col("vec_id") < 3), emb, k=5).collect()
    by_query: dict[int, list] = {}
    for r in out:
        by_query.setdefault(r["query_id"], []).append(r)
    for q, rows in by_query.items():
        rows.sort(key=lambda r: r["rank"])
        sims = [r["cosine_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != q for r in rows)
        assert len(rows) == 5


def test_cosine_topk_broadcast_guard_errors(emb):
    """VERDICT r4 #3: a corpus-sized query side must not silently
    broadcast into the crossJoin — default posture is an error that
    names the scale-safe alternative."""
    from json_schema_spark.textops.similarity import cosine_topk

    q = emb.filter(F.col("vec_id") < 10)
    with pytest.raises(ValueError, match="lsh_topk_multi"):
        cosine_topk(q, emb, k=2, max_broadcast_queries=5).collect()
    with pytest.raises(ValueError, match="on_overflow"):
        cosine_topk(q, emb, k=2, on_overflow="explode")
    # under the bound (or with the guard waived) the exact path runs
    assert cosine_topk(q, emb, k=1, max_broadcast_queries=10).count() > 0
    assert cosine_topk(q, emb, k=1,
                       max_broadcast_queries=None).count() > 0


def test_cosine_topk_overflow_routes_to_lsh_multi(emb):
    """on_overflow='route' hands an oversized query side to
    lsh_topk_multi: same output schema, bucket equi-join plan (no
    cartesian / broadcast-nested-loop), results equal to calling the
    ANN path directly."""
    from json_schema_spark.textops.similarity import (cosine_topk,
                                                      lsh_topk_multi)

    q = emb.filter(F.col("vec_id") < 10)
    routed = cosine_topk(q, emb, k=3, max_broadcast_queries=5,
                         on_overflow="route")
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    direct = lsh_topk_multi(q.select("vec_id", "embedding"), emb, k=3)
    assert sorted(map(tuple, routed.collect())) \
        == sorted(map(tuple, direct.collect()))


def test_lsh_buckets_deterministic(emb):
    from json_schema_spark.textops.similarity import bucket_expr, hyperplanes

    p1 = hyperplanes(64, 4, "seed-x")
    p2 = hyperplanes(64, 4, "seed-x")
    assert p1 == p2  # derivable from the seed alone

    def buckets(planes):
        return {r["vec_id"]: r["bucket"]
                for r in emb.limit(50).select(
                    "vec_id",
                    bucket_expr(F.col("embedding"), planes).alias("bucket"))
                .collect()}

    b1 = buckets(p1)
    assert b1 == buckets(p2)
    assert all(0 <= b < 16 for b in b1.values())


def test_language_id(spark):
    from json_schema_spark.textops.textanalysis import analyze

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and it is a fine day for the cat"),
         (2, "el gato y la casa de la madre en un dia que es bueno"),
         (3, "der hund und die katze sind mit den kindern zu hause"),
         (4, "xyzzy plugh qwerty")],
        "doc_id long, text string")
    langs = {r["doc_id"]: r["lang_pred"] for r in analyze(df).collect()}
    assert langs == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_quality_and_fingerprint(spark):
    from json_schema_spark.textops.textanalysis import analyze

    df = spark.createDataFrame(
        [(1, "The quick brown fox, it is the best of days!"),
         (2, "The  quick   brown fox, it is the best of days!")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in analyze(df).collect()}
    assert 0.0 <= rows[1]["quality"] <= 1.0
    # fingerprint collapses whitespace -> both docs share one
    assert rows[1]["fingerprint"] == rows[2]["fingerprint"]
    expected = hashlib.md5(
        b"the quick brown fox, it is the best of days!").hexdigest()
    assert rows[1]["fingerprint"] == expected


def test_multimodal_features(spark):
    from json_schema_spark.textops.multimodal import (
        decode_image, extract_media_features)

    df = spark.createDataFrame(
        [("a", b"\x89PNG\r\n\x1a\nrest"),
         ("b", b"<html><body>x</body></html>"),
         ("c", b"RIFFxxxxWAVE"),
         ("d", None)],
        "id string, blob binary")
    rows = {r["id"]: r
            for r in extract_media_features(df, "blob", "id").collect()}
    assert rows["a"]["media_type"] == "image/png"
    assert rows["b"]["media_type"] == "text/html"
    assert rows["c"]["media_type"] == "audio/wav"
    assert rows["d"]["digest"] is None
    assert rows["a"]["digest"] == hashlib.md5(
        b"\x89PNG\r\n\x1a\nrest").hexdigest()
    assert rows["a"]["header_hex"] == b"\x89PNG\r\n\x1a\n".hex()
    # decoder is stubbed without PIL
    try:
        import PIL  # noqa: F401
        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        with pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG")


def test_winnowing_containment(spark):
    from json_schema_spark.textops.dedup import (
        containment_pairs, winnowing_fingerprint_rows)
    from pyspark.sql import functions as F

    shared = "the quick brown fox jumps over the lazy dog many times today"
    df = spark.createDataFrame(
        [(1, shared + " alpha beta gamma delta epsilon"),
         (2, "prefix words here " + shared),
         (3, "totally unrelated content with different characters xyzq")],
        "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["shared"]
             for r in containment_pairs(df, min_shared=3).collect()}
    assert (1, 2) in pairs  # long shared substring -> shared fingerprints
    assert (1, 3) not in pairs and (2, 3) not in pairs

    # winnowing guarantee: identical text -> identical fingerprint sets
    fps = df.select("doc_id", winnowing_fingerprints(
        F.col("text")).alias("f")).collect()
    by_id = {r["doc_id"]: set(r["f"]) for r in fps}
    assert len(by_id[1] & by_id[2]) >= 3
    # the gram-at-a-time rows the engine uses equal the array form
    rows: dict = {}
    for r in winnowing_fingerprint_rows(df).collect():
        rows.setdefault(r["_id"], set()).add(r["fp"])
    assert rows == by_id
    # short text -> empty fingerprints, no descending-sequence blowup
    short = spark.createDataFrame([(1, "tiny")], "doc_id long, text string")
    out = short.select(winnowing_fingerprints(F.col("text")).alias("f")) \
        .head()["f"]
    assert out == []


def test_ivf_topk_recall(emb):
    from json_schema_spark.textops.similarity import cosine_topk, ivf_topk

    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(queries, emb, k=5).collect()}
    # full probe == exact search
    full = ivf_topk(queries, emb, k=5, n_centroids=8, nprobe=8)
    assert {(r["query_id"], r["neighbor_id"])
            for r in full.collect()} == exact
    # partial probe: valid rank structure, reasonable recall
    part = ivf_topk(queries, emb, k=5, n_centroids=8, nprobe=3).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in part}
    assert len(got & exact) >= len(exact) // 2
    by_q = {}
    for r in part:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_simhash_pairs_finds_perturbed_clones(spark):
    """A doc and its one-word-appended clone differ by few vote flips —
    chunked-bit bucketing must surface the pair, and the bucketed result
    must equal brute force (pigeonhole: d < n_chunks => no false
    negatives)."""
    from pyspark.sql import functions as F

    from json_schema_spark.textops.dedup import simhash_pairs, simhash_table

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    pert = (docs.filter((F.col("doc_id") < 10) & F.col("text").isNotNull())
            .select((F.col("doc_id") + 100000).alias("doc_id"),
                    F.concat("text", F.lit(" zz")).alias("text")))
    corpus = docs.unionByName(pert)

    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_pairs(corpus, max_hamming=3).collect()}
    # brute force over the same fingerprints
    sh = {r["doc_id"]: r["simhash"]
          for r in simhash_table(corpus).collect()}
    ids = sorted(sh)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sh[a] ^ sh[b]).count("1")
            if h <= 3:
                want[(a, b)] = h
    assert got == want
    assert any(b - a == 100000 for a, b in got)  # clones found


def test_simhash_pairs_param_guards(spark):
    import pytest

    from json_schema_spark.textops.dedup import simhash_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        simhash_pairs(df, max_hamming=4, n_chunks=4)
    with pytest.raises(ValueError):
        simhash_pairs(df, n_chunks=5)


def test_auto_n_planes_scales_with_corpus():
    from json_schema_spark.textops.similarity import auto_n_planes

    assert auto_n_planes(100) == 4                 # clamped floor
    assert auto_n_planes(10_000) < auto_n_planes(10_000_000)
    assert auto_n_planes(10 ** 12) == 24           # clamped ceiling
    # target bucket size holds in the unclamped middle
    n = auto_n_planes(2_000_000)
    assert 2 ** n >= 2_000_000 / 256


def test_parse_image_dimensions_header_layouts():
    from json_schema_spark.textops.multimodal import parse_image_dimensions

    png = (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
           + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
           + b"\x08\x06\x00\x00\x00")
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
    jpeg = (b"\xff\xd8"
            + b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
            + (480).to_bytes(2, "big") + (640).to_bytes(2, "big")
            + b"\x03" + b"\x00" * 9)
    assert parse_image_dimensions(png) == (640, 480)
    assert parse_image_dimensions(gif) == (320, 200)
    assert parse_image_dimensions(jpeg) == (640, 480)   # SOF after APP0
    assert parse_image_dimensions(b"plain text") is None
    assert parse_image_dimensions(b"\x89PNG\r\n\x1a\n trunc") is None
    assert parse_image_dimensions(None) is None


def test_normalize_url_canonical_forms(spark):
    from pyspark.sql import functions as F

    from json_schema_spark.textops.urls import normalize_url

    cases = [
        ("HTTP://Example.COM:80", "http://example.com/"),
        ("https://example.com/a/b/", "https://example.com/a/b"),
        ("https://example.com/a?utm_source=x&z=1&a=2#f",
         "https://example.com/a?a=2&z=1"),
        ("https://example.com/a?utm_campaign=y", "https://example.com/a"),
        ("https://example.com", "https://example.com/"),
        ("mailto:user@example.com", "mailto:user@example.com"),  # pass-through
        ("ftp://example.com/f", "ftp://example.com/f"),          # pass-through
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "id long, url string")
    got = {r["id"]: r["n"] for r in
           df.select("id", normalize_url(F.col("url")).alias("n")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i], got[i])


def test_repetition_features_signals(spark):
    from json_schema_spark.textops.textanalysis import repetition_features

    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),
         (2, "all tokens here are different words entirely"),
         (3, "buy now buy now buy now buy now")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in repetition_features(df).collect()}
    assert rows[1]["dup_token_ratio"] > 0.8       # one token repeated
    assert rows[1]["top_bigram_frac"] == 1.0      # 'spam spam' everywhere
    assert rows[2]["dup_token_ratio"] == 0.0
    assert rows[2]["top_bigram_frac"] < 0.2
    assert rows[3]["top_bigram_frac"] > 0.4       # 'buy now' dominates


def test_quality_filter_gates(spark):
    from json_schema_spark.textops.textanalysis import quality_filter

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and it is a very fine day today "
             "for all of the cats in the house to sit on all the mats"),
         (2, "x"),
         (3, "!!!! ???? ;;;; @@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( "
             "))))" * 3)],
        "doc_id long, text string")
    kept = {r["doc_id"] for r in quality_filter(df).collect()}
    assert 1 in kept        # fluent english
    assert 2 not in kept    # too short
    assert 3 not in kept    # no alphabetic content


def test_ann_recall_harness(emb):
    from json_schema_spark.textops.similarity import (cosine_topk,
                                                      ivf_topk, lsh_topk)

    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(q, emb, k=5)
    # exact vs itself -> recall 1.0 everywhere
    perfect = ann_recall(exact, exact).collect()
    assert all(r["recall"] == 1.0 for r in perfect)

    lsh = lsh_topk(q, emb, k=5, n_planes=4, dim=64)
    rec = {r["query_id"]: r["recall"]
           for r in ann_recall(lsh, exact).collect()}
    assert set(rec) == {0, 1, 2, 3, 4}
    assert all(0.0 <= v <= 1.0 for v in rec.values())
    # synthetic embeddings are near-random, so single-table LSH recall
    # is modest — but it must beat the random-bucket floor (~31/500)
    assert sum(rec.values()) / len(rec) > 0.05

    ivf = ivf_topk(q, emb, k=5, n_centroids=8, nprobe=8)
    rec_ivf = [r["recall"] for r in ann_recall(ivf, exact).collect()]
    # nprobe == n_centroids probes every cell -> exact
    assert all(v == 1.0 for v in rec_ivf)


def test_dup_group_example_caps(spark):
    """max_examples bounds the per-group sample while dup_count stays
    exact (the web-scale hot-group guard)."""
    from pyspark.sql import functions as F  # noqa: F401

    from json_schema_spark.textops.dedup import exact_duplicates
    from json_schema_spark.textops.urls import duplicate_urls

    df = spark.createDataFrame(
        [(i, "same text") for i in range(20)] + [(99, "unique thing")],
        "doc_id long, text string")
    rows = exact_duplicates(df, max_examples=3).collect()
    assert len(rows) == 1
    assert rows[0]["dup_count"] == 20          # exact
    assert len(rows[0]["doc_ids"]) == 3        # capped sample

    urls = spark.createDataFrame(
        [(i, f"https://ex.com/a?utm_source={i}") for i in range(10)],
        "id long, url string")
    out = duplicate_urls(urls, max_examples=2).collect()
    assert len(out) == 1
    assert out[0]["dup_count"] == 10
    assert out[0]["urls"].count(",") == 1      # two samples


def test_bloom_seen_filter_no_false_negatives(spark):
    """Every reference key is flagged (no false negatives), the rest
    is definitely new, and a reference spread over 64 partitions gives
    the same tags as a single-partition one."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.dedup import seen_filter

    ref = spark.range(1000).selectExpr("concat('k', id) AS digest")
    # candidates: 500 overlapping + 500 new
    cand = spark.range(500, 1500).selectExpr("concat('k', id) AS digest")
    overlap = {f"k{i}" for i in range(500, 1000)}
    try:
        tags = []
        for r in (ref.coalesce(1), ref.repartition(64)):
            rows = seen_filter(r, cand, bits_per_shard=1 << 16).collect()
            seen = {x["digest"] for x in rows if x["_maybe_seen"]}
            novel = {x["digest"] for x in rows if not x["_maybe_seen"]}
            assert overlap <= seen                  # no false negatives
            assert novel.isdisjoint(overlap)        # definite-new is exact
            assert len(novel) > 400                 # low false-positive rate
            tags.append(seen)
        assert tags[0] == tags[1]
    finally:
        release_caches()


def test_deterministic_sampling_and_split(spark):
    from json_schema_spark.textops.sampling import (deterministic_sample,
                                                    hash_split)

    df = spark.range(10000).selectExpr("id AS doc_id",
                                       "CASE WHEN id % 4 = 0 THEN 'fr' "
                                       "ELSE 'en' END AS lang")
    s1 = {r["doc_id"] for r in
          deterministic_sample(df, 0.5).collect()}
    # stable under repartitioning — the core property sample() lacks
    s2 = {r["doc_id"] for r in
          deterministic_sample(df.repartition(13), 0.5).collect()}
    assert s1 == s2
    assert 0.45 < len(s1) / 10000 < 0.55

    strat = deterministic_sample(df, 0.5, strata_col="lang",
                                 fractions={"fr": 0.1})
    by_lang = {r["lang"]: r["n"] for r in
               strat.groupBy("lang").agg(
                   __import__("pyspark.sql.functions",
                              fromlist=["count"]).count("*").alias("n"))
               .collect()}
    assert by_lang["fr"] < 0.2 * 2500        # ~10% of the fr stratum
    assert by_lang["en"] > 0.4 * 7500

    split = hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["count"] for r in
              split.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > 7500
    assert abs(counts["val"] - 1000) < 300
    # disjoint + exhaustive
    assert sum(counts.values()) == 10000


def test_unigram_logprob_flags_gibberish(spark):
    """Docs of corpus-typical tokens score low; rare-token docs score
    high — the perplexity-filter signal."""
    from json_schema_spark.textops.textanalysis import unigram_logprob

    common = "the cat and the dog and the cat and the dog"
    df = spark.createDataFrame(
        [(i, common) for i in range(20)]
        + [(99, "zxqv wvut qqzz xkcd")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r["avg_neg_logprob"]
            for r in unigram_logprob(df).collect()}
    assert rows[99] > rows[0]

def test_simhash_64bit_uses_full_width(spark):
    """Regression: the per-token hash was hard-coded to 8 md5 hex chars
    (32 bits), so at bits=64 every vote for bits 32-63 was -1, the high
    word of every fingerprint was 0, and chunked pairing degenerated to
    all-pairs. bits=64 must now populate the high word while keeping the
    low 32 bits identical to the bits=32 fingerprint (oracle parity)."""
    from json_schema_spark.textops.dedup import simhash_table

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    sh64 = {r["doc_id"]: r["simhash"] & ((1 << 64) - 1)
            for r in simhash_table(docs, bits=64).collect()}
    sh32 = {r["doc_id"]: r["simhash"]
            for r in simhash_table(docs, bits=32).collect()}

    high_words = {v >> 32 for v in sh64.values()}
    assert len(high_words) > 32          # genuinely 64-bit fingerprints
    assert all(sh64[k] & 0xFFFFFFFF == sh32[k] for k in sh32)


def test_simhash_pairs_64bit_linear_candidates(spark):
    """At bits=64 / n_chunks=8 the chunk buckets must spread: every
    chunk index (including those covering bits 32-63) sees many distinct
    values, keeping candidate volume far below all-pairs, and the
    bucketed pairs still equal brute force on planted clones."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from json_schema_spark.textops.dedup import simhash_pairs, simhash_table

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    pert = (docs.filter((F.col("doc_id") < 10) & F.col("text").isNotNull())
            .select((F.col("doc_id") + 100000).alias("doc_id"),
                    F.concat("text", F.lit(" zz")).alias("text")))
    corpus = docs.unionByName(pert)

    sh = {r["doc_id"]: r["simhash"] & ((1 << 64) - 1)
          for r in simhash_table(corpus, bits=64).collect()}
    # 16-bit chunks: the web-scale config the docstring recommends
    # (chunk_bits >= ~12 so buckets stay sparse)
    mask = 0xFFFF
    chunk_vals = {i: {(v >> (16 * i)) & mask for v in sh.values()}
                  for i in range(4)}
    # regression signature: a constant chunk (1 value) for every chunk
    # covering bits >= 32; healthy SimHash bits correlate across docs
    # sharing common tokens, so expect hundreds of values here
    for i in range(4):
        assert len(chunk_vals[i]) > 100, f"chunk {i} degenerate"

    # candidate volume: pairs sharing >= 1 chunk, vs all-pairs
    # (measured 1.5% on this corpus; the broken high chunks made it 100%)
    ids = sorted(sh)
    n_cand = sum(
        1 for a, b in combinations(ids, 2)
        if any((sh[a] >> (16 * i)) & mask == (sh[b] >> (16 * i)) & mask
               for i in range(4)))
    all_pairs = len(ids) * (len(ids) - 1) // 2
    assert n_cand < 0.05 * all_pairs

    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_pairs(corpus, max_hamming=3, n_chunks=4,
                                  bits=64).collect()}
    want = {}
    for a, b in combinations(ids, 2):
        h = bin(sh[a] ^ sh[b]).count("1")
        if h <= 3:
            want[(a, b)] = h
    assert got == want
    assert any(b - a == 100000 for a, b in got)  # clones found


def test_unigram_logprob_external_vocab_oov_smoothing(spark):
    """OOV tokens against an external vocab must score the documented
    add-one floor -ln(1/(N+V)) instead of silently dropping out of the
    average (regression: N and V rode the left-joined vocab, so a join
    miss nulled the whole term)."""
    import math

    from json_schema_spark.textops.textanalysis import unigram_logprob

    df = spark.createDataFrame([(1, "aaa bbb zzz")],
                               "doc_id long, text string")
    vocab = spark.createDataFrame([("aaa", 1), ("bbb", 1)],
                                  "t string, n_t long")
    row = unigram_logprob(df, vocab=vocab).first()
    n, v = 2, 2
    in_vocab = -math.log((1 + 1) / (n + v))     # n_t=1
    oov = -math.log(1 / (n + v))                # n_t=0
    want = round((2 * in_vocab + oov) / 3, 6)
    assert row["n_tokens"] == 3
    assert abs(row["avg_neg_logprob"] - want) < 1e-6


def test_unigram_logprob_min_count_floor(spark):
    """min_count drops the long tail from the DERIVED model; floored
    tokens score as OOV under the same smoothing, and N/V reflect the
    floored model."""
    import math

    from json_schema_spark.textops.textanalysis import unigram_logprob

    df = spark.createDataFrame(
        [(1, "aaa aaa bbb"), (2, "aaa ccc")],
        "doc_id long, text string")
    # counts: aaa=3, bbb=1, ccc=1 -> floored model {aaa: 3}, N=3, V=1
    rows = {r["doc_id"]: r for r in
            unigram_logprob(df, min_count=2).collect()}
    in_v = -math.log((3 + 1) / 4)
    oov = -math.log(1 / 4)
    assert abs(rows[1]["avg_neg_logprob"]
               - round((2 * in_v + oov) / 3, 6)) < 1e-6
    assert abs(rows[2]["avg_neg_logprob"]
               - round((in_v + oov) / 2, 6)) < 1e-6


def test_release_caches_frees_pair_finder_intermediates(docs):
    """Pair-finders persist their self-join inputs; callers own cleanup
    via release_caches() once results are materialized (a persisted
    table otherwise lives for the whole Spark application)."""
    from json_schema_spark import cache
    from json_schema_spark.textops import dedup

    cache.release_caches()  # start clean
    corpus = _perturbed(docs)
    dedup.near_duplicates(corpus, threshold=0.5).count()
    dedup.simhash_pairs(corpus, max_hamming=3).count()
    assert len(cache._ACTIVE_CACHES) >= 3  # buckets, shingles, simhash
    released = cache.release_caches()
    assert released >= 3
    assert not cache._ACTIVE_CACHES
    spark = corpus.sparkSession
    jvm_cache = spark._jsparkSession.sharedState().cacheManager()
    assert jvm_cache.isEmpty()


def test_lsh_multiprobe_improves_recall(emb, spark):
    """probe=1 adds every hamming-1 bucket flip on the query side; at a
    deliberately over-sharded n_planes (many near-singleton buckets)
    recall@k must rise vs single-bucket probing, measured with the
    ann_recall harness against exact cosine_topk ground truth."""
    from json_schema_spark.textops.similarity import (cosine_topk,
                                                      lsh_topk)

    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(queries, emb, k=5)

    def avg_recall(approx):
        rows = ann_recall(approx, exact).collect()
        return sum(r["recall"] for r in rows) / len(rows)

    r0 = avg_recall(lsh_topk(queries, emb, k=5, n_planes=10, dim=64))
    r1 = avg_recall(lsh_topk(queries, emb, k=5, n_planes=10, dim=64,
                             probe=1))
    assert r1 > r0
    # probing must never return duplicate (query, neighbor) rows
    probed = lsh_topk(queries, emb, k=5, n_planes=10, dim=64,
                      probe=1)
    n = probed.count()
    assert probed.select("query_id", "neighbor_id").distinct().count() == n


def test_bloom_positions_python_spark_parity(spark):
    """The Python position formula (used by tests and any offline
    probe) must bit-match the Spark md5 expressions used to build and
    probe the filter."""
    from json_schema_spark.textops.dedup import (_bloom_position_cols,
                                                 _bloom_positions)

    keys = ["", "a", "hello world", "käse", "0123456789" * 5]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    rows = df.select(F.col("k"),
                     *_bloom_position_cols(F.col("k"), 3, 1 << 23)
                     ).collect()
    for r in rows:
        want = list(_bloom_positions(r["k"], 3, 1 << 23))
        assert [r["_p0"], r["_p1"], r["_p2"]] == want


def test_dedup_groups_connected_components(spark):
    """Min-label propagation must find transitive groups (a chain has
    diameter > 1, so one round is not enough) and keep disjoint
    components apart."""
    from json_schema_spark.textops.dedup import dedup_groups

    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long")
    got = {r["doc_id"]: r["group_id"]
           for r in dedup_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_token_stats_counts(spark):
    from json_schema_spark.textops.textanalysis import token_stats

    df = spark.createDataFrame(
        [(1, "I can't  stop, won't stop!"),
         (2, "abc123 x-9"),
         (3, "   "),
         (4, None)],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in token_stats(df).collect()}
    # pre-tokens of doc 1: I, ' can', 't, ' stop', ',', ' won', 't,
    # ' stop', '!'  (contraction split; punctuation separate)
    assert rows[1]["n_tokens_ws"] == 5
    assert rows[1]["n_tokens_bpe"] == 9
    # abc123 -> 'abc' + '123'; x-9 -> ' x' + '-' + '9'
    assert rows[2]["n_tokens_ws"] == 2
    assert rows[2]["n_tokens_bpe"] == 5
    assert rows[3]["n_tokens_ws"] == 0
    assert rows[3]["n_tokens_bpe"] == 0
    assert 4 not in rows  # null text filtered


def test_parse_wav_info():
    """fmt-chunk walker over the public RIFF layout, including a header
    with a non-fmt chunk first (the walker must skip by chunk size)."""
    import struct

    from json_schema_spark.textops.multimodal import parse_wav_info

    def wav(channels, rate, bits, prepend_junk=False):
        fmt = struct.pack("<HHIIHH", 1, channels, rate,
                          rate * channels * bits // 8,
                          channels * bits // 8, bits)
        chunks = b""
        if prepend_junk:
            chunks += b"LIST" + struct.pack("<I", 5) + b"junk\x00" + b"\x00"
        chunks += b"fmt " + struct.pack("<I", 16) + fmt
        chunks += b"data" + struct.pack("<I", 0)
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" \
            + chunks

    assert parse_wav_info(wav(2, 44100, 16)) == (2, 44100, 16)
    assert parse_wav_info(wav(1, 8000, 24, prepend_junk=True)) \
        == (1, 8000, 24)
    assert parse_wav_info(b"RIFFxxxxWAVE") is None   # no fmt chunk
    assert parse_wav_info(b"\x89PNG") is None
    assert parse_wav_info(None) is None


def test_remove_boilerplate_lines(spark):
    """Lines occurring in >= min_docs distinct docs vanish (matched on
    their trimmed form); unique lines and blank lines survive in
    original order; duplicate lines WITHIN one doc don't count."""
    from json_schema_spark.textops.textanalysis import (
        boilerplate_lines, remove_boilerplate_lines)

    df = spark.createDataFrame(
        [(1, "COOKIE BANNER\nunique one\n\nfooter"),
         (2, "  COOKIE BANNER  \nunique two\nfooter"),
         (3, "body three\nfooter\nfooter"),
         (4, None)],
        "doc_id long, text string")
    bl = {r["line"]: r["n_docs"]
          for r in boilerplate_lines(df, min_docs=2).collect()}
    assert bl == {"COOKIE BANNER": 2, "footer": 3}

    out = {r["doc_id"]: r["text_clean"]
           for r in remove_boilerplate_lines(df, min_docs=2).collect()}
    assert out[1] == "unique one\n"        # blank line kept
    assert out[2] == "unique two"
    assert out[3] == "body three"
    assert out[4] is None


def test_redact_pii(spark):
    from json_schema_spark.textops.textanalysis import redact_pii

    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-1.org or b@x.io, host 192.168.0.1, "
             "call +49 (30) 1234567 or 555-867-5309"),
         (2, "no pii here"),
         (3, None)],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert rows[1]["n_email"] == 2
    assert rows[1]["n_ipv4"] == 1
    assert rows[1]["n_phone"] == 2
    red = rows[1]["text_redacted"]
    assert "<EMAIL>" in red and "<IP>" in red and "<PHONE>" in red
    assert "a.b+c@ex-1.org" not in red and "192.168" not in red
    assert rows[2]["n_email"] == 0
    assert rows[2]["text_redacted"] == "no pii here"
    assert rows[3]["text_redacted"] is None
    assert rows[3]["n_email"] is None


def test_pack_sequences_budget_semantics(spark):
    """Within each shard, packs are contiguous in id order, cumulative
    exclusive sums map to pack boundaries, and no pack's total exceeds
    budget + its last doc's length (the documented overflow bound)."""
    from json_schema_spark.textops.sampling import pack_sequences

    df = spark.createDataFrame(
        [(i, 100 + (i * 37) % 200) for i in range(200)],
        "doc_id long, n_tokens long")
    out = pack_sequences(df, budget=500, n_shards=4).collect()
    by_shard: dict[str, list] = {}
    for r in out:
        shard = r["pack_id"].split(":")[0]
        by_shard.setdefault(shard, []).append(r)
    assert len(by_shard) == 4
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rows:
            assert r["pack_id"] == f"{shard}:{cum // 500}"
            cum += r["n_tokens"]
        # pack totals respect the overflow bound
        totals: dict[str, int] = {}
        last: dict[str, int] = {}
        for r in rows:
            totals[r["pack_id"]] = totals.get(r["pack_id"], 0) \
                + r["n_tokens"]
            last[r["pack_id"]] = r["n_tokens"]
        for pid, tot in totals.items():
            assert tot <= 500 + last[pid]

    # deterministic under repartitioning
    out2 = pack_sequences(df.repartition(13), budget=500,
                          n_shards=4).collect()
    assert {(r["doc_id"], r["pack_id"]) for r in out} \
        == {(r["doc_id"], r["pack_id"]) for r in out2}


def test_ivf_recall_rises_with_nprobe(emb, spark):
    """The ann_recall harness must show IVF recall@k increasing with
    nprobe and reaching 1.0 at nprobe == n_centroids (exhaustive probe
    == exact search)."""
    from json_schema_spark.textops.similarity import (cosine_topk,
                                                      ivf_centroids,
                                                      ivf_topk)

    queries = emb.filter(F.col("vec_id") < 15)
    exact = cosine_topk(queries, emb, k=5)
    cents = ivf_centroids(emb, n_centroids=8, iterations=1)

    def avg_recall(nprobe):
        approx = ivf_topk(queries, emb, k=5, nprobe=nprobe,
                          centroids=cents)
        rows = ann_recall(approx, exact).collect()
        return sum(r["recall"] for r in rows) / len(rows)

    r1, r4, r8 = avg_recall(1), avg_recall(4), avg_recall(8)
    assert r1 <= r4 <= r8
    assert r8 == 1.0  # all cells probed == brute force
    assert r4 > r1 or r1 == 1.0


def test_shared_winnowing_fingerprint_pass(docs):
    """VERDICT r4 #6: one persisted winnowing_fingerprint_rows table
    can feed BOTH containment_pairs and contamination_pairs — results
    identical to each op computing its own pass."""
    from json_schema_spark.cache import register_cache, release_caches
    from json_schema_spark.textops.dedup import (containment_pairs,
                                                 contamination_pairs,
                                                 winnowing_fingerprint_rows)

    corpus = _perturbed(docs)
    evals = (docs.filter((F.col("doc_id") % 25 == 0)
                         & F.col("text").isNotNull())
             .select((F.col("doc_id") + 900000).alias("eval_id"),
                     F.substring("text", 1, 120).alias("text")))
    try:
        shared = register_cache(winnowing_fingerprint_rows(corpus))
        own_pairs = containment_pairs(corpus, min_shared=20,
                                      max_doc_freq=20)
        via_shared = containment_pairs(corpus, min_shared=20,
                                       max_doc_freq=20,
                                       fingerprints=shared)
        assert sorted(map(tuple, own_pairs.collect())) \
            == sorted(map(tuple, via_shared.collect()))
        own_cont = contamination_pairs(corpus, evals, min_shared=20)
        via_cont = contamination_pairs(corpus, evals, min_shared=20,
                                       corpus_fingerprints=shared)
        assert sorted(map(tuple, own_cont.collect())) \
            == sorted(map(tuple, via_cont.collect()))
    finally:
        release_caches()


def test_ivf_lloyd_update_scales_with_dimension(spark):
    """VERDICT r4 #2: the Lloyd centroid update must not fan out one
    aggregate column per embedding dimension (codegen collapses past
    ~100 exprs). The rewritten update is one mapInPandas partial-sum
    pass + one (cell, i) groupBy: exactly the same TWO aggregate
    expressions at dim 4 and dim 256, no per-dimension element_at
    sums, and the means are exact at dim 256."""
    import re

    from json_schema_spark.textops.similarity import (_lloyd_cell_sums,
                                                      ivf_centroids)

    def assigned(dim, rows=40):
        data = [([float((r * 7 + j) % 13) for j in range(dim)], r % 3)
                for r in range(rows)]
        return spark.createDataFrame(
            data, "_v array<double>, _c int")

    def n_sum_exprs(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return len(re.findall(r"\bsum\(", plan))

    small, big = assigned(4), assigned(256)
    assert n_sum_exprs(_lloyd_cell_sums(small)) \
        == n_sum_exprs(_lloyd_cell_sums(big)) == 2
    plan_big = (_lloyd_cell_sums(big)
                ._jdf.queryExecution().optimizedPlan().toString())
    assert "element_at" not in plan_big

    # exactness at dim 256: merged sums/counts give the true means
    got = {(r["c"], r["i"]): (r["sx"], r["nn"])
           for r in _lloyd_cell_sums(big).collect()}
    rows = big.collect()
    for c in range(3):
        vecs = [r["_v"] for r in rows if r["_c"] == c]
        for i in (0, 128, 255):
            sx, nn = got[(c, i)]
            assert nn == len(vecs)
            assert sx == pytest.approx(sum(v[i] for v in vecs))

    # end to end: centroids at dim 256 come back exact cell means
    df = spark.createDataFrame(
        [(r, [float(100 * (r % 2)) + float(j % 5)
              for j in range(256)]) for r in range(60)],
        "vec_id long, embedding array<double>")
    cents = ivf_centroids(df, n_centroids=2, iterations=2)
    assert len(cents) == 2 and all(len(c) == 256 for c in cents)
    base = sorted(c[0] for c in cents)
    assert base == [pytest.approx(0.0), pytest.approx(100.0)]


def test_near_dedup_keep_best_survivor_rules(spark):
    """Keep-best keeps the LONGEST member per group (even at a higher
    id), ties break to min id, singletons survive; quality_col
    overrides the length rule."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops import dedup

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    corpus = spark.createDataFrame([
        (1, base, 0.9),
        (2, base + " extended with extra trailing words", 0.1),
        (3, base + " extended with extra trailing words", 0.2),
        (7, "a completely different singleton document entirely "
            "unrelated to anything else in this corpus", 0.5),
    ], "doc_id long, text string, score double")
    out = dedup.near_dedup_keep_best(corpus, threshold=0.5)
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    # 2 and 3 are longest and tie on length -> min id 2 wins; 7 singleton
    assert kept == {2, 7}
    out_q = dedup.near_dedup_keep_best(corpus, threshold=0.5,
                                       quality_col="score")
    kept_q = {r.doc_id for r in out_q.select("doc_id").collect()}
    release_caches()
    # by score doc 1 (0.9) beats the longer copies
    assert kept_q == {1, 7}
    assert out.columns == corpus.columns


def test_near_dedup_corpus_keeps_one_per_group(docs):
    """The one-call dedup keeps exactly one canonical doc (min id) per
    near-dup group plus every singleton, returning original rows."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops import dedup

    corpus = _perturbed(docs)
    n_in = corpus.count()
    out = dedup.near_dedup_corpus(corpus, threshold=0.5)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.near_duplicates(corpus, threshold=0.5).collect()}
    release_caches()
    # every pair lost its higher member somewhere; canonical (min) stays
    losers = set()
    import itertools
    groups: dict[int, set] = {}
    for a, b in pairs:
        ga = next((g for g in groups.values() if a in g or b in g), None)
        if ga is None:
            groups[a] = {a, b}
        else:
            ga.update({a, b})
    # merge any overlapping groups (tiny corpus — quadratic is fine)
    merged = True
    while merged:
        merged = False
        items = list(groups.items())
        for (k1, g1), (k2, g2) in itertools.combinations(items, 2):
            if k1 in groups and k2 in groups and g1 & g2:
                groups[k1] = g1 | g2
                del groups[k2]
                merged = True
                break
    for g in groups.values():
        losers |= g - {min(g)}
    assert kept == {r["doc_id"] for r in corpus.select("doc_id").collect()} \
        - losers
    assert len(kept) == n_in - len(losers)
    assert out.columns == corpus.columns


def test_dedup_groups_long_chain_checkpointed(spark):
    """A path graph needs O(diameter) rounds — the worst case for
    per-round lineage growth. With internal localCheckpoint every 5
    rounds (r4) the returned plan must stay bounded (lineage resets at
    checkpoints instead of deepening once per round) and the labels
    must still be the exact component minimum."""
    import warnings

    from json_schema_spark.textops.dedup import dedup_groups

    n = 12  # diameter 11 -> 12 rounds incl. the convergence check
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = dedup_groups(pairs, max_iterations=20, checkpoint_interval=5,
                           driver_threshold=0)
        got = {r["doc_id"]: r["group_id"] for r in out.collect()}
    assert got == {i: 1 for i in range(1, n + 1)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    # lineage is at most checkpoint_interval rounds deep: a 12-round
    # chain without checkpoints accumulates ~12 nested join/agg layers;
    # with them the final plan reads a checkpointed RDD scan
    assert "Scan ExistingRDD" in plan or len(plan) < 20000


def test_dedup_groups_warns_when_not_converged(spark):
    """max_iterations below the graph diameter must WARN (the labels
    are an under-merged intermediate state), not silently return."""
    import pytest as _pytest

    from json_schema_spark.textops.dedup import dedup_groups

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a long, id_b long")
    with _pytest.warns(RuntimeWarning, match="under-merged"):
        out = dedup_groups(pairs, max_iterations=2, driver_threshold=0)
        out.collect()


def test_emb_near_dup_default_engages_auto_sizing(emb, monkeypatch):
    """VERDICT r3 #3: the DEFAULT n_planes must auto-size from the
    corpus count (a fixed 64-bucket join is the anti-pattern the
    auto-sizer exists to prevent); an explicit n_planes pins it."""
    from json_schema_spark.textops import similarity as S

    calls = []
    orig = S.auto_n_planes

    def spy(n_rows, *a, **kw):
        calls.append(n_rows)
        return orig(n_rows, *a, **kw)

    monkeypatch.setattr(S, "auto_n_planes", spy)
    S.embedding_near_duplicates(emb, dim=64)          # default: auto
    assert calls == [emb.count()]
    S.embedding_near_duplicates(emb, n_planes=6, dim=64)  # pinned
    assert len(calls) == 1  # no second auto-sizing call
    # and the sizing rule itself grows buckets with the corpus
    assert orig(10**9) > orig(10**4)


def test_sharded_bloom_parity_and_no_false_negatives(spark):
    """n_shards=1 must be exactly the bitmap the Python reference
    _bloom_positions describes (same positions, same scatter); at
    n_shards=8 every built key must still probe as maybe-seen (no
    false negatives across the shard split), and a disjoint key set
    must come back mostly novel (false positives only)."""
    import numpy as np

    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.dedup import (
        _bloom_positions, build_bloom_shards, seen_filter)

    keys = [f"k{i}" for i in range(500)]
    ref = spark.createDataFrame([(k,) for k in keys], "digest string")
    one = build_bloom_shards(ref, "digest", n_shards=1,
                             bits_per_shard=1 << 20).collect()
    assert len(one) == 1 and one[0]["shard"] == 0
    want = np.zeros((1 << 20) // 8, dtype=np.uint8)
    for k in keys:
        for p in _bloom_positions(k, 3, 1 << 20):
            want[p >> 3] |= 1 << (p & 7)
    assert bytes(one[0]["bloom"]) == want.tobytes()

    try:
        tagged = seen_filter(ref, ref, "digest", n_shards=8,
                             bits_per_shard=1 << 20)
        assert all(r["_maybe_seen"] for r in tagged.collect())

        fresh = spark.createDataFrame(
            [(f"new{i}",) for i in range(300)], "digest string")
        tagged2 = seen_filter(ref, fresh, "digest", n_shards=8,
                              bits_per_shard=1 << 20)
        novel = sum(not r["_maybe_seen"] for r in tagged2.collect())
        assert novel >= 290  # a few bloom false positives allowed
    finally:
        release_caches()


def test_merge_bloom_shards_is_union_of_memberships(spark):
    from json_schema_spark.textops.dedup import (
        bloom_probe_shards, build_bloom_shards, merge_bloom_shards)

    a = spark.createDataFrame([(f"a{i}",) for i in range(200)],
                              "digest string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(200)],
                              "digest string")
    sa = build_bloom_shards(a, "digest", n_shards=4,
                            bits_per_shard=1 << 20)
    sb = build_bloom_shards(b, "digest", n_shards=4,
                            bits_per_shard=1 << 20)
    merged = merge_bloom_shards(sa, sb).persist()
    try:
        both = a.unionByName(b)
        tagged = bloom_probe_shards(both, merged, "digest", n_shards=4,
                                    bits_per_shard=1 << 20)
        assert all(r["_maybe_seen"] for r in tagged.collect())
    finally:
        merged.unpersist()


def test_lsh_multi_table_recall_dominates_single_table(emb):
    """Adding independent LSH tables can only ADD candidates (union of
    per-table bucket matches), so recall@k at fixed n_planes must be
    monotone in n_tables — the property that lets multi-table LSH keep
    buckets small (high n_planes) without the single-table recall
    collapse."""
    from json_schema_spark.textops.similarity import (cosine_topk,
                                                      lsh_topk_multi)

    from pyspark.sql import functions as F

    q = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(q, emb, k=5)
    one = lsh_topk_multi(q, emb, k=5, n_tables=1, n_planes=6, dim=64)
    four = lsh_topk_multi(q, emb, k=5, n_tables=4, n_planes=6, dim=64)

    def mean_recall(approx):
        rows = ann_recall(approx, exact).collect()
        return sum(r["recall"] for r in rows) / len(rows)

    r1, r4 = mean_recall(one), mean_recall(four)
    assert r4 >= r1
    # deterministic seeded planes on the fixture corpus: 0.02 -> 0.14
    # (absolute recall is low because the fixture embeddings are
    # uncorrelated random vectors — the top-5 "neighbors" sit near
    # cosine 0.3, which no sign-LSH recalls well; the point is the
    # multi-table LIFT at equal plane count)
    assert r4 >= 5 * r1


def test_ivf_kmeanspp_seeding_beats_ordered_seeds_on_clustered_ids(spark):
    """VERDICT r3 #8: first-N-by-id seeding inherits corpus ordering
    bias — on a crawl whose ids are cluster-major (host order, shard
    order) the first N vectors all come from ONE cluster, splitting it
    N ways while every other cluster crams into its nearest cell
    (skewed cells = hot probe-join buckets at scale). The hash-pool
    farthest-point seeder must give materially better cell balance and
    no worse recall at equal nprobe on exactly that input."""
    import math

    from pyspark.sql import functions as F

    from json_schema_spark.textops.similarity import (
        _nearest_centroid, cosine_topk, ivf_seed_centroids, ivf_topk)

    # 4 well-separated clusters in dim 8, ids CLUSTER-MAJOR: ids 0-199
    # are cluster 0, 200-399 cluster 1, ... (deterministic jitter from
    # the id so the corpus is fixed)
    def vec(i):
        c = i // 200
        base = [0.0] * 8
        base[2 * c] = 10.0
        return [round(b + math.sin(i * 0.7 + d) * 0.5, 6)
                for d, b in enumerate(base)]

    rows = [(i, vec(i)) for i in range(800)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    first_n = [r["embedding"] for r in
               emb.orderBy("vec_id").limit(8).collect()]
    seeded = ivf_seed_centroids(emb, 8, pool_factor=16)

    def max_cell(cents):
        sizes = [r["n"] for r in
                 emb.select(_nearest_centroid(F.col("embedding"), cents)
                            .alias("c"))
                 .groupBy("c").agg(F.count(F.lit(1)).alias("n"))
                 .collect()]
        return max(sizes)

    # ordered seeds: clusters 1-3 (600 vectors) collapse into few cells
    # -> a >=200-vector hot cell; hash-pool seeds spread across clusters
    assert max_cell(first_n) >= 200
    assert max_cell(seeded) < max_cell(first_n)

    q = emb.filter(F.col("vec_id") % 100 == 0)
    exact = cosine_topk(q, emb, k=5)

    def mean_recall(cents):
        rows = ann_recall(
            ivf_topk(q, emb, k=5, nprobe=2, centroids=cents),
            exact).collect()
        return sum(r["recall"] for r in rows) / len(rows)

    assert mean_recall(seeded) >= mean_recall(first_n)


def test_png_codec_roundtrip_and_dhash():
    """Pure-stdlib PNG encode/decode round-trip (filters 0-4 decode,
    RGB/RGBA luma) and dHash: gradient bits over the downsampled grid,
    signed-64 convention matching simhash_table."""
    import struct
    import zlib

    from json_schema_spark.textops.multimodal import (
        decode_png_gray, encode_png_gray, image_dhash,
        parse_image_dimensions)

    grid = [[(x * 13 + y * 31) % 251 for x in range(9)] for y in range(8)]
    png = encode_png_gray(grid)
    assert parse_image_dimensions(png) == (9, 8)
    assert decode_png_gray(png) == (9, 8, grid)

    # reference dhash
    val = 0
    for y in range(8):
        for x in range(8):
            if grid[y][x + 1] > grid[y][x]:
                val |= 1 << (y * 8 + x)
    if val >= 1 << 63:
        val -= 1 << 64
    assert image_dhash(png) == val

    # a filter-2 (Up) encoded PNG of the same pixels decodes identically
    raw = b"\x00" + bytes(grid[0])
    for y in range(1, 8):
        raw += b"\x02" + bytes((grid[y][x] - grid[y - 1][x]) & 0xFF
                               for x in range(9))

    def chunk(tag, payload):
        crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", crc))

    png2 = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 9, 8, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    assert decode_png_gray(png2) == (9, 8, grid)
    # an RGB image where every channel equals the gray value lumas back
    rgb_raw = b"".join(
        b"\x00" + bytes(v for x in range(9)
                        for v in (grid[y][x],) * 3) for y in range(8))
    png3 = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 9, 8, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(rgb_raw)) + chunk(b"IEND", b""))
    assert decode_png_gray(png3) == (9, 8, grid)
    # downsampling path: a 2x-scaled image hashes identically (block
    # means reproduce the original grid)
    big = [[grid[y // 2][x // 2] for x in range(18)] for y in range(16)]
    assert image_dhash(encode_png_gray(big)) == val


def test_image_dhash_stub_policy_for_non_png():
    """JPEG/GIF perceptual hashing requires PIL — absent here, the
    documented stub policy must raise NotImplementedError (not return
    a wrong hash); non-image bytes return None."""
    import pytest as _pytest

    from json_schema_spark.textops.multimodal import image_dhash

    try:
        import PIL  # type: ignore  # noqa: F401
        _pytest.skip("PIL present — stub policy not exercised")
    except ImportError:
        pass
    jpeg_ish = bytes.fromhex("FFD8FFC0001108000900090300000000000000")
    with _pytest.raises(NotImplementedError, match="PIL"):
        image_dhash(jpeg_ish)
    assert image_dhash(b"not an image at all") is None
    assert image_dhash(None) is None


def test_image_near_duplicates_groups_variants(spark):
    """End-to-end perceptual dedup: identical patterns pair at hamming
    0, corner-perturbed variants pair at hamming <= 2, and the pairs
    feed dedup_groups exactly like text near-dups."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.dedup import dedup_groups
    from json_schema_spark.textops.multimodal import (
        encode_png_gray, image_near_duplicates)

    def pattern(k, v):
        return [[(k * 7 + x * 13 + y * 31
                  + (37 * v if (x < 2 and y < 2) else 0)) % 251
                 for x in range(9)] for y in range(8)]

    # ids 0-2: one pattern family (k=1, variants 0/1/2); 3-4: another
    # identical pair (k=40); 5: a singleton far from both
    rows = [(0, encode_png_gray(pattern(1, 0))),
            (1, encode_png_gray(pattern(1, 1))),
            (2, encode_png_gray(pattern(1, 2))),
            (3, encode_png_gray(pattern(40, 0))),
            (4, encode_png_gray(pattern(40, 0))),
            (5, encode_png_gray([[255 * ((x + y) % 2)
                                  for x in range(9)] for y in range(8)]))]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    try:
        pairs = image_near_duplicates(df, "blob", "doc_id", max_hamming=3)
        got = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in pairs.collect()}
        assert got[(3, 4)] == 0
        assert all((a, b) in got for a, b in [(0, 1), (0, 2), (1, 2)])
        assert all(h <= 2 for (a, b), h in got.items() if b <= 2)
        assert not any(5 in p for p in got)
        groups = {r["doc_id"]: r["group_id"]
                  for r in dedup_groups(pairs).collect()}
        assert groups[0] == groups[1] == groups[2] == 0
        assert groups[3] == groups[4] == 3
    finally:
        release_caches()


def test_gif_codec_roundtrip_and_dhash():
    """Pure-stdlib GIF encode/decode round-trip (round 4): LZW literal
    stream with interleaved clear codes, both plain and interlaced row
    order, grayscale palette whose BT.601 luma is the identity — so a
    GIF and a PNG of the same pixels produce the SAME dHash and the
    codec is the only moving part."""
    from json_schema_spark.textops.multimodal import (
        decode_gif_gray, encode_gif_gray, encode_png_gray, image_dhash,
        parse_image_dimensions, sniff_media_type)

    grid = [[(x * 13 + y * 31) % 251 for x in range(9)] for y in range(8)]
    gif = encode_gif_gray(grid)
    assert sniff_media_type(gif) == "image/gif"
    assert parse_image_dimensions(gif) == (9, 8)
    assert decode_gif_gray(gif) == (9, 8, grid)
    assert decode_gif_gray(encode_gif_gray(grid, interlaced=True)) \
        == (9, 8, grid)
    assert image_dhash(gif) == image_dhash(encode_png_gray(grid))

    # multi-subblock + LZW code-table growth/reset path
    big = [[(x * 3 + y * 5) % 251 for x in range(200)]
           for y in range(150)]
    assert decode_gif_gray(encode_gif_gray(big)) == (200, 150, big)
    assert decode_gif_gray(encode_gif_gray(big, interlaced=True)) \
        == (200, 150, big)
    assert image_dhash(encode_gif_gray(big)) \
        == image_dhash(encode_png_gray(big))

    # truncated / exotic blobs return None (and image_dhash routes
    # them to the PIL-gated stub policy, unchanged)
    assert decode_gif_gray(b"GIF89a\x01") is None
    assert decode_gif_gray(None) is None
    assert decode_gif_gray(b"not a gif") is None


def test_gif_lzw_decodes_real_compression():
    """The LZW decoder handles genuinely compressed streams (repeat
    runs build multi-byte table entries, including the KwKwK
    self-reference case) — not just the literal codes our encoder
    emits. Encode by hand with a growing code table."""
    from json_schema_spark.textops.multimodal import _gif_lzw_decode

    # min_code_size=2: clear=4, end=5, first table code 6
    # stream: clear, 1, 1 (-> KwKwK would be code 6 = b'11')
    def pack(codes, widths):
        acc = nbits = 0
        out = bytearray()
        for c, w in zip(codes, widths):
            acc |= c << nbits
            nbits += w
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    # clear(4), 1, 6 (KwKwK: prev=b'1' -> b'11'), 7 (prev+b'1'= b'111'),
    # end(5) — all at width 3
    data = pack([4, 1, 6, 7, 5], [3, 3, 3, 3, 3])
    assert _gif_lzw_decode(data, 2) == b"\x01\x01\x01\x01\x01\x01"


def test_wav_pcm_codec_roundtrip():
    """Pure-stdlib PCM WAV encode/decode round-trip (round 4) at every
    integer width; decode_audio now uses the real path for PCM WAV and
    keeps the soundfile-gated stub for everything else."""
    import pytest as _pytest

    from json_schema_spark.textops.multimodal import (
        decode_audio, decode_wav_pcm, encode_wav_pcm, parse_wav_info)

    samples = [((i * 37) % 255) - 127 for i in range(480)]
    for bits in (8, 16, 24, 32):
        for channels in (1, 2):
            blob = encode_wav_pcm(samples, 8000, bits, channels)
            assert parse_wav_info(blob) == (channels, 8000, bits)
            got = decode_wav_pcm(blob)
            assert got == (8000, 480, samples), (bits, channels)
            assert decode_audio(blob) == (8000, 480)

    assert decode_wav_pcm(b"RIFFxxxxWAVE") is None
    assert decode_wav_pcm(None) is None
    try:
        import soundfile  # type: ignore  # noqa: F401
    except ImportError:
        with _pytest.raises(NotImplementedError, match="soundfile"):
            decode_audio(b"ID3\x03\x00 not really an mp3")


def test_jpeg_codec_roundtrip_and_dhash():
    """Pure-stdlib baseline JPEG encode/decode (round 4). The encoder
    uses a FLAT all-ones quant table so DCT-coefficient rounding is
    the only loss: DC-only (flat) blocks decode EXACTLY, smooth
    gradients decode exactly, and the oracle pattern (neighbor gaps
    >= 13) round-trips with max pixel error 1 — so dHash(jpeg) ==
    dHash(png) of the same pixels. Restart markers (DRI/RSTn) and
    multi-MCU images exercise the full entropy-decode path."""
    from json_schema_spark.textops.multimodal import (
        decode_jpeg_gray, encode_jpeg_gray, encode_png_gray,
        image_dhash, parse_image_dimensions, sniff_media_type)

    flat = [[77] * 16 for _ in range(16)]
    j = encode_jpeg_gray(flat)
    assert sniff_media_type(j) == "image/jpeg"
    assert parse_image_dimensions(j) == (16, 16)
    assert decode_jpeg_gray(j) == (16, 16, flat)  # DC-only: exact

    grid = [[(x * 3 + y * 2) % 256 for x in range(24)] for y in range(17)]
    w, h, rows = decode_jpeg_gray(encode_jpeg_gray(grid))
    assert (w, h) == (24, 17)
    assert max(abs(rows[y][x] - grid[y][x])
               for y in range(17) for x in range(24)) <= 1

    def pattern(k, v):
        return [[(k * 7 + x * 13 + y * 31
                  + (37 * v if (x < 2 and y < 2) else 0)) % 251
                 for x in range(9)] for y in range(8)]

    for k in (0, 17, 42, 59):
        for v in range(3):
            p = pattern(k, v)
            assert image_dhash(encode_jpeg_gray(p)) \
                == image_dhash(encode_png_gray(p)), (k, v)

    # restart markers: DC prediction resets, bitstream realigns
    big = [[(x * 5 + y * 7) % 256 for x in range(64)] for y in range(48)]
    for ri in (1, 3, 5):
        w, h, rows = decode_jpeg_gray(encode_jpeg_gray(big,
                                                       restart_interval=ri))
        assert (w, h) == (64, 48)
        assert max(abs(rows[y][x] - big[y][x])
                   for y in range(48) for x in range(64)) <= 1

    # non-baseline / truncated blobs return None (stub policy intact)
    assert decode_jpeg_gray(None) is None
    assert decode_jpeg_gray(b"\xff\xd8\xff\xc2\x00\x06truncated") is None
    assert decode_jpeg_gray(b"not a jpeg") is None


def test_bmp_codec_roundtrip_and_dhash():
    """Pure-stdlib BMP encode/decode round-trip (round 4): 8-bpp
    palettized bottom-up with 4-byte row padding, palette luma is the
    identity — so a BMP and a PNG of the same pixels produce the same
    dHash. Top-down and 24/32-bpp layouts decode too."""
    import struct

    from json_schema_spark.textops.multimodal import (
        decode_bmp_gray, encode_png_gray, image_dhash,
        parse_image_dimensions, sniff_media_type)

    grid = [[(x * 13 + y * 31) % 251 for x in range(9)] for y in range(8)]
    bmp = encode_bmp_gray(grid)
    assert sniff_media_type(bmp) == "image/bmp"
    assert parse_image_dimensions(bmp) == (9, 8)
    assert decode_bmp_gray(bmp) == (9, 8, grid)
    assert image_dhash(bmp) == image_dhash(encode_png_gray(grid))

    # width not a multiple of 4 exercises row padding; 1x1 edge case
    odd = [[(x * 7 + y) % 256 for x in range(5)] for y in range(3)]
    assert decode_bmp_gray(encode_bmp_gray(odd)) == (5, 3, odd)
    assert decode_bmp_gray(encode_bmp_gray([[42]])) == (1, 1, [[42]])

    # hand-rolled 24-bpp bottom-up BMP: BGR = (v, v, v) -> luma v
    w, h = 3, 2
    px = [[10, 20, 30], [40, 50, 60]]
    stride = ((w * 24 + 31) // 32) * 4
    raster = b"".join(
        b"".join(bytes([px[y][x]] * 3) for x in range(w)).ljust(stride,
                                                                b"\x00")
        for y in range(h - 1, -1, -1))
    hdr = (b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                         len(raster), 0, 0, 0, 0))
    assert decode_bmp_gray(hdr + raster) == (w, h, px)
    # top-down variant: negative height, same pixels, rows not flipped
    raster_td = b"".join(
        b"".join(bytes([px[y][x]] * 3) for x in range(w)).ljust(stride,
                                                                b"\x00")
        for y in range(h))
    hdr_td = (b"BM" + struct.pack("<IHHI", 54 + len(raster_td), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0,
                            len(raster_td), 0, 0, 0, 0))
    assert decode_bmp_gray(hdr_td + raster_td) == (w, h, px)

    # stub policy intact: RLE-compressed / truncated -> None
    assert decode_bmp_gray(None) is None
    assert decode_bmp_gray(b"BMshort") is None
    rle = bytearray(bmp)
    rle[30:34] = (1).to_bytes(4, "little")  # BI_RLE8
    assert decode_bmp_gray(bytes(rle)) is None


def test_animated_gif_composition_semantics():
    """decode_gif_frames composites with real graphic-control
    semantics: transparent pixels keep the prior canvas, disposal 2
    clears the frame rect to background, disposal 3 restores the
    pre-frame canvas."""
    from json_schema_spark.textops.multimodal import (
        decode_gif_frames, decode_gif_gray, encode_gif_gray_frames)

    f0 = [[100] * 4 for _ in range(3)]
    f1 = [[0, 0, 200, 200],
          [0, 0, 200, 200],
          [0, 0, 0, 0]]
    f2 = [[7] * 4 for _ in range(3)]
    # frame 1 marks index 0 transparent -> those pixels keep frame 0's
    blob = encode_gif_gray_frames([f0, f1, f2], transparent=0)
    frames = decode_gif_frames(blob)
    assert frames is not None and len(frames) == 3
    assert frames[0] == (4, 3, f0)
    assert frames[1] == (4, 3, [[100, 100, 200, 200],
                                [100, 100, 200, 200],
                                [100, 100, 100, 100]])
    # frame 2 has no transparent pixels (value 7 everywhere)
    assert frames[2] == (4, 3, f2)
    # first frame of the animation == the single-frame poster decode
    assert decode_gif_gray(blob) == frames[0]

    # disposal 2 after frame 0: canvas resets to background before f1;
    # transparent f1 pixels now read 0, not 100
    blob2 = encode_gif_gray_frames([f0, f1], disposals=[2, 0],
                                   transparent=0)
    frames2 = decode_gif_frames(blob2)
    assert frames2[1] == (4, 3, f1)

    # disposal 3 on frame 1: frame 2's transparent pixels see frame
    # 0's canvas again (f1's paint was reverted)
    f2t = [[0, 0, 0, 0], [0, 9, 9, 0], [0, 0, 0, 0]]
    blob3 = encode_gif_gray_frames([f0, f1, f2t], disposals=[0, 3, 0],
                                   transparent=0)
    frames3 = decode_gif_frames(blob3)
    assert frames3[2] == (4, 3, [[100, 100, 100, 100],
                                 [100, 9, 9, 100],
                                 [100, 100, 100, 100]])
    # max_frames caps the walk
    assert len(decode_gif_frames(blob3, max_frames=2)) == 2


def test_sample_frames_table(spark):
    """Spark-side frame sampling: one row per sampled frame via
    mapInPandas, source-stream frame_idx, undecodable blobs yield no
    rows, consecutive-dup frames skippable."""
    from json_schema_spark.textops.multimodal import (
        decode_png_gray, encode_gif_gray_frames, sample_frames_table)

    def anim(seed, n, static=False):
        return encode_gif_gray_frames(
            [[[(seed if static else seed + 40 * k + x + y) % 251
               for x in range(5)] for y in range(4)]
             for k in range(n)])

    df = spark.createDataFrame(
        [("a", anim(3, 5)), ("b", anim(9, 2)),
         ("s", anim(60, 6, static=True)), ("junk", b"not a gif"),
         ("n", None)],
        "doc_id string, blob binary")
    out = sample_frames_table(df, "blob", "doc_id", every_n=2)
    rows = {(r["doc_id"], r["frame_idx"]): r["frame_png"]
            for r in out.collect()}
    assert set(rows) == {("a", 0), ("a", 2), ("a", 4), ("b", 0),
                         ("s", 0), ("s", 2), ("s", 4)}
    assert decode_png_gray(rows[("a", 2)]) == (
        5, 4, [[(3 + 80 + x + y) % 251 for x in range(5)]
               for y in range(4)])
    # static animation collapses to one frame with dedup_consecutive
    out2 = sample_frames_table(df, "blob", "doc_id", every_n=2,
                               dedup_consecutive=True)
    got = {(r["doc_id"], r["frame_idx"]) for r in out2.collect()}
    assert got == {("a", 0), ("a", 2), ("a", 4), ("b", 0), ("s", 0)}


def test_video_near_duplicates(spark):
    """Per-frame perceptual pairing grouped on frame_idx: identical
    animations pair at hamming 0; a corner-perturbed variant pairs as
    a near-dup; a different animation and a shorter animation do not
    pair (the all-frames gate rejects partial matches)."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.multimodal import (
        encode_gif_gray_frames, video_near_duplicates)

    def anim(k, v=0, n=4, invert=False):
        def px(x, y, f):
            p = (k * 7 + x * 13 + y * 31 + f * 41
                 + (37 * v if (x < 2 and y < 2) else 0)) % 251
            return 250 - p if invert else p
        return encode_gif_gray_frames(
            [[[px(x, y, f) for x in range(9)] for y in range(8)]
             for f in range(n)])

    # invert=True flips every horizontal gradient -> dHash far from
    # the others (a plain k shift mostly preserves gradients)
    df = spark.createDataFrame(
        [(1, anim(5)), (2, anim(5)), (3, anim(5, v=1)),
         (4, anim(5, invert=True)), (5, anim(5, n=2))],
        "doc_id long, blob binary")
    out = video_near_duplicates(df, "blob", "doc_id", every_n=2,
                                max_hamming=3)
    rows = {(r["id_a"], r["id_b"]): (r["n_frames"], r["max_hamming"])
            for r in out.collect()}
    release_caches()
    assert set(rows) == {(1, 2), (1, 3), (2, 3)}
    assert rows[(1, 2)] == (2, 0)          # identical, frames 0 and 2
    assert rows[(1, 3)][0] == 2            # near-dup at every frame
    assert 0 < rows[(1, 3)][1] <= 3


def test_hamming_pairs_group_cols(spark):
    """group_cols restrict pairing to equal-group rows and lead the
    output columns."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.dedup import hamming_pairs

    df = spark.createDataFrame(
        [(0, 1, 5), (0, 2, 5), (1, 1, 5), (1, 3, 4)],
        "g long, doc_id long, fp long")
    out = hamming_pairs(df, fp_col="fp", id_col="doc_id",
                        max_hamming=1, n_chunks=4, bits=64,
                        group_cols=["g"])
    got = {(r["g"], r["id_a"], r["id_b"], r["hamming"])
           for r in out.collect()}
    release_caches()
    # (0,1)x(0,2) same group identical; (1,1)x(1,3) hamming 1 (5^4=1);
    # cross-group (0,*)x(1,*) never pair
    assert got == {(0, 1, 2, 0), (1, 1, 3, 1)}


def test_audio_fingerprint_properties():
    """Fingerprint is gain-invariant, locally perturbable (m corrupted
    windows flip <= m+1 bits), and None for short/undecodable blobs."""
    from json_schema_spark.textops.multimodal import (
        audio_fingerprint, encode_wav_pcm)

    def sig(mult=13, bump=0):
        return [((7 * 5 + t * mult + (bump if t < 20 else 0)) % 251) - 125
                for t in range(650)]

    base = audio_fingerprint(encode_wav_pcm(sig()))
    assert base is not None
    # uniform gain preserves every energy comparison
    doubled = audio_fingerprint(
        encode_wav_pcm([2 * s for s in sig()]))
    assert doubled == base
    # perturbation confined to windows 0-1 flips at most bits 0-2
    near = audio_fingerprint(encode_wav_pcm(sig(bump=100)))
    assert near is not None
    assert bin((base ^ near) & ~0b111).count("1") == 0
    # a different signal is far
    far = audio_fingerprint(encode_wav_pcm(sig(mult=17)))
    assert bin(base ^ far).count("1") > 10
    # shorter than n_windows frames -> None; garbage -> None
    assert audio_fingerprint(encode_wav_pcm(sig()[:40])) is None
    assert audio_fingerprint(b"not a wav") is None
    assert audio_fingerprint(None) is None


def test_audio_near_duplicates(spark):
    """Identical PCM pairs at hamming 0; an early-window perturbation
    pairs as a near-dup; a different signal and an undecodable blob
    never pair."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.multimodal import (
        audio_near_duplicates, encode_wav_pcm)

    def sig(mult=13, bump=0):
        return [((7 * 5 + t * mult + (bump if t < 20 else 0)) % 251) - 125
                for t in range(650)]

    df = spark.createDataFrame(
        [(1, encode_wav_pcm(sig())), (2, encode_wav_pcm(sig())),
         (3, encode_wav_pcm(sig(bump=100))),
         (4, encode_wav_pcm(sig(mult=17))), (5, b"not a wav")],
        "doc_id long, blob binary")
    out = audio_near_duplicates(df, "blob", "doc_id", max_hamming=3)
    rows = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    release_caches()
    assert set(rows) == {(1, 2), (1, 3), (2, 3)}
    assert rows[(1, 2)] == 0
    assert 0 < rows[(1, 3)] <= 3


def test_near_dedup_media(spark):
    """One-call media dedup: of three identical clips + one near-dup,
    exactly the minimum id survives; the far clip and the undecodable
    blob survive untouched; bad kind raises."""
    import pytest as _pytest

    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.multimodal import (
        encode_wav_pcm, near_dedup_media)

    def sig(mult=13, bump=0):
        return [((7 * 5 + t * mult + (bump if t < 20 else 0)) % 251) - 125
                for t in range(650)]

    df = spark.createDataFrame(
        [(1, encode_wav_pcm(sig())), (2, encode_wav_pcm(sig())),
         (3, encode_wav_pcm(sig(bump=100))),
         (4, encode_wav_pcm(sig(mult=17))), (5, b"not a wav")],
        "doc_id long, blob binary")
    out = near_dedup_media(df, "blob", "doc_id", kind="audio")
    got = sorted(r["doc_id"] for r in out.collect())
    release_caches()
    assert got == [1, 4, 5]
    with _pytest.raises(ValueError):
        near_dedup_media(df, "blob", "doc_id", kind="text")


def test_wav_first_channel_matches_reference_decode():
    """The vectorized first-channel reader is sample-identical to
    decode_wav_pcm across widths and channel counts (24-bit routes
    through the reference loop)."""
    from json_schema_spark.textops.multimodal import (
        _wav_first_channel, decode_wav_pcm, encode_wav_pcm)

    sig = [((t * 37) % 251) - 125 for t in range(130)]
    for bits in (8, 16, 24, 32):
        for channels in (1, 2):
            s = [x % 120 for x in sig] if bits == 8 else sig
            blob = encode_wav_pcm(s, bits=bits, channels=channels)
            ref = decode_wav_pcm(blob)
            fast = _wav_first_channel(blob)
            assert ref is not None and fast is not None, (bits, channels)
            assert fast.tolist() == ref[2], (bits, channels)
    assert _wav_first_channel(b"junk") is None
    assert _wav_first_channel(None) is None


def test_temperature_sample(spark):
    """alpha < 1 boosts the tail stratum's keep-rate above the head's;
    rates cap at 1; the selection is deterministic (same survivors on
    re-run); NULL strata form their own stratum."""
    from json_schema_spark.textops.sampling import temperature_sample

    rows = ([(i, "en") for i in range(400)]
            + [(400 + i, "fr") for i in range(40)]
            + [(440 + i, None) for i in range(10)])
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    out = temperature_sample(df, "lang", alpha=0.5, target_fraction=0.5)
    kept = {r["doc_id"]: r["lang"] for r in out.collect()}
    by = {"en": 0, "fr": 0, None: 0}
    for lang in kept.values():
        by[lang] += 1
    # head stratum damped below its 400, tail boosted relative to size
    assert 0 < by["en"] < 400
    assert by["fr"] / 40 > by["en"] / 400
    assert by[None] > 0  # null stratum survives the null-safe join
    # deterministic: identical survivor set on re-run
    again = {r["doc_id"] for r in
             temperature_sample(df, "lang", alpha=0.5,
                                target_fraction=0.5).collect()}
    assert again == set(kept)
    # alpha=0 with a generous target caps the tiny strata at rate 1
    all_fr = temperature_sample(df, "lang", alpha=0.0,
                                target_fraction=0.9)
    n_fr = all_fr.filter("lang = 'fr'").count()
    assert n_fr == 40


def test_contamination_and_decontaminate(spark):
    """An eval doc that is a verbatim substring of a corpus doc reaches
    containment 1.0 and gets that corpus doc dropped; unrelated corpus
    docs survive; id-name collision raises."""
    import pytest as _pytest

    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.dedup import (contamination_pairs,
                                                 decontaminate)

    base = ("the quick brown fox jumps over the lazy dog while "
            "seventeen astronauts assemble a parquet reader on mars")
    other = ("completely different content about streaming watermarks "
             "and shuffle partitions in a distributed query engine")
    corpus = spark.createDataFrame(
        [(1, base + " with an extra training-set tail of words"),
         (2, other), (3, None)],
        "doc_id long, text string")
    evals = spark.createDataFrame(
        [(100, base[:60]), (101, "zebra xylophone quartz " * 4)],
        "eval_id long, text string")

    pairs = contamination_pairs(corpus, evals, min_shared=3)
    got = {(r["doc_id"], r["eval_id"]):
           (r["shared"], r["eval_total"], r["containment"])
           for r in pairs.collect()}
    assert (1, 100) in got
    shared, total, cont = got[(1, 100)]
    assert shared == total and cont == 1.0
    assert all(eid != 101 for (_, eid) in got)

    survivors = sorted(
        r["doc_id"]
        for r in decontaminate(corpus, evals, threshold=0.8,
                               min_shared=3).collect())
    release_caches()
    assert survivors == [2, 3]
    with _pytest.raises(ValueError):
        contamination_pairs(corpus, evals, eval_id_col="doc_id")


def test_dedup_groups_driver_fast_path_matches_distributed(spark):
    """The small-graph union-find fast path (edge count <= threshold)
    returns byte-identical (doc_id, group_id) labels to the
    distributed min-label propagation, across clique, path, and
    disjoint-component shapes."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.dedup import dedup_groups

    edges = ([(1, 2), (2, 3), (1, 3)]          # clique -> min 1
             + [(10, 11), (11, 12), (12, 13)]  # path -> min 10
             + [(7, 20)])                      # two-node component
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {(r["doc_id"], r["group_id"])
            for r in dedup_groups(pairs).collect()}
    dist = {(r["doc_id"], r["group_id"])
            for r in dedup_groups(pairs, driver_threshold=0).collect()}
    release_caches()
    assert fast == dist
    assert fast == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                    (12, 10), (13, 10), (7, 7), (20, 7)}


def test_chunk_documents_window_semantics(spark):
    """Sliding token windows: stride = chunk_size - overlap, last
    window reaches the final token, short/empty docs behave."""
    from json_schema_spark.textops.textanalysis import chunk_documents

    docs = spark.createDataFrame(
        [("a", " ".join(f"w{i}" for i in range(10))),
         ("b", "one two three"),   # single short chunk
         ("c", ""),                # no chunks
         ("d", "   "),             # blank -> no chunks
         ("e", " ".join(f"t{i}" for i in range(7)))],  # exact multiple
        "doc_id string, text string")
    out = chunk_documents(docs, chunk_size=4, overlap=1)
    rows = {(r.doc_id, r.chunk_id): (r.chunk_text, r.n_chunk_tokens)
            for r in out.collect()}
    assert rows[("a", 0)] == ("w0 w1 w2 w3", 4)
    assert rows[("a", 1)] == ("w3 w4 w5 w6", 4)   # 1-token overlap
    assert rows[("a", 2)] == ("w6 w7 w8 w9", 4)   # anchored at the end
    assert rows[("b", 0)] == ("one two three", 3)
    assert rows[("e", 1)] == ("t3 t4 t5 t6", 4)
    assert not any(d in ("c", "d") for d, _ in rows)
    assert len(rows) == 6
    # every token of every doc is covered by at least one chunk
    covered = set()
    for (d, i), (txt, _) in rows.items():
        covered.update((d, w) for w in txt.split(" "))
    assert ("a", "w9") in covered and ("e", "t6") in covered

    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_size=4, overlap=4)
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_size=0)


def test_chunk_documents_plan_is_shuffle_free(spark):
    """chunk_documents must stay a projection + one Generate: no
    Exchange, no Python eval, and exactly one split of the text (the
    token array is materialized before the per-chunk slices)."""
    from json_schema_spark.textops.textanalysis import chunk_documents

    docs = spark.createDataFrame([("a", "x y z")],
                                 "doc_id string, text string")
    out = chunk_documents(docs, chunk_size=2, overlap=1)
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in phys
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in phys
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(") == 1


def test_ngram_topk_counts_and_tiebreak(spark):
    """n_occ counts occurrences, n_docs counts documents; ties at the
    k boundary break lexicographically (deterministic top-k)."""
    from json_schema_spark.textops.textanalysis import ngram_topk

    docs = spark.createDataFrame(
        [("a", "the cat sat on the mat the cat sat"),
         ("b", "The Cat Sat on a hat"),   # casefolds into the same gram
         ("c", ""), ("d", None)],
        "doc_id string, text string")
    rows = ngram_topk(docs, n=3, k=3).collect()
    assert [(r.gram, r.n_occ, r.n_docs) for r in rows[:2]] == [
        ("the cat sat", 3, 2), ("cat sat on", 2, 2)]
    # rank 3 is a 6-way n_occ=1 tie -> lexicographically first gram wins
    assert rows[2].n_occ == 1
    assert rows[2].gram == min(["mat the cat", "on a hat", "on the mat",
                                "sat on a", "sat on the", "the mat the"])


def test_snapshot_diff_statuses_and_null_text(spark):
    """added/removed/changed classification; normalization-equal text
    is unchanged; NULL text marks presence (not 'added') and compares
    null-safely."""
    from json_schema_spark.textops.dedup import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a b"), (2, "keep me"), (3, "gone soon"),
         (4, "CASE  fold"), (6, None), (7, None)],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "a b edited"), (2, "keep me"), (4, "case fold"),
         (5, "brand new"), (6, None), (7, "now has text")],
        "doc_id long, text string")
    rows = {r.doc_id: r.status
            for r in snapshot_diff(old, new).collect()}
    # 2 (identical), 4 (normalization-equal), 6 (NULL both sides) drop
    assert rows == {1: "changed", 3: "removed", 5: "added",
                    7: "changed"}


def test_mix_corpus_rates_and_spec(spark):
    """Sources get budget shares proportional to their weights;
    unlisted sources drop; an under-sized source caps at keep-all;
    selection is id-hash-deterministic (stable across calls)."""
    from json_schema_spark.textops.sampling import mix_corpus

    rows = [(i, "w " * 10, "big") for i in range(100)]          # 1000 toks
    rows += [(1000 + i, "w " * 10, "small") for i in range(5)]  # 50 toks
    rows += [(2000 + i, "w " * 10, "unlisted") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    out = mix_corpus(docs, {"big": 1, "small": 1}, token_budget=400)
    per = {r.source: (r.n, r.toks) for r in
           out.groupBy("source").agg(
               F.count("*").alias("n"),
               F.sum("n_tokens").alias("toks")).collect()}
    assert "unlisted" not in per
    # small's 200-token share exceeds its 50 tokens -> rate caps at 1
    assert per["small"] == (5, 50)
    # big is sampled at 200/1000 = 0.2 -> ~20 docs (hash-exact, so
    # just re-run and require identical output)
    again = mix_corpus(docs, {"big": 1, "small": 1}, token_budget=400)
    assert sorted(r.doc_id for r in out.collect()) == \
        sorted(r.doc_id for r in again.collect())
    assert 0 < per["big"][0] < 100

    with pytest.raises(ValueError):
        mix_corpus(docs, {}, token_budget=400)
    with pytest.raises(ValueError):
        mix_corpus(docs, {"big": 1}, token_budget=0)


def test_dedup_lines_in_doc_keep_first(spark):
    """Repeated trimmed lines drop (keep-first, including
    whitespace-variant repeats); blank lines are kept; NULL text
    stays NULL; plan stays a zero-shuffle projection with the split
    and trim arrays materialized once."""
    from json_schema_spark.textops.textanalysis import dedup_lines_in_doc

    docs = spark.createDataFrame(
        [(1, "Header\nbody one\nHeader\n\nbody two\n  Header  \nend"),
         (2, "a\na\na"), (3, None), (4, "")],
        "doc_id long, text string")
    out = dedup_lines_in_doc(docs)
    got = {r.doc_id: r.text_clean for r in out.collect()}
    assert got == {1: "Header\nbody one\n\nbody two\nend",
                   2: "a", 3: None, 4: ""}
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in phys
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(") == 1 and opt.count("transform(") == 1


def test_semantic_dedup_keep_low_rule(spark):
    """Within a duplicate group the survivor is the member LEAST
    similar to its cluster centroid (SemDeDup keep-low); singletons
    survive; max_cluster_size excludes hot cells from pairing (their
    members all survive)."""
    from json_schema_spark.textops.similarity import semantic_dedup
    from json_schema_spark.cache import release_caches

    # centroid c0 = x-axis: ids 1,2,3 near-identical (a dup group,
    # sims to c0 differ), id 4 orthogonal-ish singleton in cell 1
    rows = [(1, [1.0, 0.01]), (2, [1.0, 0.02]), (3, [1.0, 0.03]),
            (4, [0.05, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    out = semantic_dedup(emb, centroids=cents, threshold=0.99)
    got = sorted((r.vec_id, r.cell) for r in out.collect())
    release_caches()
    # ids 1-3 all >= 0.99 pairwise -> one group; id 3 has the LOWEST
    # cosine to centroid [1,0] (largest y component) -> it survives
    assert got == [(3, 0), (4, 1)]

    # with the cell capped out of pairing, everyone survives
    out2 = semantic_dedup(emb, centroids=cents, threshold=0.99,
                          max_cluster_size=2)
    n2 = out2.count()
    release_caches()
    assert n2 == 4


def test_filter_urls_policy(spark):
    """Scheme allowlist, exact + subdomain blocklist (suffix must not
    match mid-label), extension gate on the path only, port-stripped
    host output, NULL drop — all zero-shuffle."""
    from json_schema_spark.textops.urls import filter_urls

    urls = ["ftp://files.example.com/data",       # scheme
            "https://blocked.net/page",           # exact block
            "https://sub.blocked.net/page",       # subdomain block
            "https://example.com/pic.JPG",        # extension (case)
            "http://example.com:8080/ok",         # kept, port stripped
            "https://notblocked.net/page",        # kept (no mid-label)
            "https://example.com/path?q=1.jpg",   # kept (ext in query)
            "https://x@blocked.net/page",         # userinfo must not
            "https://u:p@ok.example.com/fine",    # ...bypass the block
            None]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               "id long, url string")
    out = filter_urls(df, block_domains=("blocked.net",))
    got = {r.id: r.url_host for r in out.collect()}
    assert got == {4: "example.com", 5: "notblocked.net",
                   6: "example.com", 8: "ok.example.com"}
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in phys


def test_chunk_documents_matches_python_reference_model(spark):
    """200 seeded random docs vs a pure-Python reference model:
    chunk count formula, window contents, and final-window anchoring
    must match exactly for several (chunk_size, overlap) shapes."""
    import random

    from json_schema_spark.textops.textanalysis import chunk_documents

    rng = random.Random(42)
    docs = [(i, " ".join(f"w{rng.randrange(50)}"
                         for _ in range(rng.randrange(0, 40))))
            for i in range(200)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def model(text, size, ov):
        toks = text.split() if text.strip() else []
        n, stride = len(toks), size - ov
        if n == 0:
            return {}
        k = 1 if n <= size else -(-(n - size) // stride) + 1
        return {c: " ".join(toks[c * stride:c * stride + size])
                for c in range(k)}

    for size, ov in ((4, 1), (8, 3), (5, 0)):
        got = {}
        for r in chunk_documents(df, chunk_size=size,
                                 overlap=ov).collect():
            got.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text
        want = {i: model(t, size, ov) for i, t in docs
                if model(t, size, ov)}
        assert got == want, (size, ov)


def test_dedup_lines_in_doc_matches_python_reference_model(spark):
    """200 seeded random multi-line docs vs a keep-first reference
    model; also idempotence (a cleaned doc is a fixed point)."""
    import random

    from json_schema_spark.textops.textanalysis import dedup_lines_in_doc

    rng = random.Random(7)
    lines_pool = ["alpha", " alpha ", "beta", "", "  ", "gamma x",
                  "Alpha", "beta  "]
    docs = [(i, "\n".join(rng.choice(lines_pool)
                          for _ in range(rng.randrange(0, 12))))
            for i in range(200)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def model(text):
        seen, out = set(), []
        for ln in text.split("\n"):
            t = ln.strip()
            if t == "" or t not in seen:
                out.append(ln)
                seen.add(t)
        return "\n".join(out)

    got = {r.doc_id: r.text_clean
           for r in dedup_lines_in_doc(df).collect()}
    assert got == {i: model(t) for i, t in docs}
    # idempotence: cleaning the cleaned text changes nothing
    df2 = spark.createDataFrame(list(got.items()),
                                "doc_id long, text string")
    got2 = {r.doc_id: r.text_clean
            for r in dedup_lines_in_doc(df2).collect()}
    assert got2 == got


def test_take_per_stratum_exact_counts_and_determinism(spark):
    """Exactly n per stratum (fewer when the stratum is smaller),
    selection stable across calls and partitioning."""
    from json_schema_spark.textops.sampling import take_per_stratum

    rows = [(i, "big") for i in range(50)] + [(100, "tiny"), (101, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = take_per_stratum(df, 5, "lang")
    per = {r.lang: r.n for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per == {"big": 5, "tiny": 2}
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in
               take_per_stratum(df.repartition(7), 5, "lang").collect())
    assert a == b
    with pytest.raises(ValueError):
        take_per_stratum(df, 0, "lang")


def test_perplexity_split_terciles_per_language(spark):
    """Equal-rank terciles inside each language: bucket sizes differ by
    at most one, head holds the lowest scores, all docs bucketed."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.textanalysis import perplexity_split

    rows = []
    for i in range(30):
        # common words -> fluent; rare ids -> high neg-logprob
        text = "the the the" if i % 3 == 0 else f"rare{i} rare{i} odd{i}"
        rows.append((i, text, "en" if i < 20 else "de"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = perplexity_split(df).collect()
    release_caches()
    assert len(out) == 30
    for lang, n in (("en", 20), ("de", 10)):
        sub = sorted((r.avg_neg_logprob, r.doc_id, r.ppl_bucket)
                     for r in out if r.lang == lang)
        counts = {b: sum(1 for _, _, x in sub if x == b)
                  for b in ("head", "middle", "tail")}
        assert max(counts.values()) - min(counts.values()) <= 1, counts
        # buckets are contiguous in score order
        order = [x for _, _, x in sub]
        assert order == sorted(order, key=("head", "middle",
                                           "tail").index)


def test_html_extraction_semantics(spark):
    """Script/style subtrees vanish, tags strip, entities decode with
    &amp; last (double-encoded survives single decode), only
    double-quoted hrefs harvest, in order — all zero-shuffle."""
    from json_schema_spark.textops.html import html_to_text

    html = ('<html><head><title>T</title><style>p{x:1}</style></head>'
            '<body><p>A &amp; B &lt;i&gt;</p>'
            '<script>var s = "<b>hidden</b>";</script>'
            '<a href="https://a.com/1">one</a>'
            "<a href='https://sq.com'>sq</a>"
            '<a href="https://b.com/2">two</a>'
            '&amp;lt;raw&amp;gt;</body></html>')
    df = spark.createDataFrame([(1, html)], "id long, html string")
    out = html_to_text(df)
    r = out.first()
    assert r.text_extracted == "T A & B <i> one sq two &lt;raw&gt;"
    assert r.links == ["https://a.com/1", "https://b.com/2"]
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in phys


def test_link_graph_host_semantics(spark):
    """Hosts lowercase; userinfo skipped (blocklist-bypass guard);
    ports excluded; relative links and non-http schemes drop; repeated
    outlinks aggregate. One explode + one hash aggregate."""
    from json_schema_spark.textops.html import link_graph

    html = ('<a href="https://WWW.Example.COM/p">a</a>'
            '<a href="https://u:p@evil.example.net:8443/x">b</a>'
            '<a href="/relative/only">c</a>'
            '<a href="ftp://files.example.com/f">d</a>'
            '<a href="http://www.example.com/q?z=1">e</a>'
            '<a href="https://a@b@evil.example.net/y">f</a>')
    df = spark.createDataFrame([("src.com", html)],
                               "src_host string, html string")
    edges = {(r.src_host, r.dst_host): r.n_links
             for r in link_graph(df).collect()}
    # the double-@ authority resolves to the host after the LAST @
    # (WHATWG), never "b@evil.example.net"
    assert edges == {("src.com", "www.example.com"): 2,
                     ("src.com", "evil.example.net"): 2}


def test_cap_per_group_salted_matches_plain(docs):
    """The two-phase skew-safe path must be output-identical to the
    plain window: every global top-n row wins its shard first."""
    from json_schema_spark.textops.sampling import cap_per_group
    from json_schema_spark.textops.textanalysis import quality_score

    scored = (docs.filter(F.col("text").isNotNull())
              .withColumn("grp", (F.col("doc_id") % 7).cast("int"))
              .withColumn("q", quality_score(F.col("text"))))
    order = [F.col("q").desc(), F.col("doc_id")]
    plain = {(r.doc_id, r.rank_in_group)
             for r in cap_per_group(scored, "grp", 5, order).collect()}
    salted = {(r.doc_id, r.rank_in_group)
              for r in cap_per_group(scored, "grp", 5, order,
                                     salt_shards=3).collect()}
    assert plain == salted and len(plain) == 35

    with pytest.raises(ValueError):
        cap_per_group(scored, "grp", 0, order)


def test_corpus_overlap_bounds_and_identity(spark):
    """A group compared against an identical shingle set estimates
    jaccard 1.0; disjoint sets estimate 0.0; estimates stay in
    [0, 1]."""
    from json_schema_spark.textops.dedup import corpus_overlap

    rows = [("a", "one two three four five six"),
            ("b", "one two three four five six"),
            ("c", "seven eight nine ten eleven twelve")]
    df = spark.createDataFrame(rows, "lang string, text string")
    est = {(r.group_a, r.group_b): r.jaccard_est
           for r in corpus_overlap(df, num_hashes=16).collect()}
    assert est[("a", "b")] == 1.0
    assert est[("a", "c")] == 0.0 and est[("b", "c")] == 0.0


def test_dsir_weights_prefer_target_like_docs(spark):
    """Docs made of target-corpus tokens must outscore docs of
    raw-only tokens, and every corpus token is scored (n_tokens)."""
    from json_schema_spark.textops.textanalysis import dsir_select, \
        dsir_weights

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "zork quux blorp"),
         (3, "alpha beta zork")],
        "doc_id long, text string")
    target = spark.createDataFrame(
        [(10, "alpha beta alpha beta gamma")], "tid long, text string")
    w = {r.doc_id: (r.n_tokens, r.avg_log_ratio)
         for r in dsir_weights(corpus, target).collect()}
    assert w[1][0] == 3 and w[2][0] == 3
    assert w[1][1] > w[3][1] > w[2][1]
    top = dsir_select(corpus, target, n=2).collect()
    assert [r.doc_id for r in top] == [1, 3]
    assert [r.rank for r in top] == [1, 2]


def test_tfidf_topk_ranking_and_boundary(spark):
    """Ubiquitous terms (df = n_docs) rank below rare ones; the
    k-boundary tie-breaks on term asc; scores replay as
    tf * ln((n+1)/(df+1))."""
    import math

    from json_schema_spark.textops.textanalysis import tfidf_topk

    corpus = spark.createDataFrame(
        [(1, "common rare1 rare1 common"), (2, "common rare2"),
         (3, "common zebra apple")],
        "doc_id long, text string")
    out = tfidf_topk(corpus, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    d1 = sorted(by_doc[1], key=lambda r: r.rank)
    assert d1[0].term == "rare1" and d1[0].tf == 2 and d1[0].df_t == 1
    assert d1[0].score == round(2 * math.log(4 / 2), 6)
    # doc 3: zebra/apple tie on (tf=1, df=1) -> term asc breaks it
    d3 = sorted(by_doc[3], key=lambda r: r.rank)
    assert [r.term for r in d3] == ["apple", "zebra"]
    # 'common' appears in every doc: idf = ln(4/4) = 0 -> it can only
    # surface where a doc has fewer than k other terms (doc 2), and
    # never outranks a rarer term
    for r in out:
        if r.term == "common":
            assert r.rank == 2 and r.score == 0.0


def test_dedup_paragraphs_first_occurrence_wins(spark):
    """Exactly one instance of a repeated paragraph survives, at the
    smallest (doc, pos); survivors reassemble in original order;
    whitespace-variant repeats hash together (normalized digest)."""
    from json_schema_spark.textops.textanalysis import \
        dedup_paragraphs_global

    rows = [(1, "unique one\nSHARED para\nunique two"),
            (2, "shared  PARA\nonly in two"),     # normalized dup
            (3, "SHARED para"),                    # fully duplicate
            (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_paragraphs_global(df).collect()}
    assert out[1].text_clean == "unique one\nSHARED para\nunique two"
    assert (out[1].n_paragraphs, out[1].n_kept) == (3, 3)
    assert out[2].text_clean == "only in two"
    assert (out[2].n_paragraphs, out[2].n_kept) == (2, 1)
    assert out[3].text_clean == "" and out[3].n_kept == 0
    assert 4 not in out  # NULL text drops out


def test_encoding_artifacts_fix_and_count(spark):
    """Mojibake keys are the cp1252 rendering of the intended chars'
    utf-8 bytes (correct by construction); fixing restores them and
    the count reflects the original text."""
    from json_schema_spark.textops.textanalysis import (MOJIBAKE_MAP,
                                                        encoding_artifacts)

    for bad, good in MOJIBAKE_MAP:
        if good not in ("'", '"', " "):  # ASCII/space-folded forms
            assert bad == good.encode("utf-8").decode("cp1252")
    key = {g: b for b, g in MOJIBAKE_MAP}
    text = "caf" + key["é"] + " don" + key["'"] + "t stop" + key["…"]
    df = spark.createDataFrame([(1, text), (2, "clean text")],
                               "doc_id long, text string")
    out = {r.doc_id: r for r in encoding_artifacts(df).collect()}
    assert out[1].text_fixed == "café don't stop…"
    assert out[1].n_artifacts == 3
    assert out[2].text_fixed == "clean text"
    assert out[2].n_artifacts == 0


def test_minhash_index_probe_roundtrip(docs, spark, tmp_path):
    """The LSH index survives a parquet write/read (the incremental
    contract: crawl N persists, crawl N+1 probes); perturbed variants
    of indexed docs hit their sources, novel docs survive
    novel_vs_index."""
    from json_schema_spark.textops.dedup import (build_minhash_index,
                                                 novel_vs_index,
                                                 probe_minhash_index)

    base = docs.select("doc_id", "text")
    path = str(tmp_path / "lsh_index")
    build_minhash_index(base).write.parquet(path)
    index = spark.read.parquet(path)

    near = (base.filter((F.col("doc_id") < 10)
                        & F.col("text").isNotNull())
            .select((F.col("doc_id") + 900000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" zz"))
                    .alias("text")))
    fresh = spark.createDataFrame(
        [(990001, "wholly unrelated zastrugi quux blorp fnord")],
        "doc_id long, text string")
    new = near.unionByName(fresh)

    hits = {(r.doc_id, r.index_id)
            for r in probe_minhash_index(new, index).collect()}
    near_ids = [r.doc_id for r in near.select("doc_id").collect()]
    # every perturbed doc must hit at least its own source
    assert all((i, i - 900000) in hits for i in near_ids)
    novel = {r.doc_id for r in
             novel_vs_index(new, index).select("doc_id").collect()}
    assert 990001 in novel
    assert not any(i in novel for i in near_ids)


def test_bm25_ranking_semantics(spark):
    """A doc matching both query terms outranks single-term docs; a
    shorter doc outranks a longer one at equal tf (length
    normalization); non-matching docs are absent; score replays the
    Okapi formula."""
    import math

    from json_schema_spark.textops.textanalysis import bm25_topk

    corpus = spark.createDataFrame(
        [(1, "spark engine spark"),              # tf(spark)=2, dl=3
         (2, "spark engine padding words here"),  # tf=1, dl=5
         (3, "spark core"),                       # tf=1, dl=2
         (4, "engine only document text"),        # tf(engine)=1
         (5, "nothing relevant at all")],
        "doc_id long, text string")
    out = bm25_topk(corpus, ["spark", "engine"], k=5)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    ids = [r.doc_id for r in rows]
    assert 5 not in ids
    assert ids[0] == 1                      # both terms, tf(spark)=2
    # length normalization: docs 3 and 4 match one term each at tf=1
    # with EQUAL df (spark in {1,2,3}, engine in {1,2,4} -> idf ties),
    # so ranking between them is purely dl: 2 beats 4
    assert ids.index(3) < ids.index(4)
    # replay doc 3's score: one term, tf=1, dl=2
    N, avgdl = 5, (3 + 5 + 2 + 4 + 4) / 5
    idf = math.log(1 + (N - 3 + 0.5) / (3 + 0.5))  # df(spark)=3
    s3 = idf * 1 / (1 + 1.2 * (1 - 0.75 + 0.75 * 2 / avgdl))
    got3 = [r.score for r in rows if r.doc_id == 3][0]
    assert got3 == round(s3, 6)

    with pytest.raises(ValueError):
        bm25_topk(corpus, [])


def test_pagerank_fixed_point_semantics(spark):
    """Known tiny graph: a hub with two in-links outranks its
    spokes; total mass never exceeds n_nodes * scale (floor only
    removes mass); dangling nodes keep the base rank; results are
    identical across different shuffle partitionings (integer sums
    are order-independent)."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.graph import PR_SCALE, pagerank

    edges = spark.createDataFrame(
        [("b", "a"), ("c", "a"), ("a", "b")],
        "src_host string, dst_host string")
    try:
        out = {r.node: r.rank for r in pagerank(edges).collect()}
        release_caches()
        assert set(out) == {"a", "b", "c"}
        assert out["a"] > out["b"] > out["c"]
        assert out["c"] == (PR_SCALE * 15) // 100  # dangling-in only
        assert sum(out.values()) <= 3 * PR_SCALE
        prior = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            out2 = {r.node: r.rank for r in pagerank(edges).collect()}
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prior)
        assert out2 == out
    finally:
        release_caches()


def test_bigram_logprob_word_salad(spark):
    """Repeated natural transitions score LOWER (more probable) than
    shuffled word salad over the same vocabulary; single-token and
    NULL docs absent; hand-checked value on a tiny corpus."""
    import math

    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.textanalysis import bigram_logprob

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat sat"), (3, "sat the cat"),
         (4, "solo"), (5, None)],
        "doc_id long, text string")
    try:
        got = {r.doc_id: r for r in bigram_logprob(df).collect()}
    finally:
        release_caches()
    assert set(got) == {1, 2, 3}
    assert got[1].n_bigrams == 2
    # corpus: tokens the x3, cat x3, sat x3, solo x1 -> V=4.
    # c(the,cat)=3 (docs 1,2 AND 3), c(cat,sat)=2; c_v(the)=3,
    # c_v(cat)=3 -> doc1 mean = (ln(7/4) + ln(7/3)) / 2
    want = round((math.log(7.0 / 4.0) + math.log(7.0 / 3.0)) / 2, 6)
    assert abs(got[1].avg_neg_logprob - want) < 1e-6
    assert got[1].avg_neg_logprob == got[2].avg_neg_logprob
    # salad doc 3: (sat,the) c=1, (the,cat) c=2 -> mixes a rarer
    # transition -> scores HIGHER than the repeated natural order
    assert got[3].avg_neg_logprob > got[1].avg_neg_logprob


def test_robots_compliance(spark):
    """Violation fractions per host: disallowed fetches counted,
    allow carve-outs and unmatched paths are compliant, hosts with no
    rules are fully compliant."""
    from json_schema_spark.textops.robots import robots_compliance

    robots = spark.createDataFrame(
        [("a.ex", "User-agent: *\nDisallow: /private/\n"
                  "Allow: /private/ok\n"),
         ("b.ex", "User-agent: *\nDisallow:\n")],
        "host string, robots_txt string")
    urls = spark.createDataFrame(
        [("https://a.ex/private/x",), ("https://a.ex/private/ok/y",),
         ("https://a.ex/open",), ("https://a.ex/private/z",),
         ("https://b.ex/anything",), ("https://c.ex/no-robots",)],
        "url string")
    got = {r.host: r for r in
           robots_compliance(urls, robots).collect()}
    a = got["a.ex"]
    assert (a.n_urls, a.n_disallowed, a.violation_frac) == (4, 2, 0.5)
    assert got["b.ex"].n_disallowed == 0
    assert got["c.ex"].violation_frac == 0.0


def test_mean_pool_embeddings(spark):
    """Element-wise mean per group matches the hand computation to
    the 1/scale quantization; identical across shuffle partitionings
    (scaled-integer sums are order-independent); NULL vectors drop;
    n_vecs counts pooled members."""
    from json_schema_spark.textops.similarity import (
        mean_pool_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, -3.0]), (1, [2.0, 4.0, 5.0]),
         (2, [0.5, 0.25, 0.125]), (2, None)],
        "doc_id long, embedding array<double>")
    got = {r.doc_id: r for r in mean_pool_embeddings(df).collect()}
    assert got[1].embedding == [1.5, 3.0, 1.0]
    assert got[1].n_vecs == 2
    assert got[2].embedding == [0.5, 0.25, 0.125]
    assert got[2].n_vecs == 1
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        got2 = {r.doc_id: r.embedding
                for r in mean_pool_embeddings(df).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    assert got2 == {k: r.embedding for k, r in got.items()}


def test_sitemap_coverage(spark):
    """Tracking-param crawl variants still count as covered
    (normalize_url both sides); per-host declared dedupe; hosts with
    nothing crawled get 0/0.0."""
    from json_schema_spark.textops.robots import sitemap_coverage

    sm = spark.createDataFrame(
        [("a.ex", "https://a.ex/p1"), ("a.ex", "https://a.ex/p2"),
         ("a.ex", "https://a.ex/p1"),       # duplicate declaration
         ("a.ex", None),                    # NULL loc must not count
         (None, "https://x.ex/n"),          # NULL host drops
         ("b.ex", "https://b.ex/q1")],
        "host string, loc string")
    crawled = spark.createDataFrame(
        [("https://a.ex/p1?utm_source=x",),   # normalizes to p1
         ("https://other.ex/z",)],
        "url string")
    got = {r.host: r for r in sitemap_coverage(sm, crawled).collect()}
    a = got["a.ex"]
    assert (a.n_declared, a.n_crawled, a.coverage_frac) == (2, 1, 0.5)
    b = got["b.ex"]
    assert (b.n_declared, b.n_crawled, b.coverage_frac) == (1, 0, 0.0)


def test_lang_agreement(spark):
    """Primary-subtag comparison (en-US -> en), disagreement counted,
    undeclared pages excluded from the denominator, NULL frac when
    nothing declares."""
    from json_schema_spark.textops.textanalysis import lang_agreement

    en = "the cat is in the house and it is for that"
    fr = "le chat est dans la maison et il est pour que"
    df = spark.createDataFrame(
        [("https://a.ex/1", '<html lang="en"><body>x</body></html>', en),
         ("https://a.ex/2", '<html lang="EN-us"><body></body></html>',
          fr),                                    # declared en, det fr
         ("https://a.ex/3", "<html><body>x</body></html>", en),
         ("https://b.ex/1", "<html><body>x</body></html>", en)],
        "url string, html string, text string")
    got = {r.host: r for r in lang_agreement(df).collect()}
    a = got["a.ex"]
    assert (a.n_docs, a.n_declared, a.n_agree) == (3, 2, 1)
    assert a.agree_frac == 0.5
    b = got["b.ex"]
    assert b.n_declared == 0 and b.agree_frac is None


def test_quantized_cosine_tracks_exact(spark):
    """Int8 quantization: qvec values within [-127, 127], zero vector
    gets scale 0 and sim 0, and the quantized cosine estimate tracks
    exact cosine within 1e-2 on deterministic pseudo-random vectors
    (top-1 neighbor agrees); broadcast guard raises."""
    import math

    from json_schema_spark.textops.similarity import (
        cosine_topk_quantized,
        quantize_embeddings,
    )

    def vec(seed, dim=16):
        out = []
        for j in range(dim):
            h = int(hashlib.md5(f"{seed}:{j}".encode())
                    .hexdigest()[:6], 16)
            out.append((h % 2001 - 1000) / 500.0)
        return out

    rows = [(i, vec(i)) for i in range(30)] + [(99, [0.0] * 16)]
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<double>")
    qz = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    assert qz[99].scale == 0.0 and set(qz[99].qvec) == {0}
    assert all(-127 <= v <= 127 for r in qz.values() for v in r.qvec)

    got = cosine_topk_quantized(df.filter(F.col("vec_id") < 3), df,
                                k=3).collect()

    def exact_cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    vecs = dict(rows)
    for r in got:
        ref = exact_cos(vecs[r.query_id], vecs[r.neighbor_id])
        assert abs(r.cosine_sim - ref) < 1e-2, (r, ref)
    # top-1 agreement with the exact ranking
    for qid in range(3):
        best_exact = max(
            (i for i, _ in rows if i != qid),
            key=lambda i: exact_cos(vecs[qid], vecs[i]))
        best_q = next(r.neighbor_id for r in got
                      if r.query_id == qid and r.rank == 1)
        assert best_q == best_exact, qid
    with pytest.raises(ValueError):
        cosine_topk_quantized(df, df, max_broadcast_queries=5)


def test_wordlist_filter(spark):
    """Whole-token matching (no substring false positives),
    case-insensitive, exact hit counts, max_hits budget, custom
    lists, NULL text propagates NULL verdict."""
    from json_schema_spark.textops.textanalysis import wordlist_filter

    df = spark.createDataFrame(
        [(1, "play CASINO jackpot now"),
         (2, "classics and viagrafree prose"),   # substrings only
         (3, "clean text entirely"),
         (4, None)],
        "doc_id long, text string")
    got = {r.doc_id: r for r in wordlist_filter(df).collect()}
    assert (got[1].n_blocked, got[1].kept) == (2, False)
    assert (got[2].n_blocked, got[2].kept) == (0, True)
    assert got[3].kept
    assert got[4].kept is None and got[4].n_blocked is None
    lax = {r.doc_id: r.kept
           for r in wordlist_filter(df, max_hits=2).collect()}
    assert lax[1] is True
    custom = {r.doc_id: r.n_blocked
              for r in wordlist_filter(df, words=("prose",)).collect()}
    assert custom[2] == 1
    with pytest.raises(ValueError):
        wordlist_filter(df, words=())


def test_clean_unicode(spark):
    """NFC composes decomposed sequences (digest-identical after),
    zero-widths/BOM/soft-hyphen strip with exact counts, C0 controls
    strip, ligatures survive (NFC not NFKC), NULL propagates."""
    from json_schema_spark.textops.textanalysis import clean_unicode

    df = spark.createDataFrame(
        [(0, "Café menu"),          # decomposed -> composed
         (1, "x​y‌z﻿"),    # 3 invisibles
         (2, "ctl\x01\x02ok\ttab\nnl"),   # \t \n survive
         (3, "ﬁle"),                  # ligature preserved
         (4, None)],
        "doc_id long, text string")
    got = {r.doc_id: r for r in clean_unicode(df).collect()}
    assert got[0].text == "Café menu"
    assert (got[0].n_zero_width, got[0].n_control) == (0, 0)
    assert got[1].text == "xyz"
    assert got[1].n_zero_width == 3
    assert got[2].text == "ctlok\ttab\nnl"
    assert got[2].n_control == 2
    assert got[3].text == "ﬁle"
    assert got[4].text is None and got[4].n_control is None


def test_degree_stats_reciprocity(spark):
    """Known graph: a farm with 3 outlinks and no inlinks, a mutual
    pair (reciprocal both ways), a sink with inlinks only; parallel
    edges collapse; missing sides are 0."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.graph import degree_stats

    edges = spark.createDataFrame(
        [("farm", "a"), ("farm", "b"), ("farm", "sink"),
         ("farm", "a"),                      # parallel edge collapses
         ("a", "b"), ("b", "a"),             # mutual pair
         ("b", "sink")],
        "src_host string, dst_host string")
    try:
        got = {r.node: (r.out_deg, r.in_deg, r.n_reciprocal)
               for r in degree_stats(edges).collect()}
    finally:
        release_caches()
    assert got == {
        "farm": (3, 0, 0),
        "a": (1, 2, 1),
        "b": (2, 2, 1),
        "sink": (0, 2, 0),
    }


def test_collapse_by_canonical(spark):
    """Pages declaring the same canonical target collapse; the
    canonical page itself survives over lexicographically smaller
    permutations; relative or absent declarations keep the page's own
    URL; declared targets are normalized (fragment/case/port)."""
    from json_schema_spark.textops.html import collapse_by_canonical

    def page(url, canon=None):
        d = f'<link rel="canonical" href="{canon}">' if canon else ""
        return (url, f"<html><head>{d}</head><body>b</body></html>")

    rows = [
        page("https://s.ex.com/a?v=1", "https://s.ex.com/a"),
        page("https://s.ex.com/a?v=2", "HTTPS://S.EX.COM:443/a#x"),
        page("https://s.ex.com/a"),          # canonical page, no decl
        # declared target never crawled -> permutation survives
        page("https://s.ex.com/b?v=9", "https://s.ex.com/b"),
        page("https://s.ex.com/c", "/relative"),
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    got = {r.canonical_url: r for r in
           collapse_by_canonical(df).collect()}
    a = got["https://s.ex.com/a"]
    # 'https://s.ex.com/a' < 'https://s.ex.com/a?v=1' lexicographically
    # — the (is_not_self, url) struct makes the self page win anyway
    assert (a.url, a.n_pages) == ("https://s.ex.com/a", 3)
    b = got["https://s.ex.com/b"]
    assert (b.url, b.n_pages) == ("https://s.ex.com/b?v=9", 1)
    assert got["https://s.ex.com/c"].n_pages == 1
    assert len(got) == 3


def test_expand_frontier_composition(spark):
    """End-to-end frontier hop: outlinks extracted and canonicalized,
    policy + robots gates applied, seen URLs dropped, result batched
    per host; deterministic across reruns."""
    from json_schema_spark.textops.frontier import expand_frontier

    html = ('<a href="https://A.ex.com/new1#frag">x</a>'
            '<a href="https://a.ex.com/new1">dup-after-normalize</a>'
            '<a href="https://a.ex.com/private/p">robots-blocked</a>'
            '<a href="https://a.ex.com/old">seen</a>'
            '<a href="https://blocked.net/x">policy-blocked</a>'
            '<a href="https://a.ex.com/img.png">asset</a>'
            '<a href="/relative">skipped</a>'
            '<a href="https://b.ex.com/fresh">kept</a>')
    crawled = spark.createDataFrame([(html,), (None,)], "html string")
    robots = spark.createDataFrame(
        [("a.ex.com", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string")
    seen = spark.createDataFrame([("https://a.ex.com/old",)],
                                 "url string")
    out = expand_frontier(crawled, robots=robots, seen=seen,
                          block_domains=("blocked.net",), per_host=1)
    rows = sorted((r.url, r.host, r.batch) for r in out.collect())
    assert rows == [
        ("https://a.ex.com/new1", "a.ex.com", 0),
        ("https://b.ex.com/fresh", "b.ex.com", 0),
    ]
    rows2 = sorted((r.url, r.host, r.batch) for r in expand_frontier(
        crawled, robots=robots, seen=seen,
        block_domains=("blocked.net",), per_host=1).collect())
    assert rows2 == rows


def test_registered_domain_reference_parity(spark):
    """200 md5-seeded pseudo-random hosts (0-3 subdomain labels,
    single- and multi-label TLDs, mixed case, single-label hosts)
    against a pure-Python mirror of the rule — one Spark job."""
    from json_schema_spark.textops.urls import (
        MULTI_SUFFIXES,
        registered_domain,
    )

    tlds = ["com", "org", "co.uk", "com.au", "ac.jp", "net", "io"]
    hosts = []
    for i in range(200):
        h = int(hashlib.md5(f"rd{i}".encode()).hexdigest()[:8], 16)
        labels = [f"l{(h >> (4 * j)) % 13}" for j in range(h % 4)]
        host = ".".join(labels + [tlds[h % len(tlds)]])
        if h % 17 == 0:
            host = host.upper()
        if h % 23 == 0:
            host = "single"
        hosts.append(host)
    multi = set(MULTI_SUFFIXES)

    def ref(host: str) -> str:
        hl = host.lower()
        ls = hl.split(".")
        if len(ls) >= 3:
            last2 = ".".join(ls[-2:])
            return ".".join(ls[-3:]) if last2 in multi else last2
        if len(ls) == 2:
            return ".".join(ls)
        return hl

    df = spark.createDataFrame([(x,) for x in hosts], "host string")
    got = df.select("host",
                    registered_domain(F.col("host")).alias("d")) \
        .collect()
    for r in got:
        assert r.d == ref(r.host), r.host


def test_parse_warc_roundtrip_many(spark):
    """Assemble 90 records with varying header presence and payloads
    into one WARC file, parse, and match every record back by URI."""
    from json_schema_spark.sources.warc import parse_warc

    parts, want = [], {}
    for i in range(90):
        uri = f"https://r.ex.com/{i}"
        payload = f"payload {i} alpha beta" if i % 4 else ""
        hdrs = [f"WARC-Type: t{i % 5}", f"WARC-Target-URI: {uri}"]
        if i % 3 == 0:
            hdrs.append("Content-Type: text/plain")
        parts.append("WARC/1.0\n" + "\n".join(hdrs) + "\n\n"
                     + payload + "\n\n")
        want[uri] = (f"t{i % 5}",
                     "text/plain" if i % 3 == 0 else None, payload)
    df = spark.createDataFrame([("".join(parts),)], "warc string")
    rows = parse_warc(df).collect()
    assert len(rows) == 90
    for r in rows:
        wt, ct, pl = want[r.target_uri]
        assert (r.warc_type, r.content_type, r.payload) == (wt, ct, pl)


def test_mirror_hosts_detection(spark):
    """A host republishing another's docs verbatim is reported as an
    unordered host pair with the shared-pair count; same-host dup
    pairs are excluded; sub-threshold cross-host similarity does not
    pair; min_shared filters sparse pairs."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.dedup import mirror_hosts

    base = ("the quick brown fox jumps over the lazy dog again and "
            "again in this long enough text")
    rows = []
    for i in range(5):
        t = base + f" unique tail {i} with several more varying words"
        rows.append((i, f"https://a.ex.com/{i}", t))
        rows.append((100 + i, f"https://b.ex.net/{i}", t))  # mirror
    rows.append((200, "https://a.ex.com/d1", base + " same host copy"))
    rows.append((201, "https://a.ex.com/d2", base + " same host copy"))
    df = spark.createDataFrame(rows,
                               "doc_id long, url string, text string")
    try:
        got = mirror_hosts(df, threshold=0.8, min_shared=3).collect()
    finally:
        release_caches()
    assert [(r.host_a, r.host_b, r.n_shared) for r in got] == \
        [("a.ex.com", "b.ex.net", 5)]


def test_parse_warc_records(spark):
    """WARC-lite splitting: CRLF and LF records, header-only records
    (no blank-line separator -> empty payload), headers read from the
    header BLOCK only (payload cannot spoof), absent headers NULL,
    trailing record separators trimmed, NULL docs drop."""
    from json_schema_spark.sources.warc import parse_warc

    warc = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        "WARC-Target-URI: https://ex.com/a\r\n"
        "WARC-Date: 2026-01-02T03:04:05Z\r\n"
        "Content-Type: text/html\r\n"
        "\r\n"
        "<html>body says WARC-Type: fake</html>\r\n\r\n"
        "WARC/1.0\n"
        "WARC-Type: metadata\n"
        "\n"
        "{\"k\": 1}\n\n"
        "WARC/1.0\n"
        "WARC-Type: warcinfo\n")
    df = spark.createDataFrame([(warc,), (None,)], "warc string")
    rows = sorted(parse_warc(df).collect(), key=lambda r: r.warc_type)
    assert [r.warc_type for r in rows] == ["metadata", "response",
                                           "warcinfo"]
    resp = rows[1]
    assert resp.target_uri == "https://ex.com/a"
    assert resp.warc_date == "2026-01-02T03:04:05Z"
    assert resp.content_type == "text/html"
    assert resp.payload == "<html>body says WARC-Type: fake</html>"
    meta = rows[0]
    assert meta.target_uri is None and meta.payload == '{"k": 1}'
    info = rows[2]
    assert info.payload == "" and info.content_type is None


def test_crawl_delays_group_semantics(spark):
    """Group scoping: specific-agent delay shadows '*'; last
    declaration in a group wins; non-numeric drops; max across
    applicable groups; hosts without an applicable delay absent."""
    from json_schema_spark.textops.robots import crawl_delays

    shadowed = ("User-agent: *\nCrawl-delay: 10\nDisallow: /x\n"
                "\nUser-agent: MyBot\nCrawl-delay: 0.5\n")
    lastwins = ("User-agent: *\nCrawl-delay: 2\nCrawl-delay: 7\n"
                "Disallow: /\n")
    badval = "User-agent: *\nCrawl-delay: soon\nDisallow: /x\n"
    nodelay = "User-agent: *\nDisallow: /x\n"
    twostars = ("User-agent: *\nCrawl-delay: 1\n\n"
                "User-agent: *\nCrawl-delay: 4\n")
    # a MyBot group WITHOUT a delay still shadows the '*' delay —
    # "MyBot's directives are exactly these" (robots_filter parity)
    shadow_nodelay = ("User-agent: *\nCrawl-delay: 10\n\n"
                      "User-agent: MyBot\nDisallow: /x\n")
    df = spark.createDataFrame(
        [("a.com", shadowed), ("b.com", lastwins), ("c.com", badval),
         ("d.com", nodelay), ("e.com", twostars),
         ("f.com", shadow_nodelay)],
        "host string, robots_txt string")
    got = {r.host: r.crawl_delay
           for r in crawl_delays(df, agent="MyBot").collect()}
    assert got == {"a.com": 0.5, "b.com": 7.0, "e.com": 4.0}
    # star agent: no shadowing, a.com/f.com keep the '*' group's 10
    got_star = {r.host: r.crawl_delay
                for r in crawl_delays(df).collect()}
    assert got_star["a.com"] == 10.0
    assert got_star["f.com"] == 10.0


def test_fetch_batches_politeness(spark):
    """No host exceeds per_host URLs in any batch; batches are dense
    (0..ceil(n/per_host)-1 per host); assignment is deterministic
    across partitionings; explicit host_col skips extraction."""
    from json_schema_spark.textops.robots import fetch_batches

    urls = [(f"https://a.ex.com/{i}",) for i in range(7)] \
        + [(f"https://b.ex.com/{i}",) for i in range(2)] \
        + [("not-a-url",)]   # hostless: kept, host NULL, batch 0
    df = spark.createDataFrame(urls, "url string")
    rows = fetch_batches(df, per_host=3).collect()
    assert len(rows) == 10
    hostless = [r for r in rows if r.host is None]
    assert len(hostless) == 1 and hostless[0].batch == 0
    rows = [r for r in rows if r.host is not None]
    per = {}
    for r in rows:
        per.setdefault((r.host, r.batch), 0)
        per[(r.host, r.batch)] += 1
    assert all(v <= 3 for v in per.values())
    assert sorted(b for (h, b) in per if h == "a.ex.com") == [0, 1, 2]
    assert sorted(b for (h, b) in per if h == "b.ex.com") == [0]
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        rows2 = [r for r in fetch_batches(df, per_host=3).collect()
                 if r.host is not None]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    assert sorted(map(tuple, rows2)) == sorted(map(tuple, rows))
    hosted = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h1")], "url string, host string")
    got = fetch_batches(hosted, host_col="host", per_host=1).collect()
    assert sorted(r.batch for r in got) == [0, 1]
    with pytest.raises(ValueError):
        fetch_batches(df, per_host=0)
    with pytest.raises(ValueError):
        # pre-existing 'host' column must be named, never clobbered
        fetch_batches(hosted, per_host=1)


def test_soft404_flags(spark):
    """Phrase battery + length gate: a short error page flags, a long
    article quoting an error phrase does not, clean text and empty
    text do not; phrase hits count individually."""
    from json_schema_spark.textops.textanalysis import soft404_flags

    long_quote = ("discussion of page not found pages "
                  + "filler " * 100)
    df = spark.createDataFrame(
        [(1, "Sorry — the page you requested could not be found. "
             "Error 404."),
         (2, long_quote),
         (3, "perfectly normal document text"),
         (4, None),
         (5, "ACCESS DENIED")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in soft404_flags(df).collect()}
    assert got[1].n_error_phrases == 3 and got[1].is_soft404
    assert got[2].n_error_phrases == 1 and not got[2].is_soft404
    assert got[3].n_error_phrases == 0 and not got[3].is_soft404
    assert got[4].n_chars == 0 and not got[4].is_soft404
    assert got[5].is_soft404  # case-insensitive


def test_recrawl_schedule_tiers(spark):
    """Host churn classification: full churn -> daily, 1/3 churn ->
    weekly, static -> stable; one-sided URLs count as added/removed
    but not churn; a host present only in new has no common URLs ->
    tier 'new'."""
    from json_schema_spark.textops.dedup import recrawl_schedule

    old = spark.createDataFrame(
        [(f"https://hot.ex.com/{i}", f"v1 {i}") for i in range(4)]
        + [(f"https://warm.ex.com/{i}", f"v1 {i}") for i in range(6)]
        # refetch-log duplicate: must collapse, not fan the join out
        + [("https://warm.ex.com/0", "v0 again")]
        + [(f"https://cold.ex.com/{i}", f"v1 {i}") for i in range(3)]
        + [("https://cold.ex.com/gone", "bye")],
        "url string, text string")
    new = spark.createDataFrame(
        [(f"https://hot.ex.com/{i}", f"v2 {i}") for i in range(4)]
        + [(f"https://warm.ex.com/{i}",
            f"v2 {i}" if i < 2 else f"v1 {i}") for i in range(6)]
        + [(f"https://cold.ex.com/{i}", f"v1 {i}") for i in range(3)]
        + [("https://fresh.ex.com/a", "hello")],
        "url string, text string")
    got = {r.host: r for r in recrawl_schedule(old, new).collect()}
    assert got["hot.ex.com"].tier == "daily"
    assert got["hot.ex.com"].change_frac == 1.0
    w = got["warm.ex.com"]
    assert w.n_old == 6  # the duplicate URL collapsed
    assert (w.n_common, w.n_changed, w.tier) == (6, 2, "weekly")
    c = got["cold.ex.com"]
    assert (c.n_old, c.n_new, c.tier) == (4, 3, "stable")
    assert c.change_frac == 0.0
    assert got["fresh.ex.com"].tier == "new"
    assert got["fresh.ex.com"].change_frac is None


def test_parse_sitemaps(spark):
    """Sitemap XML parsing: urlset vs sitemapindex classification,
    loc trimming + entity decode, optional lastmod -> NULL,
    case-insensitive tags across newlines, locless entries and NULL
    documents drop."""
    from json_schema_spark.textops.robots import parse_sitemaps

    urlset = (
        '<?xml version="1.0"?>\n<urlset '
        'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        "<url><loc> https://ex.com/a?x=1&amp;y=2 </loc>"
        "<lastmod>2026-03-01</lastmod></url>\n"
        "<url>\n<LOC>https://ex.com/b</LOC>\n</url>\n"
        "<url><lastmod>2026-01-01</lastmod></url>\n</urlset>")
    index = ("<sitemapindex>"
             "<sitemap><loc>https://ex.com/sm1.xml</loc></sitemap>"
             "<sitemap><loc>https://ex.com/sm2.xml</loc>"
             "<lastmod>2026-02-02</lastmod></sitemap>"
             "</sitemapindex>")
    df = spark.createDataFrame(
        [("ex.com", urlset), ("idx.com", index), ("n.com", None)],
        "host string, sitemap_xml string")
    rows = sorted(parse_sitemaps(df).collect(),
                  key=lambda r: (r.host, r.loc))
    assert [(r.host, r.kind, r.loc, r.lastmod) for r in rows] == [
        ("ex.com", "urlset", "https://ex.com/a?x=1&y=2", "2026-03-01"),
        ("ex.com", "urlset", "https://ex.com/b", None),
        ("idx.com", "index", "https://ex.com/sm1.xml", None),
        ("idx.com", "index", "https://ex.com/sm2.xml", "2026-02-02"),
    ]


def test_registered_domain_and_rollup(spark):
    """Public-suffix-lite semantics: multi-label suffixes keep three
    labels, plain TLDs keep two, single-label hosts pass through;
    rollup counts hosts and distinct texts per registrable domain
    (userinfo skipped, port stripped, NULL urls dropped);
    extra_suffixes extends the built-in snapshot."""
    from json_schema_spark.textops.urls import (
        domain_rollup,
        registered_domain,
    )

    df = spark.createDataFrame(
        [("https://news.BBC.co.uk/p1", "a"),
         ("https://www.bbc.co.uk/p2", "b"),
         ("https://a.b.example.com/p", "a"),
         ("https://example.com/q", "c"),
         ("https://u:p@shop.foo.com.au:8443/x", "d"),
         ("https://localhost/x", "e"),
         (None, "f")],
        "url string, text string")
    got = {r.domain: r for r in domain_rollup(df).collect()}
    assert set(got) == {"bbc.co.uk", "example.com", "foo.com.au",
                        "localhost"}
    assert (got["bbc.co.uk"].n_docs, got["bbc.co.uk"].n_hosts,
            got["bbc.co.uk"].n_unique_texts) == (2, 2, 2)
    assert got["bbc.co.uk"].dup_frac == 0.0
    assert (got["example.com"].n_docs,
            got["example.com"].n_hosts) == (2, 2)
    assert got["foo.com.au"].n_hosts == 1
    assert got["localhost"].n_docs == 1
    one = spark.range(1)
    cases = {
        "news.bbc.co.uk": "bbc.co.uk",
        "deep.a.b.site.ac.jp": "site.ac.jp",
        "Example.COM": "example.com",
        "co.uk": "co.uk",      # bare suffix: two labels, kept as-is
        "intranet": "intranet",
    }
    for host, want in cases.items():
        assert one.select(
            registered_domain(F.lit(host)).alias("d")).head().d == want
    got_extra = one.select(
        registered_domain(F.lit("x.y.custom.zz"),
                          extra_suffixes=("custom.zz",))
        .alias("d")).head().d
    assert got_extra == "y.custom.zz"
    # 3-label suffixes (PSL has k12.<state>.us etc.)
    for host, want in {
        "school.k12.ma.us": "school.k12.ma.us",
        "www.school.k12.ma.us": "school.k12.ma.us",
        "k12.ma.us": "k12.ma.us",     # bare suffix passes through
        "plain.ma.us": "ma.us",       # 3-label probe misses -> 2-label
    }.items():
        got3 = one.select(
            registered_domain(F.lit(host),
                              extra_suffixes=("k12.ma.us",))
            .alias("d")).head().d
        assert got3 == want, host
    with pytest.raises(ValueError):
        registered_domain(F.lit("x"), extra_suffixes=("a.b.c.d",))
    with pytest.raises(ValueError):
        registered_domain(F.lit("x"), extra_suffixes=("nodots",))


def test_hits_fixed_point_semantics(spark):
    """Known tiny graph (a directory host linking to three content
    hosts, plus one extra endorser of c1): the directory gets the top
    hub score, content hosts get the authority scores (c1 highest —
    two in-links), cross scores are zero. Values are the hand-rolled
    2-iteration fixed point with q = max(1, total DIV n*scale);
    identical across shuffle partitionings (integer sums + one-scalar
    division are order-independent)."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.graph import HITS_SCALE, hits

    s = HITS_SCALE
    edges = spark.createDataFrame(
        [("dir", "c1"), ("dir", "c2"), ("dir", "c3"), ("other", "c1")],
        "src_host string, dst_host string")
    try:
        out = {r.node: (r.hub, r.authority)
               for r in hits(edges, iterations=2).collect()}
        release_caches()
        assert set(out) == {"dir", "other", "c1", "c2", "c3"}
        # iteration 1: auth c1=2s,c2=s,c3=s (q=1); hub dir=4s,other=2s
        # (q=1).  iteration 2: auth_raw c1=6s,c2=4s,c3=4s, T=14s,
        # q=14s//5s=2 -> c1=3s,c2=2s,c3=2s; hub_raw dir=7s,other=3s,
        # T=10s, q=2 -> dir=3.5s, other=1.5s.
        assert out["dir"] == (3_500_000, 0)
        assert out["other"] == (1_500_000, 0)
        assert out["c1"] == (0, 3_000_000)
        assert out["c2"] == (0, 2_000_000)
        assert out["c3"] == (0, 2_000_000)
        prior = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            out2 = {r.node: (r.hub, r.authority)
                    for r in hits(edges, iterations=2).collect()}
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prior)
        assert out2 == out
        with pytest.raises(ValueError):
            hits(edges, iterations=0)
    finally:
        release_caches()


def test_crawl_priority_demotes_boilerplate_mill(spark):
    """A higher-ranked host whose pages are duplicated boilerplate
    falls below a modest host with unique gate-passing content; hosts
    absent from either input drop (inner join)."""
    from json_schema_spark.textops.graph import crawl_priority
    from json_schema_spark.textops.textanalysis import host_quality

    good = ("the quick brown fox jumps over the lazy dog and it "
            "keeps running for a while longer today")
    docs = spark.createDataFrame(
        [(f"https://mill.example.com/{i}", "spam spam spam")
         for i in range(4)]
        + [(f"https://indie.example.com/{i}", good + f" tail {i}")
           for i in range(4)],
        "url string, text string")
    ranks = spark.createDataFrame(
        [("mill.example.com", 5_000_000_000),
         ("indie.example.com", 1_000_000_000),
         ("unseen.example.com", 9_000_000_000)],
        "node string, rank long")
    got = {r.host: r for r in
           crawl_priority(ranks, host_quality(docs)).collect()}
    assert set(got) == {"mill.example.com", "indie.example.com"}
    mill, indie = got["mill.example.com"], got["indie.example.com"]
    # mill: all docs fail the gates AND collapse to one fingerprint
    assert mill.keep_rate == 0.0 and mill.dup_frac == 0.75
    assert mill.priority == 0.0
    assert indie.keep_rate == 1.0 and indie.dup_frac == 0.0
    assert indie.priority == 1_000_000_000.0
    assert indie.priority > mill.priority


def test_pagerank_dangling_mass_conserved(spark):
    """VERDICT r4 #4: star graph hub->4 dangling leaves. With the
    dangling-mass redistribution every iteration's divisions are
    exact here, so total rank equals the FULL input mass
    (n * PR_SCALE) — the old leak version dropped the leaves' damped
    mass each round and summed well below it. Also pins the exact
    3-iteration fixed-point values (hand-computed)."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.graph import PR_SCALE, pagerank

    edges = spark.createDataFrame(
        [("h", f"l{i}") for i in range(4)],
        "src_host string, dst_host string")
    try:
        out = {r.node: r.rank for r in pagerank(edges).collect()}
        assert set(out) == {"h", "l0", "l1", "l2", "l3"}
        assert sum(out.values()) == 5 * PR_SCALE  # no mass leaked
        # hand-rolled fixed-point iteration 3 values
        assert out["h"] == 853_987_000
        assert all(out[f"l{i}"] == 1_036_503_250 for i in range(4))
    finally:
        release_caches()


def test_cap_per_group_salted_property_random_shapes(spark):
    """Property over random group shapes and shard counts: the salted
    two-phase top-n equals the plain window exactly (deterministic
    md5-derived 'quality' ordering, id tie-break)."""
    from json_schema_spark.textops.sampling import cap_per_group

    rows = [(i, i % 4, int(hashlib.md5(f"q{i}".encode())
                           .hexdigest()[:6], 16))
            for i in range(97)]
    df = spark.createDataFrame(rows, "id long, grp int, q long")
    order = [F.col("q").desc(), F.col("id")]
    plain = {(r.id, r.rank_in_group)
             for r in cap_per_group(df, "grp", 7, order,
                                    id_col="id").collect()}
    for shards in (2, 3, 5, 16):
        salted = {(r.id, r.rank_in_group)
                  for r in cap_per_group(df, "grp", 7, order,
                                         salt_shards=shards,
                                         id_col="id").collect()}
        assert salted == plain, shards


def test_corpus_overlap_estimator_tracks_true_jaccard(spark):
    """Half-overlapping shingle sets must estimate between the
    disjoint and identical extremes, monotonically reasonable at 64
    hashes (tolerance = 3 sigma of the MinHash estimator)."""
    from json_schema_spark.textops.dedup import corpus_overlap

    a = " ".join(f"w{i}" for i in range(60))
    b_half = " ".join(f"w{i}" for i in range(30, 90))    # ~half shared
    rows = [("a", a), ("b", b_half)]
    df = spark.createDataFrame(rows, "lang string, text string")
    est = corpus_overlap(df, num_hashes=64).first().jaccard_est
    # true shingle jaccard: 58-gram overlap window arithmetic — just
    # bound it generously: strictly inside (0, 1)
    assert 0.1 < est < 0.9


def test_minhash_index_family_guard(docs, spark, tmp_path):
    """Probing an index from a different (or pre-versioned) hash
    family must fail loudly — band hashes across families never
    collide, so the silent alternative is 'everything is novel'."""
    from json_schema_spark.textops.dedup import (build_minhash_index,
                                                 probe_minhash_index)

    base = docs.select("doc_id", "text")
    idx = build_minhash_index(base)
    legacy = idx.drop("family")
    with pytest.raises(ValueError, match="family"):
        probe_minhash_index(base, legacy)
    stale = idx.withColumn("family", F.lit("md5-per-hash-v1"))
    with pytest.raises(ValueError, match="rebuild"):
        probe_minhash_index(base, stale)


def test_bloom_rejects_non_power_of_two_bits(spark):
    """The KM stride is only full-period on power-of-two bitmaps."""
    from json_schema_spark.textops.dedup import build_bloom_shards

    df = spark.createDataFrame([("k1",)], "digest string")
    with pytest.raises(ValueError, match="power of two"):
        build_bloom_shards(df, bits_per_shard=3 << 20)


def test_sharded_filter_rejects_stale_scheme(tmp_path):
    """A state_dir stamped with a different bloom scheme, or written
    with another n_shards / bits_per_shard / n_hashes, must refuse to
    start (such bitmaps are read as this filter's but probe wrong
    bits); the same settings reopen it."""
    from json_schema_spark.ops.streaming import ShardedNovelFilter

    d = tmp_path / "state"
    d.mkdir()
    (d / "_scheme.txt").write_text("md5-per-position-v1")
    with pytest.raises(ValueError, match="scheme"):
        ShardedNovelFilter(str(d))

    fresh = str(tmp_path / "fresh")
    ShardedNovelFilter(fresh, n_shards=4, bits_per_shard=1 << 20)
    for other in ({"n_shards": 8, "bits_per_shard": 1 << 20},
                  {"n_shards": 4, "bits_per_shard": 1 << 21},
                  {"n_shards": 4, "bits_per_shard": 1 << 20,
                   "n_hashes": 5}):
        with pytest.raises(ValueError, match="scheme"):
            ShardedNovelFilter(fresh, **other)
    ShardedNovelFilter(fresh, n_shards=4, bits_per_shard=1 << 20)


def test_weighted_sample_bias_and_determinism(spark):
    """Heavier rows win proportionally more often (aggregate over many
    disjoint seeds), exact n rows come back, zero/NULL weights are
    excluded, and the draw is partitioning-independent."""
    from json_schema_spark.textops.sampling import weighted_sample

    rows = ([(i, 100.0) for i in range(50)]          # heavy
            + [(i + 1000, 1.0) for i in range(50)]   # light
            + [(2000, 0.0), (2001, None)])           # excluded
    df = spark.createDataFrame(rows, "doc_id long, w double")
    heavy_wins = 0
    for s in range(10):
        got = weighted_sample(df, "w", 20, seed=f"s{s}").collect()
        assert len(got) == 20
        assert all(r.doc_id < 2000 for r in got)
        heavy_wins += sum(1 for r in got if r.doc_id < 1000)
    # 100:1 weights -> heavy docs should take the overwhelming share
    assert heavy_wins >= 180, heavy_wins  # of 200 total picks

    a = {r.doc_id for r in weighted_sample(df, "w", 20).collect()}
    b = {r.doc_id for r in
         weighted_sample(df.repartition(13), "w", 20).collect()}
    assert a == b


def test_anchor_text_index_semantics(spark):
    """Anchor extraction: host lowercased via the userinfo-safe regex,
    inner tags and entities stripped from the body, relative and
    non-http links dropped, terms lowercased, counts aggregated
    across pages. Zero Python in the plan."""
    from json_schema_spark.textops.html import anchor_text_index

    pages = spark.createDataFrame([
        (1, '<a href="https://A.Example.com/x">Visit <b>Example</b>'
            ' site</a><a href="/rel">skip me</a>'
            '<a href="https://u:p@cdn.example.net/f">cdn'
            ' &amp;fast&#39;s</a>'),
        (2, '<a href="https://a.example.com/y">visit example'
            ' SITE</a><a href="ftp://x.example.com/f">nope</a>'),
        (3, "no anchors here"),
    ], "doc_id int, html string")
    out = anchor_text_index(pages)
    got = {(r.dst_host, r.term): r.n_anchors for r in out.collect()}
    assert got == {("a.example.com", "visit"): 2,
                   ("a.example.com", "example"): 2,
                   ("a.example.com", "site"): 2,
                   ("cdn.example.net", "cdn"): 1,
                   ("cdn.example.net", "&fast's"): 1}
    phys = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in phys


def test_anchor_text_min_count(spark):
    from json_schema_spark.textops.html import anchor_text_index

    pages = spark.createDataFrame(
        [(i, '<a href="https://a.example.com/p">common</a>'
             f'<a href="https://b.example.com/p">rare{i}</a>')
         for i in range(3)], "doc_id int, html string")
    out = anchor_text_index(pages, min_count=2)
    got = {(r.dst_host, r.term): r.n_anchors for r in out.collect()}
    assert got == {("a.example.com", "common"): 3}


def test_host_profile_semantics(spark):
    """Host lowercase + port strip, md5 digest uniqueness, NULL text
    folds to the empty digest, relative/NULL urls drop, dup_frac
    rounded double. One aggregate keyed on host."""
    from json_schema_spark.textops.urls import host_profile

    docs = spark.createDataFrame([
        ("https://H1.example.com/a", "same text"),
        ("https://h1.example.com:8080/b", "same text"),
        ("https://h1.example.com/c", "other"),
        ("https://h2.example.com/a", None),
        ("relative/no-host", "x"),
        (None, "y"),
    ], "url string, text string")
    got = {r.host: r for r in host_profile(docs).collect()}
    assert set(got) == {"h1.example.com", "h2.example.com"}
    r1 = got["h1.example.com"]
    assert (r1.n_docs, r1.n_unique_texts, r1.total_chars) == (3, 2, 23)
    assert r1.dup_frac == 0.333333
    r2 = got["h2.example.com"]
    assert (r2.n_docs, r2.n_unique_texts, r2.total_chars,
            r2.dup_frac) == (1, 1, 0, 0.0)


def test_url_path_templates_trap_detection(spark):
    """Digit runs -> {d}, 8+ hex runs -> {x} (hex wins over digits on
    long numeric runs), empty path -> '/', min_urls prunes singleton
    templates; the calendar trap shows high dup_frac while the real
    article template shows 0."""
    from json_schema_spark.textops.urls import (
        path_template,
        url_path_templates,
    )
    import pyspark.sql.functions as F

    rows = []
    for i in range(8):
        rows.append((f"https://t.example.com/cal/2024/{i}",
                     "calendar page"))          # trap: one shared text
        rows.append((f"https://t.example.com/article/{i}",
                     f"real content {i}"))      # real: unique text
    rows.append(("https://t.example.com/hex/deadbeef01", "h"))
    rows.append(("https://t.example.com/hex/cafebabe9999", "h2"))
    rows.append(("https://t.example.com/only-once", "x"))
    rows.append(("https://t.example.com", "rootpage"))
    rows.append(("https://t.example.com/", "rootpage"))
    df = spark.createDataFrame(rows, "url string, text string")
    out = url_path_templates(df, min_urls=2)
    got = {r.path_template: (r.n_urls, r.n_unique_texts, r.dup_frac)
           for r in out.collect()}
    assert got["/cal/{d}/{d}"] == (8, 1, 0.875)
    assert got["/article/{d}"] == (8, 8, 0.0)
    assert got["/hex/{x}"] == (2, 2, 0.0)
    assert got["/"] == (2, 1, 0.5)
    assert "/only-once" not in got
    # a 10-digit run is hex-shaped too: hex rule applied first wins
    tpl = spark.range(1).select(
        path_template(F.lit("https://x.example.com/p/1234567890"))
        .alias("t")).collect()[0].t
    assert tpl == "/p/{x}"
    phys = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in phys


def test_host_quality_integer_exact_aggregates(spark):
    """keep_rate / dup_frac / avg_tokens derive from integer sums;
    the junk host fails the gates, the content host passes; NULL
    text and NULL/relative urls drop."""
    from json_schema_spark.textops.textanalysis import host_quality

    good = ("the quick brown fox jumps over the lazy dog and it "
            "keeps running for a while longer today")
    docs = spark.createDataFrame([
        ("https://good.example.com/1", good),
        ("https://good.example.com/2", good + " extra tail words"),
        ("https://good.example.com/3", good),          # dup of /1
        ("https://junk.example.com/1", "!!! ??? ..."),
        ("https://junk.example.com/2", None),
        (None, good),
    ], "url string, text string")
    got = {r.host: r for r in host_quality(docs).collect()}
    assert set(got) == {"good.example.com", "junk.example.com"}
    g = got["good.example.com"]
    assert (g.n_docs, g.n_kept, g.n_unique_texts) == (3, 3, 2)
    assert g.keep_rate == 1.0 and g.dup_frac == 0.333333
    assert g.total_tokens == 3 * 18 + 3
    j = got["junk.example.com"]
    assert (j.n_docs, j.n_kept, j.keep_rate) == (1, 0, 0.0)


def test_html_meta_extraction(spark):
    """Title with inner tags + entities cleans; description resolves
    for BOTH attribute orders; canonical href for both orders; lang
    lowercases; absent elements are NULL (not '')."""
    from json_schema_spark.textops.html import html_meta

    docs = spark.createDataFrame([
        (0, '<html lang="EN-us"><head>'
            "<title> Big &amp; <b>Bold</b>\n News </title>"
            '<meta name="description" content="A &quot;story&quot;.">'
            '<link rel="canonical" href="https://ex.example.com/a">'
            "</head><body>x</body></html>"),
        (1, "<html><head>"
            '<meta content="rev order" name="description">'
            '<link href="https://ex.example.com/b" rel="canonical">'
            "</head></html>"),
        (2, "<html><body>no head markup</body></html>"),
    ], "doc_id int, html string")
    got = {r.doc_id: r for r in html_meta(docs).collect()}
    assert got[0].title == 'Big & Bold News'
    assert got[0].meta_description == 'A "story".'
    assert got[0].canonical_url == "https://ex.example.com/a"
    assert got[0].html_lang == "en-us"
    assert got[1].title is None
    assert got[1].meta_description == "rev order"
    assert got[1].canonical_url == "https://ex.example.com/b"
    assert got[1].html_lang is None
    r2 = got[2]
    assert (r2.title, r2.meta_description, r2.canonical_url,
            r2.html_lang) == (None, None, None, None)
    out = html_meta(docs)
    phys = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF",
                   "Exchange"):
        assert marker not in phys


def test_host_boilerplate_lines_semantics(spark):
    """Host-scoped fraction: the per-host nav hits 1.0, the cookie
    notice exactly 0.5 (kept at min_frac=0.5), unique body lines
    drop; a host below min_docs disappears entirely."""
    from json_schema_spark.textops.textanalysis import (
        host_boilerplate_lines,
    )

    rows = [(i, f"https://h{i % 2}.example.com/{i}",
             f"NAV h{i % 2} | home\nunique body {i}\n"
             + ("Cookie notice\n" if i % 4 == 0 else ""))
            for i in range(12)]
    rows.append((99, "https://tiny.example.com/1", "NAV tiny\nbody"))
    df = spark.createDataFrame(rows, "doc_id int, url string, text string")
    out = host_boilerplate_lines(df, min_docs=3, min_frac=0.5)
    got = {(r.host, r.line): (r.n_docs, r.host_docs, r.doc_frac)
           for r in out.collect()}
    assert got == {
        ("h0.example.com", "NAV h0 | home"): (6, 6, 1.0),
        ("h0.example.com", "Cookie notice"): (3, 6, 0.5),
        ("h1.example.com", "NAV h1 | home"): (6, 6, 1.0),
    }
    phys = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF",
                   "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert marker not in phys


def test_sitemap_urls_extraction(spark):
    """Case-insensitive directive, comment trim, relative resolution
    against https://host/, duplicates collapse, empty values and
    NULL robots drop; zero Python / zero shuffle pre-distinct."""
    from json_schema_spark.textops.robots import sitemap_urls

    robots = spark.createDataFrame([
        ("a.example.com",
         "User-agent: *\nDisallow: /x\n"
         "Sitemap: https://a.example.com/s.xml\n"
         "SITEMAP:https://a.example.com/s.xml\n"     # dup, casing
         "  sitemap : /rel.xml # with comment\n"
         "Sitemap:\n"                                 # empty value
         "NotASitemap: https://a.example.com/no.xml"),
        ("b.example.com", None),
    ], "host string, robots_txt string")
    got = {(r.host, r.sitemap_url)
           for r in sitemap_urls(robots).collect()}
    assert got == {
        ("a.example.com", "https://a.example.com/s.xml"),
        ("a.example.com", "https://a.example.com/rel.xml"),
    }
    phys = sitemap_urls(robots)._jdf.queryExecution() \
        .executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in phys


def test_robots_rules_groups_and_noise(spark):
    """Group reconstruction: consecutive User-agent lines share one
    group; comments, crawl-delay, empty Disallow and pre-group
    directives drop; agents lowercase."""
    from json_schema_spark.textops.robots import robots_rules

    txt = ("Disallow: /orphan/\n"          # before any group: drops
           "# header comment\n"
           "User-agent: GoogleBot\n"
           "User-agent: mybot\n"
           "Disallow: /private/\n"
           "Crawl-delay: 10\n"
           "\n"
           "User-agent: *\n"
           "Allow: /ok  # trailing comment\n"
           "Disallow:\n")
    df = spark.createDataFrame([("a.com", txt)],
                               "host string, robots_txt string")
    rows = robots_rules(df).collect()
    got = {(r.rule, r.path): sorted(r.agents) for r in rows}
    assert got == {("disallow", "/private/"): ["googlebot", "mybot"],
                   ("allow", "/ok"): ["*"]}


def test_robots_filter_semantics(spark):
    """Longest-prefix wins, allow beats disallow on ties, specific
    group shadows '*', robots-less hosts allow, duplicate urls each
    keep a verdict."""
    from json_schema_spark.textops.robots import robots_filter

    robots = spark.createDataFrame([
        ("a.com", "User-agent: mybot\nDisallow: /d/\nAllow: /d/ok\n"
                  "\nUser-agent: *\nDisallow: /"),
        ("b.com", "User-agent: *\nDisallow: /x\nAllow: /x"),
    ], "host string, robots_txt string")
    urls = spark.createDataFrame(
        [("https://a.com/d/1",), ("https://a.com/d/ok/2",),
         ("https://a.com/free",),          # '*' shadowed -> allowed
         ("https://b.com/x/tie",),         # equal length: allow wins
         ("https://c.com/anything",),      # no robots
         ("https://a.com/d/1",)],          # duplicate url
        "url string")
    out = robots_filter(urls, robots, agent="MyBot").collect()
    verdicts = {}
    for r in out:
        verdicts.setdefault(r.url, []).append(
            (r.allowed, r.matched_rule, r.matched_path))
    assert verdicts["https://a.com/d/1"] == [
        (False, "disallow", "/d/")] * 2
    assert verdicts["https://a.com/d/ok/2"] == [
        (True, "allow", "/d/ok")]
    assert verdicts["https://a.com/free"] == [(True, None, None)]
    assert verdicts["https://b.com/x/tie"] == [(True, "allow", "/x")]
    assert verdicts["https://c.com/anything"] == [(True, None, None)]


def test_robots_filter_zero_python_plan(spark):
    from json_schema_spark.textops.robots import robots_filter

    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /p/")],
        "host string, robots_txt string")
    urls = spark.createDataFrame([("https://a.com/p/x",)],
                                 "url string")
    out = robots_filter(urls, robots)
    phys = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF",
                   "CartesianProduct"):
        assert marker not in phys
