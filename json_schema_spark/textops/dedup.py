"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash.

Scale design (10^12 documents):
- Exact dedup is a hash aggregation on a digest — partial (map-side)
  aggregation reduces each task to one row per distinct digest before the
  shuffle.
- MinHash signatures and LSH band hashes are pure per-row expressions
  (shingle -> md5 -> array_min), computed in one projection with
  whole-stage codegen; the only shuffle is the band-bucket self-join,
  which AQE can skew-split when a boilerplate page floods one bucket.
- Candidate verification (exact Jaccard on shingle sets) joins the
  candidate pairs (small) back to the shingle projection — broadcast-able
  when the candidate set is small, shuffle-join otherwise.

Determinism: every hash is md5 over an explicit string, so a DuckDB oracle
reproduces results bit-for-bit (lexicographic min over fixed-width hex ==
numeric min over the underlying uint128).
"""

from __future__ import annotations

from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4  # 4 bands x 4 rows at the default signature size

# Pair-finders persist their self-join inputs; the shared registry
# (json_schema_spark.cache) holds them and the CALLER releases after
# the consuming action — see that module's docstring for the ownership
# contract.
from json_schema_spark.cache import register_cache  # noqa: E402
from json_schema_spark.plan import fan_out  # noqa: E402


def tokens(col: Column) -> Column:
    """Whitespace tokens; empty/blank text -> empty array."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.array().cast("array<string>")) \
            .otherwise(F.split(trimmed, r"\s+"))


def normalized_digest(col: Column) -> Column:
    """md5 of casefolded, whitespace-collapsed text — THE content
    identity every exact-dup consumer keys on (exact_duplicates,
    snapshot_diff, the pipeline examples). One definition so the
    digests can never silently diverge."""
    return F.md5(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "))


def lsh_band_hashes(signature: Column, bands: int = DEFAULT_BANDS,
                    num_hashes: int = DEFAULT_NUM_HASHES) -> Column:
    """Split the signature into ``bands`` contiguous bands of
    ``num_hashes // bands`` rows and hash each; docs sharing any
    (band_index, band_hash) become candidate pairs."""
    rows_per_band = num_hashes // bands

    def band(b: Column) -> Column:
        start = (b * rows_per_band + 1).cast("int")
        # cast entries to string: signatures are bigint (affine
        # family) — plain digits, identical to DuckDB array_to_string
        return F.md5(F.concat_ws(
            "|", F.transform(F.slice(signature, start, rows_per_band),
                             lambda v: v.cast("string"))))

    return F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), band)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over the DISTINCT elements of two arrays."""
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db))
    union = F.size(da) + F.size(db) - inter
    return F.when(union > 0, inter.cast("double") / union.cast("double")) \
            .otherwise(F.lit(0.0))


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     normalize: bool = True,
                     max_examples: int | None = None) -> DataFrame:
    """Groups of byte-identical (optionally whitespace/case-normalized)
    documents: (digest, dup_count, doc_ids). One partial+final hash agg.

    ``max_examples`` bounds the per-group id sample to the first N ids
    (sorted): at web scale one ubiquitous document (empty page,
    boilerplate error page) would otherwise collect millions of ids
    into a single aggregation buffer. The capped path filters to N rows
    per digest with a window BEFORE collecting, so the buffer itself is
    bounded; dup_count stays exact either way."""
    col = F.col(text_col)
    digest = normalized_digest(col) if normalize else F.md5(col)
    base = (df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col), digest.alias("digest")))
    if max_examples is None:
        return (base.groupBy("digest")
                .agg(F.count(F.lit(1)).alias("dup_count"),
                     F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
                .filter(F.col("dup_count") > 1))
    from pyspark.sql import Window as W

    counts = (base.groupBy("digest")
              .agg(F.count(F.lit(1)).alias("dup_count"))
              .filter(F.col("dup_count") > 1))
    rn = F.row_number().over(W.partitionBy("digest").orderBy(id_col))
    examples = (base.withColumn("_rn", rn)
                .filter(F.col("_rn") <= max_examples)
                .groupBy("digest")
                .agg(F.sort_array(F.collect_list(id_col))
                     .alias("doc_ids")))
    return counts.join(examples, "digest")


def shingle_rows(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id, shingle) rows, word-at-a-time: split once per document,
    posexplode words, assemble k-grams with window lead() per doc.

    Overlapping word k-grams; a document with fewer than k words yields
    no rows. An array form, transform(slice(split(text),...)),
    re-evaluates the split per shingle element (no CSE inside lambdas —
    O(len^2) character work per row).
    The window is a per-document local sort, no cross-doc shuffle skew."""
    from pyspark.sql import Window as W

    words = (fan_out(df.filter(F.col(text_col).isNotNull()))
             .select(F.col(id_col).alias("_id"),
                     F.posexplode(tokens(F.col(text_col)))
                     .alias("pos", "w0")))
    win = W.partitionBy("_id").orderBy("pos")
    leads = [F.col("w0")] + [F.lead("w0", i).over(win)
                             for i in range(1, k)]
    return (words
            .select("_id", "pos", F.concat_ws(" ", *leads).alias("s"),
                    F.lead("w0", k - 1).over(win).alias("_last"))
            .filter(F.col("_last").isNotNull())  # only full k-grams
            .select("_id", "s"))


def minhash_signature_table(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 3,
                            num_hashes: int = DEFAULT_NUM_HASHES
                            ) -> DataFrame:
    """(id, sig array<bigint>) computed shingle-at-a-time: explode
    shingles once, hash each shingle ONCE (md5 -> 60-bit int), then
    one groupBy with ``num_hashes`` min() aggregations over affine
    permutations (a_i*x + b_i) mod 2^31-1 — the classic universal-
    hash MinHash, ~num_hashes x cheaper per row than independent
    md5(i:shingle) calls (the signature pass is THE whole-corpus scan
    at web scale, so per-shingle hash cost is the bill). Same family
    and constants as corpus_overlap (minhash_affine_params), so the
    SQL oracles replay it from one spec.

    A pure-expression form over a shingle array would re-evaluate the
    whole shingle expression per hash function — Catalyst does no CSE
    inside lambda bodies. Exploding materializes each shingle exactly
    once; the min-aggs are partial+final (map-side combine), so the
    shuffle carries at most one signature row per doc per task."""
    rows = shingle_rows(df, text_col, id_col, k)
    x = (F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10)
         .cast("bigint") % MINHASH_PRIME)
    rows = rows.select("_id", x.alias("_x"))
    aggs = [
        F.min((F.lit(a) * F.col("_x") + F.lit(b)) % MINHASH_PRIME)
        .alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_affine_params(num_hashes))]
    per_doc = rows.groupBy("_id").agg(*aggs)
    return per_doc.select(
        "_id", F.array(*[F.col(f"h{i}")
                         for i in range(num_hashes)]).alias("_sig"))


def minhash_candidate_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 3,
                            num_hashes: int = DEFAULT_NUM_HASHES,
                            bands: int = DEFAULT_BANDS,
                            max_bucket_size: int | None = None
                            ) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing an LSH band bucket.

    Plan: shingle-at-a-time signatures (minhash_signature_table) -> band
    hashes; posexplode to (band_idx, band_hash, id); self-join on the
    bucket key. The join is the only data-sized shuffle; bucket skew is
    handled by AQE skew-join (session default).

    ``max_bucket_size`` is the web-scale guard: a band bucket holding m
    docs contributes m^2/2 candidate pairs, so one degenerate bucket
    (boilerplate pages, empty-ish docs hashing alike) can dominate the
    whole job. Buckets above the cap are DROPPED before the self-join
    (one count-aggregate on the bucket key, the same shape as the
    doc-frequency cap in containment_pairs). Dropping is the standard
    trade — docs that near-dup via such a bucket overwhelmingly share a
    non-degenerate bucket too. None = uncapped (exact candidates; right
    at test scale, where the oracle compares against uncapped SQL)."""
    sig = minhash_signature_table(df, text_col, id_col, k, num_hashes)
    # persist: the bucket self-join would otherwise recompute the whole
    # shingle-explode + min-agg signature pipeline for BOTH join sides;
    # the bucket table is (id, band_idx, 32-hex) x bands — tiny
    buckets = register_cache(sig.select(
        "_id", F.posexplode(lsh_band_hashes(F.col("_sig"), bands,
                                            num_hashes))
        .alias("band_idx", "band_hash")))
    if max_bucket_size is not None:
        small = (buckets.groupBy("band_idx", "band_hash")
                 .agg(F.count(F.lit(1)).alias("_m"))
                 .filter(F.col("_m") <= max_bucket_size)
                 .drop("_m"))
        buckets = buckets.join(small, ["band_idx", "band_hash"])
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (a.join(b, ["band_idx", "band_hash"])
            .filter(F.col("a._id") < F.col("b._id"))
            .select(F.col("a._id").alias("id_a"),
                    F.col("b._id").alias("id_b"))
            .distinct())


# Version marker for PERSISTED minhash state: band hashes from
# different hash families share a schema but never collide, so a
# stale index silently reports everything as novel. Bump on any
# change to the signature family or band serialization.
MINHASH_FAMILY = "affine-p31-v2"


def build_minhash_index(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        num_hashes: int = DEFAULT_NUM_HASHES,
                        bands: int = DEFAULT_BANDS) -> DataFrame:
    """The persistable LSH index of a corpus: (_id, band_idx,
    band_hash, family) — exactly the bucket table
    minhash_candidate_pairs self-joins, exposed so it can be WRITTEN
    once (parquet/Iceberg, ideally bucketed by band_hash) and probed
    by every future batch. This is the accumulating half of
    incremental near-dedup: crawl N's index persists; crawl N+1
    probes it without re-shingling history. Rows are (id, int,
    32-hex, const) x bands — a small constant factor of the corpus
    row count, independent of document length. The constant
    ``family`` column stamps the hash-family version so a probe
    against an index built under an older family fails loudly
    instead of returning zero candidates forever."""
    sig = minhash_signature_table(df, text_col, id_col, k, num_hashes)
    return sig.select(
        "_id", F.posexplode(lsh_band_hashes(F.col("_sig"), bands,
                                            num_hashes))
        .alias("band_idx", "band_hash"),
        F.lit(MINHASH_FAMILY).alias("family"))


def probe_minhash_index(new_df: DataFrame, index: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 3,
                        num_hashes: int = DEFAULT_NUM_HASHES,
                        bands: int = DEFAULT_BANDS,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup CANDIDATES of a new batch against a persisted index
    (build_minhash_index output, typically read back from parquet):
    distinct (id, index_id) sharing any LSH band bucket. The batch's
    buckets are derived fresh (its corpus is new); history is only
    ever JOINED — the incremental contract. With the index bucketed/
    sorted by (band_idx, band_hash) the probe is a co-located join;
    ``max_bucket_size`` drops degenerate index buckets (same m^2
    guard as minhash_candidate_pairs). Verify survivors with exact
    jaccard where both texts are at hand; parameters (k, num_hashes,
    bands) MUST match the index build or band hashes never collide."""
    if "family" not in index.columns:
        raise ValueError(
            "index has no 'family' column — it was built under a "
            "pre-versioned minhash family whose band hashes never "
            "collide with current probes; rebuild it with "
            "build_minhash_index")
    stamp = index.select("family").first()
    if stamp is not None and stamp["family"] != MINHASH_FAMILY:
        raise ValueError(
            f"index family {stamp['family']!r} != engine family "
            f"{MINHASH_FAMILY!r} — probes would silently find zero "
            "candidates; rebuild the index")
    nb = build_minhash_index(new_df, text_col, id_col, k,
                             num_hashes, bands).drop("family")
    idx = index.drop("family")
    if max_bucket_size is not None:
        small = (idx.groupBy("band_idx", "band_hash")
                 .agg(F.count(F.lit(1)).alias("_m"))
                 .filter(F.col("_m") <= max_bucket_size)
                 .drop("_m"))
        idx = idx.join(small, ["band_idx", "band_hash"])
    return (nb.join(idx.withColumnRenamed("_id", "_iid"),
                    ["band_idx", "band_hash"])
            .select(F.col("_id").alias(id_col),
                    F.col("_iid").alias("index_id"))
            .distinct())


def novel_vs_index(new_df: DataFrame, index: DataFrame,
                   text_col: str = "text", id_col: str = "doc_id",
                   **kwargs: Any) -> DataFrame:
    """New-batch rows with NO near-dup candidate in the index — the
    near-dup analog of the Bloom novel filter's exact-dup cut (that
    one answers "seen this byte-identical key"; this answers "seen
    something LIKE this"). Anti-join on the probe's candidate ids;
    kwargs pass to probe_minhash_index."""
    cand = (probe_minhash_index(new_df, index, text_col, id_col,
                                **kwargs)
            .select(id_col).distinct())
    return new_df.join(cand, id_col, "left_anti")


def near_duplicates(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 3,
                    num_hashes: int = DEFAULT_NUM_HASHES,
                    bands: int = DEFAULT_BANDS,
                    threshold: float = 0.7,
                    max_bucket_size: int | None = None) -> DataFrame:
    """MinHash-LSH candidates verified by exact shingle Jaccard:
    (id_a, id_b, jaccard) with jaccard >= threshold. Set
    ``max_bucket_size`` at web scale to bound per-bucket m^2 candidate
    blow-up (see minhash_candidate_pairs)."""
    pairs = minhash_candidate_pairs(df, text_col, id_col, k, num_hashes,
                                    bands, max_bucket_size)
    # materialize each doc's DISTINCT shingle set once (aggregated array
    # attribute) — joining the raw shingle *expression* would re-derive
    # it for every candidate pair and every jaccard sub-term; persisted
    # because it joins on BOTH pair sides (two scans of the same plan
    # otherwise; MEMORY_AND_DISK spills if the corpus outgrows memory)
    sh = register_cache(
        shingle_rows(df, text_col, id_col, k)
        .groupBy("_id")
        .agg(F.collect_set("s").alias("_shingles")))
    joined = (pairs
              .join(sh.withColumnRenamed("_id", "id_a")
                      .withColumnRenamed("_shingles", "sh_a"), "id_a")
              .join(sh.withColumnRenamed("_id", "id_b")
                      .withColumnRenamed("_shingles", "sh_b"), "id_b"))
    return (joined
            .select("id_a", "id_b",
                    F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6)
                     .alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def winnowing_fingerprint_rows(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id", k: int = 8,
                               w: int = 4) -> DataFrame:
    """Distinct (id, fp) winnowing fingerprints (Schleimer/Wilkerson/
    Aiken, SIGMOD'03), computed gram-at-a-time: the minimum md5 of each
    window of ``w`` consecutive char k-grams, so any shared substring of
    length >= k+w-1 shares a fingerprint.

    Equivalent to exploding the array form
    (`tests/harness.py:winnowing_fingerprints`), but each k-gram md5
    is evaluated exactly ONCE: the array form's nested
    transform(slice(grams,...)) re-evaluates the whole grams expression
    per window element (Catalyst does no CSE inside lambda bodies —
    O(len^2) hashing per row). Here grams posexplode into rows and the
    per-window minimum is a rows-window aggregate partitioned by doc —
    a per-document local sort, no cross-doc shuffle skew.

    Measured trade-off (kept deliberately): a shuffle-free variant —
    materialize grams as a bound array attribute, take array_min over
    O(w) slices, explode — produces the identical fingerprint set
    with zero exchanges before the final distinct, but benches ~50%
    SLOWER at sf0.1: interpreted HOF lambdas plus per-row gram-array
    materialization cost more than the window's streaming min pays in
    shuffle. On a network-bound cluster where the gram-stream
    exchange dominates, flip to that form; on CPU-bound local
    executors the window wins."""
    from pyspark.sql import Window as W

    n = F.length(F.col(text_col))
    # positions explode FIRST and the k-gram md5 is a plain projection
    # on the exploded rows: inside a transform() lambda it would run
    # interpreted (Catalyst does not codegen HOF bodies) — measured
    # ~10% slower at sf0.1. fan_out guards the expansion stage's
    # parallelism against narrow input layouts.
    rows = (fan_out(df.filter(F.col(text_col).isNotNull()
                              & (n >= k + w - 1)))
            .select(F.col(id_col).alias("_id"),
                    F.col(text_col).alias("_t"),
                    F.posexplode(F.sequence(F.lit(1), n - (k - 1)))
                    .alias("pos", "_i"))
            .select("_id", "pos",
                    F.substring(F.md5(F.expr(f"substring(_t, _i, {k})")),
                                1, 16).alias("h")))
    win = W.partitionBy("_id").orderBy("pos").rowsBetween(0, w - 1)
    n_grams = W.partitionBy("_id")
    return (rows
            .withColumn("fp", F.min("h").over(win))
            .withColumn("_n", F.count(F.lit(1)).over(n_grams))
            .filter(F.col("pos") <= F.col("_n") - w)  # full windows only
            .select("_id", "fp")
            .distinct())


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 8, w: int = 4,
                      min_shared: int = 5,
                      max_doc_freq: int = 100,
                      fingerprints: DataFrame | None = None) -> DataFrame:
    """Document pairs sharing >= min_shared winnowing fingerprints
    (id_a < id_b, shared count). Explode fingerprints -> self-join on the
    fingerprint value -> count per pair.

    ``max_doc_freq`` drops fingerprints occurring in more than that many
    documents BEFORE the self-join — a ubiquitous (boilerplate/stopword)
    fingerprint shared by m documents would alone contribute m^2/2 pair
    rows, which is both skew and noise; capping document frequency is the
    standard winnowing practice and keeps every join bucket O(cap^2).

    ``fingerprints`` (VERDICT r4 #6): pass a precomputed (_id, fp)
    table from ``winnowing_fingerprint_rows`` to skip the corpus pass —
    the way a pipeline that runs BOTH containment and decontamination
    over one corpus shares a single fingerprint scan (persist it via
    cache.register_cache and feed it to both; ``df``/``text_col`` are
    then ignored). Must use the same k/w or the winnowing guarantee
    changes."""
    # persist: fp feeds the doc-frequency filter AND both self-join
    # sides — three full recomputes of the posexplode + window-min
    # winnowing pipeline otherwise ((id, 16-hex) rows, far smaller than
    # the text they summarize; MEMORY_AND_DISK spills beyond memory)
    fp = register_cache(
        winnowing_fingerprint_rows(df, text_col, id_col, k, w)
        if fingerprints is None else fingerprints)
    if max_doc_freq:
        rare = (fp.groupBy("fp")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") <= max_doc_freq)
                .select("fp"))
        fp = fp.join(rare, "fp")
    a, b = fp.alias("a"), fp.alias("b")
    return (a.join(b, "fp")
            .filter(F.col("a._id") < F.col("b._id"))
            .groupBy(F.col("a._id").alias("id_a"),
                     F.col("b._id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("shared"))
            .filter(F.col("shared") >= min_shared))


def contamination_pairs(df: DataFrame, eval_df: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        eval_text_col: str = "text",
                        eval_id_col: str = "eval_id",
                        k: int = 8, w: int = 4, min_shared: int = 5,
                        max_eval_freq: int | None = None,
                        corpus_fingerprints: DataFrame | None = None
                        ) -> DataFrame:
    """Benchmark-decontamination pairs (the GPT-3 / Pile train-test
    overlap check): corpus documents sharing >= ``min_shared``
    winnowing fingerprints with an eval-set document. Returns
    (id_col, eval_id_col, shared, eval_total, containment) where
    eval_total is the eval doc's distinct fingerprint count and
    containment = round(shared / eval_total, 6) — containment ~1 means
    the eval doc's text is (near-)fully present in the corpus doc.

    Scale story: the corpus fingerprint table is the big side and
    stays distributed (one pass, single consumer, never cached); the
    eval side is a benchmark suite — a BOUNDED dimension like the
    referential allow-list — so its fingerprints and per-doc totals
    are explicitly broadcast. Join output is bounded by corpus-side
    matches x eval multiplicity, never corpus x corpus.
    ``max_eval_freq`` optionally drops fingerprints shared by more
    than that many EVAL docs (boilerplate inside the benchmark
    itself). Shares the winnowing guarantee: any common substring of
    length >= k + w - 1 shares a fingerprint.

    ``corpus_fingerprints`` (VERDICT r4 #6): precomputed (_id, fp)
    corpus table, so one persisted winnowing pass can feed this AND
    containment_pairs (``df``/``text_col`` are then ignored; same k/w
    required)."""
    if id_col == eval_id_col:
        raise ValueError("id_col and eval_id_col must differ "
                         f"(both {id_col!r})")
    cfp = (winnowing_fingerprint_rows(df, text_col, id_col, k, w)
           if corpus_fingerprints is None else corpus_fingerprints)
    efp = register_cache(
        winnowing_fingerprint_rows(eval_df, eval_text_col,
                                   eval_id_col, k, w)
        .select(F.col("_id").alias("_eid"), "fp"))
    # totals come from the UNFILTERED fingerprint set: containment is
    # defined against the eval doc's own fingerprint count, so the
    # boilerplate filter below must not inflate it (an eval doc made
    # mostly of filtered-out boilerplate would otherwise report
    # containment ~1 from a handful of shared rare fingerprints)
    totals = efp.groupBy("_eid").agg(
        F.count(F.lit(1)).alias("eval_total"))
    if max_eval_freq:
        rare = (efp.groupBy("fp")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") <= max_eval_freq)
                .select("fp"))
        efp = efp.join(rare, "fp")
    pairs = (cfp.join(F.broadcast(efp), "fp")
             .groupBy("_id", "_eid")
             .agg(F.count(F.lit(1)).alias("shared"))
             .filter(F.col("shared") >= min_shared))
    return (pairs.join(F.broadcast(totals), "_eid")
            .select(F.col("_id").alias(id_col),
                    F.col("_eid").alias(eval_id_col),
                    "shared", "eval_total",
                    F.round(F.col("shared") / F.col("eval_total"), 6)
                    .alias("containment")))


def decontaminate(df: DataFrame, eval_df: DataFrame,
                  threshold: float = 0.5, id_col: str = "doc_id",
                  **kwargs: Any) -> DataFrame:
    """Drop corpus rows whose text contains an eval-set document at
    containment >= ``threshold`` — the one-call decontamination cut.
    Returns the surviving rows of ``df`` unchanged; kwargs pass
    through to contamination_pairs. The contaminated-id set is the
    anti-join's small side and deliberately UNHINTED (its size is the
    contamination rate; AQE broadcasts when it measures small). Caller
    releases operator caches (cache.release_caches())."""
    pairs = contamination_pairs(df, eval_df, id_col=id_col, **kwargs)
    bad = (pairs.filter(F.col("containment") >= threshold)
           .select(id_col).distinct())
    return df.join(bad, id_col, "left_anti")


MINHASH_PRIME = 2147483647  # 2^31 - 1 (Mersenne), keeps a*x+b < 2^62


def minhash_affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for the affine universal hash
    family h_i(x) = (a_i * x + b_i) mod MINHASH_PRIME. Shared by
    corpus_overlap and its SQL oracle builder so both engines replay
    the identical permutations. a is forced nonzero (a degenerate
    h_i(x) = b would make hash i useless)."""
    out = []
    for i in range(num_hashes):
        a = (i * 2654435761 + 1) % MINHASH_PRIME or 1
        b = (i * 40503 + 17) % MINHASH_PRIME
        out.append((a, b))
    return out


def corpus_overlap(df: DataFrame, group_col: str = "lang",
                   text_col: str = "text", k: int = 3,
                   num_hashes: int = 64) -> DataFrame:
    """Estimated shingle-set Jaccard between document GROUPS (languages,
    sources, crawl snapshots, shards): one MinHash signature PER GROUP,
    compared pairwise. Answers "how much text does shard A share with
    shard B" without any document-level join — the cross-shard
    content-overlap report a corpus merge starts with (the group-level
    analog of Broder'97 resemblance, the same estimator
    dedup_minhash_lsh uses per document).

    Plan: explode word k-shingles, hash each ONCE (md5 -> 60-bit int,
    the repo's engine-portable hash), then ``num_hashes`` independent
    min-aggregations over cheap affine permutations
    (a_i*x + b_i) mod 2^31-1 — the classic universal-hash MinHash
    (Broder'97), ~100x cheaper per row than num_hashes md5 calls. No
    pre-distinct: min over a multiset equals min over its set, and
    partial aggregation collapses repeats map-side, so the one shuffle
    carries G x num_hashes partials. The pairwise compare runs on a
    table of n_groups rows: broadcast-sized by construction, O(G^2)
    on a handful of groups, zero risk at any corpus size.

    Returns (group_a, group_b, n_hashes, jaccard_est) for group_a <
    group_b; jaccard_est = matching-signature-entry fraction, exact in
    both engines (integer count / num_hashes). The 31-bit hash range
    adds ~n_shingles/2^31 collision bias — negligible against the
    1/sqrt(num_hashes) estimator noise."""
    x = (F.conv(F.substring(F.md5(F.col("_s")), 1, 15), 16, 10)
         .cast("bigint") % MINHASH_PRIME)
    # deliberately NOT a projected shingle array + explode: when the
    # explode reads a projected _shingles ATTRIBUTE,
    # InferFiltersFromGenerate pushes a size(_shingles) > 0 filter
    # below the project and inlines the whole transform — split
    # re-evaluated per shingle element inside the filter copy (the
    # O(words^2) trap, plan-gated in tests/test_plans.py). Keeping the
    # transform directly inside the explode dodges the rule; the words
    # array still materializes one projection earlier so the lambda
    # slices a bound attribute.
    # fan_out: the k-word concat+md5 expansion is hash-heavy enough to
    # beat the guard's raw-text exchange (2.4s -> 1.6s at sf0.1 from a
    # one-split scan; see plan.fan_out for the measured trade-off).
    sh = (fan_out(df.filter(F.col(text_col).isNotNull()))
          .select(F.col(group_col).alias("_g"),
                  tokens(F.col(text_col)).alias("_w"))
          .filter(F.size("_w") >= k)
          .select("_g",
                  F.explode(F.transform(
                      F.sequence(F.lit(1), F.size("_w") - (k - 1)),
                      lambda i: F.concat_ws(
                          " ", F.slice(F.col("_w"), i, k))))
                  .alias("_s"))
          .select("_g", x.alias("_x")))
    mins = [F.min((F.lit(a) * F.col("_x") + F.lit(b)) % MINHASH_PRIME)
            .alias(f"_h{i}")
            for i, (a, b) in enumerate(minhash_affine_params(num_hashes))]
    # signature table is n_groups rows but its lineage is the full
    # corpus shingle scan — persist so the self-join below doesn't
    # recompute both branches from the raw text
    sigs = register_cache(sh.groupBy("_g").agg(*mins))
    a, b = sigs.alias("a"), sigs.alias("b")
    matches = sum(
        F.when(F.col(f"a._h{i}") == F.col(f"b._h{i}"), 1).otherwise(0)
        for i in range(num_hashes))
    return (a.join(b, F.col("a._g") < F.col("b._g"))
            .select(F.col("a._g").alias("group_a"),
                    F.col("b._g").alias("group_b"),
                    F.lit(num_hashes).alias("n_hashes"),
                    F.round(matches.cast("double") / num_hashes, 6)
                    .alias("jaccard_est")))


def _bit_literal(j: int) -> Column:
    """2^j as a LongType literal. Bit 63 is the sign bit: 1 << 63
    overflows a signed long literal (NumberFormatException), but its
    two's-complement value -(1 << 63) has exactly that bit pattern, and
    summing it with any subset of bits 0-62 stays in long range — so
    addition of distinct _bit_literal terms equals bitwise OR."""
    return F.lit((1 << j) if j < 63 else -(1 << 63)).cast("bigint")


def _token_bit_vote(h_lo: Column, h_hi: Column, j: int) -> Column:
    """+1/-1 vote for bit j of a 64-bit token hash assembled from two
    32-bit halves (literal shift counts keep the extraction exact for
    all 64 bits — double-precision pow would lose exactness past
    2^53 and shiftright needs a literal)."""
    h, off = (h_lo, j) if j < 32 else (h_hi, j - 32)
    bit = F.shiftright(h, off).bitwiseAND(F.lit(1))
    return F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))


def simhash_table(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """(id, simhash) for non-empty documents, token-at-a-time: explode
    tokens, hash each ONCE, aggregate the per-bit votes as sums (a
    per-row fold would re-derive the token hash per bit position — no
    CSE inside lambdas — costing bits x the md5 work).

    Supports 1-64 bits. The token hash is assembled from two 32-bit md5
    halves (hex chars 1-8 and 9-16); for bits <= 32 only the first half
    is read, so fingerprints are identical to earlier 32-bit builds and
    to the DuckDB oracle replay. At 64 bits the fingerprint uses the
    full signed-long range (bit 63 = sign bit) — downstream consumers
    must treat it as a bit pattern, which `simhash_pairs` does via
    shiftrightunsigned/bit_count.

    Near-dup pairs are docs with small hamming distance:
    bit_count(a ^ b) <= d — pair via the LSH bands above or by
    chunked-bit bucketing at scale (simhash_pairs)."""
    if not 1 <= bits <= 64:
        raise ValueError("bits must be in 1..64")
    rows = (df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("_id"),
                    F.explode(tokens(F.col(text_col))).alias("t"))
            .withColumn("h_lo", F.conv(F.substring(F.md5("t"), 1, 8),
                                       16, 10).cast("bigint")))
    if bits > 32:
        rows = rows.withColumn(
            "h_hi", F.conv(F.substring(F.md5("t"), 9, 8),
                           16, 10).cast("bigint"))
    vote_aggs = [
        F.sum(_token_bit_vote(
            F.col("h_lo"),
            F.col("h_hi") if bits > 32 else F.lit(0),
            j)).alias(f"v{j}")
        for j in range(bits)]
    per_doc = rows.groupBy("_id").agg(*vote_aggs)
    assembled = reduce(
        Column.__add__,
        [F.when(F.col(f"v{j}") > 0, _bit_literal(j))
         .otherwise(F.lit(0).cast("bigint")) for j in range(bits)])
    return per_doc.select(F.col("_id").alias(id_col),
                          assembled.alias("simhash"))


def hamming_pairs(fp_df: DataFrame, fp_col: str = "simhash",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  n_chunks: int = 4, bits: int = 32,
                  group_cols: list[str] | None = None) -> DataFrame:
    """Pairs of rows within ``max_hamming`` bit-distance of a 64-bit
    fingerprint column, without the all-pairs cross product — the
    generic core behind simhash_pairs and image_near_duplicates.

    Chunked-bit bucketing (Manku, Jain & Das Sarma, "Detecting
    Near-Duplicates for Web Crawling", WWW 2007): split each
    fingerprint into ``n_chunks`` contiguous bit ranges. Two
    fingerprints within hamming distance d < n_chunks differ in at most
    d chunks, so by pigeonhole they agree EXACTLY on >= 1 chunk — a
    per-chunk equi-join on (chunk_idx, chunk_val) therefore finds every
    qualifying pair with zero false negatives. Candidates verify with
    the exact distance: bit_count(a ^ b) <= max_hamming.

    Scale story: the join shuffles on (chunk_idx, chunk_val) — at
    web scale use bits=64 and n_chunks = max_hamming+1 sized so
    chunk_bits stays >= ~12 (4k+ buckets per chunk); AQE splits any
    residual skewed bucket. Candidate volume is sum of per-bucket m^2,
    the same cost profile as MinHash LSH banding.

    ``group_cols`` restrict pairing to rows with EQUAL values in those
    columns (e.g. frame_idx when pairing sampled video frames): the
    group columns join into the pigeonhole equi-join keys — which also
    subdivides the candidate buckets, so groups make the join cheaper,
    not costlier — and lead the output.

    ``fp_df`` is persisted via the shared registry (self-join reads it
    twice; caller releases). Returns ([group_cols...,] id_a, id_b,
    hamming), id_a < id_b.
    """
    if max_hamming >= n_chunks:
        raise ValueError("need max_hamming < n_chunks for the pigeonhole "
                         "guarantee (no false negatives)")
    if bits % n_chunks:
        raise ValueError("bits must divide evenly into n_chunks")
    groups = list(group_cols or [])
    chunk_bits = bits // n_chunks
    # persist the fingerprints: a self-join recomputes BOTH branches of
    # its input otherwise (no ReuseExchange across join sides), doubling
    # the fingerprint derivation. The table is (id, int64) — ~16
    # bytes/doc — so it stays cacheable at any corpus size.
    sh = register_cache(fp_df.select(F.col(id_col).alias("_id"),
                                      F.col(fp_col).alias("_fp"),
                                      *[F.col(c) for c in groups]))

    # chunk_val = (fp >>> (chunk_bits*idx)) & (2^chunk_bits - 1).
    # Literal shift counts (one struct per chunk, inlined to rows) keep
    # the extraction exact for all 64 bits and correct for NEGATIVE
    # fingerprints (bit 63 set): a floor(x / pow(2, idx*cb)) form is
    # only exact below 2^53 and rounds toward zero for negatives,
    # which at bits=64 makes high chunks degenerate and the pigeonhole
    # equi-join quadratic.
    def chunk_val(i: int) -> Column:
        v = F.col("_fp") if i == 0 else \
            F.shiftrightunsigned(F.col("_fp"), i * chunk_bits)
        if chunk_bits < 64:
            v = v.bitwiseAND(F.lit((1 << chunk_bits) - 1))
        return v

    chunks = (sh.select("_id", "_fp", *groups,
                        F.inline(F.array(*[
                            F.struct(F.lit(i).alias("chunk_idx"),
                                     chunk_val(i).alias("chunk_val"))
                            for i in range(n_chunks)]))))

    a, b = chunks.alias("a"), chunks.alias("b")
    cond = ((F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a._id") < F.col("b._id")))
    for c in groups:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cand = (a.join(b, cond)
            .select(*[F.col(f"a.{c}") for c in groups],
                    F.col("a._id").alias("id_a"),
                    F.col("b._id").alias("id_b"),
                    F.col("a._fp").alias("fp_a"),
                    F.col("b._fp").alias("fp_b"))
            .dropDuplicates([*groups, "id_a", "id_b"]))
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (cand.withColumn("hamming", hamming.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select(*groups, "id_a", "id_b", "hamming"))


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  n_chunks: int = 4, bits: int = 32) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance: simhash_table
    fingerprints fed through the generic pigeonhole chunk pairing
    (hamming_pairs — see its docstring for the guarantee and the
    web-scale sizing rule). Returns (id_a, id_b, hamming), id_a < id_b.
    """
    return hamming_pairs(simhash_table(df, text_col, id_col, bits),
                         fp_col="simhash", id_col=id_col,
                         max_hamming=max_hamming, n_chunks=n_chunks,
                         bits=bits)


def _driver_components(edges_pdf, id_type, out_id_col: str, spark):
    """Union-find with min-root invariant over a collected edge list:
    the root of every set is its minimum member, so find(x) after all
    unions IS the component minimum — identical labels to the
    distributed propagation. O(E α(E)) single-pass, zero Spark jobs."""
    import pandas as pd
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(edges_pdf["s"], edges_pdf["t"]):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # attach under the smaller root
    out = pd.DataFrame({out_id_col: list(parent),
                        "group_id": [find(n) for n in parent]})
    schema = T.StructType([T.StructField(out_id_col, id_type),
                           T.StructField("group_id", id_type)])
    return spark.createDataFrame(out, schema)


def dedup_groups(pairs: DataFrame, id_a: str = "id_a",
                 id_b: str = "id_b", out_id_col: str = "doc_id",
                 max_iterations: int = 30,
                 checkpoint_interval: int = 5,
                 driver_threshold: int = 1_000_000) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    (doc_id, group_id) for every node appearing in ``pairs``, where
    group_id is the MINIMUM doc id reachable through pair edges — the
    canonical representative. This is the step that turns pairwise
    near-dup output (minhash/simhash/winnowing/embedding) into
    actionable dedup groups: keep one row per group_id, or stratify
    sampling by group.

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels, converging in
    O(graph diameter) rounds (near-dup clusters are clique-ish, so
    usually 2-3). ONE Spark job per round: the convergence count rides
    an ``observe()`` metric on the same action that materializes the
    round's labels (no separate count-join job). Each round's labels
    persist and the previous generation is released, so execution
    always reads the latest cached generation; every
    ``checkpoint_interval`` rounds the labels are localCheckpoint'ed
    (from cache — cheap), truncating the per-round lineage so long
    chains (path-shaped graphs need diameter rounds) neither blow up
    the planner nor re-derive the whole history after a cache
    eviction. Warns when ``max_iterations`` is exhausted before
    convergence — the returned labels are then an UNDER-merged
    intermediate state (min labels not yet propagated everywhere).
    Nodes with no edges are not emitted (they are their own group).

    **Small-graph fast path** (the GraphFrames-style hybrid): the edge
    list is persisted and counted first; at or below
    ``driver_threshold`` edges it is Arrow-collected and resolved with
    driver-side union-find (min-root invariant → byte-identical labels
    to the propagation) — one job instead of 3-4 per round, and the
    driver holds at most threshold × 2 ids (~16 MB at the 1M default).
    Above the threshold — the regime CC exists for — the distributed
    path runs unchanged. Pass ``driver_threshold=0`` to force the
    distributed path (plan-gate tests do).
    """
    import warnings

    from pyspark.sql import Observation

    sel = pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("t"))
    if driver_threshold:
        sel = sel.persist()
        n_edges = sel.count()
        if n_edges <= driver_threshold:
            try:
                pdf = sel.toPandas()
            finally:
                sel.unpersist()
            return _driver_components(pdf, pairs.schema[id_a].dataType,
                                      out_id_col, pairs.sparkSession)

    edges = (sel.unionByName(
        sel.select(F.col("t").alias("s"),
                   F.col("s").alias("t")))).persist()
    labels = (edges.select("s").distinct()
              .select(F.col("s").alias("node"),
                      F.col("s").alias("label"))).persist()
    converged = False
    changed = -1  # unknown until a round runs
    try:
        for it in range(max_iterations):
            # best neighbor offer per node: every node appears as a
            # target (edges hold both directions), so the left join
            # below never drops rows — coalesce is belt-and-braces
            offers = (edges.join(labels, edges["s"] == labels["node"])
                      .groupBy(edges["t"].alias("node"))
                      .agg(F.min(labels["label"]).alias("_offer")))
            obs = Observation()
            merged = (labels.join(offers, "node", "left")
                      .select(
                          "node",
                          F.least(F.col("label"),
                                  F.coalesce(F.col("_offer"),
                                             F.col("label")))
                          .alias("label"),
                          (F.coalesce(F.col("_offer"), F.col("label"))
                           < F.col("label")).alias("_changed"))
                      .observe(obs, F.sum(F.col("_changed").cast("long"))
                               .alias("changed"))
                      .drop("_changed"))
            new_labels = merged.persist()
            try:
                new_labels.count()  # materialize cache + fire the metric
            except Exception:
                new_labels.unpersist()
                raise
            changed = obs.get["changed"] or 0
            if checkpoint_interval and (it + 1) % checkpoint_interval == 0:
                # reads from the fresh cache; truncates lineage so plan
                # depth is bounded by checkpoint_interval rounds
                ckpt = new_labels.localCheckpoint(eager=True)
                new_labels.unpersist()
                new_labels = ckpt
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                converged = True
                break
        if not converged:
            warnings.warn(
                f"dedup_groups: {max_iterations} iterations exhausted "
                f"with {changed} labels still changing — group_ids are "
                "an under-merged intermediate state; raise "
                "max_iterations above the pair graph's diameter",
                RuntimeWarning, stacklevel=2)
        return labels.select(F.col("node").alias(out_id_col),
                             F.col("label").alias("group_id"))
    finally:
        edges.unpersist()
        if driver_threshold:
            sel.unpersist()
        register_cache(labels)  # caller releases via release_caches()


def near_dedup_corpus(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      num_hashes: int = DEFAULT_NUM_HASHES,
                      bands: int = DEFAULT_BANDS,
                      threshold: float = 0.7,
                      max_bucket_size: int | None = None) -> DataFrame:
    """The one-call near-dedup most pipelines want: MinHash-LSH pairs ->
    connected components -> keep ONE canonical document per group (the
    minimum id) and every document with no near-duplicate. Returns the
    surviving rows of ``df`` unchanged.

    Composition of near_duplicates (bucketed, Jaccard-verified) and
    dedup_groups (min-label propagation); the final cut is a left-anti
    join against the non-canonical id set — group members minus one
    canonical each. The anti-join is deliberately UNHINTED: the loser
    set's size is the corpus dup rate (30-50% on crawl data), so a
    forced broadcast would ship a corpus-sized id list to every
    executor exactly when dedup matters most. AQE broadcasts it at
    runtime when it measures small, and degrades to a shuffled anti
    join otherwise (plan-gated in tests/test_plans.py). Caller
    releases operator caches afterwards (cache.release_caches())."""
    pairs = near_duplicates(df, text_col, id_col, k, num_hashes, bands,
                            threshold, max_bucket_size)
    groups = dedup_groups(pairs, out_id_col=id_col)
    losers = (groups.filter(F.col("group_id") != F.col(id_col))
              .select(id_col))
    return df.join(losers, id_col, "left_anti")


def near_dedup_keep_best(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 3,
                         num_hashes: int = DEFAULT_NUM_HASHES,
                         bands: int = DEFAULT_BANDS,
                         threshold: float = 0.7,
                         max_bucket_size: int | None = None,
                         quality_col: str | None = None) -> DataFrame:
    """near_dedup_corpus with QUALITY-AWARE survivor selection: keep
    the group member with the highest quality key (default: text
    length — near-dup clusters on crawl data are usually one full
    article plus truncated/boilerplate-wrapped copies, so keep-first
    by id throws away the best copy about half the time). Ties break
    to the minimum id, so the cut is deterministic. Pass
    ``quality_col`` (any numeric column of ``df``) to rank by a model
    score instead of length.

    Plan: pairs -> connected components as near_dedup_corpus, then the
    winner per group is ONE max aggregate of a (quality, -id, id)
    struct — partial aggregation collapses even a million-member dup
    clique to one row per map task (constant state, no per-group
    sort), so a hot group costs merge time, not a single-task sort the
    way a row_number window would. Losers = members anti-joined
    against winners; the final cut is the same unhinted left-anti join
    as near_dedup_corpus (AQE broadcasts when measured small)."""
    pairs = near_duplicates(df, text_col, id_col, k, num_hashes, bands,
                            threshold, max_bucket_size)
    groups = dedup_groups(pairs, out_id_col=id_col)
    q = (F.col(quality_col) if quality_col is not None
         else F.length(F.coalesce(F.col(text_col), F.lit(""))))
    members = groups.join(
        df.select(F.col(id_col), q.cast("double").alias("_q")), id_col)
    winners = (members.groupBy("group_id")
               .agg(F.max(F.struct(
                   F.col("_q").alias("q"),
                   (-F.col(id_col)).alias("nid"),
                   F.col(id_col).alias("id"))).alias("_w"))
               .select(F.col("_w.id").alias(id_col)))
    losers = members.select(id_col).join(winners, id_col, "left_anti")
    return df.join(losers, id_col, "left_anti")


# Version marker for PERSISTED bloom state (ShardedNovelFilter epochs):
# bits set under a different position scheme probe uselessly — same
# byte length, silent corruption. Bump on any change to
# _bloom_positions.
BLOOM_SCHEME = "md5-km-v2"


def _bloom_validate_bits(n_bits: int) -> None:
    """n_bits must be a power of two: the KM stride h2 is forced odd,
    which is coprime with 2^k (full-period strides) but NOT with an
    arbitrary even n_bits — a shared odd factor would cycle h2
    through a fraction of the bitmap and quietly raise the
    false-positive rate (dropped novel keys)."""
    if n_bits <= 0 or n_bits & (n_bits - 1):
        raise ValueError(f"n_bits must be a power of two, got {n_bits}")


def _bloom_positions(key: str, n_hashes: int, n_bits: int):
    """Python reference for the bit positions — MUST stay equal to the
    Spark-side _bloom_position_cols (pinned by test). ONE md5 per key,
    positions derived by Kirsch-Mitzenmacher double hashing:
    h1 = first 15 hex chars mod n_bits, h2 = next 15 hex chars mod
    n_bits forced ODD (coprime with the power-of-2 bitmap, so strides
    cover it), position i = (h1 + i*h2) mod n_bits. KM preserves the
    Bloom false-positive rate (Kirsch & Mitzenmacher 2006) at a third
    of the previous md5-per-position hash cost; 15 hex = 60 bits
    keeps every intermediate inside a signed long for Spark's
    conv()/cast under ANSI mode (i*h2 < n_hashes * n_bits)."""
    import hashlib as _hl

    _bloom_validate_bits(n_bits)
    h = _hl.md5(str(key).encode()).hexdigest()
    h1 = int(h[:15], 16) % n_bits
    h2 = (int(h[15:30], 16) % n_bits) | 1
    for i in range(n_hashes):
        yield (h1 + i * h2) % n_bits


def _bloom_position_cols(key: Column, n_hashes: int,
                         n_bits: int) -> list[Column]:
    """Bit positions as Catalyst expressions: the md5 work runs
    JVM-side with whole-stage codegen, so neither building nor probing
    the filter hashes keys in Python. NULL key -> NULL position. The
    md5 appears in both h1 and h2 — whole-stage codegen's
    subexpression elimination evaluates it once per row."""
    _bloom_validate_bits(n_bits)
    h = F.md5(key.cast("string"))
    h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % n_bits
    h2 = (F.conv(F.substring(h, 16, 15), 16, 10)
          .cast("bigint") % n_bits).bitwiseOR(F.lit(1))
    return [((h1 + i * h2) % n_bits).alias(f"_p{i}")
            for i in range(n_hashes)]


# ---------------------------------------------------------------------
# Hash-range-SHARDED Bloom filter — the one membership path.
#
# A single bitmap has to sit somewhere whole: fine to ~10^9 distinct
# keys (~1 GB at 10 bits/key), physically impossible at 10^12 (a
# 10 Tbit filter is ~1.25 TB). Hash-range sharding splits it: shard
# id = hash(key) mod S, one independent bitmap per shard, and the
# bitmaps STAY DISTRIBUTED as a (shard, bloom) DataFrame — built with
# one groupBy(shard) applyInPandas, probed with a cogrouped
# applyInPandas that hands each task one shard's candidate rows plus
# that shard's single bitmap row. No driver materialization, no
# per-row duplication of bitmap bytes (a bitmap-to-candidates
# equi-join would copy the shard's megabytes onto every row — the
# cogroup is what makes the probe scale). n_shards=1 is the plain
# one-bitmap filter.
#
# Sizing rule: bits_per_shard ~ 10x the expected distinct keys PER
# SHARD for ~2-3% fpp at 3 hashes; pick n_shards so both (keys/S) rows
# fit one applyInPandas group and S * bits_per_shard/8 fits the state
# store (a parquet table for the streaming variant, executor memory for
# the batch probe). 10^12 keys / 4096 shards / 2^31 bits per shard
# = ~1 TB of filter TOTAL, ~256 MB per task — distributed, feasible.
# ---------------------------------------------------------------------


def bloom_shard_col(key: Column, n_shards: int) -> Column:
    """Shard id for a key: md5('shard:'+key) first 15 hex chars mod S —
    independent of the per-position hashes (which are seeded 'i:key'),
    so sharding does not bias bit positions. NULL key -> NULL shard."""
    return (F.conv(F.substring(
        F.md5(F.concat(F.lit("shard:"), key.cast("string"))), 1, 15),
        16, 10).cast("bigint") % n_shards)


def build_bloom_shards(df: DataFrame, key_col: str = "digest",
                       n_shards: int = 16,
                       bits_per_shard: int = 1 << 23,
                       n_hashes: int = 3) -> DataFrame:
    """Distributed sharded Bloom build: (shard, bloom) with one bitmap
    row per shard that actually received keys; NULL keys are skipped.
    Positions are Spark md5 expressions (JVM, codegen) that equal the
    Python reference _bloom_positions — with n_shards=1 the bitmap is
    exactly the one _bloom_positions describes. The groupBy(shard)
    shuffle carries only (shard, positions) longs; each task scatters
    one shard's positions into its bitmap with numpy."""
    import pandas as pd
    from pyspark.sql import types as T

    pos_cols = [f"_p{i}" for i in range(n_hashes)]

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        bits = np.zeros(bits_per_shard // 8, dtype=np.uint8)
        for c in pos_cols:
            p = pdf[c].to_numpy(dtype="float64", na_value=np.nan)
            p = p[~np.isnan(p)].astype(np.int64)
            np.bitwise_or.at(bits, p >> 3,
                             (np.uint8(1) << (p & 7).astype(np.uint8)))
        return pd.DataFrame({"shard": [int(pdf["_shard"].iloc[0])],
                             "bloom": [bits.tobytes()]})

    sel = (df.filter(F.col(key_col).isNotNull())
           .select(bloom_shard_col(F.col(key_col), n_shards)
                   .alias("_shard"),
                   *_bloom_position_cols(F.col(key_col), n_hashes,
                                         bits_per_shard)))
    out_schema = T.StructType([T.StructField("shard", T.LongType()),
                               T.StructField("bloom", T.BinaryType())])
    return sel.groupBy("_shard").applyInPandas(build, out_schema)


def bloom_probe_shards(candidates: DataFrame, shards: DataFrame,
                       key_col: str = "digest",
                       n_shards: int = 16,
                       bits_per_shard: int = 1 << 23,
                       n_hashes: int = 3) -> DataFrame:
    """Probe candidates against a sharded bloom table: adds
    `_maybe_seen`. Cogrouped applyInPandas — each task receives one
    shard's candidate rows AND that shard's single bitmap row (absent
    bitmap = shard never saw a key = definitely novel). No false
    negatives at any total filter size, with zero driver bytes."""
    import pandas as pd
    from pyspark.sql import types as T

    pos_cols = [f"_p{i}" for i in range(n_hashes)]
    cand = candidates.withColumn(
        "_shard", bloom_shard_col(F.col(key_col), n_shards))
    cand = cand.select(
        "*", *_bloom_position_cols(F.col(key_col), n_hashes,
                                   bits_per_shard))
    out_fields = (list(candidates.schema.fields)
                  + [T.StructField("_maybe_seen", T.BooleanType())])
    out_schema = T.StructType(out_fields)
    keep = [f.name for f in candidates.schema.fields]

    def probe(cand_pdf: pd.DataFrame,
              bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(cand_pdf)
        if len(bloom_pdf) == 0:
            ok = np.zeros(n, dtype=bool)  # no bitmap -> nothing seen
        else:
            bits = np.frombuffer(bloom_pdf["bloom"].iloc[0],
                                 dtype=np.uint8)
            ok = np.ones(n, dtype=bool)
            for c in pos_cols:
                p = cand_pdf[c].to_numpy(dtype="float64",
                                         na_value=np.nan)
                valid = ~np.isnan(p)
                hit = np.zeros(n, dtype=bool)
                pv = p[valid].astype(np.int64)
                hit[valid] = (bits[pv >> 3]
                              >> (pv & 7).astype(np.uint8)) & 1
                ok &= hit
        out = cand_pdf[keep].copy()
        out["_maybe_seen"] = ok
        return out

    return (cand.groupBy("_shard")
            .cogroup(shards.groupBy("shard"))
            .applyInPandas(probe, out_schema))


def merge_bloom_shards(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-merge two sharded bloom tables (same n_shards /
    bits_per_shard — positions are bitmap-size-dependent, so mixing
    sizes would corrupt membership). Shards present in only one input
    pass through; one groupBy(shard) shuffle of bitmap rows."""
    import pandas as pd
    from pyspark.sql import types as T

    def orr(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        acc = np.frombuffer(pdf["bloom"].iloc[0], dtype=np.uint8).copy()
        for raw in pdf["bloom"].iloc[1:]:
            acc |= np.frombuffer(raw, dtype=np.uint8)
        return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])],
                             "bloom": [acc.tobytes()]})

    out_schema = T.StructType([T.StructField("shard", T.LongType()),
                               T.StructField("bloom", T.BinaryType())])
    return (a.unionByName(b).groupBy("shard")
            .applyInPandas(orr, out_schema))


def seen_filter(reference: DataFrame, candidates: DataFrame,
                key_col: str = "digest",
                n_shards: int = 16,
                bits_per_shard: int = 1 << 23,
                n_hashes: int = 3) -> DataFrame:
    """Incremental-dedup membership pre-filter: tag each candidate row
    with `_maybe_seen` = whether its key is (probably) present in the
    reference corpus.

    Guarantee: NO false negatives — every key actually present in the
    reference is flagged, so the `~_maybe_seen` rows are definitely
    new. False positives occur at the configured rate, so `_maybe_seen`
    rows needing certainty must be exact-verified (join) — but that
    join then runs on the small flagged subset instead of the full
    corpus. The filter is built, held and probed entirely on
    executors, so the reference can be arbitrarily large (scale
    n_shards, not the driver). The bloom table is persisted for the
    probe and registered in the shared cache registry (caller
    releases)."""
    shards = register_cache(
        build_bloom_shards(reference, key_col, n_shards,
                           bits_per_shard, n_hashes))
    return bloom_probe_shards(candidates, shards, key_col, n_shards,
                              bits_per_shard, n_hashes)


def snapshot_diff(old: DataFrame, new: DataFrame,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Crawl-over-crawl corpus delta: classify every document id across
    two snapshots as 'added' (only in new), 'removed' (only in old), or
    'changed' (present in both with a different normalized content
    digest — casefolded, whitespace-collapsed, same normalization as
    exact_duplicates). Unchanged ids are dropped, so the output is the
    incremental work list: validate/dedup/re-embed only `added` +
    `changed`, retire `removed` — the recurring-ingest pattern the
    checkpoint/resume layer feeds.

    Output: id_col, status, old_digest, new_digest (digests NULL on
    the absent side).

    Scale story: each side reduces to (id, digest) projections — text
    never crosses the wire — then ONE full-outer shuffle join on the
    id. The join is the irreducible cost of a snapshot diff;
    co-locate it for free by writing both snapshots bucketed on the
    id (sources/bucketing) so the exchange disappears. Digest
    comparison is null-safe; no skew beyond id-duplication upstream
    (dedup first if ids repeat)."""
    # presence flags, not digest nullness: NULL text has a NULL digest
    # but the document is still present on that side
    o = old.select(F.col(id_col).alias("_id"),
                   normalized_digest(F.col(text_col)).alias("old_digest"),
                   F.lit(True).alias("_in_old"))
    n = new.select(F.col(id_col).alias("_id"),
                   normalized_digest(F.col(text_col)).alias("new_digest"),
                   F.lit(True).alias("_in_new"))
    joined = o.join(n, "_id", "full_outer")
    status = (F.when(F.col("_in_old").isNull(), F.lit("added"))
              .when(F.col("_in_new").isNull(), F.lit("removed"))
              .when(~F.col("old_digest").eqNullSafe(F.col("new_digest")),
                    F.lit("changed")))
    return (joined.withColumn("status", status)
            .filter(F.col("status").isNotNull())
            .select(F.col("_id").alias(id_col), "status",
                    "old_digest", "new_digest"))


def mirror_hosts(df: DataFrame, url_col: str = "url",
                 text_col: str = "text", id_col: str = "doc_id",
                 threshold: float = 0.8, min_shared: int = 2,
                 **lsh_kwargs) -> DataFrame:
    """Mirror-site detection: host pairs whose CONTENT overlaps —
    (host_a, host_b, n_shared) for every unordered cross-host pair
    sharing >= ``min_shared`` near-duplicate documents (MinHash-LSH
    pairs at ``jaccard >= threshold``). Mirrors/CDNs/scraper sites are
    why URL-level and host-level dedup miss each other: the same
    corpus appears under two hostnames, and per-host caps count it
    twice. A crawl keeps ONE host of a detected mirror pair (pick by
    crawl_priority) and drops the other from the frontier.

    Distinct from ``corpus_overlap`` (per-GROUP MinHash signature
    estimate): this counts actual verified document pairs, so it
    localizes WHICH hosts mirror, at pair precision, on the same LSH
    budget near_duplicates already paid.

    Scale story: pair volume is the LSH-capped near-dup budget
    (max_bucket_size forwards via lsh_kwargs); the two id->host joins
    are doc-cardinality equi-joins (unhinted, AQE picks the strategy);
    the final aggregate is host-pair-cardinality — tiny. Same-host
    pairs (ordinary boilerplate dups) are excluded before the
    aggregate, so a template-heavy host does not inflate the join."""
    from json_schema_spark.textops.urls import host_of

    pairs = near_duplicates(df.select(id_col, text_col),
                            text_col=text_col, id_col=id_col,
                            threshold=threshold, **lsh_kwargs)
    host = host_of(F.col(url_col))
    hosts = (df.filter(F.col(url_col).isNotNull())
             .select(F.col(id_col).alias("_hid"), host.alias("_h"))
             .filter(F.col("_h") != ""))
    j = (pairs
         .join(hosts.withColumnRenamed("_hid", "id_a")
               .withColumnRenamed("_h", "_ha"), "id_a")
         .join(hosts.withColumnRenamed("_hid", "id_b")
               .withColumnRenamed("_h", "_hb"), "id_b")
         .filter(F.col("_ha") != F.col("_hb")))
    return (j.select(F.least("_ha", "_hb").alias("host_a"),
                     F.greatest("_ha", "_hb").alias("host_b"))
            .groupBy("host_a", "host_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def recrawl_schedule(old: DataFrame, new: DataFrame,
                     url_col: str = "url", text_col: str = "text",
                     tiers: tuple[tuple[float, str], ...] = (
                         (0.5, "daily"), (0.1, "weekly"),
                         (0.0, "monthly"))) -> DataFrame:
    """Per-host recrawl scheduling from two crawl snapshots: hosts
    whose pages churn get refetched often, static hosts fall back to
    a slow tier — the feedback loop that keeps a 10^12-page frontier
    affordable (recrawling everything daily is the single largest
    cost a naive crawler pays).

    Per host: n_old / n_new (DISTINCT URL counts per side — duplicate
    URLs within a snapshot collapse first, so refetch logs don't
    inflate counters), n_common (URLs in
    both), n_changed (common URLs whose normalized content digest
    differs), change_frac = round(n_changed / n_common, 6), and tier:
    the first entry of ``tiers`` whose threshold the frac EXCEEDS
    (strictly — so an all-static host falls past a 0.0 threshold to
    the terminal tier), else 'stable'. Hosts with no common URLs
    (all added/removed) get tier 'new'.

    Determinism: integer counts per host, one rounded division, tier
    by comparison on the rounded value — engine-exact everywhere.

    Scale story: each side projects to (host, url-digest,
    content-digest) — text never crosses the wire — then ONE
    full-outer shuffle join on the url digest (the irreducible
    snapshot-diff cost; bucket both snapshots on the url to co-locate
    it) feeding ONE host-keyed aggregate whose state is five
    counters. Host skew is absorbed by the partial agg: a 10^8-page
    host collapses map-side to one row per task."""
    from json_schema_spark.textops.urls import host_of

    def side(df: DataFrame, tag: str) -> DataFrame:
        host = host_of(F.col(url_col))
        # collapse duplicate URLs within a snapshot (a crawl log with
        # refetches) BEFORE the join — otherwise the full-outer join
        # fans out and inflates every counter; max() is the
        # deterministic pick (prefers a non-NULL digest)
        return (df.filter(F.col(url_col).isNotNull())
                .select(F.md5(F.col(url_col)).alias("_u"),
                        host.alias("_h"),
                        normalized_digest(F.col(text_col)).alias("_d"))
                .groupBy("_u")
                .agg(F.max("_h").alias(f"_h_{tag}"),
                     F.max("_d").alias(f"_d_{tag}"))
                .withColumn(f"_in_{tag}", F.lit(True)))

    j = side(old, "o").join(side(new, "n"), "_u", "full_outer")
    host = F.coalesce(F.col("_h_n"), F.col("_h_o"))
    in_both = F.col("_in_o").isNotNull() & F.col("_in_n").isNotNull()
    changed = in_both & ~F.col("_d_o").eqNullSafe(F.col("_d_n"))
    agg = (j.select(host.alias("host"),
                    F.col("_in_o").isNotNull().cast("int").alias("_o"),
                    F.col("_in_n").isNotNull().cast("int").alias("_n"),
                    in_both.cast("int").alias("_c"),
                    changed.cast("int").alias("_ch"))
           .filter(F.col("host") != "")
           .groupBy("host")
           .agg(F.sum("_o").alias("n_old"), F.sum("_n").alias("n_new"),
                F.sum("_c").alias("n_common"),
                F.sum("_ch").alias("n_changed")))
    frac = F.round(F.col("n_changed") / F.col("n_common"), 6)
    tier = F.when(F.col("n_common") == 0, F.lit("new"))
    for thr, name in tiers:
        tier = tier.when(frac > F.lit(thr), F.lit(name))
    tier = tier.otherwise(F.lit("stable"))
    return agg.select("host", "n_old", "n_new", "n_common", "n_changed",
                      F.when(F.col("n_common") > 0, frac)
                      .alias("change_frac"), tier.alias("tier"))
