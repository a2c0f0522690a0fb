"""End-to-end training-data curation pipeline over the documents table:
the composition a 100-TB web-corpus job would run, at toy scale.

Stages (each is one engine operator; see COVERAGE.md for the oracle
row that gates it):
1. schema/constraint validation  -> keep structurally valid docs
   + mojibake repair (fix_mojibake — the ftfy-style encoding pass)
2. exact dedup (normalized md5)  -> drop byte-duplicates
   + CCNet global paragraph dedup (first occurrence wins)
3. MinHash-LSH near-dup pairs    -> dedup_groups connected components
   -> keep one canonical doc per group (min doc_id)
4. quality gate (C4-style heuristics over analyze())
   + per-source cap (cap_per_group — no source dominates the mix)
5. token budgeting (BPE-ish pre-tokenizer counts)
6. deterministic train/val/test split (md5-keyed — stable under
   repartitioning and engine-reproducible)
7. benchmark decontamination (winnowing containment vs an eval set)
   + DSIR report (most target-distribution-like surviving docs)
8. boilerplate screen (corpus-wide top n-grams) + RAG-style chunking
   of the surviving docs into overlapping token windows
9. source-weighted mixing to a token budget + compressed JSONL export
   (the training-data hand-off)
10. corpus reports: cross-language MinHash overlap (corpus_overlap)
    + host quality prior (link_graph -> fixed-point pagerank)
    + crawl priority (pagerank x host_quality — the frontier
    scheduler's combined signal)

Run: python examples/llm_dataset_pipeline.py [sf_dir]
"""
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from json_schema_spark.cache import release_caches  # noqa: E402
from json_schema_spark.session import get_spark  # noqa: E402
from json_schema_spark.textops import dedup  # noqa: E402
from json_schema_spark.sources.io import (  # noqa: E402
    read_jsonl, write_jsonl)
from json_schema_spark.textops.sampling import (  # noqa: E402
    cap_per_group, hash_split, mix_corpus, weighted_sample)
from json_schema_spark.textops.textanalysis import (  # noqa: E402
    chunk_documents, dedup_paragraphs_global, dsir_select, fix_mojibake,
    ngram_topk, quality_filter, token_stats)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

spark = get_spark(app_name="llm_pipeline", cores=4)
docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
n0 = docs.count()

# 1. structural validation: non-null text, sane length, known language;
#    then the encoding pass — mojibake repaired in place (pure
#    projection, no extra scan)
valid = (docs.filter(F.col("text").isNotNull()
                     & (F.length("text") >= 20)
                     & F.col("lang").isin("en", "de", "fr", "es", "zh"))
         .withColumn("text", fix_mojibake(F.col("text"))))
n1 = valid.count()

# 2. exact dedup: drop all but the smallest doc_id per normalized
#    digest; then CCNet global paragraph dedup — one instance of each
#    repeated paragraph survives corpus-wide, docs reassemble in order
digest = F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
w_min = F.min("doc_id").over(Window.partitionBy("_digest"))
exact = (valid.withColumn("_digest", digest)
         .withColumn("_keep", F.col("doc_id") == w_min)
         .filter("_keep").drop("_digest", "_keep"))
paras = dedup_paragraphs_global(exact)
exact = (exact.drop("text")
         .join(paras.filter(F.col("n_kept") > 0)
               .select("doc_id", F.col("text_clean").alias("text")),
               "doc_id"))
n2 = exact.count()

# 3. near-dup: LSH pairs -> connected components -> one canonical doc
#    per group (the one-call composition)
near = dedup.near_dedup_corpus(exact, threshold=0.7)
n3 = near.count()

# 4. quality gate, then cap every source's contribution at 40 docs
#    (highest-quality first) so no single source dominates the mix
quality = quality_filter(near, min_tokens=20, min_quality=0.3)
capped = cap_per_group(
    quality.join(near.select("doc_id", "source"), "doc_id"),
    "source", 40, [F.col("quality").desc(), F.col("doc_id")])
kept_ids = capped.select("doc_id")
n4 = kept_ids.count()

# 5. token budget per doc (whitespace + BPE-ish pre-tokenizer)
budget = (token_stats(near.join(kept_ids, "doc_id"))
          .agg(F.sum("n_tokens_ws").alias("ws"),
               F.sum("n_tokens_bpe").alias("bpe")).first())

# 6. deterministic split
split = hash_split(near.join(kept_ids, "doc_id"),
                   weights={"train": 0.8, "val": 0.1, "test": 0.1})
dist = {r["split"]: r["n"] for r in
        split.groupBy("split").agg(F.count("*").alias("n")).collect()}

# 7. benchmark decontamination: drop training docs that contain an
#    eval-set document (winnowing containment; the eval set here is a
#    deterministic slice of the corpus, so its sources must drop)
evals = (docs.filter((F.col("doc_id") % 50 == 0)
                     & F.col("text").isNotNull())
         .select((F.col("doc_id") + 100000).alias("eval_id"),
                 F.substring("text", 1, 120).alias("text")))
clean = dedup.decontaminate(near, evals, threshold=0.8, min_shared=20)
n7 = clean.count()

# 7b. DSIR report: which surviving docs look most like a target
#     distribution (here: the corpus's own English slice)
target = docs.filter((F.col("lang") == "en") & F.col("text").isNotNull())
dsir_top = dsir_select(clean, target, n=5).collect()

# 7c. length-weighted subsample: exactly 50 docs, longer ones
#     proportionally likelier (Efraimidis-Spirakis, deterministic)
n_weighted = weighted_sample(
    clean.withColumn("n_chars2", F.length("text")),
    "n_chars2", 50).count()

# 8. boilerplate screen + chunking: the top corpus trigrams flag
#    template text; surviving docs are cut into overlapping 64-token
#    windows for retrieval / long-context packing
top_grams = ngram_topk(clean, n=3, k=5).collect()
chunks = chunk_documents(clean, chunk_size=64, overlap=16)
n8 = chunks.count()

# 9. mixture spec + hand-off: rebalance sources to a token budget and
#    ship compressed JSONL shards
mixed = mix_corpus(clean, {f"src{i}": 1 for i in range(10)},
                   token_budget=8000)
export_dir = os.path.join(tempfile.mkdtemp(prefix="llm_export_"),
                          "corpus")
write_jsonl(mixed.select("doc_id", "source", "text", "n_tokens"),
            export_dir, n_shards=4)
n9 = read_jsonl(spark, export_dir,
                schema="doc_id long, source string, text string,"
                       " n_tokens long") \
    .filter("_corrupt_record is null") \
    .agg(F.count("doc_id")).first()[0]

# 10. multimodal: perceptual dedup of an image/audio/video column rides
#    the same pairs -> components -> keep-canonical composition:
#    near_dedup_media(df, "blob", kind="image"|"video"|"audio").
#    (Synthesizing a media column here would just restate the
#    media_dedup oracle query — see _q_media_dedup in
#    __spark_entry__.py for the runnable composition.)

# 11. corpus report: cross-language content overlap (group-level
#     MinHash signatures — the shard-merge overlap check)
overlap = (dedup.corpus_overlap(docs, group_col="lang")
           .orderBy(F.col("jaccard_est").desc()).first())

# 12. host quality prior: link_graph edges (synthesized markup here)
#     -> fixed-point PageRank; at scale this rank joins back onto
#     documents by host as a curation prior
from json_schema_spark.textops.graph import pagerank  # noqa: E402
from json_schema_spark.textops.html import link_graph  # noqa: E402

pages = docs.filter(F.col("text").isNotNull()).select(
    F.concat(F.lit("host"), (F.col("doc_id") % 9).cast("string"),
             F.lit(".com")).alias("src_host"),
    F.concat(F.lit('<a href="https://host'),
             ((F.col("doc_id") + 1) % 9).cast("string"),
             F.lit('.com/p">n</a>')).alias("html"))
ranks = pagerank(link_graph(pages), iterations=3)
top_host = ranks.orderBy(F.col("rank").desc(), "node").first()

# 13. crawl-priority: the scheduler's actual signal — link authority
#     (PageRank) discounted by the host's own content record
#     (host_quality keep_rate / dup_frac); a well-linked boilerplate
#     mill ranks below a modest host with unique, gate-passing pages
from json_schema_spark.textops.graph import crawl_priority  # noqa: E402
from json_schema_spark.textops.textanalysis import host_quality  # noqa: E402

hosted = docs.filter(F.col("text").isNotNull()).select(
    F.concat(F.lit("https://host"), (F.col("doc_id") % 9).cast("string"),
             F.lit(".com/p/"), F.col("doc_id").cast("string"))
    .alias("url"), "text")
top_crawl = (crawl_priority(ranks, host_quality(hosted))
             .orderBy(F.col("priority").desc(), "host").first())

# 14. frontier execution: HITS separates directory hosts (hubs) from
#     content hosts (authorities) on the same edges; the fetch queue
#     is batched per host (politeness) with robots Crawl-delay as the
#     batch interval
from json_schema_spark.textops.graph import hits  # noqa: E402
from json_schema_spark.textops.robots import (  # noqa: E402
    crawl_delays,
    fetch_batches,
)

top_hub = (hits(link_graph(pages), iterations=2)
           .orderBy(F.col("hub").desc(), "node").first())
robots = spark.createDataFrame(
    [("host1.com", "User-agent: *\nCrawl-delay: 2\nDisallow: /x\n")],
    "host string, robots_txt string")
delays = {r.host: r.crawl_delay for r in crawl_delays(robots).collect()}
frontier = fetch_batches(hosted, per_host=50)
n_batches = frontier.agg(F.max("batch")).first()[0] + 1

release_caches()  # pair-finder intermediates

print(f"input docs:          {n0}")
print(f"structurally valid:  {n1}")
print(f"after exact dedup:   {n2}")
print(f"after near-dup:      {n3}")
print(f"after quality gate:  {n4}")
print(f"token budget:        ws={budget['ws']}  bpe={budget['bpe']}")
print(f"splits:              {dist}")
print(f"after decontam:      {n7} (eval sources dropped)")
print(f"dsir top-5 (en-like): {[r.doc_id for r in dsir_top]}")
print(f"length-weighted 50:   {n_weighted} docs drawn")
print(f"top trigrams:        {[(r.gram, r.n_occ) for r in top_grams]}")
print(f"chunks (64/16):      {n8}")
print(f"mixed+exported:      {n9} docs in 4 jsonl shards")
print(f"max lang overlap:    {overlap.group_a}<->{overlap.group_b} "
      f"jaccard~{overlap.jaccard_est}")
print(f"top host by pagerank: {top_host.node} rank={top_host.rank}")
print(f"top crawl priority:  {top_crawl.host} "
      f"priority={top_crawl.priority}")
print(f"top hub (HITS):      {top_hub.node} hub={top_hub.hub}")
print(f"fetch frontier:      {n_batches} polite batches "
      f"(host1.com delay={delays.get('host1.com')}s)")
spark.stop()
