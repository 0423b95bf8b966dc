"""10x scale rehearsal (round-4 VERDICT item 7): re-validate the sf0.1-pinned
plan choices at one order of magnitude more data, on an idle box.

Two jobs, each printed as one JSON line:

  crawl80k   full BFS crawl over an ~80k-page synthetic site (10x the bench
             fixture): admission + robots + fetch-join + extract + link
             discovery + seen anti-join + snapshot commit per wave. Watches
             the constants tuned at fixture scale: bloom_min_seen engagement,
             seen-delta compaction cadence, wave commit overlap.
  corpus50k  build_training_set over 50k documents (10 near-dup variants per
             sf0.1 doc): profile/quality gates -> PII -> exact+minhash dedup
             -> decontam -> shard assignment. Watches the minhash
             recompute-over-persist choice and the LSH band join fan-out.

Later rounds added more single-shot modes (each one JSON line):
quality50k (C4+Gopher+dedup stack), ingest50k (incremental batch-vs-store
dedup), stream10x (multi-epoch ingest stream + kill/resume), ahash50k
(image perceptual-hash dedup at 50k), index50k (positional index build +
phrase query), retrieval50k (the full retrieval family against a WRITTEN
index in jobs/index_job.py's at-rest layout).

Usage: python scripts/scale_rehearsal.py
  [crawl80k|corpus50k|quality50k|ingest50k|stream10x|ahash50k|index50k|
   retrieval50k|webtext50k]                               (default: both
  crawl80k and corpus50k plus quality50k)
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(REPO, ".bench_cache")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("SPARK_GRAFT_REHEARSAL_PAGES", "80000"))
N_DOC_VARIANTS = 10


@contextlib.contextmanager
def _small_input_gate(max_rows: int | None):
    """Runs the block with ``session.collect_if_small``'s bound replaced by
    ``max_rows``; None makes every input count as large, so the operators
    run their distributed paths."""
    from crawl4ai_custom_spark import session

    shipped = session.collect_if_small
    session.collect_if_small = (
        (lambda df, _bound: None) if max_rows is None
        else (lambda df, _bound: shipped(df, max_rows)))
    try:
        yield
    finally:
        session.collect_if_small = shipped


def _spark():
    from crawl4ai_custom_spark.session import get_spark

    spark = get_spark(
        "scale_rehearsal", master=f"local[{CPUS}]",
        shuffle_partitions=max(8, CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def crawl80k(spark) -> dict:
    from crawl4ai_custom_spark.operators.frontier import (
        CrawlConfig,
        FrontierEngine,
    )
    from crawl4ai_custom_spark.operators.politeness import PolitenessConfig
    from crawl4ai_custom_spark.sources.datagen import write_dataset

    site = os.path.join(CACHE, f"site_{N_PAGES}")
    if not os.path.exists(os.path.join(site, "pages.parquet")):
        write_dataset(site, n_pages=N_PAGES, n_domains=24, with_text=False)

    cfg = CrawlConfig(
        strategy="bfs", max_depth=4, max_pages=1_000_000,
        politeness=PolitenessConfig(wave_seconds=1e9),
        use_bloom=True, bloom_partitions=8,
    )
    eng = FrontierEngine(
        spark,
        spark.read.parquet(os.path.join(site, "pages.parquet")),
        spark.read.parquet(os.path.join(site, "robots.parquet")),
        cfg,
        checkpoint_dir=tempfile.mkdtemp(prefix="rehearsal_ckpt_"),
        out_dir=tempfile.mkdtemp(prefix="rehearsal_out_"),
    )
    # the synthetic topology reaches only ~3% of an 80k-page site from the
    # default 2-per-domain seeds (items link 12 children + a 4-sibling star,
    # like a real shallow shop). A CC-seeder-style seed list — every hub page
    # (home/category/sub-category) — is the realistic big-frontier shape and
    # is what actually stresses the seen set / bloom / compaction constants.
    from pyspark.sql import functions as F

    pages = spark.read.parquet(os.path.join(site, "pages.parquet"))
    hubs = (
        pages.select("url").distinct()
        .where(F.size(F.split(F.regexp_replace("url", "https://[^/]+/?", ""),
                              "/")) <= 2)
        .collect()
    )
    seeds = [r["url"] for r in hubs]
    t0 = time.time()
    run = eng.run(seeds)
    dt = time.time() - t0
    return {
        "job": "crawl80k",
        "site_pages": N_PAGES,
        "pages_crawled": run.pages_crawled,
        "waves": run.waves,
        "seconds": round(dt, 1),
        "urls_per_sec": round(run.pages_crawled / dt, 2),
        "wave_stats": run.stats,
    }


def corpus50k(spark) -> dict:
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.pipelines import CorpusConfig, build_training_set

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    # 10 near-dup variants per doc: realistic heavy-dedup shape — minhash
    # should fold each family back to ~1 keeper
    variants = docs.crossJoin(
        spark.range(N_DOC_VARIANTS).select(F.col("id").alias("vid"))
    ).select(
        (F.col("doc_id") * N_DOC_VARIANTS + F.col("vid")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" variant token "),
                 F.col("vid")).alias("text"),
        "lang", "source",
    )
    n_in = variants.count()
    cfg = CorpusConfig(near_dedup=True, jaccard_threshold=0.6, n_shards=32)
    t0 = time.time()
    out = build_training_set(variants, cfg)
    n_out = out.count()
    dt = time.time() - t0
    return {
        "job": "corpus50k",
        "docs_in": n_in,
        "docs_out": n_out,
        "seconds": round(dt, 1),
        "docs_per_sec": round(n_in / dt, 2),
    }


def quality50k(spark) -> dict:
    """The FULL cleaning stack — C4 line filters + global 3-sentence span
    dedup + Gopher rule pack + exact/minhash dedup — over 50k docs:
    validates the round-4 quality stages' shuffle shapes (span explode +
    span_key groupBy + positional anti-join) at 10x fixture scale.

    The synthetic OLAP-word docs are reshaped into sentence form first
    (8-word sentences with a stopword frame): the raw testdata has no
    punctuation and no Gopher stopwords, which the C4/Gopher packs —
    correctly — reject wholesale. A shared 3-sentence boilerplate block on
    every 6th doc plus a junk line exercise span dedup and the C4 line
    filter corpus-wide."""
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.pipelines import CorpusConfig, build_training_set

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    arr = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != F.lit(""))
    sent_count = F.ceil(F.size(arr) / 8).cast("int")
    sentences = F.transform(
        F.sequence(F.lit(0), sent_count - 1),
        lambda i: F.concat(
            F.lit("The "),
            F.array_join(F.slice(arr, i * 8 + 1, 8), " "),
            F.lit(" part of the run is here."),
        ),
    )
    shaped = docs.select(
        "doc_id", F.array_join(sentences, " ").alias("text"),
        "lang", "source",
    )
    boiler = (" Subscribe to the feed now. Follow the project of record. "
              "All rights reserved with thanks.")
    variants = shaped.crossJoin(
        spark.range(N_DOC_VARIANTS).select(F.col("id").alias("vid"))
    ).select(
        (F.col("doc_id") * N_DOC_VARIANTS + F.col("vid")).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" The variant token "), F.col("vid").cast("string"),
            F.lit(" of this copy is here."),
            F.when((F.col("doc_id") * N_DOC_VARIANTS + F.col("vid")) % 6 == 0,
                   F.lit(boiler)).otherwise(F.lit("")),
            F.lit("\nclick here"),
        ).alias("text"),
        "lang", "source",
    )
    n_in = variants.count()
    cfg = CorpusConfig(near_dedup=True, jaccard_threshold=0.6, n_shards=32,
                       c4_rules=True, span_dedup_sentences=3,
                       gopher_rules=True)
    t0 = time.time()
    out = build_training_set(variants, cfg)
    n_out = out.count()
    dt = time.time() - t0
    return {
        "job": "quality50k",
        "docs_in": n_in,
        "docs_out": n_out,
        "seconds": round(dt, 1),
        "docs_per_sec": round(n_in / dt, 2),
    }


def ingest50k(spark) -> dict:
    """Incremental ingest at 10x: a 5k-doc batch (half near-dups of stored
    docs, half novel) deduped against a MATERIALIZED 50k-doc signature
    store, vs the naive alternative of re-running full minhash dedup over
    store+batch. The contrast is the operator's reason to exist: at 10^10
    the full re-dedup is impossible, and even at 55k docs the incremental
    path should win by the ratio of |batch| to |corpus|."""
    import tempfile

    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.dedup import (
        banded_signatures,
        incremental_minhash_dedup,
        minhash_lsh_dedup,
        minhash_signatures,
        shingle_table,
    )

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    corpus = docs.crossJoin(
        spark.range(N_DOC_VARIANTS).select(F.col("id").alias("vid"))
    ).select(
        (F.col("doc_id") * N_DOC_VARIANTS + F.col("vid")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" corpus variant "),
                 F.col("vid")).alias("text"),
    )
    n_corpus = corpus.count()
    root = tempfile.mkdtemp(prefix="ingest50k_")
    store_dir = os.path.join(root, "sigs")
    bands_dir = os.path.join(root, "bands")
    t0 = time.time()
    minhash_signatures(shingle_table(corpus), num_hashes=32).write.mode(
        "overwrite").parquet(store_dir)
    store = spark.read.parquet(store_dir)
    # round 5: the band index is part of the store (written once, appended
    # per epoch in production — never re-derived per batch)
    banded_signatures(store, 8, 32).write.mode("overwrite").parquet(bands_dir)
    t_store = time.time() - t0
    store_bands = spark.read.parquet(bands_dir)

    half = docs.where(F.col("doc_id") % 2 == 0)
    batch = half.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" corpus variant 3 retouched"))
        .alias("text"),
    ).unionByName(half.select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.concat(F.lit("entirely new material: "), F.reverse(F.col("text")))
        .alias("text"),
    ))
    n_batch = batch.count()

    t0 = time.time()
    flagged = incremental_minhash_dedup(
        batch, store, num_hashes=32, bands=8, est_threshold=0.6,
        corpus_bands=store_bands,
    ).select("new_id").distinct()
    n_dup = flagged.count()
    t_inc = time.time() - t0

    t0 = time.time()
    full = minhash_lsh_dedup(
        corpus.unionByName(batch), num_hashes=32, bands=8,
        jaccard_threshold=0.6, persist_shingles=True,
    )
    n_full_pairs = full.count()
    t_full = time.time() - t0

    return {
        "job": "ingest50k",
        "corpus_docs": n_corpus,
        "batch_docs": n_batch,
        "store_build_seconds": round(t_store, 1),
        "incremental_seconds": round(t_inc, 1),
        "batch_dups_flagged": n_dup,
        "full_rededup_seconds": round(t_full, 1),
        "full_pairs": n_full_pairs,
        "speedup_vs_full": round(t_full / t_inc, 1),
    }


def stream10x(spark) -> dict:
    """Round-5 VERDICT item 7: a MULTI-EPOCH ingest stream (10 x 5k-doc
    batches against a 50k-doc signature store), showing that per-epoch cost
    stays flat now that the corpus band index is materialized (appended per
    epoch, never re-derived), and that a mid-stream manifest loss recovers
    exactly (rebuild from _SUCCESS markers; re-delivered epoch is a no-op).
    """
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.dedup import (
        minhash_signatures,
        shingle_table,
    )
    from crawl4ai_custom_spark.streaming.ingest import SignatureStore, ingest_batch

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    corpus = docs.crossJoin(
        spark.range(N_DOC_VARIANTS).select(F.col("id").alias("vid"))
    ).select(
        (F.col("doc_id") * N_DOC_VARIANTS + F.col("vid")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" corpus variant "),
                 F.col("vid")).alias("text"),
    )
    n_corpus = corpus.count()
    root = tempfile.mkdtemp(prefix="stream10x_")
    store = SignatureStore(spark, os.path.join(root, "store"),
                           num_hashes=32, bands=8)
    out_dir = os.path.join(root, "out")
    t0 = time.time()
    store.append(minhash_signatures(shingle_table(corpus), 32), epoch=-1)
    t_store = time.time() - t0

    def batch_of(e: int):
        """5k docs per epoch: half near-dups of corpus docs (tail-retouched
        variant 3), half novel (reversed text) — ids disjoint per epoch."""
        half = docs.where(F.col("doc_id") % 2 == e % 2)
        base = 10_000_000 * (e + 1)
        return half.select(
            (F.col("doc_id") + base).alias("doc_id"),
            F.concat(F.col("text"),
                     F.lit(" corpus variant 3 retouched")).alias("text"),
        ).unionByName(half.select(
            (F.col("doc_id") + base + 5_000_000).alias("doc_id"),
            F.concat(F.lit(f"epoch {e} novel material: "),
                     F.reverse(F.col("text"))).alias("text"),
        ))

    epoch_secs, admitted = [], []
    for e in range(10):
        t0 = time.time()
        n = ingest_batch(batch_of(e), store, e, out_dir, est_threshold=0.6)
        epoch_secs.append(round(time.time() - t0, 1))
        admitted.append(n)
        if e == 4:
            # simulated crash: the manifest vanishes mid-stream (the
            # non-atomic delete+rename window documented in kernel/hfs) —
            # reopening must recover all committed epochs from _SUCCESS
            # markers, and a foreachBatch re-delivery must be a no-op
            os.remove(os.path.join(root, "store", "_manifest.json"))
            store = SignatureStore(spark, os.path.join(root, "store"),
                                   num_hashes=32, bands=8)
            recovered = sorted(store._epochs())
            redelivered = ingest_batch(batch_of(4), store, 4, out_dir,
                                       est_threshold=0.6)
    tail = epoch_secs[2:]
    return {
        "job": "stream10x",
        "corpus_docs": n_corpus,
        "store_build_seconds": round(t_store, 1),
        "epoch_seconds": epoch_secs,
        "admitted_per_epoch": admitted,
        "tail_flatness_max_over_min": round(max(tail) / max(min(tail), 0.1), 2),
        "kill_recovered_epochs": recovered,
        "redelivered_epoch_admits": redelivered,  # must be 0 (idempotent)
        "store_final_sigs": store.read().count(),
        "store_final_band_rows": store.read_bands().count(),
    }


def ahash50k(spark) -> dict:
    """Image perceptual-hash dedup at 50k images: encode->decode->aHash->
    banded Hamming pairs end-to-end (every image REALLY decoded by the
    stdlib PNG codec), with one planted near-copy per 10 originals.
    Validates that the hash pass is decode-bound and linear, and that the
    band join stays bounded (no all-pairs blowup)."""
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.dedup import hamming_neardup
    from crawl4ai_custom_spark.operators.multimodal import (
        image_ahash,
        synth_png_payloads,
    )

    n = 45_000
    base_ids = spark.range(n).select(F.col("id").alias("doc_id"))
    base = synth_png_payloads(base_ids)
    copies = synth_png_payloads(
        spark.range(0, n, 10).select(
            (F.col("id") + 1_000_000).alias("doc_id"),
            F.col("id").alias("b"),
        ),
        base_col="b", bump=128,
    )
    media = base.unionByName(copies)
    n_img = media.count()
    t0 = time.time()
    ah = image_ahash(media).persist()
    n_hashed = ah.where(F.col("ahash").isNotNull()).count()
    t_hash = time.time() - t0
    t1 = time.time()
    pairs = hamming_neardup(
        ah.where(F.col("ahash").isNotNull()),
        id_col="media_id", hash_col="ahash",
        max_hamming=2, n_bands=4, bits=60,
    )
    planted = pairs.where(
        (F.col("id_b") - F.col("id_a")) == 1_000_000
    ).count()
    n_pairs = pairs.count()
    t_pairs = time.time() - t1
    ah.unpersist()
    return {
        "job": "ahash50k",
        "images": n_img,
        "hashed": n_hashed,
        "hash_seconds": round(t_hash, 1),
        "images_per_sec": round(n_img / t_hash, 1),
        "pair_seconds": round(t_pairs, 1),
        "pairs": n_pairs,
        "planted_recovered": planted,
        "planted_total": n // 10,
    }


def webtext50k(spark) -> dict:
    """Round-5 webtext family at 50k pages / 500 hosts: mojibake repair +
    per-host boilerplate strip + soft-404 detection over the page set,
    reciprocal-link-farm mining over the host graph, then the FineWeb
    domain cap and a global budget allocation. Validates every new
    operator keeps its linear keyed-aggregate shape at 10x the gate
    fixtures (no all-pairs, no per-host driver loops)."""
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.corpusmix import domain_doc_cap
    from crawl4ai_custom_spark.operators.dedup import host_boilerplate_strip
    from crawl4ai_custom_spark.operators.headpeek import soft404_detect
    from crawl4ai_custom_spark.operators.linkgraph import reciprocal_link_spam
    from crawl4ai_custom_spark.operators.politeness import (
        allocate_crawl_budget,
    )
    from crawl4ai_custom_spark.operators.textstats import fix_mojibake

    n = 50_000
    d = F.col("id")
    host = F.concat(F.lit("h"), (d % 500).cast("string"), F.lit(".ex.com"))
    url = F.concat(F.lit("https://"), host, F.lit("/p/"), d.cast("string"))
    # every 20th page is a pure soft-404: same body host-wide (the nav
    # line is host-specific, so fingerprints shard per host as intended)
    body = F.concat(
        F.lit("NAV OF HOST "), (d % 500).cast("string"), F.lit("\n"),
        F.when(d % 20 == 0,
               F.lit("Sorry, the page you requested does not exist."))
        .otherwise(F.concat(
            F.lit("The chapter number "), d.cast("string"),
            F.lit(" describes shard rebalancing; worked example "),
            (d * 7).cast("string"),
            F.when(d % 50 == 0, F.lit(" cafÃ© â€” naÃ¯ve"))
            .otherwise(F.lit("")),
        )),
    )
    pages = spark.range(n).select(
        d.alias("doc_id"), url.alias("url"), body.alias("text")).persist()
    pages.count()

    t0 = time.time()
    cleaned = host_boilerplate_strip(
        fix_mojibake(pages), min_pages=3, min_share=0.6, id_col="doc_id")
    n_clean = cleaned.where(~F.col("text").contains("NAV OF HOST")).count()
    t_clean = time.time() - t0

    t1 = time.time()
    s404 = soft404_detect(pages)
    n_404 = s404.where(F.col("is_soft404")).count()
    t_404 = time.time() - t1

    # host graph: ring edges + a 10-host farm clique trading all 90 pairs
    ring = spark.range(n).select(
        url.alias("url"),
        F.concat(F.lit("https://h"), ((d + 1) % 500).cast("string"),
                 F.lit(".ex.com/")).alias("href"))
    farm = spark.range(90).select(
        F.concat(F.lit("https://farm"), (F.col("id") / 9).cast("long")
                 .cast("string"), F.lit(".spam/")).alias("url"),
        F.concat(F.lit("https://farm"),
                 ((F.col("id") % 9) + F.when(
                     (F.col("id") % 9) >= (F.col("id") / 9).cast("long"),
                     F.lit(1)).otherwise(F.lit(0))).cast("string"),
                 F.lit(".spam/")).alias("href"))
    t2 = time.time()
    spam = reciprocal_link_spam(ring.unionByName(farm),
                                min_out=2, min_reciprocity=0.9)
    n_farms = spam.where(F.col("is_link_farm")).count()
    t_spam = time.time() - t2

    t3 = time.time()
    capped = domain_doc_cap(
        pages.withColumn("host", F.regexp_extract("url", "https://([^/]+)/",
                                                  1))
        .withColumn("q", (F.col("doc_id") * 13 % 101).cast("double")),
        cap=60, domain_col="host", id_col="doc_id", score_col="q")
    n_capped = capped.count()
    t_cap = time.time() - t3

    t4 = time.time()
    quotas = allocate_crawl_budget(
        spam.select(F.col("src_host").alias("host"),
                    (1.0 / (1.0 + F.col("reciprocity"))).alias("weight")),
        total_budget=1_000_000)
    q_sum = quotas.agg(F.sum("quota")).collect()[0][0]
    t_quota = time.time() - t4
    pages.unpersist()
    return {
        "job": "webtext50k",
        "pages": n,
        "clean_seconds": round(t_clean, 1),
        "clean_pages_per_sec": round(n / t_clean, 1),
        "boilerplate_stripped_pages": n_clean,
        "soft404_seconds": round(t_404, 1),
        "soft404_flagged": n_404,
        "linkspam_seconds": round(t_spam, 1),
        "farms_flagged": n_farms,
        "domain_cap_seconds": round(t_cap, 1),
        "capped_pages": n_capped,
        "budget_seconds": round(t_quota, 1),
        "budget_sum": q_sum,
    }


def index50k(spark) -> dict:
    """Inverted index + retrieval at 50k docs: build positional postings
    and the term dictionary over the sf0.1 documents table, then run a
    phrase query against the materialized index. Validates that the build
    is one shuffle pass (plan-asserted in tests) scaling with corpus
    bytes, and that retrieval touches only the phrase terms' postings."""
    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        phrase_match,
        term_dictionary,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    out = tempfile.mkdtemp(prefix="idx50k_")
    t0 = time.time()
    inverted_postings(docs).write.mode("overwrite").parquet(f"{out}/postings")
    postings = spark.read.parquet(f"{out}/postings")
    n_postings = postings.count()  # footer count
    t_build = time.time() - t0
    t1 = time.time()
    n_terms = term_dictionary(postings).count()
    t_dict = time.time() - t1
    t2 = time.time()
    hits = phrase_match(postings, ["table", "key"])
    n_hits = hits.count()
    t_query = time.time() - t2
    return {
        "job": "index50k",
        "docs": n_docs,
        "postings": n_postings,
        "terms": n_terms,
        "build_seconds": round(t_build, 1),
        "docs_per_sec": round(n_docs / t_build, 1),
        "dict_seconds": round(t_dict, 1),
        "phrase_hits": n_hits,
        "phrase_seconds": round(t_query, 2),
    }


def retrieval50k(spark) -> dict:
    """The full retrieval family against a WRITTEN 50k-doc index in the
    at-rest layout (range-clustered postings, dictionary + doclens
    sidecars — exactly what jobs/index_job.py produces): BM25 top-10,
    Dirichlet-QL top-10, exact phrase, proximity, KWIC. Validates that
    query latency is index-bound (term-pruned scans + tiny joins), not
    corpus-bound — the property that holds at 10^10 docs."""
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.textstats import (
        bm25_from_index,
        kwic_snippets,
        phrase_match,
        proximity_match,
        ql_dirichlet_from_index,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    # 10x the corpus with disjoint high-bit id blocks (same pattern as the
    # other rehearsals); vary a token so copies aren't byte-identical
    docs = base
    for i in range(1, 10):
        docs = docs.unionByName(
            base.select(
                (F.col("doc_id") + (i << 41)).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" variant{i}")).alias("text"),
            )
        )
    n_docs = docs.count()
    root = tempfile.mkdtemp(prefix="ret50k_")
    src = f"{root}/docs.parquet"
    docs.write.mode("overwrite").parquet(src)
    out = f"{root}/index"
    # build through the REAL job so the rehearsal pins index_job's actual
    # at-rest layout (not a hand-rolled replica that can drift)
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    try:
        import index_job
    finally:
        sys.path.pop(0)
    t0 = time.time()
    rc = index_job.main(["--docs", src, "--out", out])
    assert rc == 0
    t_build = time.time() - t0
    postings = spark.read.parquet(f"{out}/postings.parquet")
    d = spark.read.parquet(f"{out}/dictionary.parquet")
    dl = spark.read.parquet(f"{out}/doclens.parquet")

    r: dict = {"job": "retrieval50k", "docs": n_docs,
               "postings": postings.count(),
               "build_seconds": round(t_build, 1),
               "build_docs_per_sec": round(n_docs / t_build, 1)}
    t = time.time()
    r["bm25_top10"] = len(
        bm25_from_index(postings, d, ["spark", "table", "query"],
                        doclens=dl)
        .orderBy(F.desc("bm25"), "id").limit(10).collect())
    r["bm25_seconds"] = round(time.time() - t, 2)
    t = time.time()
    r["ql_top10"] = len(
        ql_dirichlet_from_index(postings, d, ["spark", "table", "query"],
                                doclens=dl)
        .orderBy(F.desc("ql"), "id").limit(10).collect())
    r["ql_seconds"] = round(time.time() - t, 2)
    t = time.time()
    r["phrase_hits"] = phrase_match(postings, ["table", "key"]).count()
    r["phrase_seconds"] = round(time.time() - t, 2)
    t = time.time()
    r["proximity_hits"] = proximity_match(
        postings, "table", "query", within=8).count()
    r["proximity_seconds"] = round(time.time() - t, 2)
    t = time.time()
    r["kwic_hits"] = kwic_snippets(docs, postings, "vector",
                                   width=3).count()
    r["kwic_seconds"] = round(time.time() - t, 2)
    return r


def ccstar200k(spark) -> dict:
    """Connected components on a pathological dedup graph: a 100k-hop
    CHAIN (the shape that breaks diameter-bound label propagation), a
    50k-spoke mega-hub (the shape that breaks per-round fan-out), and
    10k random pairs. Star CC must (a) converge, (b) match a driver
    union-find exactly; propagation capped at 30 rounds must NOT
    converge on the chain — the structural claim behind
    cluster_pairs_star, measured."""
    import warnings

    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.dedup import (
        cluster_pairs,
        cluster_pairs_star,
    )

    r: dict = {"job": "ccstar200k"}
    chain = spark.range(100_000).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    hub = spark.range(50_000).select(
        F.lit(1_000_000).alias("id_a"),
        (F.col("id") + 1_000_001).alias("id_b"))
    rnd = spark.range(10_000).select(
        (F.pmod(F.xxhash64(F.col("id")), 40_000) + 2_000_000).alias("id_a"),
        (F.pmod(F.xxhash64(F.col("id") + 7), 40_000) + 2_000_000)
        .alias("id_b"))
    pairs = chain.unionByName(hub).unionByName(rnd)
    n_edges = pairs.count()
    r["edges"] = n_edges

    t = time.time()
    star = cluster_pairs_star(pairs)
    star_rows = {(x["id"], x["cluster_id"]) for x in star.collect()}
    r["star_seconds"] = round(time.time() - t, 2)
    r["star_nodes"] = len(star_rows)

    # ground truth: the size-gated driver union-find inside cluster_pairs
    # (its gate raised past this graph's ~320k directed edges)
    t = time.time()
    with _small_input_gate(1_000_000):
        uf = cluster_pairs(pairs)
    uf_rows = {(x["id"], x["cluster_id"]) for x in uf.collect()}
    r["unionfind_seconds"] = round(time.time() - t, 2)
    r["star_matches_unionfind"] = star_rows == uf_rows

    # propagation with a 30-round cap: must warn (chain diameter 100k)
    t = time.time()
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        with _small_input_gate(None):
            prop = cluster_pairs(pairs, max_iters=30)
        prop.count()
        r["prop30_converged"] = not any(
            "NOT converged" in str(x.message) for x in w)
    r["prop30_seconds"] = round(time.time() - t, 2)
    return r


def nnd20k(spark) -> dict:
    """NN-Descent graph build at 5k and 20k clustered vectors (dim 64):
    the structural claim is LINEAR per-round cost (n·(2k)² candidates)
    where the brute-force graph build grows QUADRATICALLY (16x pairs for
    4x vectors). Measures build time at both sizes plus the candidate
    ratio, and spot-checks graph recall vs brute force on a 5k slice
    (brute at 20k is the thing we're avoiding)."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from ann_recall import clustered_vectors
    from crawl4ai_custom_spark.operators.nndescent import nn_descent
    from crawl4ai_custom_spark.operators.similarity import brute_force_topk

    r: dict = {"job": "nnd20k", "k": 10, "rounds": 2}
    times = {}
    for n in (5_000, 20_000):
        emb = clustered_vectors(spark, n=n, dim=64, n_clusters=64).persist()
        emb.count()
        t = time.time()
        g = nn_descent(emb, k=10, rounds=2, n_planes=6)
        n_edges = g.count()
        times[n] = round(time.time() - t, 2)
        r[f"build_seconds_n{n}"] = times[n]
        r[f"edges_n{n}"] = n_edges
        if n == 5_000:
            brute = brute_force_topk(emb, emb, k=10).persist()
            nb = brute.count()
            hits = g.select("id", "nbr").intersect(
                brute.selectExpr("query_id as id", "neighbor_id as nbr")
            ).count()
            r["recall_n5000"] = round(hits / nb, 4)
            brute.unpersist()
        emb.unpersist()
    # linearity evidence: 4x the vectors should cost ~4x, not 16x
    r["time_ratio_4x_data"] = round(times[20_000] / times[5_000], 2)
    return r


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "both"
    spark = _spark()
    if which in ("crawl80k", "both"):
        print(json.dumps(crawl80k(spark)), flush=True)
    if which in ("corpus50k", "both"):
        print(json.dumps(corpus50k(spark)), flush=True)
    if which in ("quality50k", "both"):
        print(json.dumps(quality50k(spark)), flush=True)
    if which == "ingest50k":
        print(json.dumps(ingest50k(spark)), flush=True)
    if which == "stream10x":
        print(json.dumps(stream10x(spark)), flush=True)
    if which == "ahash50k":
        print(json.dumps(ahash50k(spark)), flush=True)
    if which == "index50k":
        print(json.dumps(index50k(spark)), flush=True)
    if which == "retrieval50k":
        print(json.dumps(retrieval50k(spark)), flush=True)
    if which == "webtext50k":
        print(json.dumps(webtext50k(spark)), flush=True)
    if which == "ccstar200k":
        print(json.dumps(ccstar200k(spark)), flush=True)
    if which == "nnd20k":
        print(json.dumps(nnd20k(spark)), flush=True)


if __name__ == "__main__":
    main()
