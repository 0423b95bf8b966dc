"""Adaptive crawl session: crawl-until-confident driver loop.

Reference parity: AdaptiveCrawler.digest
(/root/reference/crawl4ai/adaptive_crawler.py:1308, stop logic :529-548) —
crawl waves, update term statistics, compute confidence =
0.4*coverage + 0.3*consistency + 0.3*saturation, rank next links by
relevance/novelty/authority, stop when confident / saturated / budget.

Spark re-expression: wraps FrontierEngine's wave loop (via streaming
emission) with per-wave term-stat aggregation over the crawled text; the
confidence blend and the stop decision run on the driver (tiny numbers);
the heavy parts (term stats, ranking) are dataflow (operators/adaptive.py).
State (term stats, new-term history) snapshots beside the crawl checkpoint.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from ..operators.adaptive import (
    confidence,
    coverage_score,
    saturation_score,
    term_stats,
)
from ..operators.frontier import FrontierEngine
from ..streaming.emission import stream_crawl


@dataclass
class AdaptiveResult:
    confidence: float
    coverage: float
    consistency: float
    saturation: float
    waves: int
    pages: int
    stopped_reason: str
    new_terms_history: list[int] = field(default_factory=list)


def adaptive_crawl(
    engine: FrontierEngine,
    seeds,
    query: str,
    *,
    confidence_threshold: float = 0.75,
    max_total_waves: int = 16,
) -> AdaptiveResult:
    """Run waves until confidence >= threshold (or frontier/budget exhausts).

    Consistency here uses the cheap proxy the reference's blend tolerates at
    wave granularity: the fraction of crawled pages containing >=1 query
    term (pairwise Jaccard — dedup.ngram_jaccard_dedup — is overkill per
    wave)."""
    import os

    spark = engine.spark
    query_terms = [t.lower() for t in query.split() if t]
    history: list[int] = []
    pages = 0
    waves = 0
    hit_pages = 0
    conf = cov = cons = sat = 0.0
    reason = "frontier_exhausted"

    # All vocabulary state lives in parquet, never on the driver: at 100 TB
    # the term vocabulary is tens of millions of rows — a driver set would
    # OOM and an un-materialized union chain would explode the plan. The
    # seen-terms table is append-only (each wave appends only its genuinely
    # new terms, found by anti-join); cumulative stats ping-pong between two
    # materialized views so each wave's plan starts from a parquet scan.
    state_dir = os.path.join(engine.checkpoint_dir, "_state", "adaptive")
    seen_terms_path = os.path.join(state_dir, "seen_terms")
    stats_paths = [os.path.join(state_dir, f"stats_{i}") for i in (0, 1)]
    stats_df: DataFrame | None = None

    for wave, results, run in stream_crawl(engine, seeds, max_total_waves):
        waves = wave + 1
        ok = results.where(F.col("status_code") == 200).select(
            F.col("url").alias("doc_id"), F.col("text")
        )
        # one pass for both wave tallies: page count + query-hit count
        hit_pred = (
            F.concat(F.lit(" "), F.lower("text"), F.lit(" ")).rlike(
                "|".join(f" {t} " for t in query_terms) if query_terms else "$^"
            )
        )
        tallies = ok.agg(
            F.count(F.lit(1)).alias("n_ok"),
            F.sum(hit_pred.cast("int")).alias("n_hit"),
        ).collect()[0]
        n_ok = int(tallies["n_ok"] or 0)
        pages += n_ok
        if n_ok == 0:
            continue
        hit_pages += int(tallies["n_hit"] or 0)

        wave_stats = term_stats(ok, id_col="doc_id", text_col="text")
        # new-term count is a SCALAR from an anti-join against the persisted
        # vocabulary — never a collect() of the terms themselves
        wave_terms = wave_stats.select("term")
        if os.path.isdir(seen_terms_path):
            seen = spark.read.parquet(seen_terms_path)
            fresh = wave_terms.join(seen, "term", "left_anti")
        else:
            fresh = wave_terms
        n_new = fresh.count()
        fresh.write.mode("append").parquet(seen_terms_path)
        history.append(n_new)

        merged = (
            wave_stats
            if stats_df is None
            else stats_df.unionByName(wave_stats)
            .groupBy("term")
            .agg(F.sum("tf").alias("tf"), F.sum("df").alias("df"))
        )
        out = stats_paths[waves % 2]
        merged.write.mode("overwrite").parquet(out)
        stats_df = spark.read.parquet(out)

        cov = coverage_score(stats_df, query_terms, max(1, pages))
        cons = hit_pages / max(1, pages)
        sat = saturation_score(history)
        conf = confidence(cov, cons, sat)
        if conf >= confidence_threshold:
            reason = "confident"
            break
    else:
        reason = "max_waves"
    if conf < confidence_threshold and reason == "frontier_exhausted" and waves:
        reason = "frontier_exhausted"
    return AdaptiveResult(
        confidence=round(conf, 4),
        coverage=round(cov, 4),
        consistency=round(cons, 4),
        saturation=round(sat, 4),
        waves=waves,
        pages=pages,
        stopped_reason=reason,
        new_terms_history=history,
    )


@dataclass
class EmbeddingAdaptiveResult:
    confidence: float
    validation: float
    quality: float
    waves: int
    pages: int
    kb_docs: int
    stopped_reason: str
    confidence_history: list[float] = field(default_factory=list)


def embedding_adaptive_crawl(
    engine: FrontierEngine,
    seeds,
    query_embeddings: DataFrame,
    embed_results,
    *,
    validation_split: float = 0.2,
    max_pages: int = 10_000,
    max_total_waves: int = 16,
    cfg=None,
) -> EmbeddingAdaptiveResult:
    """strategy="embedding": crawl until the semantic space of the query
    variations is covered (EmbeddingStrategy, adaptive_crawler.py:617-1270).

    query_embeddings: (query_id, embedding array<double>) — the query plus
        its variations, PRECOMPUTED (the text->vector model call is the
        out-of-scope external model call). The last
        ceil(20%) of query_id order is held out for validation, mirroring
        the reference's train/val split (:760-781).
    embed_results: callable (results DataFrame) -> (doc_id, embedding) —
        embedding provider for crawled pages (deterministic fake in tests).

    The KB lives in parquet beside the crawl checkpoint (never on the
    driver); each wave appends only new-doc embeddings that survive the
    0.95 redundancy filter, then confidence/validation run as dataflow.
    """
    import os

    from .adaptive_embedding import (
        EmbeddingAdaptiveConfig,
        EmbeddingStopState,
        kb_confidence,
        kb_dedup_filter,
        quality_confidence,
        should_stop,
        validation_score,
    )

    cfg = cfg or EmbeddingAdaptiveConfig()
    spark = engine.spark
    ids = sorted(r[0] for r in query_embeddings.select("query_id").collect())
    # Reference split guarantee (adaptive_crawler.py expanded-query split):
    # the original query (first id) always stays in training, and training is
    # never empty — cap n_val at len(ids)-1 so <=2 queries still leaves a
    # train set (else kb_confidence is identically 0 and should_stop fires
    # 'below_minimum_relevance_threshold' on wave 1).
    n_val = min(max(2, int(len(ids) * validation_split)), max(len(ids) - 1, 0))
    val_ids = set(ids[-n_val:]) if n_val > 0 else set()
    val_ids.discard(ids[0] if ids else None)
    train_q = query_embeddings.where(~F.col("query_id").isin(list(val_ids)))
    val_q = query_embeddings.where(F.col("query_id").isin(list(val_ids)))

    kb_path = os.path.join(engine.checkpoint_dir, "_state", "kb_embeddings")
    state = EmbeddingStopState()
    conf = val = 0.0
    pages = waves = kb_docs = 0
    stopped = False

    for wave, results, run in stream_crawl(engine, seeds, max_total_waves):
        waves = wave + 1
        ok = results.where(F.col("status_code") == 200)
        new_emb = embed_results(ok)
        if os.path.isdir(kb_path):
            kb = spark.read.parquet(kb_path)
            fresh = kb_dedup_filter(new_emb, kb,
                                    threshold=cfg.kb_similarity_threshold)
        else:
            fresh = new_emb
        fresh.write.mode("append").parquet(kb_path)
        kb = spark.read.parquet(kb_path)
        kb_docs = kb.count()
        pages += ok.count()

        conf = kb_confidence(train_q, kb, tau=cfg.coverage_tau)
        if should_stop(
            state, conf, pages, frontier_empty=False, max_pages=max_pages,
            validate=lambda: validation_score(val_q, kb), cfg=cfg,
        ):
            stopped = True
            break
    if not stopped and not state.stopped_reason:
        state.stopped_reason = "max_waves_or_frontier"
    if os.path.isdir(kb_path):
        val = validation_score(val_q, spark.read.parquet(kb_path))
    quality = quality_confidence(conf, val, state.validation_passed, cfg)
    return EmbeddingAdaptiveResult(
        confidence=round(conf, 4),
        validation=round(val, 4),
        quality=round(quality, 4),
        waves=waves,
        pages=pages,
        kb_docs=kb_docs,
        stopped_reason=state.stopped_reason,
        confidence_history=[round(c, 4) for c in state.confidence_history],
    )
