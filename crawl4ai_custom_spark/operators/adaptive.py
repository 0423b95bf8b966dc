"""Adaptive crawl statistics: term stats, confidence, link ranking.

Reference parity: AdaptiveCrawler (/root/reference/crawl4ai/adaptive_crawler.py)
— crawl until "confident": coverage (query-term coverage with log-frequency
boost), consistency, saturation (1 - recent new-term rate), confidence =
0.4/0.3/0.3 blend; link ranking by relevance/novelty/authority.

Spark re-expression: term statistics are aggregations over the exploded
token table; everything returns plain floats so the driver loop
(adaptive_session) can decide to stop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def term_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
               ) -> DataFrame:
    """(term, tf, df): corpus term/document frequencies — one explode+groupBy."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                lambda t: F.length(t) > 1,
            )
        ).alias("term"),
    )
    return toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("id").alias("df"),
    )


def coverage_score(stats: DataFrame, query_terms: list[str], n_docs: int) -> float:
    """Query-term coverage with log-frequency boost (adaptive_crawler.py:311-350
    semantics): mean over query terms of min(1, log1p(tf)/log1p(n_docs))."""
    if not query_terms or n_docs == 0:
        return 0.0
    qt = [t.lower() for t in query_terms]
    rows = stats.where(F.col("term").isin(qt)).select("term", "tf").collect()
    tf = {r["term"]: r["tf"] for r in rows}
    import math

    per_term = [
        min(1.0, math.log1p(tf.get(t, 0)) / math.log1p(max(2, n_docs)))
        for t in qt
    ]
    return float(sum(per_term) / len(per_term))


def saturation_score(new_terms_history: list[int]) -> float:
    """1 - recent/initial new-term rate (adaptive_crawler.py:383-413)."""
    if len(new_terms_history) < 2:
        return 0.0
    initial = max(1, new_terms_history[0])
    recent = new_terms_history[-1]
    return max(0.0, min(1.0, 1.0 - recent / initial))


def confidence(coverage: float, consistency: float, saturation: float) -> float:
    """0.4 / 0.3 / 0.3 blend (adaptive_crawler.py:311-413)."""
    return 0.4 * coverage + 0.3 * consistency + 0.3 * saturation


def rank_links_adaptive(
    links: DataFrame,
    stats: DataFrame,
    query_terms: list[str],
    *,
    w_relevance: float = 0.5,
    w_novelty: float = 0.3,
    w_authority: float = 0.2,
) -> DataFrame:
    """score = w_r*relevance + w_n*novelty + w_a*authority over
    (href, text, registrable_domain) link rows. Novelty = fraction of link
    words NOT already frequent in the corpus (anti-join against term_stats);
    authority = shallow-path + https heuristic."""
    words = F.filter(
        F.split(F.lower(F.concat_ws(" ", "text", "href")), r"[^a-z0-9]+"),
        lambda t: F.length(t) > 1,
    )
    exploded = links.select("href", F.explode(words).alias("term"))
    known = stats.where(F.col("df") >= 2).select("term")
    novelty = (
        exploded.join(known, "term", "left_anti")
        .groupBy("href")
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    total = exploded.groupBy("href").agg(F.count(F.lit(1)).alias("n_terms"))
    rel = F.lit(0.0)
    for t in (q.lower() for q in query_terms):
        rel = rel + F.when(F.lower(F.col("href")).contains(t)
                           | F.lower(F.col("text")).contains(t), 1.0).otherwise(0.0)
    rel = rel / F.lit(float(max(1, len(query_terms))))
    auth = (
        F.when(F.col("href").startswith("https://"), 0.5).otherwise(0.0)
        + F.when(F.size(F.split(F.col("href"), "/")) <= 5, 0.5).otherwise(0.2)
    )
    out = (
        links.join(novelty, "href", "left")
        .join(total, "href", "left")
        .withColumn(
            "novelty",
            (F.coalesce(F.col("new_terms"), F.lit(0))
             / F.greatest(F.col("n_terms"), F.lit(1))).cast("double"),
        )
        .withColumn("relevance", rel.cast("double"))
        .withColumn("authority", auth.cast("double"))
    )
    return out.withColumn(
        "adaptive_score",
        (F.lit(w_relevance) * F.col("relevance")
         + F.lit(w_novelty) * F.col("novelty")
         + F.lit(w_authority) * F.col("authority")).cast("double"),
    ).orderBy(F.desc("adaptive_score"), F.asc("href"))
