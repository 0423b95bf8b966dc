"""Driver contract for the spark-graft builder (PySpark target).

Every operator family from SURVEY.md §2 is represented by a ``queries()``
entry; wherever the semantics are SQL-expressible the matching
``oracle_sql()`` DuckDB query pins them exactly (same column names, same
value semantics — floats rounded to 4 decimals on BOTH sides).

Shared determinism device: synthetic URL / html / frontier columns are
constructed from the testdata tables with closed-form expressions, so the
oracle can state the EXPECTED output in SQL while the Spark side runs the
real operator (UDF / window / join / fold) under test.

Hashing shared with the oracle: stable 60-bit md5 hash —
Spark  ``conv(substr(md5(x),1,15),16,10)::long``
DuckDB ``('0x'||substr(md5(x),1,15))::BIGINT``
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _doc_urls(docs: DataFrame) -> DataFrame:
    """Deterministic mixed-form URLs from documents (4 canonicalization
    case families, closed-form expected outputs in the oracle)."""
    m = F.col("doc_id") % 4
    url = (
        F.when(m == 0, F.concat(F.lit("https://WWW."), F.col("source"),
                                F.lit(".com/docs/"), F.col("doc_id"),
                                F.lit("/?utm_source=x&b=2&a=1")))
        .when(m == 1, F.concat(F.lit("http://"), F.col("source"),
                               F.lit(".com:80/a/"), F.col("doc_id"), F.lit("#frag")))
        .when(m == 2, F.concat(F.lit("https://"), F.col("source"),
                               F.lit(".co.uk/x/"), F.col("doc_id"), F.lit("/")))
        .otherwise(F.concat(F.lit("https://user:pw@"), F.col("source"),
                            F.lit(".com/p"), F.col("doc_id"), F.lit("?gclid=1&keep=z")))
    )
    return docs.select("doc_id", "source", url.alias("url"))


_DOC_URLS_SQL = """
    select doc_id, source,
      case doc_id % 4
        when 0 then 'https://WWW.' || source || '.com/docs/' || doc_id || '/?utm_source=x&b=2&a=1'
        when 1 then 'http://' || source || '.com:80/a/' || doc_id || '#frag'
        when 2 then 'https://' || source || '.co.uk/x/' || doc_id || '/'
        else 'https://user:pw@' || source || '.com/p' || doc_id || '?gclid=1&keep=z'
      end as url
    from documents
"""

_NORM_TEXT_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_HASH_SQL = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

# near-dup corpus: every 10th doc re-appears (id+100000) with a small tail
_DUPED_DOCS_SQL = """
    select doc_id, text from documents
    union all
    select doc_id + 100000 as doc_id, text || ' extra tail words appended here'
    from documents where doc_id % 10 = 0
"""


def _duped_docs(docs: DataFrame) -> DataFrame:
    dup = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail words appended here")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(dup)


# MinHash parameters shared with the SQL oracle (imported from dedup.py so
# the Spark operator and the oracle can never drift)
MERSENNE31 = (1 << 31) - 1
import statistics as _statistics

# Phi^-1(0.95), shared verbatim between the q_moments gate and its oracle
Z95 = _statistics.NormalDist().inv_cdf(0.95)

MINHASH_SEED = 1
N_MINHASH = 16
N_BANDS = 4


def _minhash_params(n: int = N_MINHASH, seed: int = MINHASH_SEED):
    from crawl4ai_custom_spark.operators.dedup import minhash_params

    return minhash_params(n, seed)


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.urlops import (
        canonicalize_abs_udf,
        registrable_domain_udf,
    )

    urls = _doc_urls(_t(spark, sf_dir, "documents"))
    return urls.select(
        "doc_id",
        canonicalize_abs_udf(F.col("url")).alias("url_canon"),
        registrable_domain_udf(canonicalize_abs_udf(F.col("url"))).alias("domain"),
    )


def q_normalize_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize_url (strict normal form: canonicalize + lowercase + SORT
    query keys, utils.py:2223-2321 semantics) and is_external_url (www-
    stripped host-suffix comparison), exactly oracled in closed form."""
    from crawl4ai_custom_spark.operators.urlops import (
        is_external_udf,
        normalize_udf,
    )

    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("https://WWW."), F.col("source"), F.lit(".com/p/"),
        F.col("doc_id"), F.lit("?B=2&a=1&UTM_x=9&Ref=r&c="),
    )
    base_same = F.concat(F.lit("https://"), F.col("source"), F.lit(".com/"))
    norm = normalize_udf(raw, F.lit(None).cast("string"))
    return docs.select(
        "doc_id",
        norm.alias("url_norm"),
        is_external_udf(norm, base_same).alias("ext_same"),
        is_external_udf(norm, F.lit("https://other.example.net/")).alias("ext_other"),
    )


def q_url_scorers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.scorers import (
        content_type_score,
        freshness_score,
        keyword_relevance_score,
        path_depth_score,
    )

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://example.com"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/2022")).otherwise(F.lit("")),
        F.lit("/seg"),
        F.repeat(F.lit("/p"), (F.col("doc_id") % 5).cast("int")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/f.html"))
        .when(F.col("doc_id") % 3 == 1, F.lit("/f.pdf"))
        .otherwise(F.lit("/f")),
    )
    d = docs.select("doc_id", url.alias("url"))
    return d.select(
        "doc_id",
        F.round(path_depth_score(F.col("url")), 4).alias("depth_score"),
        F.round(content_type_score(F.col("url")), 4).alias("ctype_score"),
        F.round(freshness_score(F.col("url")), 4).alias("fresh_score"),
        F.round(
            keyword_relevance_score(F.col("url"), ["seg", "html"]), 4
        ).alias("kw_score"),
    )


def q_frontier_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.politeness import (
        PolitenessConfig,
        admit,
        empty_host_state,
    )

    docs = _t(spark, sf_dir, "documents")
    fr = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".com/d/"), F.col("doc_id")).alias("url_canon"),
        F.concat(F.col("source"), F.lit(".com")).alias("registrable_domain"),
        (F.col("doc_id") % 4).cast("int").alias("depth"),
        F.round((F.col("doc_id") % 97) / 97.0, 6).alias("score"),
    )
    cfg = PolitenessConfig(base_delay=2.0, wave_seconds=6.0)  # budget 3/domain
    out = admit(fr, empty_host_state(spark), cfg, global_budget=40)
    return out.select("url_canon", "registrable_domain", "depth", "score")


def q_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.seen import filter_unseen_exact
    from crawl4ai_custom_spark.operators.urlops import stable_hash60

    urls = _doc_urls(_t(spark, sf_dir, "documents")).select(
        "doc_id", "url", stable_hash60(F.col("url")).alias("url_hash")
    )
    seen = urls.where(F.col("doc_id") % 3 == 0).select("url_hash")
    return filter_unseen_exact(urls, seen).select("doc_id", "url_hash")


def q_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id", "event_id", F.unix_timestamp("ts").alias("ts_epoch")
        )
    )


def q_politeness_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.politeness import (
        PolitenessConfig,
        empty_host_state,
        fold_wave_outcomes,
    )

    ev = _t(spark, sf_dir, "events")
    outcomes = ev.select(
        F.concat(F.col("event_type"), F.lit(".com")).alias("registrable_domain"),
        F.when(F.col("event_id") % 10 == 0, 429)
        .when(F.col("event_id") % 10 == 1, 503)
        .otherwise(200)
        .alias("status_code"),
    )
    return fold_wave_outcomes(
        empty_host_state(spark), outcomes, PolitenessConfig()
    ).select("registrable_domain", "current_delay", "fail_count")


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.robots import robots_gate

    docs = _t(spark, sf_dir, "documents")
    region = _t(spark, sf_dir, "region")
    fr = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://r"), (F.col("doc_id") % 5),
            F.lit(".example.com"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("/private/p")).otherwise(F.lit("/pub/p")),
            F.col("doc_id"),
        ).alias("url_canon"),
    )
    robots = region.select(
        F.concat(F.lit("r"), F.col("r_regionkey"), F.lit(".example.com")).alias("domain"),
        F.lit("User-agent: *\nDisallow: /private/").alias("rules"),
        F.current_timestamp().alias("fetch_time"),
    )
    return robots_gate(fr, robots).select("doc_id", "url_canon")


def q_url_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.filters import (
        content_type_filter,
        domain_filter,
        nonsense_url_filter,
        url_pattern_filter,
    )

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    url = (
        F.when(m == 0, F.concat(F.lit("https://good.com/keep/page"), F.col("doc_id"), F.lit(".html")))
        .when(m == 1, F.concat(F.lit("https://good.com/keep/app"), F.col("doc_id"), F.lit(".exe")))
        .when(m == 2, F.concat(F.lit("https://good.com/skip/page"), F.col("doc_id"), F.lit(".html")))
        .when(m == 3, F.concat(F.lit("https://bad.com/keep/page"), F.col("doc_id"), F.lit(".html")))
        .otherwise(F.concat(F.lit("https://good.com/keep/feed"), F.col("doc_id"), F.lit(".css")))
    )
    d = docs.select("doc_id", url.alias("url"),
                    F.when(m == 3, F.lit("bad.com")).otherwise(F.lit("good.com")).alias("registrable_domain"))
    pred = (
        url_pattern_filter(F.col("url"), ["https://good.com/keep/*"])
        & content_type_filter(F.col("url"), ["text/html"])
        & domain_filter(F.col("registrable_domain"), blocked=["bad.com"])
        & nonsense_url_filter(F.col("url"))
    )
    return d.where(pred).select("doc_id", "url")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.dedup import exact_dedup

    corpus = _duped_docs(_t(spark, sf_dir, "documents"))
    # exact dups only come from identical text (word-soup collisions incl.)
    both = corpus.unionByName(
        _t(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 200000).alias("doc_id"), "text"
        )
    )
    return exact_dedup(both).select("fingerprint", "n_dups", "keeper")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.dedup import ngram_jaccard_dedup

    corpus = _duped_docs(_t(spark, sf_dir, "documents")).where(
        (F.col("doc_id") % 100000) < 60
    )
    out = ngram_jaccard_dedup(corpus, threshold=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_fuzzy_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell fuzzy-join gate: distinct 5-10 char words (hash-thinned
    1-in-7 for a bounded set), all pairs within Levenshtein 1 via
    deletion-neighborhood candidates + exact verify. The operator is
    exact, so the oracle IS the brute-force all-pairs levenshtein."""
    from crawl4ai_custom_spark.operators.textstats import fuzzy_term_pairs
    from crawl4ai_custom_spark.operators.urlops import stable_hash60

    from crawl4ai_custom_spark.session import spread_scan

    # the full-corpus tokenize+explode is the expensive stage and the
    # single-row-group documents file otherwise feeds it one task
    docs = spread_scan(_t(spark, sf_dir, "documents"))
    words = docs.select(F.explode(F.split(
        F.regexp_replace(F.lower("text"), "[^a-z]+", " "), " "
    )).alias("term"))
    terms = (
        words.where(F.length("term").between(5, 10)).distinct()
        .where(stable_hash60(F.col("term")) % 7 == 0)
    )
    # plant typos (3rd char deleted from a hash-chosen subset) so the
    # gate exercises non-empty match sets at every scale factor
    typos = terms.where(stable_hash60(F.col("term")) % 3 == 0).select(
        F.concat(
            F.expr("substring(term, 1, 2)"),
            F.expr("substring(term, 4, length(term))"),
        ).alias("term")
    )
    allt = terms.unionByName(typos).distinct()
    return fuzzy_term_pairs(allt).select("term_a", "term_b", "dist")


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing copy-detection gate (MOSS algorithm): fingerprints =
    rightmost-minimum hash of each 8-window over char 12-gram hashes of
    the squashed text; pairs sharing >= 5 fingerprints flag. Oracle
    replays grams, windows and the rightmost-min selection via a range
    join + row_number in SQL."""
    from crawl4ai_custom_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_matches,
    )

    corpus = _duped_docs(_t(spark, sf_dir, "documents")).where(
        (F.col("doc_id") % 100000) < 40
    ).withColumn("text", F.substring("text", 1, 400))
    fps = winnow_fingerprints(corpus, k=12, window=8)
    return winnow_matches(fps, min_shared=5).select(
        "id_a", "id_b", "n_shared")


def q_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtering exact similarity join gate (PPJoin family): same
    planted-dup corpus as q_ngram_jaccard at threshold 0.6 — the operator
    generates candidates from rarest-first prefixes only, but the lemma
    guarantees the result equals brute force, so the oracle IS the
    brute-force all-pairs Jaccard."""
    from crawl4ai_custom_spark.operators.dedup import prefix_filter_dedup

    base = _t(spark, sf_dir, "documents").withColumn(
        "text", F.substring("text", 1, 600))
    corpus = _duped_docs(base).where((F.col("doc_id") % 100000) < 60)
    out = prefix_filter_dedup(corpus, threshold=0.6)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.dedup import minhash_lsh_dedup

    corpus = _duped_docs(_t(spark, sf_dir, "documents")).where(
        (F.col("doc_id") % 100000) < 60
    )
    out = minhash_lsh_dedup(
        corpus, num_hashes=N_MINHASH, bands=N_BANDS, jaccard_threshold=0.6
    )
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_lsh_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-config planner gate: for each candidate (bands,
    rows_per_band) split of the 16-hash signature, the exact number of
    candidate rows the band self-join WOULD produce (sum n*(n-1)/2 over
    bucket histogram), without running any join. Oracle replays the
    banding + histogram in SQL."""
    from crawl4ai_custom_spark.operators.dedup import (
        lsh_plan_stats,
        minhash_signatures,
        shingle_table,
    )

    corpus = _duped_docs(_t(spark, sf_dir, "documents")).where(
        (F.col("doc_id") % 100000) < 60
    )
    sigs = minhash_signatures(shingle_table(corpus), N_MINHASH, MINHASH_SEED)
    return lsh_plan_stats(sigs, [2, 4, 8, 16], num_hashes=N_MINHASH)


def q_host_mirrors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-host detection (Bharat & Broder): per-host shingle-union
    minhash, LSH host-pair candidates, exact resemblance + two-way
    containment on candidates only. Synthetic mirror farm: every source
    re-appears as a full mirror (``full.<source>``) and an 80% section
    mirror (``part.<source>``, doc_id % 5 != 0). Oracle recomputes the
    identical shingle/minhash/band chain keyed by host."""
    from crawl4ai_custom_spark.operators.dedup import host_mirror_pairs

    # doc_id % 4 == 0 only: keeps the gate <=3s at sf0.01 (driver gate
    # budget); the oracle recomputes the identical subset
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    base = docs.select(F.col("source").alias("host"), "text")
    full = docs.select(
        F.concat(F.lit("full."), "source").alias("host"), "text")
    part = docs.where(F.col("doc_id") % 5 != 0).select(
        F.concat(F.lit("part."), "source").alias("host"), "text")
    out = host_mirror_pairs(
        base.unionByName(full).unionByName(part),
        num_hashes=N_MINHASH, bands=N_BANDS,
        resemblance_threshold=0.9, containment_threshold=0.95,
        # the shingle table feeds 6 plan branches; at gate scale the tiny
        # MEMORY cache beats the recompute (3.0s vs 4.3s measured)
        persist_shingles=True,
    )
    return out.select(
        "host_a", "host_b",
        F.round(F.col("resemblance") + 1e-9, 4).alias("resemblance"),
        F.round(F.col("containment_a_in_b") + 1e-9, 4).alias("cont_a_in_b"),
        F.round(F.col("containment_b_in_a") + 1e-9, 4).alias("cont_b_in_a"),
        "mirror_class",
    )


def q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moments-sketch gate: per-source power-sum sketch over doc length
    (scaled to KB), central-moment stats and a Cornish-Fisher p95
    estimate clamped to the observed range. Oracle recomputes the
    identical power sums and closed-form algebra."""
    from crawl4ai_custom_spark.operators.sketches import (
        cf_quantile, moment_stats, moment_sums,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "source", (F.col("n_chars") / 1000.0).alias("kb"))
    out = cf_quantile(
        moment_stats(moment_sums(docs, "kb", ["source"])), 0.95, Z95)
    return out.select(
        "source",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("mean") + 1e-9, 4).alias("mean_kb"),
        F.round(F.col("std") + 1e-9, 4).alias("std_kb"),
        F.round(F.col("skewness") + 1e-9, 4).alias("skewness"),
        F.round(F.col("kurtosis") + 1e-9, 4).alias("kurtosis"),
        F.round(F.col("q_est") + 1e-9, 4).alias("p95_est_kb"),
    )


def q_dust_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUST parameter-rule mining gate (Bar-Yossef et al.): 4 url variants
    per content id (bare, +sid, +page, +utm) — sid/utm vary without
    changing content (must be judged irrelevant), page changes content
    (violations > 0, not irrelevant), id changes content (not
    irrelevant). Moduli chosen so each content id cycles through all
    variants (25 coprime to 4) and group spacing 100 varies page (mod 3)
    and utm (mod 7). Oracle recomputes the evidence-group semantics."""
    from crawl4ai_custom_spark.operators.dust import dust_param_rules

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    d = F.col("doc_id")
    c = (d % 25).cast("string")
    m = d % 4
    base = F.concat(F.lit("https://d.example.com/item?id="), c)
    url = (
        F.when(m == 0, base)
        .when(m == 1, F.concat(base, F.lit("&sid="), F.md5(d.cast("string"))))
        .when(m == 2, F.concat(base, F.lit("&page="), (d % 3).cast("string")))
        .otherwise(F.concat(base, F.lit("&utm="), (d % 7).cast("string")))
    )
    text = F.when(
        m == 2,
        F.concat(F.lit("page body "), c, F.lit(" p"), (d % 3).cast("string")),
    ).otherwise(F.concat(F.lit("page body "), c))
    rules = dust_param_rules(
        docs.select(url.alias("url"), text.alias("text")), min_support=2
    )
    return rules.select(
        "host", "param",
        F.col("n_groups").cast("bigint").alias("n_groups"),
        F.col("violations").cast("bigint").alias("violations"),
        "irrelevant",
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-vs-corpus minhash dedup: the existing corpus
    participates only through its stored signature table (never re-shingled)
    and its MATERIALIZED band index; a new ingest batch is LSH-banded
    against both plus itself. Batch contains novel docs (60..99), near-dups
    of corpus docs (tail-appended, +2^40) and exact within-batch dups
    (+2^41) — high-bit offsets so the synthetic ids are disjoint from real
    doc_ids at ANY scale factor (r4 advice: +100000 collided past 100k
    docs)."""
    from crawl4ai_custom_spark.operators.dedup import (
        banded_signatures, incremental_minhash_dedup, minhash_signatures,
        shingle_table,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 100000 < 60).select("doc_id", "text")
    # the premise of incrementality: the corpus signature store and its
    # band index EXIST as materialized tables (parquet/Iceberg in prod —
    # see streaming.ingest.SignatureStore); derived lazily here, the plan
    # is the same probe shape
    corpus_sigs = minhash_signatures(
        shingle_table(corpus), N_MINHASH, MINHASH_SEED
    )
    corpus_bands = banded_signatures(corpus_sigs, N_BANDS, N_MINHASH)
    novel = docs.where(
        (F.col("doc_id") % 100000 >= 60) & (F.col("doc_id") % 100000 < 100)
    ).select("doc_id", "text")
    near_corpus = corpus.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + (1 << 40)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail words appended here")).alias("text"),
    )
    within_batch = novel.where(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + (1 << 41)).alias("doc_id"), "text"
    )
    batch = novel.unionByName(near_corpus).unionByName(within_batch)
    out = incremental_minhash_dedup(
        batch, corpus_sigs, num_hashes=N_MINHASH, bands=N_BANDS,
        seed=MINHASH_SEED, est_threshold=0.6, corpus_bands=corpus_bands,
    )
    return out.select(
        "new_id", "dup_of", F.round("est_jaccard", 4).alias("est_jaccard"),
        "dup_source",
    )


def q_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window duplicated-fraction statistic (Lee et al. exact-substring
    dedup signal) over the near-dup corpus."""
    from crawl4ai_custom_spark.operators.dedup import window_dup_stats

    corpus = _duped_docs(_t(spark, sf_dir, "documents")).where(
        (F.col("doc_id") % 100000) < 80
    )
    out = window_dup_stats(corpus, k=10, min_docs=2)
    return out.select(
        "id", "n_windows", "dup_windows",
        F.round("dup_fraction", 4).alias("dup_fraction"),
    )


def q_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate REMOVAL (Lee et al. 2021 ExactSubstr, the
    companion of q_dup_fraction's detection signal): a 12-token boilerplate
    run is appended to every 6th doc (twice to every 11th, exercising
    within-document repeats); every occurrence but the first is excised at
    token granularity and the text rebuilt."""
    from crawl4ai_custom_spark.operators.dedup import exact_substring_dedup

    boiler = (" subscribe to our mailing list now for exclusive offers"
              " and weekly updates")
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 6 == 0, F.lit(boiler)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(boiler)).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = exact_substring_dedup(injected, k=10)
    return out.select(
        "doc_id", "n_tokens", "n_tokens_removed",
        F.md5("text").alias("clean_md5"),
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.dedup import simhash

    corpus = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return simhash(corpus, bits=16).select("id", F.col("simhash").alias("simhash16"))


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.dedup import simhash_dedup

    corpus = _duped_docs(_t(spark, sf_dir, "documents")).where(
        (F.col("doc_id") % 100000) < 120
    )
    return simhash_dedup(corpus, max_hamming=6, n_bands=4).select(
        "id_a", "id_b", "hamming"
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.dedup import embedding_cosine_dedup

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    # all_pairs is the ground-truth path (explicit opt-in); the scale path
    # is q_embedding_neardup_bucketed below
    out = embedding_cosine_dedup(emb, threshold=0.35, all_pairs=True)
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def q_embedding_neardup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB path: LSH sign-buckets bound the candidate pairs, then
    brute-force cosine only within buckets. Hyperplanes are the 4 smallest
    vec_ids of the corpus — deterministic, so the oracle rebuilds the exact
    same buckets in SQL."""
    from crawl4ai_custom_spark.operators.dedup import embedding_cosine_dedup
    from crawl4ai_custom_spark.operators.similarity import (
        data_hyperplanes,
        hyperplane_bucket,
    )

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    planes = data_hyperplanes(emb, n_planes=4)
    bucketed = hyperplane_bucket(emb, planes)
    out = embedding_cosine_dedup(
        bucketed, threshold=0.35, bucket_col=F.col("bucket")
    )
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def q_embedding_neardup_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 recall fix for the bucketed near-dup path: Hamming-1
    multiprobe recovers pairs that straddle ONE hyperplane (measured pair
    recall 0.83 -> 0.975, BENCH_SCALING.md). The oracle rebuilds the
    buckets AND the probe set (bucket XOR each single bit) in SQL."""
    from crawl4ai_custom_spark.operators.dedup import embedding_cosine_dedup
    from crawl4ai_custom_spark.operators.similarity import (
        data_hyperplanes,
        hyperplane_bucket,
    )

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    planes = data_hyperplanes(emb, n_planes=4)
    bucketed = hyperplane_bucket(emb, planes)
    out = embedding_cosine_dedup(
        bucketed, threshold=0.35, bucket_col=F.col("bucket"),
        multiprobe_planes=4,
    )
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pair -> cluster -> keeper: connected components (min-label
    propagation) over the MinHash-LSH near-dup pairs, so a pipeline can
    actually drop rows (keep id == cluster_id)."""
    from crawl4ai_custom_spark.operators.dedup import (
        cluster_pairs,
        minhash_lsh_dedup,
    )

    corpus = _duped_docs(_t(spark, sf_dir, "documents")).where(
        (F.col("doc_id") % 100000) < 60
    )
    pairs = minhash_lsh_dedup(
        corpus, num_hashes=N_MINHASH, bands=N_BANDS, jaccard_threshold=0.6
    )
    return cluster_pairs(pairs).select("id", "cluster_id")


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    out = brute_force_topk(emb, queries, k=5)
    return out.select("query_id", "neighbor_id", "rank",
                      F.round("cosine", 4).alias("cosine"))


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised k-NN label propagation: 40 seed vectors carry a
    closed-form 3-class label; 160 unlabeled vectors take the majority
    label of their 5 nearest seeds, cosine-mass then lexicographic
    tie-break (rounded — engine-independent)."""
    from crawl4ai_custom_spark.operators.similarity import knn_classify

    emb = _t(spark, sf_dir, "embeddings")
    labeled = emb.where(F.col("vec_id") < 40).withColumn(
        "label", F.concat(F.lit("c"), (F.col("vec_id") % 3).cast("string"))
    )
    unlabeled = emb.where((F.col("vec_id") >= 40) & (F.col("vec_id") < 200))
    out = knn_classify(unlabeled, labeled, k=5)
    return out.select(
        "id", "label_pred", "votes",
        F.round("vote_frac", 4).alias("vote_frac"),
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    out = lsh_topk(emb, queries, k=5, n_planes=4)
    return out.select("query_id", "neighbor_id", "rank",
                      F.round("cosine", 4).alias("cosine"))


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: deterministic data-derived centroids (8), single-bucket
    corpus assignment, 2-probe queries, exact cosine within candidates."""
    from crawl4ai_custom_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    out = ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=2)
    return out.select("query_id", "neighbor_id", "rank",
                      F.round("cosine", 4).alias("cosine"))


def q_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN-Descent k-NN graph (Dong et al. WWW 2011): LSH-seeded initial
    graph repaired by 2 neighbors-of-neighbors local-join rounds — the
    linear-in-n graph build that replaces the O(n^2) brute-force at
    corpus scale. Oracle unrolls the seed + both rounds in SQL."""
    from crawl4ai_custom_spark.operators.nndescent import nn_descent

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 144)
    out = nn_descent(emb, k=4, rounds=2, n_planes=4)
    return out.select("id", "nbr", "rank",
                      F.round("cosine", 4).alias("cosine"))


def q_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph ANN beam search over a 1-round NN-Descent graph: shared
    smallest-id entry points, 2 synchronized expansion rounds, exact
    cosine on every candidate. Oracle replays graph build + search."""
    from crawl4ai_custom_spark.operators.nndescent import (
        graph_ann_search, nn_descent)

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 144)
    graph = nn_descent(emb, k=4, rounds=1, n_planes=4)
    queries = emb.where(F.col("vec_id") < 10)
    out = graph_ann_search(graph, emb, queries, k=4, beam=8, rounds=2,
                           n_entry=6)
    return out.select("query_id", "neighbor_id", "rank",
                      F.round("cosine", 4).alias("cosine"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining sequence-packing gate: 30-word chunks of docs laid
    end-to-end per shard (doc_id % 4), every 64 tokens starts a new
    sequence; exact cumulative-offset oracle."""
    from crawl4ai_custom_spark.operators.chunking import (
        fixed_word_chunks,
        pack_sequences,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    chunks = fixed_word_chunks(docs, words=30).withColumn(
        "shard", (F.col("id") % 4).cast("int")
    )
    out = pack_sequences(chunks, seq_tokens=64)
    return out.select("shard", "id", "chunk_index", "n_tokens",
                      "seq_id", "seq_offset")


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means gate: deterministic init, two materialized rounds with
    round-6 centroid quantization (engine-independent trajectories); the
    oracle unrolls the identical two rounds in SQL."""
    from crawl4ai_custom_spark.operators.similarity import kmeans_lloyd

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, k=8, iterations=2)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) gate: k-means (k=8, 1 round) ->
    within-cluster cosine >= 0.4 pairs -> connected duplicate groups ->
    keep the member least similar to its centroid. The oracle replays the
    identical trajectory, pair set, recursive-CTE components and keeper
    ranking. Bounded to 300 vectors / 1 round for gate-budget reasons
    (r4 ask: every gate <= ~3s); the operator's full trajectory is
    exercised by q_kmeans and tests/test_semdedup*."""
    from crawl4ai_custom_spark.operators.dedup import semdedup

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    out = semdedup(emb, k=8, iterations=1, eps=0.4)
    # centroid_cos is already round-6 inside the operator (its determinism
    # contract) — emit as-is, the oracle computes the same rounding
    return out.select("vec_id", "cluster", "group_id", "centroid_cos",
                      "keep")


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k: corpus as m=4 codes over
    deterministic 16-entry codebooks; queries score every corpus vector as
    the sum of per-subspace table lookups. Oracle rebuilds codebooks, codes,
    and distance tables identically."""
    from crawl4ai_custom_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    return pq_topk(emb, queries, k=5, m=4, n_codes=16)


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.textstats import profile_documents

    docs = _t(spark, sf_dir, "documents")
    prof = profile_documents(docs)
    # +1e-9 before rounding on BOTH sides: keeps exact .5 boundaries (which
    # Spark rounds HALF_UP and DuckDB half-even) off the rounding edge
    return prof.select(
        "doc_id", "lang_pred", "token_count", "bpe_token_estimate",
        F.round(F.col("quality") + 1e-9, 4).alias("quality"), "fingerprint",
    )


def q_domain_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality prior (RefinedWeb-style domain curation): docs
    spread over 7 synthetic domains, every 10th doc re-served under a new
    id (same text, same domain) so dup_rate varies by domain arithmetic."""
    from crawl4ai_custom_spark.operators.textstats import domain_quality_rollup

    base = _t(spark, sf_dir, "documents").select(
        "doc_id", "text",
        F.concat(F.lit("dom"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".com")).alias("registrable_domain"),
    )
    corpus = base.unionByName(
        base.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 500000).alias("doc_id"), "text",
            "registrable_domain",
        )
    )
    return domain_quality_rollup(
        corpus, min_docs=3, min_avg_quality=0.5, max_dup_rate=0.1
    )


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher (Rae et al. 2021) document-quality rule pack. Bullet /
    ellipsis / symbol suffixes are injected per doc_id so every rule has
    both passing and failing rows in the gate (the raw synthetic docs
    exercise mostly word-count and stopword rules)."""
    from crawl4ai_custom_spark.operators.textstats import gopher_quality_filter

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t2 = F.concat(
        F.col("text"),
        F.when(d % 4 == 0,
               F.lit("\n• alpha item\n• beta item\n• gamma item"))
        .otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("\nwait for it...\nand more…"))
        .otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit(" ### ## #")).otherwise(F.lit("")),
    )
    out = gopher_quality_filter(docs.select("doc_id", t2.alias("text")))
    # gate surface = the 6 measures + keep; the 7 per-rule booleans are pure
    # threshold functions of the hash-checked measures (pinned by unit test)
    # and dropping them halves the one-time codegen compile, keeping the
    # gate inside the driver's per-gate time budget
    return out.select(
        "doc_id", "n_words",
        F.round(F.col("mean_word_len") + 1e-9, 4).alias("mean_word_len"),
        F.round(F.col("symbol_ratio") + 1e-9, 4).alias("symbol_ratio"),
        F.round(F.col("bullet_frac") + 1e-9, 4).alias("bullet_frac"),
        F.round(F.col("ellipsis_frac") + 1e-9, 4).alias("ellipsis_frac"),
        F.round(F.col("alpha_frac") + 1e-9, 4).alias("alpha_frac"),
        "stop_hits", "gopher_keep",
    )


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 three-sentence-span global dedup. A boilerplate 3-sentence block
    is appended to every 6th doc (and twice to every 66th) so the corpus
    carries real cross-document AND within-document duplicated spans; only
    the first (id, pos) occurrence survives."""
    from crawl4ai_custom_spark.operators.dedup import span_dedup

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    d = F.col("doc_id")
    boiler = ("Subscribe to our newsletter today. "
              "Follow us on social media. All rights reserved everywhere.")
    t2 = F.concat(
        F.col("text"),
        F.when(d % 6 == 0, F.lit(" " + boiler)).otherwise(F.lit("")),
        F.when(d % 11 == 0, F.lit(" " + boiler)).otherwise(F.lit("")),
    )
    out = span_dedup(docs.select("doc_id", t2.alias("text")))
    return out.select(
        "doc_id", "n_sentences",
        F.col("n_sentences_removed").cast("int").alias("n_sentences_removed"),
        F.md5("text").alias("clean_md5"),
    )


def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning-rule pack. Injected suffixes exercise each rule: short
    unpunctuated lines, javascript boilerplate, lorem ipsum, curly braces."""
    from crawl4ai_custom_spark.operators.textstats import c4_quality_filter

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t2 = F.concat(
        F.col("text"),
        F.when(d % 3 == 0, F.lit("\nclick here")).otherwise(F.lit("")),
        F.when(d % 5 == 0,
               F.lit("\nPlease enable javascript to view this page."))
        .otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit(" Lorem Ipsum dolor sit.")).otherwise(F.lit("")),
        F.when(d % 8 == 0, F.lit(" {var x = 1;}")).otherwise(F.lit("")),
    )
    out = c4_quality_filter(docs.select("doc_id", t2.alias("text")))
    return out.select(
        "doc_id", "n_lines_total", "n_lines_kept", "n_sentences",
        "has_lorem_ipsum", "has_curly_brace", "c4_keep",
        F.md5("c4_text").alias("c4_md5"),
    )


def q_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=next/prev pagination discovery gate: alternating attribute
    orders, chain heads/tails missing their respective links."""
    from crawl4ai_custom_spark.operators.headpeek import pagination_links

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    d = F.col("doc_id")
    url = F.concat(F.lit("https://p.com/list/"), d.cast("string"))
    nx = F.concat(F.lit("https://p.com/list/"), (d + 1).cast("string"))
    pv = F.concat(F.lit("https://p.com/list/"), (d - 1).cast("string"))
    link_next = F.when(
        d % 3 != 2,
        F.when(d % 2 == 0,
               F.concat(F.lit('<link rel="next" href="'), nx, F.lit('">')))
        .otherwise(F.concat(F.lit('<link href="'), nx,
                            F.lit('" rel="next">'))),
    ).otherwise(F.lit(""))
    link_prev = F.when(
        d % 3 != 0,
        F.concat(F.lit('<link rel="prev" href="'), pv, F.lit('">')),
    ).otherwise(F.lit(""))
    html = F.concat(F.lit("<html><head><title>x</title>"), link_next,
                    link_prev, F.lit("</head><body>b</body></html>"))
    pages = docs.select(url.alias("url"), F.encode(html, "utf-8").alias("html"))
    out = pagination_links(pages)
    return out.select("url", "next_url", "prev_url")


def q_meta_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-refresh redirect gate: every 3rd doc declares an HTML redirect
    (varying delay/spacing/quotes); exact (url, redirect_to) extraction."""
    from crawl4ai_custom_spark.operators.headpeek import meta_refresh_redirects

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    d = F.col("doc_id")
    url = F.concat(F.lit("https://mr.com/"), d.cast("string"))
    target = F.concat(F.lit("https://mr.com/new/"), d.cast("string"))
    meta = F.when(
        d % 3 == 0,
        F.when(d % 2 == 0,
               F.concat(F.lit('<meta http-equiv="refresh" content="0;url='),
                        target, F.lit('">')))
        .otherwise(F.concat(
            F.lit("<meta http-equiv='refresh' content='5; url = "),
            target, F.lit("'>"))),
    ).otherwise(F.lit(""))
    html = F.concat(F.lit("<html><head><title>t</title>"), meta,
                    F.lit("</head><body>b</body></html>"))
    pages = docs.select(url.alias("url"), F.encode(html, "utf-8").alias("html"))
    return meta_refresh_redirects(pages)


def q_hreflang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hreflang alternate extraction gate: every doc declares en + its own
    lang variant (skipped when already en); exact (url, lang, alt) rows."""
    from crawl4ai_custom_spark.operators.headpeek import hreflang_alternates

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    d = F.col("doc_id")
    url = F.concat(F.lit("https://m.com/"), d.cast("string"))
    link_en = F.concat(
        F.lit('<link rel="alternate" hreflang="en" href="https://m.com/en/'),
        d.cast("string"), F.lit('">'))
    link_own = F.when(
        F.col("lang") != "en",
        F.concat(F.lit('<link rel="alternate" hreflang="'), F.col("lang"),
                 F.lit('" href="https://m.com/'), F.col("lang"), F.lit("/"),
                 d.cast("string"), F.lit('">')),
    ).otherwise(F.lit(""))
    html = F.concat(F.lit("<html><head><title>t</title>"), link_en, link_own,
                    F.lit("</head><body>b</body></html>"))
    pages = docs.select(url.alias("url"), F.encode(html, "utf-8").alias("html"))
    return hreflang_alternates(pages)


def q_outdegree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host outlink-profile gate (link-farm signal): 10 source hosts, every
    4th link internal, externals spread over 25 hosts."""
    from crawl4ai_custom_spark.operators.linkgraph import host_outdegree_stats

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    d = F.col("doc_id")
    links = docs.select(
        F.concat(F.lit("https://h"), (d % 10).cast("string"),
                 F.lit(".com/p/"), d.cast("string")).alias("url"),
        F.when(d % 4 == 0,
               F.concat(F.lit("https://h"), (d % 10).cast("string"),
                        F.lit(".com/q/"), d.cast("string")))
        .otherwise(F.concat(F.lit("https://ext"), (d % 25).cast("string"),
                            F.lit(".org/x"))).alias("href"),
    )
    return host_outdegree_stats(links)


def q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL template clustering gate: parametrized urls (3 path shapes ×
    numeric ids) collapse to their templates with counts + deterministic
    example."""
    from crawl4ai_custom_spark.operators.urlops import template_stats

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    m = F.col("doc_id") % 3
    url = (
        F.when(m == 0, F.concat(F.lit("https://s.com/product/"),
                                F.col("doc_id").cast("string")))
        .when(m == 1, F.concat(F.lit("https://s.com/page?p="),
                               (F.col("doc_id") % 50).cast("string"),
                               F.lit("&y=2024")))
        .otherwise(F.concat(F.lit("https://s.com/"), F.col("source"),
                            F.lit("/post-"), F.col("doc_id").cast("string")))
    )
    return template_stats(docs.select(url.alias("url")))


def q_crawl_traps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-trap mining gate: four synthetic URL families — an infinite
    calendar (distinct date per doc), a session-id family (md5 sid per
    doc), a bounded product catalog (20 urls) and a bounded blog (10) —
    the two unbounded families must flag, the bounded ones must not."""
    from crawl4ai_custom_spark.operators.urlops import crawl_traps

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    d = F.col("doc_id")
    m = d % 4
    url = (
        F.when(m == 0, F.concat(F.lit("https://trap.example.com/cal?d=2024-01-"),
                                d.cast("string")))
        .when(m == 1, F.concat(F.lit("https://shop.example.com/product/"),
                               (d % 80).cast("string")))
        .when(m == 2, F.concat(F.lit("https://forum.example.com/t/x?sid="),
                               F.md5(d.cast("string"))))
        .otherwise(F.concat(F.lit("https://blog.example.com/post-"),
                            (d % 10).cast("string")))
    )
    return crawl_traps(docs.select(url.alias("url")),
                       min_urls=30, min_share=0.5)


def q_anchor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation gate: 40 link targets, 7 rotating anchor
    texts; per-target counts + top-3 anchors (count desc, text asc)."""
    from crawl4ai_custom_spark.operators.linkgraph import anchor_text_stats

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    links = docs.select(
        F.concat(F.lit("https://t.com/"),
                 (F.col("doc_id") % 40).cast("string")).alias("href"),
        F.concat(F.lit("anchor "),
                 (F.col("doc_id") % 7).cast("string")).alias("text"),
    )
    return anchor_text_stats(links, top_n=3)


def q_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution gate: chains of length doc_id%4 plus
    planted self-loops (doc_id%100==1); 4 unrolled hops resolve every real
    chain and flag the loops unresolved."""
    from crawl4ai_custom_spark.operators.redirects import resolve_redirects

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    d = F.col("doc_id")
    url = F.concat(F.lit("https://r.com/"), d.cast("string"))
    pages = docs.select(
        url.alias("url"),
        F.when(d % 4 == 0, 200).otherwise(301).alias("status_code"),
        F.when(d % 4 == 0, F.lit(None).cast("string"))
        .when(d % 100 == 1, url)  # self-loop
        .otherwise(F.concat(F.lit("https://r.com/"), (d - 1).cast("string")))
        .alias("redirect_to"),
    )
    return resolve_redirects(pages, max_hops=4)


def q_canonical_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=canonical dedup gate: docs in triples where the two mirrors
    declare <link rel=canonical> to the triple's base url; collapse picks
    one deterministic representative per canonical group."""
    from crawl4ai_custom_spark.operators.headpeek import canonical_collapse

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    d = F.col("doc_id")
    url = F.concat(F.lit("https://ex.com/p/"), d.cast("string"))
    target = F.concat(F.lit("https://ex.com/p/"), (d - d % 3).cast("string"))
    html = F.concat(
        F.lit("<html><head><title>t</title>"),
        F.when(d % 3 != 0,
               F.concat(F.lit('<link rel="canonical" href="'), target,
                        F.lit('">'))).otherwise(F.lit("")),
        F.lit("</head><body>b</body></html>"),
    )
    pages = docs.select(url.alias("url"), F.encode(html, "utf-8").alias("html"))
    out = canonical_collapse(pages)
    return out.select("url", "canonical_url", "is_canonical_rep")


def q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt `Sitemap:` directive discovery (the reference's fallback
    sitemap-location step), case-insensitive, multiple directives."""
    from crawl4ai_custom_spark.sources.sitemap import robots_sitemap_urls

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    robots = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("-"),
                 F.col("doc_id").cast("string"), F.lit(".com/robots.txt")
                 ).alias("url"),
        F.concat(
            F.lit("User-agent: *\nDisallow: /private/\nSitemap: https://"),
            F.col("source"), F.lit(".com/sitemap.xml"),
            F.when(F.col("doc_id") % 2 == 0,
                   F.concat(F.lit("\nsitemap: https://cdn."), F.col("source"),
                            F.lit(".com/s2.xml.gz"))).otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    return robots_sitemap_urls(robots)


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-crawl gate: two synthetic captures of the same urls
    (ids 0-49 vanish, 450-499 appear, every 3rd changes content) diffed via
    fingerprint full-outer join; oracle states each url's change class in
    closed form."""
    from crawl4ai_custom_spark.operators.recrawl import (
        capture_fingerprint,
        crawl_diff,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    url = F.concat(F.lit("https://"), F.col("source"), F.lit(".com/"),
                   F.col("doc_id").cast("string"))
    old = docs.where(F.col("doc_id") < 450).select(
        url.alias("url"),
        F.concat(F.lit("c"), (F.col("doc_id") % 5).cast("string")).alias("html"),
    )
    new = docs.where(F.col("doc_id") >= 50).select(
        url.alias("url"),
        F.concat(
            F.lit("c"),
            F.when(F.col("doc_id") % 3 == 0, F.col("doc_id") % 5 + 1)
            .otherwise(F.col("doc_id") % 5).cast("string"),
        ).alias("html"),
    )
    return crawl_diff(capture_fingerprint(old), capture_fingerprint(new))


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-sketch / feature-hashing projection gate (sparse JL): every
    input dim lands in one signed output bucket from the shared 60-bit
    hash — the model-free embedding compression in front of the ANN/dedup
    stack. Output exploded to (vec_id, bucket, comp) rows; oracle replays
    hash, sign, bucket sums and the dense zero-fill."""
    from crawl4ai_custom_spark.operators.similarity import (
        feature_hash_projection)

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    pr = feature_hash_projection(emb, d_out=16)
    return pr.select(
        "vec_id", F.posexplode("proj").alias("bucket", "c")
    ).select("vec_id", "bucket",
             F.round(F.col("c") + 1e-9, 6).alias("comp"))


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking gate (LBFS/FastCDC anchor rule): rolling
    16-char gram hash, cut where hash % 32 == 0 — the storage-dedup
    primitive for the WARC/page store (local edits shift only the
    surrounding chunk). Oracle replays anchors/cuts/spans with DuckDB
    list functions over the same shared 60-bit hash."""
    from crawl4ai_custom_spark.operators.dedup import cdc_chunks

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200) \
        .select("doc_id", F.substring("text", 1, 400).alias("text"))
    return cdc_chunks(docs, w=16, mask_bits=5).select(
        "id", "chunk_idx", "chunk_start", "chunk_len", "chunk_hash")


def q_capture_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX-style capture-timeline digest dedup: per-url capture history
    collapsed to one row per content VERSION (run-length collapse over
    ts-ordered digests) — the web-archive storage convention. Events
    stand in as captures (url from user_id, 2-state digest from the
    value column so real runs occur); lag/run/groupBy replayed in SQL."""
    from crawl4ai_custom_spark.operators.recrawl import capture_timeline

    ev = _t(spark, sf_dir, "events")
    caps = ev.select(
        F.concat(F.lit("https://h"),
                 (F.col("user_id") % 40).cast("string"),
                 F.lit(".com/p"),
                 F.col("user_id").cast("string")).alias("url"),
        F.col("ts"),
        F.md5((F.col("value") > 10).cast("string")).alias("digest"),
    )
    out = capture_timeline(caps)
    return out.select(
        "url", "version", "digest",
        F.unix_timestamp("valid_from").alias("from_epoch"),
        F.unix_timestamp("last_seen").alias("seen_epoch"),
        "n_captures",
    )


def q_revisit_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-driven revisit scheduling: 3-epoch change log, Laplace-
    smoothed change rate blended with page score — exact closed-form oracle."""
    from crawl4ai_custom_spark.operators.recrawl import revisit_priority

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    url = F.concat(F.lit("https://"), F.col("source"), F.lit(".com/"),
                   F.col("doc_id").cast("string"))
    epochs = []
    for e in range(3):
        m = (F.col("doc_id") + e) % 4
        change = (
            F.when(m == 0, F.lit("changed"))
            .when(m == 3, F.lit("gone"))
            .otherwise(F.lit("unchanged"))
        )
        epochs.append(docs.select(
            url.alias("url"), change.alias("change"),
            ((F.col("doc_id") % 10) / 10.0).alias("score"),
        ))
    log = epochs[0].unionByName(epochs[1]).unionByName(epochs[2])
    out = revisit_priority(log, score_col="score")
    return out.select(
        "url", "n_obs", "n_changed",
        F.round(F.col("change_rate") + 1e-9, 6).alias("change_rate"),
        F.round(F.col("revisit_score") + 1e-9, 6).alias("revisit_score"),
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph PageRank gate: deterministic 2-out-degree graph over
    doc ids, 3 power iterations (join + groupBy per round — the classic
    web-scale iterative dataflow); oracle unrolls the same 3 iterations."""
    from crawl4ai_custom_spark.operators.linkgraph import pagerank

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400).select("doc_id")
    d = F.col("doc_id")
    e1 = docs.select(d.alias("src"), ((d * 7 + 1) % 400).alias("dst"))
    e2 = docs.select(d.alias("src"), ((d * 13 + 2) % 400).alias("dst"))
    edges = (e1.unionByName(e2)
             .where(F.col("src") != F.col("dst")).distinct())
    out = pagerank(edges, iterations=3, damping=0.85)
    return out.select("node", F.round(F.col("rank") + 1e-12, 8).alias("rank"))


def q_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank gate: same deterministic graph as q_pagerank but teleport
    pinned to the seed set doc_id % 40 == 0 — spam-demoting personalized
    PageRank; oracle unrolls the identical 3 seeded iterations."""
    from crawl4ai_custom_spark.operators.linkgraph import trustrank

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400).select("doc_id")
    d = F.col("doc_id")
    e1 = docs.select(d.alias("src"), ((d * 7 + 1) % 400).alias("dst"))
    e2 = docs.select(d.alias("src"), ((d * 13 + 2) % 400).alias("dst"))
    edges = (e1.unionByName(e2)
             .where(F.col("src") != F.col("dst")).distinct())
    seeds = docs.where(d % 40 == 0).select(d.alias("node"))
    out = trustrank(edges, seeds, iterations=3, damping=0.85)
    return out.select("node", F.round(F.col("rank") + 1e-12, 8).alias("rank"))


def q_spam_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spam-mass gate (Gyöngyi et al. 2006): same deterministic graph and
    good core (doc_id % 40 == 0) as q_pagerank/q_trustrank; mass =
    (pr - core)/pr with core = trustrank scaled by n_seed/n (linearity of
    personalized PageRank in the teleport vector). Oracle unrolls BOTH
    3-iteration chains and the identical algebra."""
    from crawl4ai_custom_spark.operators.linkgraph import spam_mass

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select("doc_id")
    d = F.col("doc_id")
    e1 = docs.select(d.alias("src"), ((d * 7 + 1) % 200).alias("dst"))
    e2 = docs.select(d.alias("src"), ((d * 13 + 2) % 200).alias("dst"))
    edges = (e1.unionByName(e2)
             .where(F.col("src") != F.col("dst")).distinct())
    seeds = docs.where(d % 40 == 0).select(d.alias("node"))
    out = spam_mass(edges, seeds, iterations=2, damping=0.85)
    return out.select(
        "node",
        F.round(F.col("pagerank") + 1e-12, 8).alias("pagerank"),
        F.round(F.col("core_rank") + 1e-12, 8).alias("core_rank"),
        F.round(F.col("spam_mass") + 1e-9, 6).alias("spam_mass"),
    )


def q_ucb_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 host-allocation gate: per-host fetch history from events
    (count + value sum per synthetic host) plus three never-fetched
    hosts; top-15 by the UCB1 rule with unexplored hosts first. Oracle
    recomputes the scores and the identical deterministic ordering."""
    from crawl4ai_custom_spark.operators.recrawl import ucb_host_allocation

    ev = _t(spark, sf_dir, "events")
    hist = (
        ev.groupBy(
            F.concat(F.lit("h"), (F.col("user_id") % 37).cast("string"))
            .alias("host"))
        .agg(F.count(F.lit(1)).alias("n_fetches"),
             F.round(F.sum("value"), 6).alias("reward_sum"))
    )
    from crawl4ai_custom_spark.session import local_df

    fresh = local_df(
        spark, [("new-a",), ("new-b",), ("new-c",)], "host string"
    ).select("host", F.lit(None).cast("long").alias("n_fetches"),
             F.lit(None).cast("double").alias("reward_sum"))
    out = ucb_host_allocation(hist.unionByName(fresh), k=15, c=1.0)
    return out.select(
        "host", "n_fetches",
        F.round(F.col("mean_reward") + 1e-9, 6).alias("mean_reward"),
        F.round(F.col("ucb_score") + 1e-9, 6).alias("ucb_score"),
        "explored",
    )


def q_graph_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-shape gate: the q_pagerank graph plus explicit reverse edges
    for doc_id % 5 == 0 (nonzero reciprocity); one row of reciprocity +
    Newman out-in degree assortativity. Oracle recomputes degrees and the
    Pearson power sums."""
    from crawl4ai_custom_spark.operators.linkgraph import graph_shape

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400).select("doc_id")
    d = F.col("doc_id")
    e1 = docs.select(d.alias("src"), ((d * 7 + 1) % 400).alias("dst"))
    e2 = docs.select(d.alias("src"), ((d * 13 + 2) % 400).alias("dst"))
    e3 = (docs.where(d % 5 == 0)
          .select(((d * 7 + 1) % 400).alias("src"), d.alias("dst")))
    edges = e1.unionByName(e2).unionByName(e3).distinct()
    out = graph_shape(edges)
    return out.select(
        "n_nodes", "n_edges",
        F.round(F.col("reciprocity") + 1e-9, 6).alias("reciprocity"),
        F.round(F.col("assortativity") + 1e-9, 6).alias("assortativity"),
    )


def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing saturation gate: per event_type, observations keyed by
    event_id % 1500 — the singleton fraction estimates the unseen mass
    (integer counts, exact division). Oracle recomputes the two-level
    aggregation."""
    from crawl4ai_custom_spark.operators.recrawl import good_turing_saturation

    ev = _t(spark, sf_dir, "events").select(
        "event_type", (F.col("event_id") % 1500).alias("key"))
    out = good_turing_saturation(ev, "key", group_cols=["event_type"])
    return out.select(
        "event_type", "n_obs", "n_distinct", "f1",
        F.round(F.col("unseen_mass") + 1e-9, 6).alias("unseen_mass"),
        F.round(F.col("coverage") + 1e-9, 6).alias("coverage"),
    )


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS gate: hub/authority scores over the same deterministic
    2-out-degree graph as q_pagerank, 2 L1-normalized mutual-reinforcement
    iterations (each half-step = join + groupBy + one-row scalar agg);
    oracle unrolls the identical iterations."""
    from crawl4ai_custom_spark.operators.linkgraph import hits

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400).select("doc_id")
    d = F.col("doc_id")
    e1 = docs.select(d.alias("src"), ((d * 7 + 1) % 400).alias("dst"))
    e2 = docs.select(d.alias("src"), ((d * 13 + 2) % 400).alias("dst"))
    edges = (e1.unionByName(e2)
             .where(F.col("src") != F.col("dst")).distinct())
    out = hits(edges, iterations=2)
    return out.select(
        "node",
        F.round(F.col("hub") + 1e-12, 8).alias("hub"),
        F.round(F.col("auth") + 1e-12, 8).alias("auth"),
    )


def q_opic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPIC gate (Abiteboul et al. 2003): batch-synchronous on-line page
    importance over the deterministic 2-out-degree graph, with every
    doc_id % 50 == 0 node made DANGLING (its out-edges dropped) so the
    virtual-node cash redistribution is exercised; 3 rounds, importances
    sum to 1. Oracle unrolls the identical cash/history recurrence."""
    from crawl4ai_custom_spark.operators.linkgraph import opic

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400).select("doc_id")
    d = F.col("doc_id")
    e1 = docs.select(d.alias("src"), ((d * 7 + 1) % 400).alias("dst"))
    e2 = docs.select(d.alias("src"), ((d * 13 + 2) % 400).alias("dst"))
    edges = (e1.unionByName(e2)
             .where((F.col("src") != F.col("dst"))
                    & (F.col("src") % 50 != 0)).distinct())
    out = opic(edges, iterations=3)
    return out.select(
        "node",
        F.round(F.col("cash") + 1e-12, 8).alias("cash"),
        F.round(F.col("importance") + 1e-12, 8).alias("importance"),
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog gate: 20 synthetic urls per document collapsed mod 3000
    (10k rows -> 3000 distinct at sf0.01), sketched into 2^8 registers
    from the shared stable 60-bit hash with pure BITWISE math; the oracle
    reproduces every register row AND the raw estimate (the 2^-rho sum is
    exact dyadic arithmetic, so both engines agree to float identity).
    exact_distinct and rel_error ride along so the artifact shows the
    sketch honest against the true cardinality."""
    from crawl4ai_custom_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    docs = _t(spark, sf_dir, "documents")
    key = F.pmod(F.col("doc_id") * 20 + F.col("i"), F.lit(3000))
    urls = docs.select(
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("i"), "doc_id"
    ).select(
        F.concat(F.lit("https://h"), F.pmod(key, F.lit(37)).cast("string"),
                 F.lit(".com/p/"), key.cast("string")).alias("url")
    )
    regs = hll_registers(urls, "url", p=8)
    est = hll_estimate(regs, p=8)
    exact = urls.agg(F.countDistinct("url").alias("exact_distinct"))
    return (
        regs.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(exact))
        .select(
            "register", "max_rho",
            F.round("estimate", 4).alias("estimate"),
            "exact_distinct",
            F.round(F.abs(F.col("estimate") - F.col("exact_distinct"))
                    / F.col("exact_distinct"), 4).alias("rel_error"),
        )
    )


def q_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k gate: two crawl 'waves' of synthetic urls (even/odd
    event ids, key space collapsed mod 6000 so the waves genuinely
    overlap), each sketched to its 256 smallest stable-60-bit hashes;
    per-wave distinct estimates plus union/intersection/Jaccard from the
    merged sketch. Oracle rebuilds the identical bottom-k sets in SQL
    (distinct + order by hash + limit) and the identical estimator
    algebra — every number matches to float identity, exact_union rides
    along to show the sketch honest."""
    from crawl4ai_custom_spark.operators.sketches import (
        kmv_estimate,
        kmv_setops,
        kmv_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    url = F.concat(F.lit("url"),
                   F.pmod(F.col("event_id"), F.lit(6000)).cast("string"))
    a = ev.where(F.col("event_id") % 2 == 0).select(url.alias("url"))
    b = ev.where(F.col("event_id") % 2 == 1).select(url.alias("url"))
    ka, kb = kmv_sketch(a, "url", k=256), kmv_sketch(b, "url", k=256)
    ea = kmv_estimate(ka, k=256).select(
        F.col("n_sample").alias("n_a"), F.col("estimate").alias("est_a"))
    eb = kmv_estimate(kb, k=256).select(
        F.col("n_sample").alias("n_b"), F.col("estimate").alias("est_b"))
    ops = kmv_setops(ka, kb, k=256)
    exact = (a.unionByName(b)
             .agg(F.countDistinct("url").alias("exact_union")))
    return (
        ea.crossJoin(F.broadcast(eb)).crossJoin(F.broadcast(ops))
        .crossJoin(F.broadcast(exact))
        .select(
            "n_a", "n_b",
            F.round(F.col("est_a") + 1e-9, 4).alias("est_a"),
            F.round(F.col("est_b") + 1e-9, 4).alias("est_b"),
            F.round(F.col("union_est") + 1e-9, 4).alias("union_est"),
            F.round(F.col("intersection_est") + 1e-9, 4)
            .alias("intersection_est"),
            F.round(F.col("jaccard") + 1e-9, 4).alias("jaccard"),
            "exact_union",
        )
    )


def q_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill/MLE power-law fit gate: a deterministic heavy-tailed
    in-degree graph (host k receives ~2k+1 links via floor(sqrt)), fit
    over the tail deg >= 4 with the Clauset-Shalizi-Newman discrete
    correction. Oracle recomputes degrees and the closed form."""
    from crawl4ai_custom_spark.operators.linkgraph import degree_powerlaw

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.concat(F.lit("u"), F.col("event_id").cast("string")).alias("src"),
        F.concat(
            F.lit("h"),
            F.floor(F.sqrt((F.col("event_id") % 4096).cast("double")))
            .cast("string")).alias("dst"),
    )
    out = degree_powerlaw(edges, x_min=4, direction="in")
    return out.select(
        "direction", "x_min", "n_nodes", "n_tail", "max_degree",
        F.round(F.col("alpha") + 1e-9, 6).alias("alpha"),
        F.round(F.col("alpha_se") + 1e-9, 6).alias("alpha_se"),
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted-sample gate: 20 docs per language
    drawn without replacement proportional to n_chars, the 'random' draw
    seeded from the shared 60-bit hash so the sample is reproducible.
    Oracle recomputes the exponential race times and the per-group
    top-20."""
    from crawl4ai_custom_spark.operators.corpusmix import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(docs, "n_chars", 20, key_col="doc_id",
                          group_cols=["lang"])
    return out.select(
        "lang", "doc_id", "n_chars",
        F.round(F.col("priority") + 1e-9, 6).alias("priority"),
    )


def q_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning G² keyness gate: focus corpus = doc_id % 3 == 0, reference
    = the rest (doc_id < 400); integer min-count gate makes the row set
    exact, G²/log-ratio are the only float columns. Oracle recomputes
    term counts, totals and the closed form."""
    from crawl4ai_custom_spark.operators.textstats import keyness_g2

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    focus = docs.where(F.col("doc_id") % 3 == 0)
    ref = docs.where(F.col("doc_id") % 3 != 0)
    out = keyness_g2(focus, ref, min_count=10)
    return out.select(
        "term", "focus_count", "ref_count",
        (F.round("g2", 4) + F.lit(0.0)).alias("g2"),
        (F.round("log_ratio", 4) + F.lit(0.0)).alias("log_ratio"),
    )


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-entropy gibberish gate: per-doc Shannon entropy of the char
    distribution as a shuffle-free projection; flags decided on the
    ROUNDED value so both engines agree at thresholds. Oracle recomputes
    entropy via per-char unnest + groupBy (different mechanics, same
    numbers)."""
    from crawl4ai_custom_spark.operators.textstats import char_entropy

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    ent = F.round(char_entropy(F.col("text")), 6)
    return docs.select(
        "doc_id",
        ent.alias("entropy_bits"),
        (ent < 2.5).alias("low_entropy"),
        (ent > 5.2).alias("high_entropy"),
    )


def q_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch gate: a deterministic Zipf-ish stream (key
    h_k appears 2k+1 times via floor(sqrt)), sketched into a 4x256 grid
    and point-queried for every distinct key. Integer-exact oracle
    reproduces every cell and every min-estimate; ``over`` carries the
    one-sided error (est - true, always >= 0)."""
    from crawl4ai_custom_spark.operators.sketches import cms_query, cms_table

    docs = _t(spark, sf_dir, "documents")
    r = F.col("doc_id") * 20 + F.col("i")
    stream = docs.select(
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("i"), "doc_id"
    ).select(
        F.concat(F.lit("h"), F.floor(F.sqrt(r)).cast("string")).alias("key")
    )
    cms = cms_table(stream, "key", depth=4, width=256)
    truth = stream.groupBy("key").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = cms_query(cms, truth.select("key"), "key", depth=4, width=256)
    return (
        truth.join(est, "key")
        .select("key", "true_cnt", "est",
                (F.col("est") - F.col("true_cnt")).alias("over"))
    )


def q_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit: one-row health check / capacity
    planner (checkpoints at power-of-two doc prefixes, first-occurrence
    vocabulary counts, closed-form ln-ln regression). Oracle recomputes
    the identical bucket table and fit."""
    from crawl4ai_custom_spark.operators.textstats import heaps_fit

    docs = _t(spark, sf_dir, "documents")
    out = heaps_fit(docs)
    return out.select(
        F.col("n_checkpoints").cast("bigint").alias("n_checkpoints"),
        F.col("vocab_size").cast("bigint").alias("vocab_size"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("heaps_beta") + 1e-9, 4).alias("heaps_beta"),
        F.round(F.col("heaps_lnk") + 1e-9, 4).alias("heaps_lnk"),
    )


def q_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl ingestion gate: build WARC blobs (20 concatenated records
    each, native exprs) from documents, parse them byte-exactly with the
    Arrow-staged WARC parser, and verify every header/payload field against
    the closed-form oracle."""
    from crawl4ai_custom_spark.sources.warc import (
        build_warc_blobs,
        parse_warc_records,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    out = parse_warc_records(build_warc_blobs(docs))
    return out.select("blob_id", "record_index", "warc_type", "target_uri",
                      "content_length", "payload")


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC sink gate: pages -> warc_write (gzip members, hash-assigned
    url-sorted segments) -> parse_warc_records(gz=True) is the identity on
    (url, payload bytes, date). The oracle states the fixpoint directly
    from documents — any framing, Content-Length, ordering or compression
    defect breaks the hash."""
    from crawl4ai_custom_spark.sources.warc import (
        parse_warc_records,
        warc_write,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    pages = docs.select(
        F.concat(F.lit("https://"), "source", F.lit(".example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.col("text").alias("html"),
    )
    recs = parse_warc_records(
        warc_write(pages, n_blobs=7, ts_col=None, gz=True), gz=True
    )
    return recs.select(
        F.col("target_uri").alias("url"),
        F.md5(F.encode("payload", "utf-8")).alias("payload_md5"),
        "content_length",
        "warc_date",
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter gate: build 3-line docs where every
    even doc repeats its first line, then verify duplicate-line fractions and
    top-bigram fraction exactly."""
    from crawl4ai_custom_spark.operators.textstats import repetition_stats

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    l1 = F.substring("text", 1, 40)
    l2 = F.substring("text", 41, 40)
    l3 = F.when(F.col("doc_id") % 2 == 0, l1).otherwise(
        F.substring("text", 81, 40))
    mdocs = docs.select("doc_id", F.concat_ws("\n", l1, l2, l3).alias("text"))
    out = repetition_stats(mdocs)
    return out.select(
        "doc_id", "n_lines",
        F.round(F.col("dup_line_frac") + 1e-9, 4).alias("dup_line_frac"),
        F.round(F.col("dup_line_char_frac") + 1e-9, 4).alias("dup_line_char_frac"),
        F.round(F.col("top_bigram_frac") + 1e-9, 4).alias("top_bigram_frac"),
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mixture sampling: keep 1/2 of en, 1/4 of de,
    1/8 otherwise, via the oracle-shared 60-bit hash — reproducible across
    engines, pure scan-level filter (no shuffle, no RNG state)."""
    from crawl4ai_custom_spark.operators.textstats import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(docs, {"en": 0.5, "de": 0.25},
                            default_rate=0.125)
    return out.select("doc_id", "lang")


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global line dedup gate: every doc carries injected nav/footer
    boilerplate (and every 5th a semi-common line); lines occurring in > 3
    distinct docs vanish corpus-wide, per-doc unique lines survive."""
    from crawl4ai_custom_spark.operators.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    injected = docs.select(
        "doc_id",
        F.concat(
            F.lit("COMMON NAV HEADER\n"),
            F.substring("text", 1, 60), F.lit("\n"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("SEMI COMMON LINE\n"))
            .otherwise(F.lit("")),
            F.lit("COMMON FOOTER LINE"),
        ).alias("text"),
    )
    out = line_dedup(injected, max_docs=3)
    return out.select(
        "doc_id", F.col("n_lines_removed").cast("long").alias("n_lines_removed"),
        F.md5("text").alias("clean_md5"),
    )


def q_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host boilerplate strip gate: a promo line covering 100% of host
    A's pages (and exactly ONE host-B page) must vanish from A but survive
    on B — host-scoped, unlike global line_dedup; a host-B footer on every
    B page vanishes from B; a two-page host C keeps its shared nav
    (min_pages=3 evidence floor)."""
    from crawl4ai_custom_spark.operators.dedup import host_boilerplate_strip

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    d = F.col("doc_id")
    hostname = (
        F.when(d < 2, F.lit("c.example.com"))
        .when(d % 2 == 0, F.lit("a.example.com"))
        .otherwise(F.lit("b.example.com"))
    )
    url = F.concat(F.lit("https://"), hostname, F.lit("/p/"), d.cast("string"))
    text = F.concat(
        F.when(((d >= 2) & (d % 2 == 0)) | (d == 3),
               F.lit("COMMON PROMO LINE\n")).otherwise(F.lit("")),
        F.substring("text", 1, 50),
        F.when((d >= 2) & (d % 2 == 1),
               F.lit("\nB FOOTER LINE")).otherwise(F.lit("")),
        F.when(d < 2, F.lit("\nC NAV LINE")).otherwise(F.lit("")),
    )
    pages = docs.select(url.alias("url"), text.alias("text"))
    out = host_boilerplate_strip(pages, min_pages=3, min_share=0.6)
    return out.select(
        "url", "host",
        F.col("n_lines_removed").cast("long").alias("n_lines_removed"),
        F.md5("text").alias("clean_md5"),
    )


def q_soft404(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 gate: every 7th doc is an identical error page (flags on
    both hosts once >= 3 urls share it), every 7th+1 an identical login
    template (host-shared but NO error phrase -> not a soft-404), the rest
    unique real text (n_same_content = 1)."""
    from crawl4ai_custom_spark.operators.headpeek import soft404_detect

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 2).cast("string"), F.lit(".example.com"))
    url = F.concat(F.lit("https://"), host, F.lit("/p/"), d.cast("string"))
    text = (
        F.when(d % 7 == 0,
               F.lit("Sorry, the  page you requested does not exist.\n"
                     "  404 not found "))
        .when(d % 7 == 1, F.lit("Please log in\nto continue."))
        .otherwise(F.col("text"))
    )
    pages = docs.select(url.alias("url"), text.alias("text"))
    out = soft404_detect(pages, min_urls=3)
    return out.select(
        "url", "host", "content_fp",
        F.col("n_same_content").cast("long").alias("n_same_content"),
        "has_error_phrase", "is_soft404",
    )


def q_link_spam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-link spam gate: a 4-host farm trading all 12 ordered
    edges (reciprocity 1.0 -> flagged), a hub spraying 20 blogs with only
    8 backlinks (0.4 -> clean), blogs/news/agency citing without
    backlinks (clean)."""
    from crawl4ai_custom_spark.operators.linkgraph import reciprocal_link_spam

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    d = F.col("doc_id")
    m = d % 10
    j = F.floor(d / 10) % 12
    a = F.floor(j / 3)
    r = j % 3
    b = r + F.when(r >= a, F.lit(1)).otherwise(F.lit(0))
    blog20 = F.concat(F.lit("https://blog"),
                      (F.floor(d / 10) % 20).cast("string"), F.lit(".com/x"))
    src = (
        F.when(m <= 2, F.concat(F.lit("https://farm"), a.cast("string"),
                                F.lit(".com/x")))
        .when((m == 3) | (m == 4), blog20)
        .when(m == 5, F.lit("https://news.com/x"))
        .when(m == 6, F.lit("https://agency.com/x"))
        .when(m == 7, F.lit("https://hub.com/x"))
        .otherwise(F.concat(F.lit("https://blog"),
                            (F.floor(d / 10) % 8).cast("string"),
                            F.lit(".com/x")))
    )
    dst = (
        F.when(m <= 2, F.concat(F.lit("https://farm"), b.cast("string"),
                                F.lit(".com/x")))
        .when((m == 3) | (m == 4), F.lit("https://news.com/x"))
        .when(m == 5, F.lit("https://agency.com/x"))
        .when((m == 6) | (m == 7), blog20)
        .otherwise(F.lit("https://hub.com/x"))
    )
    links = docs.select(src.alias("url"), dst.alias("href"))
    out = reciprocal_link_spam(links, min_out=3, min_reciprocity=0.5)
    return out.select(
        "src_host",
        F.col("n_out_hosts").cast("long").alias("n_out_hosts"),
        F.col("n_reciprocal").cast("long").alias("n_reciprocal"),
        "reciprocity", "is_link_farm",
    )


def q_budget_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder crawl-budget gate: 30 hosts with integer weights
    (three zeros), 1000 pages; quotas must sum exactly to 1000 with
    remainder pages to the largest fractional parts (ties host-asc),
    zero-weight hosts pinned at 0."""
    from crawl4ai_custom_spark.operators.politeness import allocate_crawl_budget

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 30)
    d = F.col("doc_id")
    hw = docs.select(
        F.concat(F.lit("h"), F.lpad(d.cast("string"), 2, "0")).alias("host"),
        ((d * 7) % 13).cast("double").alias("weight"),
    )
    out = allocate_crawl_budget(hw, total_budget=1000)
    return out.select("host", "weight", F.col("quota").cast("long").alias("quota"))


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain doc cap gate: 500 docs over 7 domains, cap 10 with a
    deterministic quality score — exactly the 10 best (score desc,
    doc_id asc) survive per domain."""
    from crawl4ai_custom_spark.operators.corpusmix import domain_doc_cap

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    d = F.col("doc_id")
    keyed = docs.select(
        "doc_id",
        F.concat(F.lit("d"), (d % 7).cast("string")).alias("domain"),
        ((d * 13) % 101).cast("long").alias("score"),
    )
    out = domain_doc_cap(keyed, cap=10, score_col="score")
    return out.select("domain", "doc_id", "score")


def q_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-repair gate: every 3rd doc carries five classic cp1252
    mojibake artifacts (counted and repaired), every 3rd+1 is clean
    ASCII; the DuckDB twin applies the identical replace table to the
    identical 80-char slice."""
    from crawl4ai_custom_spark.operators.textstats import fix_mojibake

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    d = F.col("doc_id")
    text = (
        F.when(d % 3 == 0,
               F.concat(F.substring("text", 1, 80),
                        F.lit(" cafÃ© â€” donâ€™t Â« ok Â»")))
        .when(d % 3 == 1, F.lit("plain ascii, no artifacts"))
        .otherwise(F.substring("text", 1, 80))
    )
    out = fix_mojibake(docs.select("doc_id", text.alias("text")))
    return out.select(
        "doc_id", F.col("n_mojibake").cast("long").alias("n_mojibake"),
        "is_mojibake", F.md5("text").alias("fixed_md5"),
    )


def q_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-coverage audit gate: three hosts declaring 100 urls each,
    the crawl reached the even half plus an undeclared orphan family —
    per-host coverage ~0.5 and a nonzero orphan fraction."""
    from crawl4ai_custom_spark.operators.recrawl import sitemap_coverage

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    d = F.col("doc_id")
    site = F.concat(F.lit("https://s"), (d % 3).cast("string"),
                    F.lit(".com/p/"), d.cast("string"))
    orphan = F.concat(F.lit("https://s"), (d % 3).cast("string"),
                      F.lit(".com/orphan/"), d.cast("string"))
    sitemap = docs.select(site.alias("url"))
    crawled = (
        docs.where(d % 2 == 0).select(site.alias("url"))
        .unionByName(docs.where(d % 10 == 0).select(orphan.alias("url")))
    )
    out = sitemap_coverage(sitemap, crawled)
    return out.select(
        "host",
        F.col("n_sitemap").cast("long").alias("n_sitemap"),
        F.col("n_crawled").cast("long").alias("n_crawled"),
        F.col("n_both").cast("long").alias("n_both"),
        "coverage", "orphan_frac",
    )


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shape LM quality gate: unigram LM (add-one) trained on docs
    < 300, scoring docs < 500 by mean negative log-likelihood; DuckDB
    recomputes the identical smoothed model."""
    from crawl4ai_custom_spark.operators.textstats import (
        lm_quality_score,
        unigram_lm,
    )

    docs = _t(spark, sf_dir, "documents")
    lm = unigram_lm(docs.where(F.col("doc_id") < 300))
    out = lm_quality_score(docs.where(F.col("doc_id") < 500), lm)
    return out.select(
        "doc_id", "n_tokens",
        F.round(F.col("avg_nll") + 1e-9, 6).alias("avg_nll"),
    )


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index gate: postings (term, doc, tf, sorted
    positions over the filtered token stream) joined to the term
    dictionary (df, cf) — every posting, position list and dictionary
    count recomputed exactly by the oracle."""
    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        term_dictionary,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    p = inverted_postings(docs)
    d = term_dictionary(p)
    return p.join(d, "term").select(
        "term", F.col("id").alias("doc_id"), "tf", "df", "cf",
        F.concat_ws(",", F.transform("positions",
                                     lambda x: x.cast("string")))
        .alias("pos_csv"),
    )


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval over the positional inverted index: anchor
    on the first term's positions, probe each next term's posting array at
    pos+i. The oracle recomputes matches from raw adjacent token pairs."""
    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        phrase_match,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    out = phrase_match(inverted_postings(docs), ["table", "key"])
    return out.select(F.col("id").alias("doc_id"), "n_matches")


def q_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval FROM the materialized inverted index — the
    query path that never re-tokenizes the corpus (postings + dictionary +
    doc-length side table only). Oracle recomputes the identical scores
    from raw text."""
    from crawl4ai_custom_spark.operators.textstats import (
        bm25_from_index,
        inverted_postings,
        term_dictionary,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    p = inverted_postings(docs)
    out = bm25_from_index(p, term_dictionary(p), ["spark", "table", "query"])
    return out.select(
        F.col("id").alias("doc_id"),
        F.round("bm25", 4).alias("bm25"),
        "n_terms",
    )


def q_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance gate: one re-crawl epoch (50 docs
    re-tokenized with changed text, 10 docs retired) applied via
    delete-insert postings merge + signed dictionary delta. The oracle
    REBUILDS the index from scratch over the updated corpus — the
    incremental result must match row for row."""
    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        term_dictionary,
        update_index,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    base_p = inverted_postings(docs)
    base_d = term_dictionary(base_p)
    changed = (
        docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
        .withColumn("text",
                    F.concat("text", F.lit(" refreshmarker refreshmarker")))
    )
    retired = docs.where(
        (F.col("doc_id") >= 150) & (F.col("doc_id") < 160)
    ).select("doc_id")
    p, d = update_index(base_p, base_d, changed, retired)
    return p.join(d, "term").select(
        "term", F.col("id").alias("doc_id"), "tf", "df", "cf",
        F.concat_ws(",", F.transform("positions",
                                     lambda x: x.cast("string")))
        .alias("pos_csv"),
    )


def q_skipgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts (±3 window) — the word2vec/GloVe
    corpus statistic, built join-free (token array carried next to its
    posexplode; context = per-row array slice; single groupBy). Oracle
    replays the window with a lateral range join."""
    from crawl4ai_custom_spark.operators.textstats import skipgram_counts

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    return skipgram_counts(docs, window=3, min_count=2)


def q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword gate: per-doc co-occurrence graph (±2 window over
    length>=4 tokens), 3 weighted-PageRank iterations ranked top-5 per
    doc. Oracle unrolls the identical 3 iterations per document in SQL —
    ranks rounded (+1e-12 nudge) BEFORE the ranking window on both sides
    so the keyword set is summation-order deterministic."""
    from crawl4ai_custom_spark.operators.textstats import textrank_keywords

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 80)
    return textrank_keywords(
        docs, window=2, iterations=3, damping=0.85, top_k=5, min_len=4)


_BLOCKLIST_TERMS = ["hash join", "vector", "slow"]


def q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 banned-words gate: whole-word, case-insensitive blocklist scan
    (incl. a multi-word phrase) compiled to one alternation regex —
    shuffle-free codegen projection. Oracle runs the SAME pattern through
    DuckDB's RE2."""
    from crawl4ai_custom_spark.operators.textstats import blocklist_scan

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    return blocklist_scan(docs, _BLOCKLIST_TERMS).select(
        "doc_id", "blocklist_hits", "n_blocklist_hits", "blocklist_keep")


def q_blocklist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dictionary blocklist (the 10^5+-term path the alternation
    regex can't take): token explode + first-word equi-join vs the
    broadcast term table, array-slice phrase verify, per-doc greedy fold.
    Gate terms share no words, so the oracle replays the verified-match
    join directly (resolution is a no-op; overlap semantics are pinned by
    the regex-equivalence unit test)."""
    from crawl4ai_custom_spark.operators.textstats import blocklist_scan_join

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    return blocklist_scan_join(docs, ["hash join", "slow", "vector"]).select(
        "doc_id", "blocklist_hits", "n_blocklist_hits", "blocklist_keep")


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained multi-class LID gate (CCNet's fastText-LID stage): NB over
    hashed char trigrams, trained on docs < 300 with their lang labels
    (5 classes at this sf), predicting docs < 500. Integer micro-nat
    costs make the per-language sums and the argmin exact; the oracle
    rebuilds the dense model and replays the scoring in SQL."""
    from crawl4ai_custom_spark.operators.corpusmix import (
        langid_predict, train_langid)

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.substring("text", 1, 160).alias("text"))
    model = train_langid(
        docs.where(F.col("doc_id") < 300), num_buckets=4096)
    return langid_predict(
        docs.where(F.col("doc_id") < 500), model, num_buckets=4096
    ).select("doc_id", "pred_lang", "cost_micro", "margin_micro", "n_grams")


def q_textrank_sents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extractive-summary gate: sentence-similarity graph (TextRank
    normalized overlap over distinct len>1 tokens), 3 weighted-PageRank
    iterations, top-3 sentences per doc with original positions. Oracle
    unrolls the identical pipeline per doc in SQL."""
    from crawl4ai_custom_spark.operators.textstats import textrank_sentences

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    return textrank_sentences(
        docs, iterations=3, damping=0.85, top_k=3, min_tokens=3)


def q_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context snippets driven by the positional index: one
    term's postings joined into the corpus scan (AQE promotes the
    rare-term case to broadcast from the actual post-filter size — no
    forced hint), ±3-token context sliced per occurrence. Oracle
    recomputes every occurrence window from raw text."""
    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        kwic_snippets,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    out = kwic_snippets(docs, inverted_postings(docs), "table", width=3)
    return out.select("doc_id", "pos", "snippet")


def q_cc_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common Crawl index ingestion gate: deterministic CDXJ lines (one
    capture) + API-JSON lines (a later capture of the same urls, urlkey/
    timestamp inside the JSON) parsed by cc_index_records, then
    cc_index_fetch_plan keeps 200/text-html and collapses to the latest
    capture per urlkey. Oracle states the expected plan in closed form —
    no JSON functions, every field recomputed from doc_id arithmetic."""
    from crawl4ai_custom_spark.sources.ccindex import (
        cc_index_fetch_plan,
        cc_index_records,
    )

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").where(d < 300).select("doc_id")

    def ts(year: str):
        return F.concat(
            F.lit(year),
            F.lpad((d % 12 + 1).cast("string"), 2, "0"),
            F.lpad((d % 28 + 1).cast("string"), 2, "0"),
            F.lpad((d % 24).cast("string"), 2, "0"),
            F.lpad((d % 60).cast("string"), 2, "0"),
            F.lpad((d % 60).cast("string"), 2, "0"),
        )

    urlkey = F.concat(F.lit("com,example)/p/"), d.cast("string"))
    url = F.concat(F.lit("https://example.com/p/"), d.cast("string"))
    status = F.when(d % 10 == 0, F.lit("404")).otherwise(F.lit("200"))
    cdxj = docs.select(F.concat(
        urlkey, F.lit(" "), ts("2024"), F.lit(' {"url": "'), url,
        F.lit('", "status": "'), status,
        F.lit('", "mime": "text/html", "length": "'),
        (d % 1000 + 100).cast("string"),
        F.lit('", "offset": "'), (d * 1000).cast("string"),
        F.lit('", "filename": "crawl-data/seg-'),
        (d % 7).cast("string"), F.lit('.warc.gz"}'),
    ).alias("value"))
    apijson = docs.select(F.concat(
        F.lit('{"urlkey": "'), urlkey, F.lit('", "timestamp": "'),
        ts("2025"), F.lit('", "url": "'), url,
        F.lit('", "status": "'), status,
        F.lit('", "mime": "text/html", "length": "'),
        (d % 1000 + 200).cast("string"),
        F.lit('", "offset": "'), (d * 2000).cast("string"),
        F.lit('", "filename": "crawl-data/seg-'),
        ((d + 1) % 7).cast("string"), F.lit('.warc.gz"}'),
    ).alias("value"))
    plan = cc_index_fetch_plan(
        cc_index_records(cdxj.unionByName(apijson)))
    return plan.select("urlkey", "url", "capture_ts", "warc_filename",
                       "warc_offset", "warc_length")


def q_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity retrieval ('table' within 8 tokens of 'query') over the
    positional index — min gap + window pair count, no positions×positions
    row blowup. Oracle recomputes every occurrence-pair distance."""
    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        proximity_match,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    out = proximity_match(inverted_postings(docs), "table", "query",
                          within=8)
    return out.select(F.col("id").alias("doc_id"), "min_dist",
                      "n_pairs_within")


def q_ql_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet query-likelihood ranked retrieval from the materialized
    index (the LM ranker beside BM25). Oracle replays the smoothed
    log-likelihood decomposition exactly."""
    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        ql_dirichlet_from_index,
        term_dictionary,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    p = inverted_postings(docs)
    out = ql_dirichlet_from_index(
        p, term_dictionary(p), ["spark", "table", "query"], mu=2000.0)
    return out.select(
        F.col("id").alias("doc_id"),
        F.round("ql", 4).alias("ql"),
        "n_terms",
    )


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-5 terms by smoothed tf-idf
    straight from the materialized index; the oracle replays the exact
    weights and the term-tiebroken ranking from raw text."""
    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        term_dictionary,
        tfidf_keywords,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    p = inverted_postings(docs)
    out = tfidf_keywords(p, term_dictionary(p), k=5)
    return out.select(
        F.col("id").alias("doc_id"), "term", "tf", "df",
        F.round("tfidf", 4).alias("tfidf"), "rank",
    )


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocation mining: PMI over adjacent token pairs with an
    integer min-count gate (row set reproducible exactly; pmi is the only
    float column). Oracle recomputes pair counts, marginals and pmi."""
    from crawl4ai_custom_spark.operators.textstats import pmi_collocations

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    out = pmi_collocations(docs, min_count=5)
    return out.select(
        "w1", "w2", "c12", "c1", "c2",
        # +0.0 folds IEEE negative zero to +0 (engines disagree on -0.0
        # when a tiny negative pmi rounds to zero)
        (F.round("pmi", 4) + F.lit(0.0)).alias("pmi"),
    )


def q_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece) Viterbi segmentation gate: vocabulary
    seeded from the corpus (all chars + top-48 substrings, integer
    micro-nat costs), minimum-cost split of hash-thinned 4-12 char words.
    Unlike BPE's iterative merge loop, the unigram DP IS SQL-expressible:
    the oracle unrolls the 12-position min-plus recursion as chained
    CTEs with an argmin key of zero-padded cost || '|' || path — the
    exact tuple order the pandas Viterbi uses."""
    from crawl4ai_custom_spark.operators.bpe import (
        unigram_seed_vocab,
        unigram_segment,
    )
    from crawl4ai_custom_spark.operators.urlops import stable_hash60

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    vocab = unigram_seed_vocab(docs, max_piece=4, extra_pieces=48)
    words = docs.select(F.explode(
        F.filter(F.split(F.lower("text"), r"[^a-z0-9]+"),
                 lambda t: F.length(t) > 0)).alias("word")).distinct()
    gate_words = words.where(
        F.length("word").between(4, 12)
        & (stable_hash60(F.col("word")) % 2 == 0))
    return unigram_segment(gate_words, vocab, max_piece=4)


def q_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM EM count step gate: Viterbi-segment every distinct
    word (len <= 12) of the corpus under the seeded vocabulary, re-count
    piece usage weighted by word frequency — the M-step statistics.
    Oracle = the same unrolled DP + one weighted groupBy."""
    from crawl4ai_custom_spark.operators.bpe import (
        unigram_em_counts,
        unigram_seed_vocab,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    vocab = unigram_seed_vocab(docs, max_piece=4, extra_pieces=48)
    return unigram_em_counts(docs, vocab, max_piece=4, max_word_len=12)


def q_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train+encode gate (rows-only: the merge loop is an iterative
    algorithm — per-round top-pair selection feeding the next round's
    vocab rewrite — so no single SQL statement replays it; semantics are
    pinned instead by tests/test_bpe.py against an independent reference
    implementation, the policy's iterative exemption). Emits deterministic
    encodings: stable merge table (count-desc, pair-asc tie break), stable
    token arrays."""
    from crawl4ai_custom_spark.operators.bpe import bpe_encode, train_bpe

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe(docs.where(F.col("doc_id") < 100), 3)
    out = bpe_encode(docs.where(F.col("doc_id") < 50), merges)
    return out.select(
        "doc_id", "n_words", "n_bpe_tokens",
        F.md5(F.concat_ws("\x1f", "tokens")).alias("tokens_md5"),
    )


def q_kn_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM gate: train on doc_id%5==0 docs,
    score doc_id%5==1 — seen-pair discounting, continuation-probability
    interpolation, unseen-context and unseen-word fallbacks all replayed
    exactly by the oracle."""
    from crawl4ai_custom_spark.operators.textstats import (
        kn_bigram_score,
        kneser_ney_bigram_lm,
    )

    docs = _t(spark, sf_dir, "documents")
    model = kneser_ney_bigram_lm(
        docs.where((F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 1000))
    )
    out = kn_bigram_score(
        docs.where((F.col("doc_id") % 5 == 1) & (F.col("doc_id") < 500)),
        model,
    )
    return out.select(
        "doc_id", "n_bigrams",
        F.round(F.col("avg_nll") + 1e-9, 6).alias("avg_nll"),
    )


def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination: 20 benchmark vectors broadcast
    against 300 corpus vectors; per-doc max cosine, hit count, and the
    contamination flag all recomputed by the oracle."""
    from crawl4ai_custom_spark.operators.decontam import (
        semantic_decontaminate,
    )

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.where(F.col("vec_id") < 20)
    corpus = emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 400))
    out = semantic_decontaminate(corpus, bench, threshold=0.3,
                                 id_col="vec_id")
    return out.select("id", "max_bench_cosine", "n_bench_hits",
                      "semantically_contaminated")


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health report: per-language + rollup grand-total rows with
    planted exact dups (every 10th doc repeats) so dup_rate is non-zero;
    the oracle recomputes quality/fingerprint and GROUP BY ROLLUP."""
    from crawl4ai_custom_spark.operators.textstats import corpus_report

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "text", "lang").unionByName(
        docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 500000).alias("doc_id"), "text", "lang"
        )
    )
    return corpus_report(corpus).select(
        "lang", "n_docs", "n_tokens", "avg_quality", "distinct_fp",
        "dup_rate",
    )


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: closed-form quality/token columns,
    budget 12000 — whole high-quality buckets admit fully, the straddling
    bucket admits its deterministic hash fraction; oracle reproduces the
    bucket quantization, tiny cumulative table and hash threshold."""
    from crawl4ai_custom_spark.operators.corpusmix import token_budget_select

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    d = docs.select(
        "doc_id",
        ((F.col("doc_id") * 7919) % 1000 / 1000.0).alias("quality"),
        (F.lit(50) + F.col("doc_id") % 100).alias("n_tokens"),
    )
    out = token_budget_select(d, budget_tokens=12000)
    return out.select("doc_id", "n_tokens", "qbucket")


def q_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-site detection: every source host gets a planted mirror
    serving the even half of its pages byte-identically; the pair table
    must surface exactly those (host, host-mirror) pairs with containment
    fraction 1.0 of the smaller side."""
    from crawl4ai_custom_spark.operators.linkgraph import mirror_hosts

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    base = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".com/p/"),
                 F.col("doc_id")).alias("url"),
        F.col("text").alias("html"),
    )
    mirror = docs.where(F.col("doc_id") % 2 == 0).select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("-mirror.com/q/"),
                 F.col("doc_id")).alias("url"),
        F.col("text").alias("html"),
    )
    return mirror_hosts(base.unionByName(mirror),
                        min_shared=3, min_frac=0.5)


def q_crawl_delay_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots-declared Crawl-delay -> per-domain politeness budget: the
    parser must pick OUR agent group (a decoy greedybot group declares a
    different delay on every 5th host), drop hosts that declare none, and
    feed domain_budget_col's max(adaptive, declared)-clamped math."""
    from crawl4ai_custom_spark.operators.politeness import (
        PolitenessConfig,
        domain_budget_col,
    )
    from crawl4ai_custom_spark.operators.robots import robots_crawl_delays

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    delay = (F.col("doc_id") % 9 + 1).cast("string")
    rules = F.when(
        F.col("doc_id") % 4 == 0,
        F.lit("user-agent: *\ndisallow: /private/"),  # no delay declared
    ).when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit("user-agent: greedybot\ncrawl-delay: 99\n"
                       "user-agent: *\ncrawl-delay: "), delay),
    ).otherwise(
        F.concat(F.lit("user-agent: *\ncrawl-delay: "), delay)
    )
    robots = docs.select(
        F.concat(F.lit("d"), F.col("doc_id"), F.lit(".com")).alias("domain"),
        rules.alias("rules"),
        F.lit("2026-01-01").cast("timestamp").alias("fetch_time"),
    )
    out = robots_crawl_delays(robots).withColumn(
        "current_delay", F.lit(None).cast("double")
    )
    return out.select(
        "registrable_domain", "crawl_delay",
        domain_budget_col(
            PolitenessConfig(), use_crawl_delay=True
        ).alias("budget"),
    )


def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/UT1-style URL curation: a data-driven blocked-domain
    table (broadcast join) + soft keyword scoring over the url string;
    blocked = domain hit OR >= 2 keyword hits."""
    from crawl4ai_custom_spark.operators.filters import url_blocklist_flags

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".com/"),
            F.when(F.col("doc_id") % 7 == 0, F.lit("free-casino-poker/"))
            .when(F.col("doc_id") % 5 == 0, F.lit("news-casino/"))
            .otherwise(F.lit("articles/")),
            F.col("doc_id").cast("string"),
        ).alias("url_canon"),
        F.concat(F.col("source"), F.lit(".com")).alias("registrable_domain"),
    )
    from crawl4ai_custom_spark.session import local_df

    blocked = local_df(spark, [("src3.com",), ("src7.com",)], "domain string")
    out = url_blocklist_flags(
        urls, blocked, keywords=["casino", "poker"], kw_threshold=2
    )
    return out.select(
        "doc_id", "url_canon", "registrable_domain",
        "domain_blocked", "kw_hits", "url_blocked",
    )


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.4): per-lang
    NLL terciles from the same unigram LM as q_lm_score, applied as a
    broadcast threshold join. NLLs are rounded (with the q_lm_score nudge)
    BEFORE the percentile so both engines cut an identical multiset."""
    from crawl4ai_custom_spark.operators.textstats import (
        ccnet_buckets,
        lm_quality_score,
        nll_thresholds,
        unigram_lm,
    )

    docs = _t(spark, sf_dir, "documents")
    lm = unigram_lm(docs.where(F.col("doc_id") < 300))
    scored = (
        lm_quality_score(docs.where(F.col("doc_id") < 500), lm)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .withColumn("avg_nll", F.round(F.col("avg_nll") + 1e-9, 6))
    )
    th = nll_thresholds(scored)
    return ccnet_buckets(scored, th).select(
        "doc_id", "lang", "avg_nll", "bucket"
    )


def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped hashed-ngram quality classifier (GPT-3/CCNet stage):
    NB log-odds weights over hashed unigram+bigram buckets, trained on docs
    < 300 labeled good iff lang='en', scoring docs < 500 by mean per-feature
    log-odds. DuckDB recomputes the identical hashed buckets, smoothing and
    unseen-bucket default."""
    from crawl4ai_custom_spark.operators.corpusmix import (
        classifier_quality_score,
        train_quality_classifier,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.substring("text", 1, 240).alias("text")
    )
    labeled = docs.where(F.col("doc_id") < 300).select(
        (F.col("lang") == "en").alias("label"), "text"
    )
    model = train_quality_classifier(labeled, num_buckets=4096)
    out = classifier_quality_score(
        docs.where(F.col("doc_id") < 500), model, num_buckets=4096
    )
    return out.select(
        "doc_id", "n_features",
        F.round(F.col("clf_score") + 1e-9, 6).alias("clf_score"),
    )


def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): raw pool = docs < 500,
    target = English docs < 300; per-doc log importance = sum over hashed
    unigram+bigram buckets of ln p_target - ln p_raw (add-1 smoothing,
    4096 buckets). DuckDB recomputes both bucket distributions and the
    per-feature log-ratio sum from the identical md5-60bit hash."""
    from crawl4ai_custom_spark.operators.corpusmix import dsir_log_weights

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.substring("text", 1, 240).alias("text")
    )
    raw = docs.where(F.col("doc_id") < 500).select("doc_id", "text")
    target = docs.where(
        (F.col("lang") == "en") & (F.col("doc_id") < 300)
    ).select("doc_id", "text")
    out = dsir_log_weights(raw, target, num_buckets=4096)
    return out.select(
        "doc_id", "n_features",
        F.round(F.col("log_weight") + 1e-9, 6).alias("log_weight"),
    )


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resampling half of DSIR via deterministic Gumbel-top-k: key =
    log_weight + Gumbel(hash-uniform), top 100 of the same raw pool.
    The oracle replays the hash uniforms, the Gumbel transform, the
    round-6 key quantization and the (key desc, id asc) ranking."""
    from crawl4ai_custom_spark.operators.corpusmix import dsir_resample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.substring("text", 1, 240).alias("text")
    )
    raw = docs.where(F.col("doc_id") < 500).select("doc_id", "text")
    target = docs.where(
        (F.col("lang") == "en") & (F.col("doc_id") < 300)
    ).select("doc_id", "text")
    out = dsir_resample(raw, target, n_docs=100, num_buckets=4096)
    return out.select(
        "doc_id", "n_features",
        F.round(F.col("log_weight") + 1e-9, 6).alias("log_weight"),
        F.round(F.col("gumbel_key") + 1e-9, 6).alias("gumbel_key"),
    )


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced training mixture (T=2: stratum share
    proportional to sqrt(n_g), mT5 recipe) at a 40% output budget —
    per-lang keep thresholds from one tiny agg, then a deterministic hash
    filter; the oracle recomputes the thresholds exactly."""
    from crawl4ai_custom_spark.operators.corpusmix import temperature_mixture

    docs = _t(spark, sf_dir, "documents")
    out = temperature_mixture(
        docs, stratum_col="lang", temperature=2.0, out_frac=0.4,
        salt="mix-t1",
    )
    return out.select("doc_id", "lang")


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training output:
    hash-assigned shard, independent-hash within-shard order — one exchange
    plus intra-partition sort, bit-reproducible across engines."""
    from crawl4ai_custom_spark.operators.corpusmix import shuffle_shards

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    out = shuffle_shards(docs.select("doc_id"), n_shards=8)
    return out.select(
        "doc_id", F.col("shard").cast("long").alias("shard"), "pos"
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing gate: inject deterministic emails/SSNs/phones/IPs into
    document texts, redact with the native regexp chain, and verify the
    per-family counts AND the md5 of the redacted text exactly (the oracle
    runs the identical RE2-compatible regexes in the same order)."""
    from crawl4ai_custom_spark.operators.pii import redact_pii

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    d = F.col("doc_id")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 120),
            F.lit(" contact user"), d.cast("string"),
            F.lit("@example"), (d % 7).cast("string"), F.lit(".com"),
            F.lit(" ip 10."), (d % 250).cast("string"), F.lit(".0.1"),
            F.when(d % 3 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
            F.when(d % 4 == 0, F.lit(" call 555-123-4567")).otherwise(F.lit("")),
            F.when(d % 5 == 0, F.lit(" card 4111 1111 1111 1111")).otherwise(F.lit("")),
            F.when(d % 6 == 0, F.lit(" tel (555) 987-6543")).otherwise(F.lit("")),
            F.when(d % 7 == 0, F.lit(" intl +1-202-555-0147")).otherwise(F.lit("")),
            F.when(d % 8 == 0, F.lit(" dot 303.555.0143")).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = redact_pii(injected)
    return out.select(
        "doc_id", "n_email", "n_cc", "n_ssn", "n_phone", "n_ip", "any_pii",
        F.md5("text_redacted").alias("redacted_md5"),
    )


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination gate: flag corpus docs sharing word 3-grams
    with a 'benchmark' subset (every 37th doc); exact overlap counts."""
    from crawl4ai_custom_spark.operators.decontam import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 37 == 0)
    corpus = docs.where(F.col("doc_id") < 500)
    out = decontaminate(corpus, bench, n=3, min_overlap=1)
    return out.select("doc_id", "n_contaminated_grams", "contaminated")


def q_decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination gate: same fixture and SAME
    oracle as q_decontam — the bloom path is exact by construction
    (false positives die in the verify join, false negatives are
    impossible), so both operators must equal the one SQL replay."""
    from crawl4ai_custom_spark.operators.decontam import decontaminate_bloom

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 37 == 0)
    corpus = docs.where(F.col("doc_id") < 500)
    out = decontaminate_bloom(corpus, bench, n=3, min_overlap=1,
                              bloom_partitions=4,
                              capacity_per_partition=200_000)
    return out.select("doc_id", "n_contaminated_grams", "contaminated")


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.adaptive import term_stats

    docs = _t(spark, sf_dir, "documents")
    out = term_stats(docs)
    return (
        out.where(F.col("tf") >= 5)
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(100)
        .select("term", "tf", "df")
    )


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.textstats import bm25_rank

    docs = _t(spark, sf_dir, "documents")
    out = bm25_rank(docs, ["spark", "table", "query"])
    return out.select("id", F.round("bm25", 4).alias("bm25"))


def q_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.chunking import sliding_word_chunks

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return sliding_word_chunks(docs, words=20, stride=10)


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-exact OverlappingWindowChunking semantics, oracled: 20-word
    windows advancing by 15, short final chunk, raw-text passthrough for
    short docs (chunking_strategy.py:215-256)."""
    from crawl4ai_custom_spark.operators.chunking import overlapping_word_chunks

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return overlapping_word_chunks(docs, words=20, overlap=5)


def q_adaptive_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive link ranking (adaptive_crawler.py:415-440 semantics):
    relevance (query hits in href/text) + novelty (words unseen in the
    crawled corpus' term stats) + authority (scheme/path-depth heuristic),
    0.5/0.3/0.2 blend. Corpus = docs < 400; candidate links from docs
    400..459 with alternating shallow-https / deep-http hrefs."""
    from crawl4ai_custom_spark.operators.adaptive import (
        rank_links_adaptive,
        term_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    stats = term_stats(docs.where(F.col("doc_id") < 400))
    links = docs.where((F.col("doc_id") >= 400) & (F.col("doc_id") < 460)).select(
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("https://ex.com/a/"), F.col("doc_id")),
        ).otherwise(
            F.concat(F.lit("http://ex.com/a/b/c/"), F.col("doc_id"))
        ).alias("href"),
        F.substring(F.col("text"), 1, 80).alias("text"),
    )
    out = rank_links_adaptive(links, stats, ["spark", "data"])
    return out.select(
        "href",
        F.round("relevance", 4).alias("relevance"),
        F.round("novelty", 4).alias("novelty"),
        F.round("authority", 4).alias("authority"),
        F.round("adaptive_score", 4).alias("adaptive_score"),
    )


def q_adaptive_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EmbeddingStrategy adaptive-crawl math (adaptive_crawler.py:617-1270)
    on precomputed embeddings: coverage gaps = 1 - best cosine per query
    variation vs the KB; candidate links scored by scaled gap improvement
    (x2, radius 0.2) averaged over needy gaps, damped by the KB-overlap
    penalty (2 * excess over 0.85). Queries = vec_id<8, KB = 50..149,
    links = 200..259."""
    from crawl4ai_custom_spark.operators.adaptive_embedding import (
        coverage_gaps,
        rank_links_by_gaps,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    kb = emb.where((F.col("vec_id") >= 50) & (F.col("vec_id") < 150))
    links = emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 260)).select(
        F.col("vec_id").alias("url"), "embedding")
    gaps = coverage_gaps(queries, kb).join(
        queries.select("query_id", "embedding"), "query_id")
    out = rank_links_by_gaps(links, gaps, kb)
    return out.select(F.col("link_id").cast("long").alias("link_id"),
                      F.round("score", 4).alias("score"))


def q_chunk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget chunk merge (reference chunk_documents, utils.py:76-160):
    threshold=48 tokens @ 0.75/word -> m=64 words, overlap=9 -> o=12,
    step=52; full chunks emit without their overlap suffix."""
    from crawl4ai_custom_spark.operators.chunking import token_budget_chunks

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    return token_budget_chunks(docs, token_threshold=48, overlap=9).select(
        "id", "chunk_index", "chunk"
    )


def q_chunk_sentence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence chunking (NlpSentenceChunking parity: split after .!? +
    whitespace, strip, dedup — the reference returns list(set(...)))."""
    from crawl4ai_custom_spark.operators.chunking import sentence_chunks

    # capped input (mirrored by the oracle): keeps this gate's cost uniform
    # with the other gates so the driver's budgeted pass covers all of them
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    return sentence_chunks(docs).select("id", "sentence")


def q_chunk_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling-style topic segmentation: 20-word pseudo-sentence blocks,
    vocabulary-Jaccard cohesion, boundary below 0.12, blocks joined per
    topic."""
    from crawl4ai_custom_spark.operators.chunking import topic_segment_chunks

    # capped input: keeps this gate's cost uniform with the other 68 so a
    # budgeted driver pass covers every query (the oracle mirrors the cap)
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    return topic_segment_chunks(docs).select("id", "chunk_index", "chunk")


def q_headpeek(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.headpeek import peek_head

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>"), F.col("source"), F.lit(" "), F.col("doc_id"),
        F.lit('</title><meta name="description" content="'),
        F.substring(F.col("text"), 1, 50),
        F.lit('"><meta property="og:title" content="og '), F.col("source"),
        F.lit('"></head><body>ignored</body></html>'),
    )
    pages = docs.select("doc_id", F.encode(html, "utf-8").alias("html"))
    out = peek_head(pages)
    return out.select("doc_id", "head_title", "head_description", "og_title")


def q_link_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-preview scoring (reference link_preview.py + calculate_total_score
    utils.py:3376-3421): cap-then-dedup link selection, head-peek join on the
    target page, contextual BM25-lite score, 0.7/0.3 intrinsic blend. Synthetic
    link graph: each page doc_id<100 links to +100 (twice — dedup case), +9000
    (missing target — intrinsic fallback case), +101 (capped away)."""
    from crawl4ai_custom_spark.operators.linkpreview import link_preview

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    html = F.concat(
        F.lit("<html><head><title>"), F.col("source"), F.lit(" "), F.col("doc_id"),
        F.lit('</title><meta name="description" content="'),
        F.substring(F.col("text"), 1, 50),
        F.lit('"></head><body>x</body></html>'),
    )
    pages = docs.select(
        F.concat(F.lit("https://ex.com/p/"), F.col("doc_id")).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )
    links = docs.where(F.col("doc_id") < 100).select(
        F.concat(F.lit("https://ex.com/p/"), F.col("doc_id")).alias("page_url"),
        (F.col("doc_id") % 10).cast("double").alias("intrinsic_score"),
        F.posexplode(
            F.array(
                F.concat(F.lit("https://ex.com/p/"), F.col("doc_id") + 100),
                F.concat(F.lit("https://ex.com/p/"), F.col("doc_id") + 100),
                F.concat(F.lit("https://ex.com/p/"), F.col("doc_id") + 9000),
                F.concat(F.lit("https://ex.com/p/"), F.col("doc_id") + 101),
            )
        ).alias("link_pos", "href"),
    ).withColumn("is_internal", F.lit(True))
    out = link_preview(links, pages, ["spark", "data"], max_links=3)
    return out.select(
        "page_url", "href",
        F.round("contextual_score", 4).alias("contextual_score"),
        F.round("total_score", 4).alias("total_score"),
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Per-row floored epoch seconds (tz-independent for NTZ: calendar diff from
    # the NTZ epoch; truncation == floor for post-1970 data), matching the
    # oracle's floor(epoch(ts)) exactly — flooring each timestamp BEFORE
    # differencing differs from truncating the difference on sub-second data.
    sec = F.expr("timestampdiff(SECOND, timestamp_ntz'1970-01-01 00:00:00', ts)")
    sess = ev.withColumn("sec", sec)
    gap = F.col("sec") - F.lag("sec").over(w)
    sess = sess.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    return sess.groupBy("user_id").agg(F.sum("new_sess").alias("n_sessions"))


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_revenue_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    return rev.orderBy(F.desc("revenue"), F.asc("n_name")).limit(10)


def q_seo_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEOFilter scoring (reference filters.py:584-694): every factor varied
    independently by doc_id arithmetic — title-length buckets (%3), keyword
    hits (%2), description length (%4), canonical match (%6), noindex (%5),
    ld+json (%7), URL-quality penalties (%8)."""
    from crawl4ai_custom_spark.operators.headpeek import seo_scores

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://ex.com"),
        F.when(d % 8 == 0, F.lit("/p/" + "a" * 85 + "_2024?q=1")).otherwise(
            F.concat(F.lit("/p/clean"), d)
        ),
    )
    title_n = (
        F.when(d % 3 == 0, 55).when(d % 3 == 1, 45).otherwise(20)
    )
    title = F.concat(
        F.when(d % 2 == 0, F.lit("spark spark ")).otherwise(F.lit("word words ")),
        F.lit("t" * 70),
    ).substr(F.lit(1), title_n)
    desc = F.lit("d" * 200).substr(
        F.lit(1), F.when(d % 4 == 0, 150).when(d % 4 == 1, 130).otherwise(10)
    )
    robots_meta = F.when(d % 5 == 0, F.lit("noindex,nofollow")).otherwise(
        F.lit("index,follow")
    )
    canon_tag = (
        F.when(d % 6 == 0, F.concat(F.lit('<meta name="canonical" content="'),
                                    url, F.lit('">')))
        .when(d % 6 == 1, F.lit('<meta name="canonical" content="https://other.com/x">'))
        .otherwise(F.lit(""))
    )
    ld = F.when(
        d % 7 == 0, F.lit('<script type="application/ld+json">{}</script>')
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head><title>"), title,
        F.lit('</title><meta name="description" content="'), desc,
        F.lit('"><meta name="robots" content="'), robots_meta, F.lit('">'),
        canon_tag, ld, F.lit("</head><body>x</body></html>"),
    )
    pages = docs.select("doc_id", url.alias("url"),
                        F.encode(html, "utf-8").alias("html"))
    out = seo_scores(pages, keywords=("spark",))
    return out.select(
        "doc_id", F.round("seo_score", 4).alias("seo_score"), "seo_pass"
    )


def q_media_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NATIVE multimodal surface, exactly oracled: magic-byte format
    sniffing, payload sizes, deterministic frame-sample offsets. Payloads
    are synthesized per doc (magic prefix by doc_id%6; %6==5 has no magic
    -> 'unknown')."""
    from crawl4ai_custom_spark.operators.multimodal import (
        frame_sample_offsets,
        sniff_format,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    m = F.col("doc_id") % 6
    magic = (
        F.when(m == 0, F.lit(b"\x89PNG"))
        .when(m == 1, F.lit(b"\xff\xd8\xff"))
        .when(m == 2, F.lit(b"GIF8"))
        .when(m == 3, F.lit(b"RIFF"))
        .when(m == 4, F.lit(b"%PDF"))
        .otherwise(F.lit(b"NOPE"))
    )
    payload = F.concat(
        magic, F.encode(F.concat(F.lit("body"), F.col("doc_id")), "utf-8")
    )
    dur = (F.col("doc_id") % 30 + 1).cast("double")
    offs = frame_sample_offsets(dur, n_frames=4)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        sniff_format(payload).alias("format"),
        F.octet_length(payload).alias("n_bytes"),
        F.round(F.element_at(offs, 1), 4).alias("off0"),
        F.round(F.element_at(offs, 4), 4).alias("off3"),
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracled: the stub decoder is deterministic byte-histogram math, so the
    DuckDB twin recomputes f0 = fraction of payload bytes < 32 from hex()."""
    from crawl4ai_custom_spark.operators.multimodal import (
        documents_as_media,
        extract_media_features,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    out = extract_media_features(documents_as_media(docs))
    return out.select("media_id", "format", "n_bytes",
                      F.round(F.element_at("feature", 1) + 1e-9, 4).alias("f0"))


def _ahash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media set of the image-dedup gates: 200 deterministic PNGs plus 20
    planted near-copies (ids 1000+j = image j with pixel 0 bumped 128)."""
    from crawl4ai_custom_spark.operators.multimodal import synth_png_payloads

    docs = _t(spark, sf_dir, "documents")
    base = synth_png_payloads(docs.where(F.col("doc_id") < 200))
    copies = synth_png_payloads(
        docs.where(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            F.col("doc_id").alias("base"),
        ),
        base_col="base", bump=128,
    )
    return base.unionByName(copies)


def q_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash over REAL decoded PNG pixels: the DuckDB
    oracle recomputes every grid cell, the exact integer bit rule
    (cell_sum*n_px > total*cell_cnt) and the 60-bit assembly from the
    closed-form pixels."""
    from crawl4ai_custom_spark.operators.multimodal import image_ahash

    out = image_ahash(_ahash_media(spark, sf_dir))
    return out.select("media_id", "format", "decoder", "ahash")


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs: aHash -> 4-band pigeonhole join -> exact
    Hamming verify (shared hamming_neardup machinery with simhash); the
    oracle rebuilds hashes, banding and the xor/bit_count verify in SQL.
    The 20 planted one-pixel copies surface here."""
    from crawl4ai_custom_spark.operators.dedup import hamming_neardup
    from crawl4ai_custom_spark.operators.multimodal import image_ahash

    ah = image_ahash(_ahash_media(spark, sf_dir))
    return hamming_neardup(
        ah.where(F.col("ahash").isNotNull()),
        id_col="media_id", hash_col="ahash",
        max_hamming=6, n_bands=4, bits=60,
    )


def q_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode gate: deterministic MJPEG AVI per doc (RIFF walk
    + the from-scratch JPEG decoder), exact per-frame pixel stats; the
    oracle recomputes every frame's blocks from the closed form."""
    from crawl4ai_custom_spark.operators.multimodal import (
        synth_avi_payloads,
        video_frame_stats,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    out = video_frame_stats(synth_avi_payloads(docs))
    return out.select("media_id", "decoder", "frame_idx", "width",
                      "height", "n_values", "val_sum", "val_min", "val_max")


def q_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup via per-frame perceptual hashes: 12 planted copies
    (ids 1000+j reuse video j's frames) must pair with containment 1.0;
    the oracle recomputes every frame's aHash from the closed-form pixels
    and the shared-frame containment join."""
    from crawl4ai_custom_spark.operators.multimodal import (
        synth_avi_payloads,
        video_ahash,
        video_neardup,
    )

    docs = _t(spark, sf_dir, "documents")
    base = synth_avi_payloads(docs.where(F.col("doc_id") < 120))
    copies = synth_avi_payloads(docs.where(F.col("doc_id") < 12)).select(
        (F.col("media_id") + 1000).alias("media_id"), "payload"
    )
    vh = video_ahash(base.unionByName(copies))
    return video_neardup(vh, min_shared=2, min_frac=0.5)


def q_audio_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio perceptual hash over REAL decoded PCM16 samples: 60 energy
    windows, the exact integer bit rule, 20 planted near-copies (sample 0
    re-pitched); the oracle recomputes every window from the closed-form
    samples."""
    from crawl4ai_custom_spark.operators.multimodal import (
        audio_ahash,
        synth_wav_payloads,
    )

    docs = _t(spark, sf_dir, "documents")
    base = synth_wav_payloads(docs.where(F.col("doc_id") < 200))
    copies = synth_wav_payloads(
        docs.where(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            F.col("doc_id").alias("base"),
        ),
        base_col="base", bump=20000,
    )
    out = audio_ahash(base.unionByName(copies))
    return out.select("media_id", "format", "decoder", "ahash")


def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode gate: build a deterministic grayscale PNG per doc
    (cycling scanline filters, so Sub/Up/Average/Paeth are all exercised),
    parse the actual bytes with the stdlib codec (kernel/imagecodec.py), and
    emit exact integer pixel statistics. The oracle recomputes every pixel
    from the closed form via generate_series — an exact value oracle over a
    real encode->decode round trip."""
    from crawl4ai_custom_spark.operators.multimodal import (
        decode_media_stats,
        synth_png_payloads,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    out = decode_media_stats(synth_png_payloads(docs))
    return out.select("media_id", "format", "decoder", "width", "height",
                      "n_values", "val_sum", "val_min", "val_max")


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize gate: deterministic PNGs -> image_resize (nearest, 4x4)
    -> decode the RESIZED bytes again -> exact pixel stats. Two full
    encode/decode round trips bracket the resample; the oracle recomputes
    each sampled source index (floor((t+0.5)*src/4)) and its closed-form
    pixel value in SQL."""
    from crawl4ai_custom_spark.operators.multimodal import (
        decode_media_stats,
        image_resize,
        synth_png_payloads,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    resized = image_resize(
        synth_png_payloads(docs), 4, 4, method="nearest"
    ).select("media_id", "payload")
    out = decode_media_stats(resized)
    return out.select("media_id", "format", "decoder", "width", "height",
                      "n_values", "val_sum", "val_min", "val_max")


def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode gate: deterministic baseline JPEG per doc built
    from constant 8x8 blocks (all-ones quant table => DC-only blocks =>
    exact round-trip), parsed back by the from-scratch Huffman+IDCT decoder
    (kernel/jpegmini.py); the oracle recomputes every pixel stat from the
    block closed form."""
    from crawl4ai_custom_spark.operators.multimodal import (
        decode_media_stats,
        synth_jpeg_payloads,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    out = decode_media_stats(synth_jpeg_payloads(docs))
    return out.select("media_id", "format", "decoder", "width", "height",
                      "n_values", "val_sum", "val_min", "val_max")


def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode gate: deterministic PCM16 WAV per doc, parsed by the
    stdlib RIFF codec; exact integer sample statistics, closed-form oracle."""
    from crawl4ai_custom_spark.operators.multimodal import (
        decode_media_stats,
        synth_wav_payloads,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    out = decode_media_stats(synth_wav_payloads(docs))
    return out.select("media_id", "format", "decoder",
                      F.col("width").alias("sample_rate"),
                      "n_values", "val_sum", "val_min", "val_max")


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.extraction import extract_pages

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><body><h1>"), F.col("source"), F.lit("</h1><p>"),
        F.col("text"), F.lit("</p></body></html>"),
    )
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
                 F.col("doc_id")).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )
    out = extract_pages(pages)
    return out.select("url", F.col("text").alias("extracted_text"),
                      "raw_markdown")


def q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF pipeline round-trip: build a deterministic 2-page FlateDecode PDF
    per document, then run the real stdlib parser (kernel/pdfmini.py) via the
    mapInPandas operator; the oracle knows exactly what text must come out."""
    from collections.abc import Iterator

    import pandas as pd

    docs = _t(spark, sf_dir, "documents")
    prefix = F.substring(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "),
            r"[^\x20-\x7e]", "",
        ), 1, 60,
    )
    from crawl4ai_custom_spark.session import spread_scan

    # the documents table ships as ONE row group: without an explicit
    # spread the whole build+parse python stage runs in a single task.
    # bytes_per_task is tuned down — the per-row cost here (zlib build +
    # 4 parser passes, ~0.35 ms/doc) dwarfs the scan bytes, so the
    # default 256KB/task leaves most cores idle at sf0.1's ~600KB file
    src = spread_scan(docs, bytes_per_task=32 * 1024).select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit("Doc "), F.col("doc_id")).alias("page1"),
        prefix.alias("page2"),
    )

    # one gate, both surfaces: operators/pdf.pdf_rows emits the whole-doc
    # text row (page_number 0) plus one row per page with metadata fanned
    # on. ONE mapInPandas builds each payload once and parses it in memory
    # — a build stage feeding extract_pdf would ship every payload through
    # Arrow twice.
    from crawl4ai_custom_spark.operators.pdf import PDF_SCHEMA, pdf_rows

    def build_and_parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from crawl4ai_custom_spark.kernel.pdfmini import build_simple_pdf

        for pdf in batches:
            yield pdf_rows(
                (mid, build_simple_pdf(
                    [p1, p2],
                    info={"title": p1, "producer": "pdfmini",
                          "created": "D:20260115093000"},
                    images_per_page=int(mid) % 3,
                ))
                for mid, p1, p2 in zip(pdf["media_id"], pdf["page1"],
                                       pdf["page2"])
            )

    return src.mapInPandas(build_and_parse, PDF_SCHEMA)


def q_queue_wait_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queue wait statistics (async_dispatcher.py:508-520) over a synthetic
    admitted log derived from documents (wave/discovered_wave arithmetic is
    what's being pinned; the engine emits the same shape per crawl via
    CrawlRun.admitted_log)."""
    from crawl4ai_custom_spark.operators.politeness import queue_wait_stats

    docs = _t(spark, sf_dir, "documents")
    log = docs.select(
        (F.col("doc_id") % 5).alias("wave"),
        F.greatest(
            F.lit(0), (F.col("doc_id") % 5) - (F.col("doc_id") % 3)
        ).alias("discovered_wave"),
    )
    return queue_wait_stats(log)


def q_serp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Google-SERP schema pack (google_search/crawler.py:1-131): the preset
    organic schema over SERP-shaped pages (two results per page), flattened
    to one row per extracted result."""
    from crawl4ai_custom_spark.crawlers import SERP_ORGANIC_SCHEMA
    from crawl4ai_custom_spark.operators.structured import schema_extract

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    html = F.concat(
        F.lit('<html><body><div class="g"><h3>R'), F.col("doc_id"),
        F.lit(' a</h3><a href="https://r.example/'), F.col("doc_id"),
        F.lit('/a">x</a><div class="snippet">s'), F.col("doc_id") % 7,
        F.lit('</div><span class="date">'), F.col("doc_id") % 24,
        F.lit(' hours ago</span></div><div class="g"><h3>R'),
        F.col("doc_id"),
        F.lit(' b</h3><a href="https://r.example/'), F.col("doc_id"),
        F.lit('/b">x</a><div class="snippet">t'), F.col("doc_id") % 5,
        F.lit("</div></div></body></html>"),
    )
    pages = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )
    out = schema_extract(pages, SERP_ORGANIC_SCHEMA)
    rec = F.explode("records").alias("rec")
    return out.select(F.col("url").cast("long").alias("doc_id"), rec).select(
        "doc_id",
        F.col("rec.title").alias("title"),
        F.col("rec.link").alias("link"),
        F.col("rec.snippet").alias("snippet"),
        F.col("rec.date").alias("result_date"),
    )


def q_market_intel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discovery-driven collection pipeline (market_intel/collect.py:1-632):
    seeds -> catalog discovery (seam) -> homepage resolution via the pages
    table -> structured extraction; three resumable phases, flattened to
    one record row per resolved product."""
    import tempfile

    from crawl4ai_custom_spark.market_intel import MarketIntelPipeline

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    cat = docs.select(
        F.concat(F.lit("https://catalog.example/p"), F.col("doc_id")).alias("url"),
        F.encode(F.concat(
            F.lit('<html><body><a href="/in">i</a><a href="https://prod'),
            F.col("doc_id"), F.lit('.example/">s</a></body></html>'),
        ), "utf-8").alias("html"),
    )
    home = docs.select(
        F.concat(F.lit("https://prod"), F.col("doc_id"),
                 F.lit(".example/")).alias("url"),
        F.encode(F.concat(
            F.lit("<html><head><title>T"), F.col("doc_id") % 9,
            F.lit('</title><meta name="description" content="d'),
            F.col("doc_id") % 5,
            F.lit('"></head><body><h1>Product '), F.col("doc_id"),
            F.lit("</h1></body></html>"),
        ), "utf-8").alias("html"),
    )
    pages = cat.unionByName(home)

    def catalog_fn(seeds):
        # deterministic catalog seam: every seed maps to all doc products
        return seeds.crossJoin(docs.select("doc_id")).select(
            "seed",
            F.concat(F.lit("P"), F.col("doc_id")).alias("name"),
            F.concat(F.lit("https://catalog.example/p"),
                     F.col("doc_id")).alias("catalog_url"),
            F.col("doc_id").cast("string").alias("catalog_id"),
        )

    # materialize=False: one lazy plan instead of three parquet commit/read
    # cycles — resume semantics are pinned separately in test_market_intel
    pipe = MarketIntelPipeline(
        spark, pages, tempfile.mkdtemp(prefix="mi_gate_"), catalog_fn,
        materialize=False,
    )
    from crawl4ai_custom_spark.market_intel import MarketIntelConfig

    pipe.cfg = MarketIntelConfig(max_products_per_seed=1000)
    out = pipe.run(["intel"])
    return out.select(
        "seed", "name", "catalog_url", "homepage_url",
        F.col("product.name").alias("product_name"),
        F.col("product.title").alias("product_title"),
        F.col("product.description").alias("product_description"),
    )


def q_sitemap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-index recursion + <loc> extraction (async_url_seeder.py:765-
    1004): per-source root <sitemapindex> -> two child sitemaps -> page urls;
    roots are auto-detected (documents never referenced as children)."""
    from crawl4ai_custom_spark.sources.sitemap import sitemap_page_urls

    # capped input (mirrored by the oracle): uniform per-gate cost
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    entry = F.concat(
        F.lit("<url><loc>https://"), F.col("source"),
        F.lit(".example.com/p/"), F.col("doc_id"), F.lit("</loc></url>"),
    )
    child = (
        docs.groupBy("source", (F.col("doc_id") % 2).alias("par"))
        .agg(F.concat_ws("", F.collect_list(entry)).alias("body"))
        .select(
            F.concat(F.lit("https://"), F.col("source"),
                     F.lit(".example.com/sitemap-"), F.col("par"),
                     F.lit(".xml")).alias("url"),
            F.concat(F.lit("<urlset>"), F.col("body"),
                     F.lit("</urlset>")).alias("xml"),
        )
    )
    roots = docs.select("source").distinct().select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/sitemap.xml")).alias("url"),
        F.concat(
            F.lit("<sitemapindex><sitemap><loc>https://"), F.col("source"),
            F.lit(".example.com/sitemap-0.xml</loc></sitemap>"),
            F.lit("<sitemap><loc>https://"), F.col("source"),
            F.lit(".example.com/sitemap-1.xml</loc></sitemap></sitemapindex>"),
        ).alias("xml"),
    )
    sm = child.unionByName(roots)
    return sitemap_page_urls(sm).select("sitemap_url", "loc")


def q_feed_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS + Atom feed discovery: per source, an RSS feed carries the even
    docs (RFC-822 pubDate) and an Atom feed the odd docs (ISO updated);
    one extraction pass must yield every entry with parsed timestamps."""
    from crawl4ai_custom_spark.sources.feed import feed_entries

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    day = F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0")
    hh = F.lpad((F.col("doc_id") % 24).cast("string"), 2, "0")
    rss_item = F.concat(
        F.lit("<item><title>t"), F.col("doc_id"),
        F.lit("</title><link>https://"), F.col("source"),
        F.lit(".com/a/"), F.col("doc_id"), F.lit("</link><pubDate>"),
        day, F.lit(" Jan 2026 "), hh, F.lit(":00:00 GMT</pubDate></item>"),
    )
    atom_entry = F.concat(
        F.lit("<entry><title>t"), F.col("doc_id"),
        F.lit('</title><link href="https://'), F.col("source"),
        F.lit(".com/b/"), F.col("doc_id"), F.lit('"/><updated>2026-01-'),
        day, F.lit("T"), hh, F.lit(":00:00Z</updated></entry>"),
    )
    rss = (
        docs.where(F.col("doc_id") % 2 == 0)
        .groupBy("source")
        .agg(F.concat_ws("", F.collect_list(rss_item)).alias("body"))
        .select(
            F.concat(F.lit("https://"), F.col("source"),
                     F.lit(".com/rss.xml")).alias("url"),
            F.concat(F.lit("<rss><channel>"), F.col("body"),
                     F.lit("</channel></rss>")).alias("xml"),
        )
    )
    atom = (
        docs.where(F.col("doc_id") % 2 == 1)
        .groupBy("source")
        .agg(F.concat_ws("", F.collect_list(atom_entry)).alias("body"))
        .select(
            F.concat(F.lit("https://"), F.col("source"),
                     F.lit(".com/atom.xml")).alias("url"),
            F.concat(F.lit("<feed>"), F.col("body"),
                     F.lit("</feed>")).alias("xml"),
        )
    )
    return feed_entries(rss.unionByName(atom)).select(
        "feed_url", "loc", "title", "published", "published_ts"
    )


def q_sitemap_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full sitemap-protocol entry extraction (loc + lastmod + changefreq +
    priority, each selectively omitted) through the same index recursion as
    q_sitemap_scan; lastmod additionally parses to timestamp."""
    from crawl4ai_custom_spark.sources.sitemap import sitemap_page_entries

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    lastmod = F.when(
        F.col("doc_id") % 3 != 0,
        F.concat(F.lit("<lastmod>2024-01-"),
                 F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
                 F.lit("</lastmod>")),
    ).otherwise(F.lit(""))
    changefreq = F.when(F.col("doc_id") % 2 == 0,
                        F.lit("<changefreq>daily</changefreq>")
                        ).otherwise(F.lit(""))
    priority = F.when(
        F.col("doc_id") % 5 != 0,
        F.concat(F.lit("<priority>0."), (F.col("doc_id") % 10).cast("string"),
                 F.lit("</priority>")),
    ).otherwise(F.lit(""))
    entry = F.concat(
        F.lit("<url><loc>https://"), F.col("source"),
        F.lit(".example.com/p/"), F.col("doc_id"), F.lit("</loc>"),
        lastmod, changefreq, priority, F.lit("</url>"),
    )
    child = (
        docs.groupBy("source", (F.col("doc_id") % 2).alias("par"))
        .agg(F.concat_ws("", F.collect_list(entry)).alias("body"))
        .select(
            F.concat(F.lit("https://"), F.col("source"),
                     F.lit(".example.com/sitemap-"), F.col("par"),
                     F.lit(".xml")).alias("url"),
            F.concat(F.lit("<urlset>"), F.col("body"),
                     F.lit("</urlset>")).alias("xml"),
        )
    )
    roots = docs.select("source").distinct().select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/sitemap.xml")).alias("url"),
        F.concat(
            F.lit("<sitemapindex><sitemap><loc>https://"), F.col("source"),
            F.lit(".example.com/sitemap-0.xml</loc></sitemap>"),
            F.lit("<sitemap><loc>https://"), F.col("source"),
            F.lit(".example.com/sitemap-1.xml</loc></sitemap></sitemapindex>"),
        ).alias("xml"),
    )
    sm = child.unionByName(roots)
    return sitemap_page_entries(sm).select(
        "sitemap_url", "loc", "lastmod", "lastmod_ts", "changefreq",
        "priority",
    )


def q_schema_extract_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full schema surface in one gate: baseFields, nested,
    nested_list, computed (extraction_strategy.py:1060-1229). Nested values
    are JSON-encoded strings, which the oracle rebuilds byte-for-byte."""
    from crawl4ai_custom_spark.operators.structured import schema_extract

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><body><div class="product" data-sku="SKU-'), F.col("doc_id"),
        F.lit('"><h2>Item '), F.col("doc_id"),
        F.lit('</h2><div class="brand"><span class="bname">'), F.col("source"),
        F.lit('</span><span class="country">C'), F.col("doc_id") % 5,
        F.lit('</span></div><ul><li class="feat" data-w="'), F.col("doc_id") % 7,
        F.lit('">f'), F.col("doc_id") % 3,
        F.lit('</li><li class="feat" data-w="'), F.col("doc_id") % 4,
        F.lit('">g'), F.col("doc_id") % 2,
        F.lit("</li></ul></div></body></html>"),
    )
    pages = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )
    schema = {
        "baseSelector": "div.product",
        "baseFields": [
            {"name": "sku", "type": "attribute", "attribute": "data-sku"},
        ],
        "fields": [
            {"name": "name", "selector": "h2", "type": "text"},
            {"name": "brand", "selector": "div.brand", "type": "nested",
             "fields": [
                 {"name": "bname", "selector": "span.bname", "type": "text"},
                 {"name": "country", "selector": "span.country", "type": "text"},
             ]},
            {"name": "features", "selector": "li.feat", "type": "nested_list",
             "fields": [
                 {"name": "label", "type": "text"},
                 {"name": "weight", "type": "attribute", "attribute": "data-w"},
             ]},
            {"name": "shout", "type": "computed", "expression": "name.upper()"},
        ],
    }
    out = schema_extract(pages, schema)
    rec = F.element_at("records", 1)
    return out.select(
        F.col("url").cast("bigint").alias("doc_id"),
        rec.getItem("sku").alias("sku"),
        rec.getItem("name").alias("name"),
        rec.getItem("brand").alias("brand_json"),
        rec.getItem("features").alias("features_json"),
        rec.getItem("shout").alias("shout"),
    )


def q_seeder_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.seeder import seed_urls

    docs = _t(spark, sf_dir, "documents")
    cand = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/"),
                 F.when(F.col("doc_id") % 3 == 0, F.lit("spark/docs/"))
                 .otherwise(F.lit("misc/")),
                 F.col("doc_id")).alias("url"),
    )
    out = seed_urls(cand, query="spark docs", max_urls=200, html_col=None)
    return out.select("url", F.round("relevance_score", 4).alias("relevance_score"))


def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_custom_spark.operators.structured import regex_catalog_extract

    docs = _t(spark, sf_dir, "documents")
    text = F.concat(
        F.lit("contact admin"), F.col("doc_id"), F.lit("@example.org or visit "),
        F.lit("https://site"), F.col("doc_id") % 7, F.lit(".example.net/page on "),
        F.lit("2026-0"), (F.col("doc_id") % 9 + 1), F.lit("-15 price $"),
        F.col("doc_id") % 100, F.lit(".99 "), F.col("text"),
    )
    d = docs.select("doc_id", text.alias("blob"))
    out = regex_catalog_extract(d, "blob", "doc_id",
                                {"email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
                                 "date_iso": r"\d{4}-\d{2}-\d{2}"})
    return out.select("id", "pattern_name", "match")


# --------------------------------------------------------------------------
# oracle SQL (DuckDB; views pre-registered for the testdata tables)
# --------------------------------------------------------------------------


def _minhash_sig_sql_terms() -> list[str]:
    return [
        f"min(((shingle_hash % {MERSENNE31}) * {a} + {b}) % {MERSENNE31}) as h{i}"
        for i, (a, b) in enumerate(_minhash_params())
    ]


_SHINGLES_SQL = f"""
    shingles as (
      select distinct doc_id as id,
             {_HASH_SQL.format(x="shingle")} as shingle_hash
      from (
        select doc_id, array_to_string(l[i+1:i+3], ' ') as shingle
        from (select doc_id, string_split({_NORM_TEXT_SQL}, ' ') as l from corpus),
             unnest(range(0, greatest(len(l)-3, 0) + 1)) as t(i)
      ) where length(shingle) > 0
    )
"""


def _lsh_band_sql(sig_cte: str = "sigs") -> str:
    rows = N_MINHASH // N_BANDS
    band_exprs = []
    for b in range(N_BANDS):
        cols = " || ',' || ".join(
            f"h{b * rows + r}::varchar" for r in range(rows)
        )
        band_exprs.append(
            f"select id, {b} as band, {cols} as band_key from {sig_cte}"
        )
    return " union all ".join(band_exprs)


def _sig_cte_sql(src: str, prefix: str) -> str:
    """Shingle (k=3) + minhash-signature CTE pair for an arbitrary source
    CTE — the parametrized twin of _SHINGLES_SQL for oracles that need
    signatures of two different corpora (incremental dedup)."""
    return f"""
    {prefix}_sh as (
      select distinct doc_id as id,
             {_HASH_SQL.format(x="shingle")} as shingle_hash
      from (
        select doc_id, array_to_string(l[i+1:i+3], ' ') as shingle
        from (select doc_id, string_split({_NORM_TEXT_SQL}, ' ') as l from {src}),
             unnest(range(0, greatest(len(l)-3, 0) + 1)) as t(i)
      ) where length(shingle) > 0
    ),
    {prefix}_sigs as (
      select id, {", ".join(_minhash_sig_sql_terms())}
      from {prefix}_sh group by id
    )"""


_SIG_AGREEMENT_SQL = "(" + " + ".join(
    f"case when n.h{i} = o.h{i} then 1 else 0 end" for i in range(N_MINHASH)
) + f") / {N_MINHASH}.0"



def q_fit_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-prep HTML shrink (reference preprocess_html_for_schema,
    utils.py:3001-3144) as a closed-form gate: head/script removal, attr
    whitelist, attr-value truncation at 200 (+'...'), text-run truncation at
    100 (+'...'), and duplicate-(tag,class,inner-text) removal, all varied
    independently by doc_id arithmetic so the oracle rebuilds the exact
    output string."""
    from crawl4ai_custom_spark.operators.extraction import schema_fit_html

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    d = F.col("doc_id")
    html = F.concat(
        F.lit('<html><head><title>x</title><meta charset="utf-8"></head><body>'),
        F.lit('<div id="d'), d, F.lit('" style="color:red" class="c'), d % 3,
        F.lit('" data-k="'),
        F.repeat(F.lit("v"), F.when(d % 5 == 0, 230).otherwise(5)),
        F.lit('">'),
        F.repeat(F.lit("T"), F.when(d % 2 == 0, 120).otherwise(10)),
        F.lit('</div><script>junk()</script><span class="s">a</span><span class="s">'),
        F.when(d % 4 == 0, F.lit("a")).otherwise(F.concat(F.lit("b"), d)),
        F.lit("</span></body></html>"),
    )
    pages = docs.select("doc_id", F.encode(html, "utf-8").alias("html"))
    return schema_fit_html(pages).select("doc_id", "fit_html")



def q_cosine_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CosineStrategy dataflow (reference extraction_strategy.py:135-492):
    semantic pre-filter (threshold + stable topup + cap) then per-document
    ward clustering over precomputed chunk embeddings. Chunks live on
    orthogonal axes by chunk_index%3 so the cluster structure is closed-form:
    passed group-0 chunks form cluster 1, the single topped-up reject is
    cluster 2 (emitted only when k=n//2 exceeds the passed count)."""
    from crawl4ai_custom_spark.operators.cosine_extract import (
        cosine_cluster_extract,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 80)
    d = F.col("doc_id")
    n = (d % 5 + 6).cast("int")
    base = docs.select(
        d.cast("int").alias("id"),
        F.explode(F.sequence(F.lit(0), n - 1)).alias("chunk_index"),
    )
    g = F.col("chunk_index") % 3
    chunks = base.select(
        "id",
        "chunk_index",
        F.concat(
            F.lit("w"), F.col("id"), F.lit(" c"), F.col("chunk_index"),
            F.lit(" t"), g,
        ).alias("chunk"),
        F.array(
            (g == 0).cast("double"), (g == 1).cast("double"),
            (g == 2).cast("double"), F.lit(0.0),
        ).alias("embedding"),
    )
    return cosine_cluster_extract(
        chunks, query_vec=[1.0, 0.0, 0.0, 0.0], sim_threshold=0.3,
        max_dist=0.2, word_count_threshold=3,
    ).select("id", "cluster_index", "content", "n_chunks", "n_words")


ORACLES: dict[str, str] = {}

ORACLES["q_url_canonicalize"] = f"""
    with u as ({_DOC_URLS_SQL})
    select doc_id,
      case doc_id % 4
        when 0 then 'https://www.' || source || '.com/docs/' || doc_id || '?b=2&a=1'
        when 1 then 'http://' || source || '.com/a/' || doc_id
        when 2 then 'https://' || source || '.co.uk/x/' || doc_id
        else 'https://' || source || '.com/p' || doc_id || '?keep=z'
      end as url_canon,
      case doc_id % 4
        when 2 then source || '.co.uk'
        else source || '.com'
      end as domain
    from u
"""

ORACLES["q_normalize_url"] = """
    select doc_id,
           'https://www.' || source || '.com/p/' || doc_id || '?a=1&b=2&c='
             as url_norm,
           false as ext_same,
           true as ext_other
    from documents
"""

ORACLES["q_url_scorers"] = """
    with d as (
      select doc_id,
        (case when doc_id % 2 = 0 then 1 else 0 end)
          + 1 + (doc_id % 5)
          + 1 as depth,
        doc_id % 3 as ext_case,
        doc_id % 2 = 0 as has_year
      from documents
    )
    select doc_id,
      round(1.0 / (1.0 + abs(depth - 3)), 4)::DOUBLE as depth_score,
      (case ext_case when 0 then 1.0 when 1 then 0.5 else 0.8 end)::DOUBLE as ctype_score,
      (case when has_year then 0.6 else 0.5 end)::DOUBLE as fresh_score,
      ((1 + case when ext_case = 0 then 1 else 0 end) / 2.0)::DOUBLE as kw_score
    from d
"""

ORACLES["q_frontier_admission"] = """
    with fr as (
      select 'https://' || source || '.com/d/' || doc_id as url_canon,
             source || '.com' as registrable_domain,
             (doc_id % 4)::int as depth,
             round((doc_id % 97) / 97.0, 6) as score
      from documents
    ),
    ranked as (
      select *, row_number() over (
        partition by registrable_domain
        order by score desc, depth asc, url_canon asc) as rn
      from fr
    )
    select url_canon, registrable_domain, depth, score
    from ranked where rn <= 3
    order by score desc, depth asc, url_canon asc
    limit 40
"""

ORACLES["q_seen_antijoin"] = f"""
    with u as ({_DOC_URLS_SQL})
    select doc_id, {_HASH_SQL.format(x="url")} as url_hash
    from u where doc_id % 3 <> 0
"""

ORACLES["q_feature_hash"] = """
    with src as (
      select vec_id, embedding::DOUBLE[] as v from embeddings
      where vec_id < 300
    ),
    e as (
      select vec_id, unnest(v) as x,
             generate_subscripts(v, 1) - 1 as i
      from src
    ),
    c as (
      select vec_id,
             ('0x' || substr(md5('fh1:' || i::VARCHAR), 1, 15))::BIGINT
               % 16 as bucket,
             case when ('0x' || substr(md5('fs1:' || i::VARCHAR), 1, 15)
                       )::BIGINT % 2 = 0 then x else -x end as sx
      from e
    ),
    g as (
      select vec_id, bucket, sum(sx) as comp from c group by 1, 2
    ),
    b as (select unnest(range(16)) as bucket)
    select s.vec_id, b.bucket::INTEGER as bucket,
           round(coalesce(g.comp, 0.0) + 1e-9, 6) as comp
    from (select distinct vec_id from src) s
    cross join b
    left join g on g.vec_id = s.vec_id and g.bucket = b.bucket
"""

ORACLES["q_cdc_chunks"] = """
    with src as (
      select doc_id, substr(text, 1, 400) as t from documents
      where doc_id < 200 and length(text) > 0
    ),
    pre as (
      select doc_id, t, length(t) as ln,
             case when length(t) >= 16 then
               list_filter(range(1, length(t) - 14),
                 i -> ('0x' || substr(md5(substr(t, i::INTEGER, 16)), 1, 15)
                      )::BIGINT % 32 = 0)
             else []::BIGINT[] end as anchors
      from src
    ),
    cuts as (
      select doc_id, t, ln,
             list_filter(list_transform(anchors, i -> i + 15),
                         c -> c < ln) as cut
      from pre
    ),
    spans as (
      select doc_id, t,
             [1] || list_transform(cut, c -> c + 1) as starts,
             cut || [ln] as ends
      from cuts
    )
    select doc_id as id,
           unnest(range(len(starts)))::INTEGER as chunk_idx,
           unnest(starts)::INTEGER as chunk_start,
           (unnest(ends) - unnest(starts) + 1)::INTEGER as chunk_len,
           ('0x' || substr(md5(substr(t, unnest(starts)::INTEGER,
              (unnest(ends) - unnest(starts) + 1)::INTEGER)), 1, 15)
           )::BIGINT as chunk_hash
    from spans
"""

ORACLES["q_capture_timeline"] = """
    with caps as (
      select 'https://h' || (user_id % 40)::VARCHAR || '.com/p'
             || user_id::VARCHAR as url,
             ts, coalesce(md5((value > 10)::VARCHAR), '') as digest
      from events
    ),
    marked as (
      select url, ts, digest,
             case when lag(digest) over w is null
                       or digest <> lag(digest) over w
                  then 1 else 0 end as is_change
      from caps
      window w as (partition by url order by ts asc, digest asc)
    ),
    v as (
      select url, ts, digest,
             sum(is_change) over (
               partition by url order by ts asc, digest asc
               rows between unbounded preceding and current row
             )::BIGINT as version
      from marked
    )
    select url, version, min(digest) as digest,
           floor(epoch(min(ts)))::BIGINT as from_epoch,
           floor(epoch(max(ts)))::BIGINT as seen_epoch,
           count(*)::BIGINT as n_captures
    from v group by url, version
"""

ORACLES["q_latest_event"] = """
    select user_id, event_id, floor(epoch(ts))::BIGINT as ts_epoch
    from (
      select user_id, event_id, ts,
             row_number() over (partition by user_id order by ts desc, event_id desc) rn
      from events
    ) where rn = 1
"""

ORACLES["q_politeness_backoff"] = """
    with o as (
      select event_type || '.com' as registrable_domain,
             case when event_id % 10 = 0 then 429
                  when event_id % 10 = 1 then 503 else 200 end as status
      from events
    )
    select registrable_domain,
      case when sum(case when status in (429,503) then 1 else 0 end) > 0
           then 4.0 else 2.0 end::DOUBLE as current_delay,
      sum(case when status in (429,503) then 1 else 0 end)::INTEGER as fail_count
    from o group by registrable_domain
"""

ORACLES["q_robots_gate"] = """
    select doc_id,
      'https://r' || (doc_id % 5) || '.example.com' ||
      case when doc_id % 5 = 0 then '/private/p' else '/pub/p' end || doc_id as url_canon
    from documents
    where doc_id % 5 <> 0
"""

ORACLES["q_url_filter_chain"] = """
    select doc_id,
      'https://good.com/keep/page' || doc_id || '.html' as url
    from documents where doc_id % 5 = 0
"""

ORACLES["q_dedup_exact"] = f"""
    with corpus as (
      {_DUPED_DOCS_SQL}
      union all
      select doc_id + 200000 as doc_id, text from documents where doc_id % 10 = 0
    )
    select md5({_NORM_TEXT_SQL}) as fingerprint,
           count(*) as n_dups,
           min(doc_id) as keeper
    from corpus
    group by 1 having count(*) > 1
"""

ORACLES["q_ngram_jaccard"] = f"""
    with corpus as (
      select * from ({_DUPED_DOCS_SQL}) where doc_id % 100000 < 60
    ),
    {_SHINGLES_SQL},
    sizes as (select id, count(*) as sz from shingles group by id),
    pairs as (
      select a.id as id_a, b.id as id_b, count(*) as inter
      from shingles a join shingles b using (shingle_hash)
      where a.id < b.id
      group by a.id, b.id
    )
    select id_a, id_b,
           round(inter / (sa.sz + sb.sz - inter), 4) as jaccard
    from pairs
    join sizes sa on sa.id = id_a
    join sizes sb on sb.id = id_b
    where inter / (sa.sz + sb.sz - inter) >= 0.5
"""

ORACLES["q_fuzzy_terms"] = """
    with words as (
      select distinct unnest(string_split(
        regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' ')) as term
      from documents
    ),
    terms as (
      select term from words
      where length(term) between 5 and 10
        and ('0x' || substr(md5(term), 1, 15))::BIGINT % 7 = 0
    ),
    typos as (
      select distinct substr(term, 1, 2) || substr(term, 4) as term
      from terms
      where ('0x' || substr(md5(term), 1, 15))::BIGINT % 3 = 0
    ),
    allt as (select term from terms union select term from typos)
    select a.term as term_a, b.term as term_b, 1 as dist
    from allt a join allt b
      on a.term < b.term and levenshtein(a.term, b.term) <= 1
"""

ORACLES["q_winnow"] = f"""
    with corpus as (
      select * from ({_DUPED_DOCS_SQL}) where doc_id % 100000 < 40
    ),
    sq as (
      select doc_id as id,
             regexp_replace(lower(substr(text, 1, 400)),
                            '[^a-z0-9]', '', 'g') as s
      from corpus
    ),
    grams as (
      select id, t.i as pos,
             ('0x' || substr(md5(substr(s, t.i + 1, 12)), 1, 15))::BIGINT as h
      from sq, unnest(range(greatest(length(s) - 11, 0))) as t(i)
    ),
    meta as (
      select id,
             greatest(length(s) - 11, 0) as n_grams,
             greatest(greatest(length(s) - 11, 0) - 8 + 1,
                      least(greatest(length(s) - 11, 0), 1)) as n_wins
      from sq
    ),
    wins as (
      select m.id, w.i as win
      from meta m, unnest(range(m.n_wins)) as w(i)
    ),
    cand as (
      select g.id, w.win, g.h, g.pos,
             row_number() over (partition by g.id, w.win
                                order by g.h asc, g.pos desc) as rn
      from wins w
      join grams g on g.id = w.id
                  and g.pos between w.win and w.win + 7
    ),
    fps as (select distinct id, h, pos from cand where rn = 1)
    select a.id as id_a, b.id as id_b,
           count(distinct a.h)::BIGINT as n_shared
    from fps a join fps b on a.h = b.h and a.id < b.id
    group by 1, 2
    having count(distinct a.h) >= 5
"""

ORACLES["q_prefix_join"] = f"""
    with base as (
      select doc_id, substr(text, 1, 600) as text from documents
    ),
    duped as (
      select doc_id, text from base
      union all
      select doc_id + 100000 as doc_id,
             text || ' extra tail words appended here' as text
      from base where doc_id % 10 = 0
    ),
    corpus as (
      select * from duped where doc_id % 100000 < 60
    ),
    {_SHINGLES_SQL},
    sizes as (select id, count(*) as sz from shingles group by id),
    pairs as (
      select a.id as id_a, b.id as id_b, count(*) as inter
      from shingles a join shingles b using (shingle_hash)
      where a.id < b.id
      group by a.id, b.id
    )
    select id_a, id_b,
           round(inter / (sa.sz + sb.sz - inter), 4) as jaccard
    from pairs
    join sizes sa on sa.id = id_a
    join sizes sb on sb.id = id_b
    where inter / (sa.sz + sb.sz - inter) >= 0.6
"""

ORACLES["q_minhash_lsh"] = f"""
    with corpus as (
      select * from ({_DUPED_DOCS_SQL}) where doc_id % 100000 < 60
    ),
    {_SHINGLES_SQL},
    sigs as (
      select id, {", ".join(_minhash_sig_sql_terms())}
      from shingles group by id
    ),
    banded as ({_lsh_band_sql()}),
    cand as (
      select distinct a.id as id_a, b.id as id_b
      from banded a join banded b using (band, band_key)
      where a.id < b.id
    ),
    sizes as (select id, count(*) as sz from shingles group by id),
    inter as (
      select c.id_a, c.id_b, count(*) as inter
      from cand c
      join shingles a on a.id = c.id_a
      join shingles b on b.id = c.id_b and b.shingle_hash = a.shingle_hash
      group by c.id_a, c.id_b
    )
    select id_a, id_b,
           round(inter / (sa.sz + sb.sz - inter), 4) as jaccard
    from inter
    join sizes sa on sa.id = id_a
    join sizes sb on sb.id = id_b
    where inter / (sa.sz + sb.sz - inter) >= 0.6
"""

def _lsh_plan_band_sql(b: int, sig_cte: str = "sigs") -> str:
    """Band CTE body for an arbitrary band count (generalizes
    _lsh_band_sql, which is pinned to N_BANDS)."""
    rows = N_MINHASH // b
    parts = []
    for band in range(b):
        cols = " || ',' || ".join(
            f"h{band * rows + r}::varchar" for r in range(rows)
        )
        parts.append(
            f"select id, {band} as band, {cols} as band_key from {sig_cte}"
        )
    return " union all ".join(parts)


def _lsh_plan_oracle_sql() -> str:
    ctes, aggs = [], []
    for b in (2, 4, 8, 16):
        r = N_MINHASH // b
        thr = (1.0 / b) ** (1.0 / r)
        ctes.append(
            f"banded{b} as ({_lsh_plan_band_sql(b)}),\n"
            f"    hist{b} as (select band, band_key, count(*) as n "
            f"from banded{b} group by 1, 2)"
        )
        aggs.append(f"""select {b} as bands, {r} as rows_per_band,
           {thr!r} as threshold_jaccard,
           count(*)::BIGINT as n_buckets,
           coalesce(sum(case when n > 1 then 1 else 0 end), 0)::BIGINT
             as n_colliding_buckets,
           max(n)::BIGINT as max_bucket,
           (coalesce(sum(n * (n - 1)), 0) // 2)::BIGINT
             as pred_candidate_rows
    from hist{b}""")
    cte_block = ",\n    ".join(ctes)
    agg_block = " union all ".join(aggs)
    return f"""
    with corpus as (
      select * from ({_DUPED_DOCS_SQL}) where doc_id % 100000 < 60
    ),
    {_SHINGLES_SQL},
    sigs as (
      select id, {", ".join(_minhash_sig_sql_terms())}
      from shingles group by id
    ),
    {cte_block}
    {agg_block}
"""


ORACLES["q_lsh_plan"] = _lsh_plan_oracle_sql()

ORACLES["q_host_mirrors"] = f"""
    with docs2 as (select * from documents where doc_id % 4 = 0),
    hostdocs as (
      select source as host, text from docs2
      union all
      select 'full.' || source as host, text from docs2
      union all
      select 'part.' || source as host, text from docs2
      where doc_id % 5 <> 0
    ),
    hsh as (
      select distinct host as id,
             {_HASH_SQL.format(x="shingle")} as shingle_hash
      from (
        select host, array_to_string(l[i+1:i+3], ' ') as shingle
        from (select host, string_split({_NORM_TEXT_SQL}, ' ') as l
              from hostdocs),
             unnest(range(0, greatest(len(l)-3, 0) + 1)) as t(i)
      ) where length(shingle) > 0
    ),
    sigs as (
      select id, {", ".join(_minhash_sig_sql_terms())}
      from hsh group by id
    ),
    banded as ({_lsh_band_sql()}),
    cand as (
      select distinct a.id as id_a, b.id as id_b
      from banded a join banded b using (band, band_key)
      where a.id < b.id
    ),
    sizes as (select id, count(*) as sz from hsh group by id),
    inter as (
      select c.id_a, c.id_b, count(*) as inter
      from cand c
      join hsh a on a.id = c.id_a
      join hsh b on b.id = c.id_b and b.shingle_hash = a.shingle_hash
      group by c.id_a, c.id_b
    ),
    scored as (
      select id_a as host_a, id_b as host_b,
             inter / (sa.sz + sb.sz - inter) as r,
             inter / sa.sz as ca,
             inter / sb.sz as cb
      from inter
      join sizes sa on sa.id = id_a
      join sizes sb on sb.id = id_b
    )
    select host_a, host_b,
           round(r + 1e-9, 4) as resemblance,
           round(ca + 1e-9, 4) as cont_a_in_b,
           round(cb + 1e-9, 4) as cont_b_in_a,
           case when r >= 0.9 then 'mirror'
                when greatest(ca, cb) >= 0.95 then 'partial'
           end as mirror_class
    from scored
    where r >= 0.9 or greatest(ca, cb) >= 0.95
"""

ORACLES["q_moments"] = f"""
    with zc as (select {Z95!r}::DOUBLE as z),
    s as (
      select source, count(*)::BIGINT as n,
             sum(v) as s1, sum(v*v) as s2, sum(v*v*v) as s3,
             sum(v*v*v*v) as s4, min(v) as mn, max(v) as mx
      from (select source, n_chars::DOUBLE / 1000.0 as v from documents)
      group by source
    ),
    st as (
      select source, n, mn, mx,
             s1/n as mean,
             sqrt(greatest(s2/n - (s1/n)*(s1/n), 0.0)) as std,
             s3/n - 3*(s1/n)*s2/n + 2*(s1/n)*(s1/n)*(s1/n) as m3,
             s4/n - 4*(s1/n)*s3/n + 6*(s1/n)*(s1/n)*s2/n
               - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n) as m4,
             greatest(s2/n - (s1/n)*(s1/n), 0.0) as var
      from s
    ),
    g as (
      select source, n, mn, mx, mean, std,
             case when std > 0 then m3 / (std*std*std) end as skewness,
             case when var > 0 then m4 / (var*var) - 3 end as kurtosis
      from st
    ),
    q as (
      select *,
             coalesce(skewness, 0.0) as g1, coalesce(kurtosis, 0.0) as g2
      from g
    )
    select source, n,
           round(mean + 1e-9, 4) as mean_kb,
           round(std + 1e-9, 4) as std_kb,
           round(skewness + 1e-9, 4) as skewness,
           round(kurtosis + 1e-9, 4) as kurtosis,
           round(least(greatest(
             mean + std * (z
               + (z*z - 1) * g1 / 6
               + (z*z*z - 3*z) * g2 / 24
               - (2*z*z*z - 5*z) * g1 * g1 / 36),
             mn), mx) + 1e-9, 4) as p95_est_kb
    from q, zc
"""

ORACLES["q_dust_rules"] = f"""
    with pages as (
      select
        'https://d.example.com/item?id=' || (doc_id % 25)::varchar ||
        case doc_id % 4
          when 0 then ''
          when 1 then '&sid=' || md5(doc_id::varchar)
          when 2 then '&page=' || (doc_id % 3)::varchar
          else '&utm=' || (doc_id % 7)::varchar
        end as url,
        'page body ' || (doc_id % 25)::varchar ||
        case when doc_id % 4 = 2 then ' p' || (doc_id % 3)::varchar
             else '' end as text
      from documents where doc_id < 400
    ),
    t as (
      select
        lower(regexp_extract(url,
          '^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) as host,
        regexp_extract(url, '^([^?#]*)', 1) as base,
        list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                    x -> x <> '') as params,
        {_HASH_SQL.format(x=_NORM_TEXT_SQL)} as fp
      from pages
    ),
    ex as (
      select host, base, fp, kv,
             list_filter(params, x -> x <> kv) as others
      from t, unnest(params) as un(kv)
    ),
    res as (
      select host,
             string_split(kv, '=')[1] as param,
             base || case when len(others) > 0
                          then '?' || array_to_string(others, '&')
                          else '' end as residual,
             kv, fp
      from ex
    ),
    groups as (
      select host, param, residual,
             count(distinct kv) as nv, count(distinct fp) as nf
      from res group by 1, 2, 3
    )
    select host, param,
           count(*)::BIGINT as n_groups,
           sum(case when nf > 1 then 1 else 0 end)::BIGINT as violations,
           (count(*) >= 2 and
            sum(case when nf > 1 then 1 else 0 end) = 0) as irrelevant
    from groups where nv >= 2
    group by host, param
"""

ORACLES["q_dedup_incremental"] = f"""
    with corpus as (
      select doc_id, text from documents where doc_id % 100000 < 60
    ),
    batch as (
      select doc_id, text from documents
      where doc_id % 100000 >= 60 and doc_id % 100000 < 100
      union all
      select doc_id + 1099511627776 as doc_id,  -- 2^40: disjoint at any sf
             text || ' extra tail words appended here' as text
      from documents where doc_id % 100000 < 60 and doc_id % 10 = 0
      union all
      select doc_id + 2199023255552 as doc_id, text from documents  -- 2^41
      where doc_id % 100000 >= 60 and doc_id % 100000 < 100 and doc_id % 10 = 5
    ),
    {_sig_cte_sql("corpus", "corpus")},
    {_sig_cte_sql("batch", "batch")},
    corpus_bands as ({_lsh_band_sql("corpus_sigs")}),
    batch_bands as ({_lsh_band_sql("batch_sigs")}),
    vs_corpus as (
      select distinct b.id as new_id, c.id as dup_of
      from batch_bands b join corpus_bands c using (band, band_key)
    ),
    within as (
      select distinct b2.id as new_id, b1.id as dup_of
      from batch_bands b1 join batch_bands b2 using (band, band_key)
      where b1.id < b2.id
    ),
    scored as (
      select v.new_id, v.dup_of, {_SIG_AGREEMENT_SQL} as est,
             'corpus' as dup_source
      from vs_corpus v
      join batch_sigs n on n.id = v.new_id
      join corpus_sigs o on o.id = v.dup_of
      union all
      select w.new_id, w.dup_of, {_SIG_AGREEMENT_SQL} as est,
             'batch' as dup_source
      from within w
      join batch_sigs n on n.id = w.new_id
      join batch_sigs o on o.id = w.dup_of
    )
    select new_id, dup_of, round(est, 4) as est_jaccard, dup_source
    from scored where est >= 0.6
"""

ORACLES["q_dup_fraction"] = f"""
    with corpus as (
      select * from ({_DUPED_DOCS_SQL}) where doc_id % 100000 < 80
    ),
    win as (
      select doc_id as id, i as pos,
             {_HASH_SQL.format(x="w")} as window_hash
      from (
        select doc_id, i, array_to_string(l[i+1:i+10], ' ') as w
        from (select doc_id,
                     list_filter(string_split({_NORM_TEXT_SQL}, ' '),
                                 x -> x <> '') as l
              from corpus),
             unnest(range(0, greatest(len(l)-10, 0) + 1)) as t(i)
      ) where length(w) > 0
    ),
    dup as (
      select window_hash from win group by window_hash
      having count(distinct id) >= 2
    )
    select w.id, count(*) as n_windows,
           sum(case when d.window_hash is not null then 1 else 0 end)::bigint
             as dup_windows,
           round(sum(case when d.window_hash is not null then 1 else 0 end)
                 * 1.0 / count(*), 4) as dup_fraction
    from win w left join dup d on d.window_hash = w.window_hash
    group by w.id
"""

_BOILER_SQL = ("subscribe to our mailing list now for exclusive offers"
               " and weekly updates")
ORACLES["q_exact_substring"] = f"""
    with injected as (
      select doc_id,
        text
        || case when doc_id % 6 = 0 then ' {_BOILER_SQL}' else '' end
        || case when doc_id % 11 = 0 then ' {_BOILER_SQL}' else '' end
        as text
      from documents where doc_id < 300
    ), m as (
      select doc_id as id,
        list_filter(string_split({_NORM_TEXT_SQL}, ' '), x -> x <> '') as l
      from injected
    ), ms as (
      -- window starts: 1..len-9 (k=10); short docs get one whole-doc
      -- window; zero-token docs get none
      select id, l,
        range(1, greatest(len(l) - 8, least(len(l), 1) + 1)) as starts
      from m
    ), toks as (
      select id, unnest(range(1, len(l)+1)) as pos, unnest(l) as tok from m
    ), wins as (
      select id, pos, {_HASH_SQL.format(x="w")} as window_hash
      from (
        select id, unnest(starts) as pos,
          unnest(list_transform(starts,
                 i -> array_to_string(l[i:i+9], ' '))) as w
        from ms
      )
    ), marked as (
      select id, pos,
        count(*) over (partition by window_hash) as n_occ,
        row_number() over (partition by window_hash order by id, pos) as rn
      from wins
    ), drop_pos as (
      select distinct id, pos + unnest(range(0, 10)) as pos
      from marked where n_occ > 1 and rn > 1
    ), kept as (
      select t.id, t.pos, t.tok from toks t
      where not exists (select 1 from drop_pos d
                        where d.id = t.id and d.pos = t.pos)
    ), rebuilt as (
      select id, string_agg(tok, ' ' order by pos) as clean,
             count(*) as n_kept
      from kept group by id
    )
    select i.doc_id,
      coalesce(len(m.l), 0)::INT as n_tokens,
      (coalesce(len(m.l), 0) - coalesce(r.n_kept, 0))::INT
        as n_tokens_removed,
      md5(case when coalesce(len(m.l), 0) - coalesce(r.n_kept, 0) = 0
               then i.text else coalesce(r.clean, '') end) as clean_md5
    from injected i
    left join m on m.id = i.doc_id
    left join rebuilt r on r.id = i.doc_id
"""

ORACLES["q_neardup_clusters"] = f"""
    with recursive corpus as (
      select * from ({_DUPED_DOCS_SQL}) where doc_id % 100000 < 60
    ),
    {_SHINGLES_SQL},
    sigs as (
      select id, {", ".join(_minhash_sig_sql_terms())}
      from shingles group by id
    ),
    banded as ({_lsh_band_sql()}),
    cand as (
      select distinct a.id as id_a, b.id as id_b
      from banded a join banded b using (band, band_key)
      where a.id < b.id
    ),
    sizes as (select id, count(*) as sz from shingles group by id),
    inter as (
      select c.id_a, c.id_b, count(*) as inter
      from cand c
      join shingles a on a.id = c.id_a
      join shingles b on b.id = c.id_b and b.shingle_hash = a.shingle_hash
      group by c.id_a, c.id_b
    ),
    pairs as (
      select id_a, id_b
      from inter
      join sizes sa on sa.id = id_a
      join sizes sb on sb.id = id_b
      where inter / (sa.sz + sb.sz - inter) >= 0.6
    ),
    edges as (
      select id_a as src, id_b as dst from pairs
      union
      select id_b as src, id_a as dst from pairs
    ),
    nodes as (select distinct src as id from edges),
    reach(id, r) as (
      select id, id as r from nodes
      union
      select e.dst as id, reach.r from reach join edges e on e.src = reach.id
    )
    select id, min(r) as cluster_id from reach group by id
"""

_SIMHASH_BITS_SQL = ", ".join(
    f"sum(case when (th >> {i}) & 1 = 1 then 1 else -1 end) as b{i}"
    for i in range(16)
)
_SIMHASH_VAL_SQL = " + ".join(
    f"case when b{i} > 0 then {1 << i} else 0 end" for i in range(16)
)

ORACLES["q_simhash"] = f"""
    with toks as (
      select doc_id as id, unnest(string_split({_NORM_TEXT_SQL}, ' ')) as tok
      from documents where doc_id < 200
    ),
    h as (
      select id, {_HASH_SQL.format(x="tok")} as th
      from toks where length(tok) > 0
    ),
    sums as (select id, {_SIMHASH_BITS_SQL} from h group by id)
    select id, ({_SIMHASH_VAL_SQL})::BIGINT as simhash16 from sums
"""

_SIMHASH60_BITS_SQL = ", ".join(
    f"sum(case when (th >> {i}) & 1 = 1 then 1 else -1 end) as b{i}"
    for i in range(60)
)
_SIMHASH60_VAL_SQL = " + ".join(
    f"case when b{i} > 0 then {1 << i}::BIGINT else 0::BIGINT end" for i in range(60)
)

ORACLES["q_simhash_neardup"] = f"""
    with corpus as (
      select * from ({_DUPED_DOCS_SQL}) where doc_id % 100000 < 120
    ),
    toks as (
      select doc_id as id, unnest(string_split({_NORM_TEXT_SQL}, ' ')) as tok
      from corpus
    ),
    h as (
      select id, {_HASH_SQL.format(x="tok")} as th
      from toks where length(tok) > 0
    ),
    sums as (select id, {_SIMHASH60_BITS_SQL} from h group by id),
    sh as (select id, ({_SIMHASH60_VAL_SQL})::BIGINT as simhash from sums),
    banded as (
      select id, simhash, band,
             (simhash >> (band * 15)) & 32767 as block
      from sh cross join (select unnest([0, 1, 2, 3]) as band) bands
    ),
    cand as (
      select distinct a.id as id_a, b.id as id_b,
             a.simhash as sh_a, b.simhash as sh_b
      from banded a join banded b on a.band = b.band and a.block = b.block
      where a.id < b.id
    )
    select id_a, id_b, bit_count(xor(sh_a, sh_b)) as hamming
    from cand where bit_count(xor(sh_a, sh_b)) <= 6
"""

_AHASH_HASHES_SQL = """
    d as (
      select doc_id as media_id, doc_id as base, 0 as bump
      from documents where doc_id < 200
      union all
      select doc_id + 1000, doc_id, 128 from documents where doc_id < 20
    ),
    dim as (select media_id, base, bump,
                   8 + base % 5 as w, 8 + base % 3 as h from d),
    ix as (select media_id, base, bump, w, h,
                  unnest(generate_series(0, w*h - 1)) as i from dim),
    px as (select media_id, w, h, i,
                  (base*37 + i*11 + 7
                   + case when i = 0 then bump else 0 end) % 256 as v
           from ix),
    cells as (select media_id,
                     ((i // w) * 6 // h) * 10 + ((i % w) * 10 // w) as k,
                     v
              from px),
    cagg as (select media_id, k, sum(v) as s, count(*) as c
             from cells group by media_id, k),
    tot as (select media_id, sum(v) as t, count(*) as n
            from cells group by media_id),
    bits as (select a.media_id, a.k
             from cagg a join tot using (media_id)
             where a.s * tot.n > tot.t * a.c),
    hs as (select media_id,
                  coalesce(sum(1::BIGINT << k), 0)::BIGINT as ahash
           from bits group by media_id),
    hashes as (select d.media_id, coalesce(hs.ahash, 0)::BIGINT as ahash
               from d left join hs using (media_id))
"""

ORACLES["q_image_ahash"] = f"""
    with {_AHASH_HASHES_SQL}
    select media_id, 'png' as format, 'png-stdlib' as decoder, ahash
    from hashes
"""

ORACLES["q_image_neardup"] = f"""
    with {_AHASH_HASHES_SQL},
    banded as (
      select media_id, ahash, band,
             (ahash >> (band * 15)) & 32767 as block
      from hashes cross join (select unnest([0, 1, 2, 3]) as band) bands
    ),
    cand as (
      select distinct a.media_id as id_a, b.media_id as id_b,
             a.ahash as h_a, b.ahash as h_b
      from banded a join banded b on a.band = b.band and a.block = b.block
      where a.media_id < b.media_id
    )
    select id_a, id_b, bit_count(xor(h_a, h_b)) as hamming
    from cand where bit_count(xor(h_a, h_b)) <= 6
"""

ORACLES["q_video_neardup"] = """
    with d as (
      select doc_id as media_id, doc_id as base
      from documents where doc_id < 120
      union all
      select doc_id + 1000, doc_id from documents where doc_id < 12
    ),
    fr as (select media_id, base, unnest(range(0, 2 + base % 3)) as f
           from d),
    px as (
      select media_id, f,
             (base*31 + f*17 + ((y//8)*3 + (x//8))*7) % 256 as v,
             (y*6//16)*10 + (x*10//24) as k
      from fr
      cross join (select unnest(range(0, 24)) as x) tx
      cross join (select unnest(range(0, 16)) as y) ty
    ),
    cagg as (select media_id, f, k, sum(v) as s, count(*) as c
             from px group by 1, 2, 3),
    tot as (select media_id, f, sum(v) as t, count(*) as n
            from px group by 1, 2),
    bits as (select a.media_id, a.f, a.k
             from cagg a join tot using (media_id, f)
             where a.s * tot.n > tot.t * a.c),
    hashes as (select media_id, f,
                      coalesce(sum(1::BIGINT << k), 0)::BIGINT as ahash
               from bits group by 1, 2),
    hf as (select distinct media_id as vid, ahash as fp from hashes),
    sizes as (select vid, count(*) as nf from hf group by vid),
    ok_fp as (
      select fp from hf group by fp having count(*) between 2 and 50
    ),
    pairs as (
      select a.vid as id_a, b.vid as id_b
      from hf a join hf b using (fp) join ok_fp using (fp)
      where a.vid < b.vid
    ),
    shared as (select id_a, id_b, count(*) as shared
               from pairs group by 1, 2)
    select s.id_a, s.id_b, s.shared,
           round(s.shared / least(na.nf, nb.nf) + 1e-9, 6) as frac
    from shared s
    join sizes na on na.vid = s.id_a
    join sizes nb on nb.vid = s.id_b
    where s.shared >= 2
      and round(s.shared / least(na.nf, nb.nf) + 1e-9, 6) >= 0.5
"""

ORACLES["q_video_decode"] = """
    with d as (select doc_id, 2 + doc_id % 3 as nf
               from documents where doc_id < 150),
    fr as (select doc_id, unnest(range(0, nf)) as f from d),
    blk as (select doc_id, f, unnest(range(0, 6)) as k from fr),
    px as (select doc_id, f, (doc_id*31 + f*17 + k*7) % 256 as v from blk)
    select doc_id as media_id, 'avi-mjpeg-stdlib' as decoder,
           f::INT as frame_idx, 24 as width, 16 as height,
           (count(*) * 64)::BIGINT as n_values,
           (sum(v) * 64)::BIGINT as val_sum,
           min(v)::BIGINT as val_min, max(v)::BIGINT as val_max
    from px group by doc_id, f
"""

ORACLES["q_audio_ahash"] = """
    with d as (
      select doc_id as media_id, doc_id as base, 0 as bump
      from documents where doc_id < 200
      union all
      select doc_id + 1000, doc_id, 20000 from documents where doc_id < 20
    ),
    dim as (select media_id, base, bump, 64 + base % 50 as n from d),
    ix as (select media_id, base, bump, n,
                  unnest(generate_series(0, n - 1)) as i from dim),
    s as (select media_id, n, (i * 60) // n as k,
                 abs(((base*13
                       + case when i = 0 then bump else i*7 end) % 65536)
                     - 32768) as v
          from ix),
    wagg as (select media_id, k, sum(v) as ws, count(*) as c
             from s group by media_id, k),
    tot as (select media_id, sum(v) as t, count(*) as ns
            from s group by media_id),
    bits as (select a.media_id, a.k
             from wagg a join tot using (media_id)
             where a.ws * tot.ns > tot.t * a.c),
    hs as (select media_id,
                  coalesce(sum(1::BIGINT << k), 0)::BIGINT as ahash
           from bits group by media_id)
    select d.media_id, 'riff' as format, 'wav-stdlib' as decoder,
           coalesce(hs.ahash, 0)::BIGINT as ahash
    from d left join hs using (media_id)
"""

ORACLES["q_image_decode"] = """
    with d as (select doc_id, 8 + doc_id % 5 as w, 8 + doc_id % 3 as h
               from documents where doc_id < 200),
    ix as (select doc_id, w, h, unnest(generate_series(0, w*h - 1)) as i
           from d),
    px as (select doc_id, w, h, (doc_id*37 + i*11 + 7) % 256 as v from ix)
    select doc_id as media_id, 'png' as format, 'png-stdlib' as decoder,
           any_value(w)::INT as width, any_value(h)::INT as height,
           count(*)::BIGINT as n_values, sum(v)::BIGINT as val_sum,
           min(v)::BIGINT as val_min, max(v)::BIGINT as val_max
    from px group by doc_id
"""

ORACLES["q_image_resize"] = """
    with d as (select doc_id, 8 + doc_id % 5 as w, 8 + doc_id % 3 as h
               from documents where doc_id < 200),
    ix as (select doc_id, w, h, unnest(generate_series(0, 15)) as i from d),
    m as (select doc_id, w,
                 cast(floor(((i // 4) + 0.5) * h / 4.0) as bigint) as sy,
                 cast(floor(((i % 4) + 0.5) * w / 4.0) as bigint) as sx
          from ix),
    px as (select doc_id,
                  (doc_id*37 + (sy*w + sx)*11 + 7) % 256 as v from m)
    select doc_id as media_id, 'png' as format, 'png-stdlib' as decoder,
           4::INT as width, 4::INT as height, count(*)::BIGINT as n_values,
           sum(v)::BIGINT as val_sum, min(v)::BIGINT as val_min,
           max(v)::BIGINT as val_max
    from px group by doc_id
"""

ORACLES["q_jpeg_decode"] = """
    with d as (select doc_id, 2 + doc_id % 2 as by, 2 + doc_id % 3 as bx
               from documents where doc_id < 200),
    ix as (select doc_id, by, bx, unnest(generate_series(0, by*bx - 1)) as k
           from d),
    blk as (select doc_id, by, bx, (doc_id*53 + k*17 + 5) % 256 as v from ix)
    select doc_id as media_id, 'jpeg' as format, 'jpeg-stdlib' as decoder,
           (any_value(bx) * 8)::INT as width, (any_value(by) * 8)::INT as height,
           (count(*) * 64)::BIGINT as n_values, (sum(v) * 64)::BIGINT as val_sum,
           min(v)::BIGINT as val_min, max(v)::BIGINT as val_max
    from blk group by doc_id
"""

ORACLES["q_audio_decode"] = """
    with d as (select doc_id, 64 + doc_id % 50 as n
               from documents where doc_id < 200),
    ix as (select doc_id, unnest(generate_series(0, n - 1)) as i from d),
    s as (select doc_id, ((doc_id*13 + i*7) % 65536) - 32768 as v from ix)
    select doc_id as media_id, 'riff' as format, 'wav-stdlib' as decoder,
           16000 as sample_rate,
           count(*)::BIGINT as n_values, sum(v)::BIGINT as val_sum,
           min(v)::BIGINT as val_min, max(v)::BIGINT as val_max
    from s group by doc_id
"""

ORACLES["q_multimodal_features"] = """
    with m as (
      select doc_id as media_id, encode(text) as payload
      from documents where doc_id < 100
    ),
    b as (
      select media_id, octet_length(payload) as n, hex(payload) as hx
      from m
    ),
    vals as (
      select media_id,
             ('0x' || substr(hx, i * 2 + 1, 2))::INT as v
      from b cross join lateral (select unnest(range(0, n)) as i) g
    ),
    h as (
      select media_id,
             sum(case when v < 32 then 1 else 0 end) as c0
      from vals group by media_id
    )
    select b.media_id,
           case when substr(hx, 1, 8) = hex('GIF8') then 'gif'
                when substr(hx, 1, 8) = hex('RIFF') then 'riff'
                when substr(hx, 1, 8) = hex('%PDF') then 'pdf'
                when substr(hx, 1, 8) = '89504E47' then 'png'
                when substr(hx, 1, 6) = 'FFD8FF' then 'jpeg'
                else 'unknown' end as format,
           n::INT as n_bytes,
           round(coalesce(c0, 0) / greatest(1.0, n) + 1e-9, 4) as f0
    from b left join h using (media_id)
"""

ORACLES["q_embedding_neardup"] = """
    select a.vec_id as id_a, b.vec_id as id_b,
           round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) as cosine
    from embeddings a join embeddings b on a.vec_id < b.vec_id
    where a.vec_id < 300 and b.vec_id < 300
      and list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
             * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.35
"""

ORACLES["q_embedding_neardup_bucketed"] = """
    with corpus as (
      select vec_id, embedding::DOUBLE[] as v
      from embeddings where vec_id < 300
    ),
    planes as (
      select vec_id as plane_id, v as plane,
             row_number() over (order by vec_id asc) - 1 as plane_rank
      from corpus order by vec_id asc limit 4
    ),
    buckets as (
      select c.vec_id,
             sum(case when list_dot_product(c.v, p.plane) >= 0
                      then (1 << p.plane_rank) else 0 end)::BIGINT as bucket
      from corpus c cross join planes p
      group by c.vec_id
    ),
    bv as (
      select b.vec_id, b.bucket, c.v
      from buckets b join corpus c using (vec_id)
    )
    select a.vec_id as id_a, b.vec_id as id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 4) as cosine
    from bv a join bv b on a.bucket = b.bucket and a.vec_id < b.vec_id
    where list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.35
"""

ORACLES["q_embedding_neardup_multiprobe"] = """
    with corpus as (
      select vec_id, embedding::DOUBLE[] as v
      from embeddings where vec_id < 300
    ),
    planes as (
      select vec_id as plane_id, v as plane,
             row_number() over (order by vec_id asc) - 1 as plane_rank
      from corpus order by vec_id asc limit 4
    ),
    buckets as (
      select c.vec_id,
             sum(case when list_dot_product(c.v, p.plane) >= 0
                      then (1 << p.plane_rank) else 0 end)::BIGINT as bucket
      from corpus c cross join planes p
      group by c.vec_id
    ),
    bv as (
      select b.vec_id, b.bucket, c.v
      from buckets b join corpus c using (vec_id)
    ),
    probes as (
      -- own bucket + each Hamming-1 neighbor (bucket XOR 1<<i)
      select vec_id, v,
             case when t.i < 0 then bucket
                  else xor(bucket, (1 << t.i)::BIGINT) end as probe
      from bv cross join (values (-1), (0), (1), (2), (3)) t(i)
    ),
    cand as (
      select distinct a.vec_id as id_a, b.vec_id as id_b
      from probes a join bv b on a.probe = b.bucket and a.vec_id < b.vec_id
    )
    select c.id_a, c.id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 4) as cosine
    from cand c
    join bv a on a.vec_id = c.id_a
    join bv b on b.vec_id = c.id_b
    where list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.35
"""

ORACLES["q_adaptive_embedding"] = """
    with q as (
      select vec_id as query_id, embedding::DOUBLE[] as v
      from embeddings where vec_id < 8
    ),
    kb as (
      select embedding::DOUBLE[] as v
      from embeddings where vec_id >= 50 and vec_id < 150
    ),
    l as (
      select vec_id as link_id, embedding::DOUBLE[] as v
      from embeddings where vec_id >= 200 and vec_id < 260
    ),
    gap as (
      select q.query_id, any_value(q.v) as qv,
             1 - max(list_dot_product(q.v, kb.v)
                 / (sqrt(list_dot_product(q.v, q.v))
                    * sqrt(list_dot_product(kb.v, kb.v)))) as gap
      from q cross join kb group by q.query_id
    ),
    needy as (select * from gap where gap > 0.2),
    imp as (
      select l.link_id,
             sum(case when (1 - list_dot_product(l.v, n.qv)
                     / (sqrt(list_dot_product(l.v, l.v))
                        * sqrt(list_dot_product(n.qv, n.qv)))) < n.gap
                 then (n.gap - (1 - list_dot_product(l.v, n.qv)
                       / (sqrt(list_dot_product(l.v, l.v))
                          * sqrt(list_dot_product(n.qv, n.qv))))) * 2
                 else 0 end) as total
      from l cross join needy n group by l.link_id
    ),
    ov as (
      select l.link_id,
             max(list_dot_product(l.v, kb.v)
                 / (sqrt(list_dot_product(l.v, l.v))
                    * sqrt(list_dot_product(kb.v, kb.v)))) as max_sim
      from l cross join kb group by l.link_id
    )
    select l.link_id,
           round(
             (coalesce(imp.total, 0) / (select count(*) from needy))
             * (1 - case when ov.max_sim > 0.85
                    then (ov.max_sim - 0.85) * 2 else 0 end),
           4) as score
    from l left join imp using (link_id) left join ov using (link_id)
"""

ORACLES["q_knn_classify"] = """
    with labeled as (
      select vec_id, embedding, 'c' || (vec_id % 3) as label
      from embeddings where vec_id < 40
    ),
    unl as (
      select vec_id, embedding from embeddings
      where vec_id >= 40 and vec_id < 200
    ),
    scored as (
      select u.vec_id as query_id, l.vec_id as neighbor_id, l.label,
             list_dot_product(u.embedding::DOUBLE[], l.embedding::DOUBLE[])
             / (sqrt(list_dot_product(u.embedding::DOUBLE[], u.embedding::DOUBLE[]))
                * sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[])))
               as cos
      from unl u cross join labeled l
    ),
    ranked as (
      select *, row_number() over (partition by query_id
                                   order by cos desc, neighbor_id asc) as rank
      from scored
    ),
    votes as (
      select query_id as id, label, count(*) as votes,
             round(sum(cos), 6) as cmass
      from ranked where rank <= 5
      group by query_id, label
    ),
    best as (
      select id, label, votes,
             row_number() over (partition by id
                                order by votes desc, cmass desc, label asc)
               as r
      from votes
    )
    select id, label as label_pred, votes,
           round(votes / 5.0, 4) as vote_frac
    from best where r = 1
"""

ORACLES["q_ann_bruteforce"] = """
    with scored as (
      select q.vec_id as query_id, c.vec_id as neighbor_id,
             list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
             / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) as cos
      from embeddings q cross join embeddings c
      where q.vec_id < 20 and q.vec_id <> c.vec_id
    ),
    ranked as (
      select query_id, neighbor_id, cos,
             row_number() over (partition by query_id order by cos desc, neighbor_id asc) as rank
      from scored
    )
    select query_id, neighbor_id, rank::INTEGER as rank, round(cos, 4) as cosine
    from ranked where rank <= 5
"""

ORACLES["q_ann_lsh"] = """
    with planes as (
      select vec_id as plane_id, embedding::DOUBLE[] as plane,
             row_number() over (order by vec_id asc) - 1 as plane_rank
      from embeddings order by vec_id asc limit 4
    ),
    buckets as (
      select e.vec_id, e.embedding,
             sum(case when list_dot_product(e.embedding::DOUBLE[], p.plane) >= 0
                      then (1 << plane_rank) else 0 end)::BIGINT as bucket
      from embeddings e cross join planes p
      group by e.vec_id, e.embedding
    ),
    probes as (
      select vec_id as query_id, embedding as qv, unnest([
        bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)
      ]) as probe
      from buckets where vec_id < 20
    ),
    cand as (
      select distinct p.query_id, c.vec_id as neighbor_id, p.qv, c.embedding as cv
      from probes p join buckets c on p.probe = c.bucket
      where p.query_id <> c.vec_id
    ),
    scored as (
      select query_id, neighbor_id,
             list_dot_product(qv::DOUBLE[], cv::DOUBLE[])
             / (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))
                * sqrt(list_dot_product(cv::DOUBLE[], cv::DOUBLE[]))) as cos
      from cand
    ),
    ranked as (
      select query_id, neighbor_id, cos,
             row_number() over (partition by query_id order by cos desc, neighbor_id asc) as rank
      from scored
    )
    select query_id, neighbor_id, rank::INTEGER as rank, round(cos, 4) as cosine
    from ranked where rank <= 5
"""

_COS_SQL = (
    "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
    "sqrt(list_dot_product({b}, {b})))"
)

ORACLES["q_ann_ivf"] = f"""
    with corpus as (
      select vec_id, embedding::DOUBLE[] as v from embeddings
    ),
    cents as (
      select vec_id as centroid_id, v as centroid
      from corpus order by vec_id asc limit 8
    ),
    affinities as (
      select c.vec_id, c.v, ct.centroid_id,
             row_number() over (
               partition by c.vec_id
               order by {_COS_SQL.format(a="c.v", b="ct.centroid")} desc,
                        ct.centroid_id asc
             ) as crank
      from corpus c cross join cents ct
    ),
    cassign as (
      select vec_id, v, centroid_id as bucket from affinities where crank = 1
    ),
    qassign as (
      select vec_id as query_id, v as qv, centroid_id as bucket
      from affinities where crank <= 2 and vec_id < 20
    ),
    cand as (
      select distinct q.query_id, c.vec_id as neighbor_id, q.qv, c.v as cv
      from qassign q join cassign c using (bucket)
      where q.query_id <> c.vec_id
    ),
    scored as (
      select query_id, neighbor_id,
             {_COS_SQL.format(a="qv", b="cv")} as cos
      from cand
    ),
    ranked as (
      select query_id, neighbor_id, cos,
             row_number() over (partition by query_id
                                order by cos desc, neighbor_id asc) as rank
      from scored
    )
    select query_id, neighbor_id, rank::INTEGER as rank,
           round(cos, 4) as cosine
    from ranked where rank <= 5
"""

def _kmeans_cte_parts(k: int = 8, iterations: int = 2,
                      max_id: int | None = None):
    """The kmeans_lloyd CTE chain (no leading WITH): v (id, v), c0..cN
    (cluster, centroid), af (id, cluster). Returns (parts, final_cents_cte)
    so composed oracles (q_kmeans, q_semdedup) share one replay of the
    deterministic trajectory. ``max_id`` bounds the input (gate-budget
    shrink — the Spark side applies the same filter)."""
    cos = _COS_SQL
    lim = f" where vec_id < {max_id}" if max_id is not None else ""
    parts = [
        f"v as (select vec_id as id, embedding::DOUBLE[] as v"
        f" from embeddings{lim})",
        f"""c0 as (
          select row_number() over (order by id asc) - 1 as cluster,
                 list_transform(v, x -> round(x, 6)) as centroid
          from (select * from v order by id asc limit {k}))""",
    ]
    prev = "c0"
    for it in range(1, iterations + 1):
        a, d, m, cm, c = f"a{it}", f"d{it}", f"m{it}", f"cm{it}", f"c{it}"
        parts += [
            f"""{a} as (
              select id, v, cluster from (
                select v.id, v.v, c.cluster,
                       row_number() over (partition by v.id
                         order by {cos.format(a="v.v", b="c.centroid")} desc,
                                  c.cluster asc) as rn
                from v cross join {prev} c) where rn = 1)""",
            f"""{d} as (
              select cluster, s.i as dim, v[s.i+1] as val
              from {a}, unnest(range(0, len(v))) as s(i))""",
            f"""{m} as (
              select cluster, dim, round(avg(val), 6) as mv
              from {d} group by 1, 2)""",
            f"""{cm} as (
              select cluster, list(mv order by dim) as centroid
              from {m} group by cluster)""",
            f"""{c} as (
              select p.cluster, coalesce({cm}.centroid, p.centroid) as centroid
              from {prev} p left join {cm} using (cluster))""",
        ]
        prev = c
    final = f"""af as (
      select id, cluster from (
        select v.id, c.cluster,
               row_number() over (partition by v.id
                 order by {cos.format(a="v.v", b="c.centroid")} desc,
                          c.cluster asc) as rn
        from v cross join {prev} c) where rn = 1)"""
    parts.append(final)
    return parts, prev


def _kmeans_oracle_sql(k: int = 8, iterations: int = 2) -> str:
    """DuckDB twin of kmeans_lloyd: same deterministic init, same round-6
    centroid quantization between rounds (so the trajectories are
    bit-identical), `iterations` rounds unrolled."""
    parts, _ = _kmeans_cte_parts(k, iterations)
    return ("with " + ",\n".join(parts)
            + "\nselect id as vec_id, cluster from af")


def _semdedup_oracle_sql(k: int = 8, iterations: int = 2,
                         eps: float = 0.5,
                         max_id: int | None = None) -> str:
    """DuckDB twin of dedup.semdedup: the kmeans trajectory above, then
    within-cluster pairs at round-6 cosine >= eps, recursive-CTE connected
    components, keeper = min (centroid_cos, id) per group."""
    cos = _COS_SQL
    parts, cents = _kmeans_cte_parts(k, iterations, max_id=max_id)
    return f"""
    with recursive {",".join(parts)},
    pairs as (
      select a.id as id_a, b.id as id_b
      from af a
      join af b on b.cluster = a.cluster and a.id < b.id
      join v va on va.id = a.id
      join v vb on vb.id = b.id
      where round({cos.format(a="va.v", b="vb.v")}, 6) >= {eps}
    ),
    edges as (
      select id_a as src, id_b as dst from pairs
      union
      select id_b as src, id_a as dst from pairs
    ),
    nodes as (select distinct src as id from edges),
    reach(id, r) as (
      select id, id as r from nodes
      union
      select e.dst as id, reach.r from reach join edges e on e.src = reach.id
    ),
    grp as (select id, min(r) as group_id from reach group by id),
    centcos as (
      select a.id,
             round({cos.format(a="v.v", b="c.centroid")}, 6) as centroid_cos
      from af a join v on v.id = a.id join {cents} c using (cluster)
    ),
    ranked as (
      select g.id, g.group_id,
             row_number() over (partition by g.group_id
               order by cc.centroid_cos asc, g.id asc) as rn
      from grp g join centcos cc on cc.id = g.id
    )
    select a.id as vec_id, a.cluster,
           coalesce(r.group_id, a.id) as group_id,
           cc.centroid_cos,
           (r.rn is null or r.rn = 1) as keep
    from af a
    join centcos cc on cc.id = a.id
    left join ranked r on r.id = a.id
    """


ORACLES["q_kmeans"] = _kmeans_oracle_sql(8, 2)
ORACLES["q_semdedup"] = _semdedup_oracle_sql(8, 1, 0.4, max_id=300)


def _nnd_graph_ctes(max_id: int, k: int, rounds: int) -> str:
    """CTE chain replaying nn_descent(corpus<max_id, k, rounds, planes=4):
    LSH-multiprobe seed graph g0, then per round r: symmetrize u{r},
    neighbors-of-neighbors + carry nn{r}, exact-cosine re-select g{r}.
    The final CTE is g{rounds}(id, nbr, cos)."""
    cos = _COS_SQL.format(a="x.v", b="y.v")
    ctes = f"""
    corpus as (
      select vec_id, embedding::DOUBLE[] as v from embeddings
      where vec_id < {max_id}
    ),
    planes as (
      select vec_id as plane_id, v as plane,
             row_number() over (order by vec_id asc) - 1 as plane_rank
      from corpus order by vec_id asc limit 4
    ),
    bks as (
      select c.vec_id, c.v,
             sum(case when list_dot_product(c.v, p.plane) >= 0
                      then (1 << plane_rank) else 0 end)::BIGINT as bucket
      from corpus c cross join planes p group by c.vec_id, c.v
    ),
    prb as (
      select vec_id as id, unnest([
        bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4),
        xor(bucket, 8)]) as probe
      from bks
    ),
    s0 as (
      select distinct p.id, c.vec_id as nbr
      from prb p join bks c on p.probe = c.bucket where p.id <> c.vec_id
    ),
    sc0 as (
      select s.id, s.nbr, {cos} as cos
      from s0 s join corpus x on x.vec_id = s.id
      join corpus y on y.vec_id = s.nbr
    ),
    g0 as (
      select id, nbr from (
        select id, nbr,
               row_number() over (partition by id
                                  order by cos desc, nbr asc) as rk
        from sc0) where rk <= {k}
    )"""
    for r in range(1, rounds + 1):
        ctes += f""",
    u{r} as (
      select id, nbr from g{r - 1} union
      select nbr as id, id as nbr from g{r - 1}
    ),
    nn{r} as (
      select a.nbr as id, b.nbr as nbr
      from u{r} a join u{r} b on a.id = b.id where a.nbr <> b.nbr
      union select id, nbr from g{r - 1}
    ),
    snn{r} as (
      select n.id, n.nbr, {cos} as cos
      from nn{r} n join corpus x on x.vec_id = n.id
      join corpus y on y.vec_id = n.nbr
    ),
    g{r} as (
      select id, nbr, cos from (
        select id, nbr, cos,
               row_number() over (partition by id
                                  order by cos desc, nbr asc) as rk
        from snn{r}) where rk <= {k}
    )"""
    return ctes


ORACLES["q_nn_descent"] = f"""
    with {_nnd_graph_ctes(144, 4, 2)}
    select id, nbr, rk::INTEGER as rank, round(cos, 4) as cosine
    from (
      select id, nbr, cos,
             row_number() over (partition by id
                                order by cos desc, nbr asc) as rk
      from g2)
    where rk <= 4
"""


def _graph_ann_oracle_sql(max_id: int, graph_k: int, k: int, beam: int,
                          rounds: int, n_entry: int, n_q: int) -> str:
    cosq = _COS_SQL.format(a="q.qv", b="c.v")
    sql = f"""
    with {_nnd_graph_ctes(max_id, graph_k, 1)},
    q as (
      select vec_id as query_id, v as qv from corpus
      where vec_id < {n_q}
    ),
    b0 as (
      select query_id, node from q cross join (
        select vec_id as node from corpus order by vec_id asc
        limit {n_entry})
    )"""
    for j in range(1, rounds + 1):
        sql += f""",
    e{j} as (
      select query_id, node from b{j - 1} union
      select b.query_id, g.nbr as node
      from b{j - 1} b join g1 g on g.id = b.node
    ),
    se{j} as (
      select e.query_id, e.node, {cosq} as cos
      from e{j} e join q using (query_id)
      join corpus c on c.vec_id = e.node
      where e.query_id <> e.node
    ),
    b{j} as (
      select query_id, node from (
        select query_id, node, cos,
               row_number() over (partition by query_id
                                  order by cos desc, node asc) as rk
        from se{j}) where rk <= {beam}
    )"""
    sql += f"""
    select query_id, node as neighbor_id, rk::INTEGER as rank,
           round(cos, 4) as cosine
    from (
      select b.query_id, b.node, {cosq} as cos,
             row_number() over (partition by b.query_id
                                order by {cosq} desc, b.node asc) as rk
      from b{rounds} b join q using (query_id)
      join corpus c on c.vec_id = b.node)
    where rk <= {k}
"""
    return sql


ORACLES["q_graph_ann"] = _graph_ann_oracle_sql(
    144, 4, 4, 8, 2, n_entry=6, n_q=10)

ORACLES["q_pack_sequences"] = """
    with t as (
      select doc_id as id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') as l
      from documents where doc_id < 200
    ),
    chunks as (
      select id, i::INT as chunk_index,
             array_to_string(l[i*30+1 : i*30+30], ' ') as chunk
      from t, unnest(range(0, ((greatest(len(l) - 1, 0)) // 30) + 1)) as u(i)
    ),
    nz as (
      select id, chunk_index, (id % 4)::INT as shard,
             ceil(len(list_filter(string_split_regex(chunk, '\\s+'),
                                  x -> x <> '')) * 0.75)::BIGINT as n_tokens
      from chunks where length(chunk) > 0
    ),
    packed as (
      select shard, id, chunk_index, n_tokens,
             coalesce(sum(n_tokens) over (
               partition by shard order by id asc, chunk_index asc
               rows between unbounded preceding and 1 preceding), 0) as before
      from nz
    )
    select shard, id, chunk_index, n_tokens,
           (before // 64)::BIGINT as seq_id,
           (before % 64)::BIGINT as seq_offset
    from packed
"""

ORACLES["q_ann_pq"] = """
    with corpus as (
      select vec_id, embedding::DOUBLE[] as v from embeddings
    ),
    base as (
      select vec_id as src_id, v,
             row_number() over (order by vec_id asc) - 1 as code
      from (select * from corpus order by vec_id asc limit 16)
    ),
    cb as (
      select s.i as subspace, code, v[s.i*16+1 : s.i*16+16] as centroid
      from base, unnest(range(0, 4)) as s(i)
    ),
    csub as (
      select vec_id as id, s.i as subspace, v[s.i*16+1 : s.i*16+16] as sv
      from corpus, unnest(range(0, 4)) as s(i)
    ),
    cdist as (
      select id, subspace, code,
             list_sum(list_transform(range(1, 17),
                                     j -> (sv[j] - centroid[j])^2)) as d2
      from csub join cb using (subspace)
    ),
    ccodes as (
      select id as neighbor_id, subspace, code from (
        select *, row_number() over (partition by id, subspace
                                     order by d2 asc, code asc) as rn
        from cdist) where rn = 1
    ),
    qsub as (
      select id as query_id, subspace, sv from csub where id < 20
    ),
    qtab as (
      select query_id, subspace, code,
             list_sum(list_transform(range(1, 17),
                                     j -> (sv[j] - centroid[j])^2)) as d2
      from qsub join cb using (subspace)
    ),
    pairs as (
      select query_id, neighbor_id, round(sum(d2) + 1e-9, 6) as approx_l2
      from ccodes join qtab using (subspace, code)
      where query_id <> neighbor_id
      group by query_id, neighbor_id
    ),
    ranked as (
      select *, row_number() over (partition by query_id
                                   order by approx_l2 asc, neighbor_id asc)
               as rank
      from pairs
    )
    select query_id, neighbor_id, approx_l2, rank::INTEGER as rank
    from ranked where rank <= 5
"""

_PAD = "' ' || lower(text) || ' '"


_TOKS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"


def _occ_sql(word: str) -> str:
    # occurrence count of word as a whole whitespace token (mirrors
    # textstats._count_occurrences: one split, token equality)
    return f"len(list_filter({_TOKS_SQL}, x -> x = '{word}'))"


_LANGS_SQL = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "it"),
    "es": ("el", "la", "los", "las", "es", "una", "para", "con", "que", "por"),
    "fr": ("le", "la", "les", "et", "est", "pas", "une", "pour", "dans", "que"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不", "人", "这"),
}


def _lang_score_sql(code: str) -> str:
    words = ", ".join(f"'{w}'" for w in _LANGS_SQL[code])
    return f"len(list_filter({_TOKS_SQL}, x -> x in ({words})))"


def _lang_pred_sql() -> str:
    # fold in sorted code order with strict > (ties keep earlier best) —
    # over plain COLUMN references (s_<code> from a CTE), so the oracle does
    # not re-evaluate the token scans 2^|langs| times
    expr_lang, expr_score = "'und'", "0"
    for code in sorted(_LANGS_SQL):
        s = f"s_{code}"
        expr_lang = f"case when {s} > {expr_score} then '{code}' else {expr_lang} end"
        expr_score = f"case when {s} > {expr_score} then {s} else {expr_score} end"
    return expr_lang


# raw (unrounded) quality blend — shared by the per-doc profile oracle and
# the per-domain rollup oracle (single source, so the twins cannot drift)
_QUALITY_RAW_SQL = f"""(
        0.3 * least(1.0, length(trim(text)) / 500.0)
        + 0.3 * (case when length(trim(text)) > 0
                 then length(regexp_replace(trim(text), '[^A-Za-z]', '', 'g'))::DOUBLE / length(trim(text))
                 else 0.0 end)
        + 0.15 * (case when length(regexp_replace(trim(text), '[^.,;:!?]', '', 'g'))::DOUBLE
                       / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1) <= 0.3
                  then 1.0 else 0.3 end)
        + 0.15 * (case when (case when len(regexp_split_to_array(trim(text), '\\s+')) > 0
                        then length(regexp_replace(trim(text), '[^A-Za-z]', '', 'g'))::DOUBLE
                             / len(regexp_split_to_array(trim(text), '\\s+')) else 0.0 end)
                       between 2.0 and 12.0 then 1.0 else 0.3 end)
        + 0.10 * (case when ({_occ_sql("the")} + {_occ_sql("and")}
                             + {_occ_sql("of")} + {_occ_sql("a")}) > 0
                  then 1.0 else 0.5 end)
      )"""

ORACLES["q_text_profile"] = f"""
    with scored as (
      select *,
        {", ".join(f"{_lang_score_sql(c)} as s_{c}" for c in sorted(_LANGS_SQL))}
      from documents
    )
    select doc_id,
      {_lang_pred_sql()} as lang_pred,
      case when length(trim(text)) = 0 then 0
           else len(regexp_split_to_array(trim(text), '\\s+')) end as token_count,
      (len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))
       + length(regexp_replace(text, '[^.,;:!?()\\[\\]{{}}"''`]', '', 'g'))) as bpe_token_estimate,
      round({_QUALITY_RAW_SQL} + 1e-9, 4) as quality,
      md5({_NORM_TEXT_SQL}) as fingerprint
    from scored
"""

ORACLES["q_domain_prior"] = f"""
    with base as (
      select doc_id, text,
             'dom' || (doc_id % 7)::varchar || '.com' as registrable_domain
      from documents
    ),
    corpus as (
      select * from base
      union all
      select doc_id + 500000 as doc_id, text, registrable_domain
      from base where doc_id % 10 = 0
    ),
    rolled as (
      select registrable_domain as domain,
             count(*) as n_docs,
             round(avg({_QUALITY_RAW_SQL}) + 1e-9, 4) as avg_quality,
             count(distinct md5({_NORM_TEXT_SQL})) as distinct_fp
      from corpus group by 1
    )
    select domain, n_docs, avg_quality, distinct_fp,
           round(1.0 - distinct_fp / n_docs + 1e-9, 4) as dup_rate,
           (n_docs >= 3 and avg_quality >= 0.5
            and round(1.0 - distinct_fp / n_docs + 1e-9, 4) <= 0.1) as keep
    from rolled
"""

ORACLES["q_gopher_rules"] = """
    with injected as (
      select doc_id,
        text
        || case when doc_id % 4 = 0 then chr(10) || '• alpha item'
                || chr(10) || '• beta item' || chr(10) || '• gamma item'
           else '' end
        || case when doc_id % 5 = 0 then chr(10) || 'wait for it...'
                || chr(10) || 'and more…' else '' end
        || case when doc_id % 6 = 0 then ' ### ## #' else '' end
        as text
      from documents
    ), m as (
      select doc_id,
        list_filter(string_split_regex(text, '\\s+'), x -> x <> '') as words,
        list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') as ltoks,
        list_filter(string_split_regex(text, '\\n'), x -> trim(x) <> '') as lines,
        length(regexp_replace(text, '[^#]', '', 'g')) as n_hash,
        (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3 as n_ell3,
        length(regexp_replace(text, '[^…]', '', 'g')) as n_ellu
      from injected
    ), m2 as (
      select doc_id,
        len(words)::INT as n_words,
        case when len(words) > 0
             then (list_sum(list_transform(words, w -> length(w)))::DOUBLE
                   / len(words)) else 0.0 end as mean_word_len,
        case when len(words) > 0
             then (n_hash + n_ell3 + n_ellu) / len(words) else 0.0 end as symbol_ratio,
        case when len(lines) > 0
             then (len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[•‣*-]')))
                   / len(lines)) else 0.0 end as bullet_frac,
        case when len(lines) > 0
             then (len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))
                   / len(lines)) else 0.0 end as ellipsis_frac,
        case when len(words) > 0
             then (len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
                   / len(words)) else 0.0 end as alpha_frac,
        (case when len(list_filter(ltoks, x -> x = 'the')) > 0 then 1 else 0 end
         + case when len(list_filter(ltoks, x -> x = 'be')) > 0 then 1 else 0 end
         + case when len(list_filter(ltoks, x -> x = 'to')) > 0 then 1 else 0 end
         + case when len(list_filter(ltoks, x -> x = 'of')) > 0 then 1 else 0 end
         + case when len(list_filter(ltoks, x -> x = 'and')) > 0 then 1 else 0 end
         + case when len(list_filter(ltoks, x -> x = 'that')) > 0 then 1 else 0 end
         + case when len(list_filter(ltoks, x -> x = 'have')) > 0 then 1 else 0 end
         + case when len(list_filter(ltoks, x -> x = 'with')) > 0 then 1 else 0 end
        )::INT as stop_hits
      from m
    )
    select doc_id, n_words,
      round(mean_word_len + 1e-9, 4) as mean_word_len,
      round(symbol_ratio + 1e-9, 4) as symbol_ratio,
      round(bullet_frac + 1e-9, 4) as bullet_frac,
      round(ellipsis_frac + 1e-9, 4) as ellipsis_frac,
      round(alpha_frac + 1e-9, 4) as alpha_frac,
      stop_hits,
      ((n_words >= 50 and n_words <= 100000)
       and (mean_word_len >= 3.0 and mean_word_len <= 10.0)
       and symbol_ratio <= 0.1 and bullet_frac < 0.9
       and ellipsis_frac < 0.3 and alpha_frac >= 0.8
       and stop_hits >= 2) as gopher_keep
    from m2
"""


ORACLES["q_span_dedup"] = """
    with injected as (
      select doc_id,
        text
        || case when doc_id % 6 = 0 then ' Subscribe to our newsletter today. '
                || 'Follow us on social media. All rights reserved everywhere.'
           else '' end
        || case when doc_id % 11 = 0 then ' Subscribe to our newsletter today. '
                || 'Follow us on social media. All rights reserved everywhere.'
           else '' end
        as text
      from documents where doc_id < 300
    ), m as (
      select doc_id as id,
        list_filter(list_transform(string_split(
          regexp_replace(text, '([.!?])\\s+', '\\1' || chr(1), 'g'), chr(1)),
          s -> trim(s)), s -> length(s) > 0) as arr
      from injected
    ), sents as (
      select id, unnest(range(1, len(arr)+1)) as pos, unnest(arr) as sentence
      from m
    ), spans as (
      select id,
        unnest(range(1, len(arr)-1)) as pos,
        unnest(list_transform(range(1, len(arr)-1),
               i -> md5(array_to_string(arr[i:i+2], chr(2))))) as span_key
      from m where len(arr) >= 3
    ), marked as (
      select id, pos,
        count(*) over (partition by span_key) as n_occ,
        row_number() over (partition by span_key order by id, pos) as rn
      from spans
    ), drop_pos as (
      select distinct id, pos + unnest([0, 1, 2]) as pos
      from marked where n_occ > 1 and rn > 1
    ), kept as (
      select s.id, s.pos, s.sentence from sents s
      where not exists (select 1 from drop_pos d
                        where d.id = s.id and d.pos = s.pos)
    ), rebuilt as (
      select id, string_agg(sentence, ' ' order by pos) as clean,
             count(*) as n_kept
      from kept group by id
    )
    select i.doc_id,
      coalesce(len(m.arr), 0)::INT as n_sentences,
      (coalesce(len(m.arr), 0) - coalesce(r.n_kept, 0))::INT
        as n_sentences_removed,
      md5(coalesce(r.clean, '')) as clean_md5
    from injected i
    left join m on m.id = i.doc_id
    left join rebuilt r on r.id = i.doc_id
"""

ORACLES["q_c4_filters"] = """
    with injected as (
      select doc_id,
        text
        || case when doc_id % 3 = 0 then chr(10) || 'click here' else '' end
        || case when doc_id % 5 = 0
           then chr(10) || 'Please enable javascript to view this page.'
           else '' end
        || case when doc_id % 7 = 0 then ' Lorem Ipsum dolor sit.' else '' end
        || case when doc_id % 8 = 0 then ' {var x = 1;}' else '' end
        as text
      from documents
    ), m as (
      select doc_id, text,
        string_split_regex(text, '\\n') as lines,
        list_filter(string_split_regex(text, '\\n'),
          l -> regexp_matches(rtrim(l), '[.!?"”]$')
               and len(list_filter(string_split_regex(l, '\\s+'),
                                   w -> w <> '')) >= 3
               and not contains(lower(l), 'javascript')) as kept
      from injected
    ), m2 as (
      select doc_id,
        coalesce(array_to_string(kept, chr(10)), '') as clean,
        len(lines)::INT as n_lines_total,
        len(kept)::INT as n_lines_kept,
        contains(lower(text), 'lorem ipsum') as has_lorem_ipsum,
        (contains(text, '{') or contains(text, '}')) as has_curly_brace
      from m
    )
    select doc_id, n_lines_total, n_lines_kept,
      length(regexp_replace(clean, '[^.!?]', '', 'g'))::INT as n_sentences,
      has_lorem_ipsum, has_curly_brace,
      (not has_lorem_ipsum and not has_curly_brace
       and length(regexp_replace(clean, '[^.!?]', '', 'g')) >= 5) as c4_keep,
      md5(clean) as c4_md5
    from m2
"""


def _pii_oracle_sql() -> str:
    """DuckDB twin of redact_pii: the SAME regexes from PII_PATTERNS run in
    the SAME order (all RE2-compatible by design), counting before each
    replace on the progressively redacted text."""
    from crawl4ai_custom_spark.operators.pii import PII_PATTERNS

    injected = (
        "select doc_id, substr(text, 1, 120)"
        " || ' contact user' || doc_id || '@example' || (doc_id % 7) || '.com'"
        " || ' ip 10.' || (doc_id % 250) || '.0.1'"
        " || case when doc_id % 3 = 0 then ' ssn 123-45-6789' else '' end"
        " || case when doc_id % 4 = 0 then ' call 555-123-4567' else '' end"
        " || case when doc_id % 5 = 0 then ' card 4111 1111 1111 1111' else '' end"
        " || case when doc_id % 6 = 0 then ' tel (555) 987-6543' else '' end"
        " || case when doc_id % 7 = 0 then ' intl +1-202-555-0147' else '' end"
        " || case when doc_id % 8 = 0 then ' dot 303.555.0143' else '' end"
        " as t from documents where doc_id < 400"
    )
    ctes = [f"injected as ({injected})"]
    carried: list[str] = []
    prev = "injected"
    for kind, pat, rep in PII_PATTERNS:
        ctes.append(
            f"s_{kind} as (select doc_id{''.join(', ' + c for c in carried)}, "
            f"len(regexp_extract_all(t, '{pat}'))::INT as n_{kind}, "
            f"regexp_replace(t, '{pat}', '{rep}', 'g') as t from {prev})"
        )
        carried.append(f"n_{kind}")
        prev = f"s_{kind}"
    total = " + ".join(carried)
    return (
        "with " + ",\n".join(ctes)
        + f"\nselect doc_id, {', '.join(carried)}, ({total}) > 0 as any_pii, "
        f"md5(t) as redacted_md5 from {prev}"
    )


ORACLES["q_line_dedup"] = """
    with m as (
      select doc_id,
             'COMMON NAV HEADER' || chr(10) || substr(text, 1, 60) || chr(10)
             || case when doc_id % 5 = 0 then 'SEMI COMMON LINE' || chr(10)
                     else '' end
             || 'COMMON FOOTER LINE' as text
      from documents where doc_id < 400
    ),
    tl as (select doc_id, string_split(text, chr(10)) as l from m),
    lines as (
      select doc_id, i as pos, l[i+1] as line, trim(l[i+1]) as key
      from tl, unnest(range(0, len(l))) as t(i)
    ),
    heavy as (
      select key from lines where key <> ''
      group by key having count(distinct doc_id) > 3
    ),
    kept as (
      select doc_id, pos, line from lines
      where key = '' or key not in (select key from heavy)
    ),
    reb as (
      select doc_id, string_agg(line, chr(10) order by pos) as clean,
             count(*) as n_kept
      from kept group by doc_id
    ),
    tot as (select doc_id, count(*) as n_lines from lines group by doc_id)
    select m.doc_id,
           (coalesce(tot.n_lines, 0) - coalesce(reb.n_kept, 0))::BIGINT
             as n_lines_removed,
           md5(coalesce(reb.clean, '')) as clean_md5
    from m
    left join reb on reb.doc_id = m.doc_id
    left join tot on tot.doc_id = m.doc_id
"""

ORACLES["q_link_spam"] = """
    with raw as (
      select doc_id, doc_id % 10 as m,
             (doc_id // 10) % 12 as j,
             (doc_id // 10) % 20 as b20,
             (doc_id // 10) % 8 as b8
      from documents where doc_id < 500
    ),
    fp as (
      select *, j // 3 as a,
             (j % 3) + (case when (j % 3) >= (j // 3) then 1 else 0 end)
               as b
      from raw
    ),
    e0 as (
      select case when m <= 2 then 'farm' || a || '.com'
                  when m in (3, 4) then 'blog' || b20 || '.com'
                  when m = 5 then 'news.com'
                  when m = 6 then 'agency.com'
                  when m = 7 then 'hub.com'
                  else 'blog' || b8 || '.com' end as src,
             case when m <= 2 then 'farm' || b || '.com'
                  when m in (3, 4) then 'news.com'
                  when m = 5 then 'agency.com'
                  when m in (6, 7) then 'blog' || b20 || '.com'
                  else 'hub.com' end as dst
      from fp
    ),
    e as (select distinct src, dst from e0 where src <> dst),
    mk as (
      select e.src, e.dst, (b.src is not null) as rec
      from e left join e b on b.src = e.dst and b.dst = e.src
    )
    select src as src_host,
           count(*)::BIGINT as n_out_hosts,
           sum(case when rec then 1 else 0 end)::BIGINT as n_reciprocal,
           round(sum(case when rec then 1 else 0 end)::DOUBLE / count(*)
                 + 1e-9, 6) as reciprocity,
           (count(*) >= 3
            and sum(case when rec then 1 else 0 end)::DOUBLE / count(*)
                >= 0.5) as is_link_farm
    from mk group by src
"""

ORACLES["q_budget_alloc"] = """
    with hw as (
      select 'h' || lpad(doc_id::VARCHAR, 2, '0') as host,
             ((doc_id * 7) % 13)::DOUBLE as weight
      from documents where doc_id < 30
    ),
    tot as (select sum(case when weight > 0 then weight else 0 end) as w_sum
            from hw),
    ex as (
      select host, weight,
             case when weight > 0 and w_sum > 0
                  then 1000.0 * weight / w_sum else 0.0 end as exact
      from hw, tot
    ),
    fl as (
      select host, weight, floor(exact)::BIGINT as fl,
             round(exact - floor(exact), 9) as frac
      from ex
    ),
    fs as (select sum(fl) as f_sum from fl),
    rk as (
      select host, weight, fl, frac,
             row_number() over (order by frac desc, (weight > 0) desc,
                                host asc) as rnk
      from fl
    )
    select host, weight,
           (fl + case when weight > 0 and rnk <= 1000 - f_sum
                      then 1 else 0 end)::BIGINT as quota
    from rk, fs
"""

ORACLES["q_sitemap_coverage"] = """
    with s as (
      select distinct 'https://s' || (doc_id % 3) || '.com/p/' || doc_id
               as u
      from documents where doc_id < 300
    ),
    c as (
      select distinct u from (
        select 'https://s' || (doc_id % 3) || '.com/p/' || doc_id as u
        from documents where doc_id < 300 and doc_id % 2 = 0
        union all
        select 'https://s' || (doc_id % 3) || '.com/orphan/' || doc_id
        from documents where doc_id < 300 and doc_id % 10 = 0
      )
    ),
    j as (
      select coalesce(s.u, c.u) as u,
             (case when s.u is not null then 1 else 0 end) as si,
             (case when c.u is not null then 1 else 0 end) as ci
      from s full outer join c on c.u = s.u
    ),
    g as (
      select lower(regexp_extract(u, 'https?://([^/:]+)', 1)) as host,
             sum(si)::BIGINT as n_sitemap,
             sum(ci)::BIGINT as n_crawled,
             sum(si * ci)::BIGINT as n_both
      from j group by 1
    )
    select host, n_sitemap, n_crawled, n_both,
           case when n_sitemap > 0
                then round(n_both / n_sitemap::DOUBLE + 1e-9, 6)
                else 0.0 end as coverage,
           case when n_crawled > 0
                then round((n_crawled - n_both) / n_crawled::DOUBLE
                           + 1e-9, 6)
                else 0.0 end as orphan_frac
    from g
"""

ORACLES["q_domain_cap"] = """
    with k as (
      select doc_id, 'd' || (doc_id % 7) as domain,
             ((doc_id * 13) % 101)::BIGINT as score
      from documents where doc_id < 500
    ),
    r as (
      select domain, doc_id, score,
             row_number() over (partition by domain
                                order by score desc, doc_id asc) as rn
      from k
    )
    select domain, doc_id, score from r where rn <= 10
"""


def _mojibake_oracle() -> str:
    """Build the q_mojibake SQL twin from the SAME pair table the Spark
    operator uses, so the two can never drift."""
    from crawl4ai_custom_spark.operators.textstats import MOJIBAKE_PAIRS

    base = ("case when doc_id % 3 = 0 then substr(text, 1, 80) ||"
            " ' cafÃ© â€” donâ€™t Â« ok Â»'"
            " when doc_id % 3 = 1 then 'plain ascii, no artifacts'"
            " else substr(text, 1, 80) end")
    count_terms = " + ".join(
        f"(length(t) - length(replace(t, '{bad}', ''))) // {len(bad)}"
        for bad, _ in MOJIBAKE_PAIRS
    )
    fixed = "t"
    for bad, good in MOJIBAKE_PAIRS:
        fixed = f"replace({fixed}, '{bad}', '{good}')"
    return f"""
    with m as (
      select doc_id, {base} as t
      from documents where doc_id < 400
    )
    select doc_id,
           ({count_terms})::BIGINT as n_mojibake,
           ({count_terms}) > 0 as is_mojibake,
           md5({fixed}) as fixed_md5
    from m
"""


ORACLES["q_mojibake"] = _mojibake_oracle()

ORACLES["q_host_boilerplate"] = """
    with m as (
      select doc_id,
             case when doc_id < 2 then 'c.example.com'
                  when doc_id % 2 = 0 then 'a.example.com'
                  else 'b.example.com' end as host,
             'https://' ||
             (case when doc_id < 2 then 'c.example.com'
                   when doc_id % 2 = 0 then 'a.example.com'
                   else 'b.example.com' end) || '/p/' || doc_id as url,
             (case when (doc_id >= 2 and doc_id % 2 = 0) or doc_id = 3
                   then 'COMMON PROMO LINE' || chr(10) else '' end)
             || substr(text, 1, 50)
             || (case when doc_id >= 2 and doc_id % 2 = 1
                      then chr(10) || 'B FOOTER LINE' else '' end)
             || (case when doc_id < 2
                      then chr(10) || 'C NAV LINE' else '' end) as text
      from documents where doc_id < 300
    ),
    tl as (select url, host, string_split(text, chr(10)) as l from m),
    lines as (
      select url, host, i as pos, l[i+1] as line, trim(l[i+1]) as key
      from tl, unnest(range(0, len(l))) as t(i)
    ),
    hp as (select host, count(distinct url) as n_pages from m group by host),
    heavy as (
      select l.host, l.key from lines l join hp on hp.host = l.host
      where l.key <> ''
      group by l.host, l.key, hp.n_pages
      having hp.n_pages >= 3
         and count(distinct l.url) >= hp.n_pages * 0.6
    ),
    kept as (
      select l.url, l.pos, l.line from lines l
      left join heavy h on h.host = l.host and h.key = l.key
      where l.key = '' or h.key is null
    ),
    reb as (
      select url, string_agg(line, chr(10) order by pos) as clean,
             count(*) as n_kept
      from kept group by url
    ),
    tot as (select url, count(*) as n_lines from lines group by url)
    select m.url, m.host,
           (coalesce(tot.n_lines, 0) - coalesce(reb.n_kept, 0))::BIGINT
             as n_lines_removed,
           md5(coalesce(reb.clean, '')) as clean_md5
    from m
    left join reb on reb.url = m.url
    left join tot on tot.url = m.url
"""

ORACLES["q_soft404"] = """
    with m as (
      select 'https://h' || (doc_id % 2) || '.example.com/p/' || doc_id
               as url,
             'h' || (doc_id % 2) || '.example.com' as host,
             case when doc_id % 7 = 0
                  then 'Sorry, the  page you requested does not exist.'
                       || chr(10) || '  404 not found '
                  when doc_id % 7 = 1
                  then 'Please log in' || chr(10) || 'to continue.'
                  else text end as text
      from documents where doc_id < 400
    ),
    k as (
      select url, host,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               as content_fp,
             regexp_matches(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
               'page not found|404 not found|no longer available'
               || '|does not exist|nothing was found|page you requested')
               as has_error_phrase
      from m
    ),
    s as (
      select host, content_fp, count(distinct url)::BIGINT as n_same_content
      from k group by 1, 2
    )
    select k.url, k.host, k.content_fp, s.n_same_content,
           k.has_error_phrase,
           (s.n_same_content >= 3 and k.has_error_phrase) as is_soft404
    from k join s on s.host = k.host and s.content_fp = k.content_fp
"""

ORACLES["q_phrase_match"] = """
    with t as (
      select doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 1) as l
      from documents where doc_id < 300
    ),
    tok as (select doc_id, l[i] as w1, l[i+1] as w2
            from t, unnest(range(1, len(l))) as u(i))
    select doc_id, count(*)::BIGINT as n_matches
    from tok where w1 = 'table' and w2 = 'key'
    group by doc_id
"""

ORACLES["q_inverted_index"] = """
    with t as (
      select doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 1) as l
      from documents where doc_id < 60
    ),
    tok as (select doc_id, l[i] as term, i - 1 as pos
            from t, unnest(range(1, len(l) + 1)) as u(i)),
    p as (select term, doc_id, count(*) as tf,
                 string_agg(pos::VARCHAR, ',' order by pos) as pos_csv
          from tok group by 1, 2),
    d as (select term, count(*) as df, sum(tf) as cf from p group by 1)
    select p.term, p.doc_id, p.tf::BIGINT as tf, d.df::BIGINT as df,
           d.cf::BIGINT as cf, p.pos_csv
    from p join d using (term)
"""

ORACLES["q_bm25_index"] = """
    with t as (
      select doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 1) as l
      from documents where doc_id < 300
    ),
    tok as (select doc_id, unnest(l) as term from t),
    p as (select term, doc_id, count(*) as tf from tok group by 1, 2),
    dl as (select doc_id, sum(tf) as dl from p group by 1),
    consts as (select (select count(*) from dl)::DOUBLE as n_docs,
                      (select avg(dl) from dl) as avgdl),
    d as (select term, count(*) as df from p group by 1),
    scored as (
      select p.doc_id,
             ln((c.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * p.tf * 2.5
             / (p.tf + 1.5 * (1.0 - 0.75 + 0.75 * dl.dl / c.avgdl)) as part
      from p join d using (term) join dl using (doc_id) cross join consts c
      where p.term in ('spark', 'table', 'query')
    )
    select doc_id, round(sum(part), 4) as bm25,
           count(*)::BIGINT as n_terms
    from scored group by doc_id
"""

ORACLES["q_skipgram"] = """
    with t as (
      select list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 1) as l
      from documents where doc_id < 120
    ),
    c as (
      select l[i] as center, l[j] as context
      from t,
           unnest(range(1, len(l) + 1)) as u(i),
           unnest(range(greatest(i - 3, 1),
                        least(i + 3, len(l)) + 1)) as v(j)
      where j != i
    )
    select center, context, count(*)::BIGINT as count
    from c group by 1, 2 having count(*) >= 2
"""

def _textrank_oracle_sql(iterations: int = 3, damping: float = 0.85,
                         window: int = 2, top_k: int = 5,
                         min_len: int = 4) -> str:
    it_ctes = []
    for i in range(1, iterations + 1):
        prev = f"r{i - 1}"
        it_ctes.append(f"""r{i} as (
      select nd.id, nd.token,
             {1.0 - damping!r} / nd.n
               + {damping!r} * coalesce(c.s, 0) as rank, nd.n
      from nodes_n nd
      left join (
        select e.id, e.dst as token, sum(r.rank * e.w / o.out_s) as s
        from edges e
        join {prev} r on r.id = e.id and r.token = e.src
        join outs o on o.id = e.id and o.src = e.src
        group by 1, 2
      ) c on c.id = nd.id and c.token = nd.token
    )""")
    it_block = ",\n    ".join(it_ctes)
    return f"""
    with t as (
      select doc_id as id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) >= {min_len}) as l
      from documents where doc_id < 80
    ),
    tok as (
      select id, i as pos, l[i] as src, l
      from t, unnest(range(1, len(l) + 1)) as u(i)
    ),
    pairs as (
      select id, src, l[j] as dst
      from tok,
           unnest(range(greatest(pos - {window}, 1),
                        least(pos + {window}, len(l)) + 1)) as v(j)
      where j != pos and l[j] != src
    ),
    edges as (
      select id, src, dst, count(*)::DOUBLE as w
      from pairs group by 1, 2, 3
    ),
    outs as (select id, src, sum(w) as out_s from edges group by 1, 2),
    nodes as (select distinct id, src as token from tok),
    nodes_n as (
      select nodes.id, token, n
      from nodes join (select id, count(*) as n from nodes group by 1) nn
        using (id)
    ),
    r0 as (select id, token, 1.0 / n as rank, n from nodes_n),
    {it_block}
    select id, token, round(rank + 1e-12, 8) as rank, rn from (
      select id, token, rank,
             row_number() over (
               partition by id
               order by round(rank + 1e-12, 8) desc, token) as rn
      from r{iterations}
    ) where rn <= {top_k}
"""


ORACLES["q_textrank"] = _textrank_oracle_sql()


def _textrank_sents_oracle_sql(iterations: int = 3, damping: float = 0.85,
                               top_k: int = 3, min_tokens: int = 3) -> str:
    it_ctes = []
    for i in range(1, iterations + 1):
        prev = f"r{i - 1}"
        it_ctes.append(f"""r{i} as (
      select nd.id, nd.sidx,
             {1.0 - damping!r} / nd.n
               + {damping!r} * coalesce(c.s, 0) as rank, nd.n
      from nodes_n nd
      left join (
        select e.id, e.dst as sidx, sum(r.rank * e.w / o.out_s) as s
        from edges e
        join {prev} r on r.id = e.id and r.sidx = e.src
        join outs o on o.id = e.id and o.src = e.src
        group by 1, 2
      ) c on c.id = nd.id and c.sidx = nd.sidx
    )""")
    it_block = ",\n    ".join(it_ctes)
    return f"""
    with base as (
      select doc_id as id,
             regexp_replace(text, '([.!?])\\s+', '\\1' || chr(1), 'g')
               as marked
      from documents where doc_id < 60
    ),
    parts as (
      select id, i - 1 as sidx, trim(l[i]) as sentence
      from (select id, string_split(marked, chr(1)) as l from base),
           unnest(range(1, len(l) + 1)) as u(i)
    ),
    qual as (
      select * from (
        select id, sidx, sentence,
               list_distinct(list_filter(
                 string_split_regex(lower(sentence), '[^a-z0-9]+'),
                 x -> length(x) > 1)) as toks
        from parts where length(sentence) > 0
      ) where len(toks) >= {min_tokens}
    ),
    tok as (
      select id, sidx, len(toks) as n_toks, unnest(toks) as t from qual
    ),
    half as (
      select a.id, a.sidx as sa, b.sidx as sb,
             count(*) / (ln(a.n_toks) + ln(b.n_toks)) as w
      from tok a
      join tok b on a.id = b.id and a.t = b.t and a.sidx < b.sidx
      group by a.id, a.sidx, b.sidx, a.n_toks, b.n_toks
    ),
    edges as (
      select id, sa as src, sb as dst, w from half
      union all
      select id, sb as src, sa as dst, w from half
    ),
    outs as (select id, src, sum(w) as out_s from edges group by 1, 2),
    nodes as (select id, sidx, sentence from qual),
    nodes_n as (
      select nodes.id, sidx, sentence, n
      from nodes join (select id, count(*) as n from nodes group by 1) nn
        using (id)
    ),
    r0 as (select id, sidx, 1.0 / n as rank from nodes_n),
    {it_block}
    select id, sidx, sentence, round(rank + 1e-12, 8) as rank, rn from (
      select r.id, r.sidx, nd.sentence, r.rank,
             row_number() over (
               partition by r.id
               order by round(r.rank + 1e-12, 8) desc, r.sidx) as rn
      from r{iterations} r
      join nodes nd on nd.id = r.id and nd.sidx = r.sidx
    ) where rn <= {top_k}
"""


ORACLES["q_textrank_sents"] = _textrank_sents_oracle_sql()

def _unigram_prefix_sql(doc_cap: int, max_piece: int = 4,
                        extra_pieces: int = 48) -> str:
    """Shared CTE prefix: corpus words + seeded unigram vocabulary with
    integer micro-nat costs (mirrors bpe.unigram_seed_vocab)."""
    return f"""
    words as materialized (
      select word, count(*)::BIGINT as freq from (
        select unnest(list_filter(
          string_split_regex(lower(text), '[^a-z0-9]+'),
          x -> length(x) > 0)) as word
        from documents where doc_id < {doc_cap}
      ) group by word
    ),
    subs as (
      select piece, sum(freq)::BIGINT as count from (
        select substr(word, s.i, l.j) as piece, freq
        from words,
             unnest(range(1, length(word) + 1)) as s(i),
             unnest(range(1, least({max_piece},
                                   length(word) - i + 1) + 1)) as l(j)
      ) group by piece
    ),
    vocab0 as (
      select piece, count from subs where length(piece) = 1
      union all
      select piece, count from (
        select piece, count,
               row_number() over (order by count desc, piece) as rn
        from subs where length(piece) > 1
      ) where rn <= {extra_pieces}
    ),
    vocab as materialized (
      select piece, count,
             round(-ln(count / (select sum(count) from vocab0)) * 1e6)
               ::BIGINT as cost
      from vocab0
    )"""


def _unigram_dp_sql(max_len: int, max_piece: int = 4,
                    words_cte: str = "gatewords") -> str:
    """Unrolled min-plus Viterbi DP over positions 1..max_len: best{{i}}
    = argmin over j of best{{j}} + cost(word[j+1 .. i]), argmin keyed by
    zero-padded cost || '|' || path (== the pandas (cost, path) tuple
    order: costs are fixed-width non-negative integers, paths ASCII)."""
    ctes = [f"best0 as materialized (select word, 0::BIGINT as cost, "
            f"'' as path from {words_cte})"]
    for i in range(1, max_len + 1):
        branches = []
        for j in range(max(0, i - max_piece), i):
            branches.append(f"""
        select b.word, b.cost + v.cost as cost,
               case when b.path = '' then v.piece
                    else b.path || ' ' || v.piece end as path
        from best{j} b
        join vocab v on v.piece = substr(b.word, {j + 1}, {i - j})
        where length(b.word) >= {i}""")
        union = " union all ".join(branches)
        ctes.append(f"""cand{i} as ({union}),
    best{i} as materialized (
      select word,
             arg_min(cost, printf('%012d', cost) || '|' || path) as cost,
             arg_min(path, printf('%012d', cost) || '|' || path) as path
      from cand{i} group by word
    )""")
    return ",\n    ".join(ctes)


def _unigram_segment_oracle_sql() -> str:
    dp = _unigram_dp_sql(12)
    finals = " union all ".join(
        f"select word, path, cost from best{i} where length(word) = {i}"
        for i in range(4, 13))
    return f"""
    with {_unigram_prefix_sql(200)},
    gatewords as (
      select word from words
      where length(word) between 4 and 12
        and ('0x' || substr(md5(word), 1, 15))::BIGINT % 2 = 0
    ),
    {dp},
    seg as ({finals})
    select word, path as pieces_str,
           len(string_split(path, ' '))::BIGINT as n_pieces, cost
    from seg
"""


def _unigram_em_oracle_sql() -> str:
    dp = _unigram_dp_sql(12, words_cte="gatewords")
    finals = " union all ".join(
        f"select word, path from best{i} where length(word) = {i}"
        for i in range(1, 13))
    return f"""
    with {_unigram_prefix_sql(120)},
    gatewords as (select word from words where length(word) <= 12),
    {dp},
    seg as ({finals})
    select piece, sum(freq)::BIGINT as new_count from (
      select unnest(string_split(s.path, ' ')) as piece, w.freq
      from seg s join words w using (word)
    ) group by piece
"""


ORACLES["q_unigram_segment"] = _unigram_segment_oracle_sql()
ORACLES["q_unigram_em"] = _unigram_em_oracle_sql()

_BLOCKLIST_PAT = (
    r"\b(" + "|".join(sorted(_BLOCKLIST_TERMS, key=lambda t: (-len(t), t)))
    + r")\b"
)
ORACLES["q_blocklist"] = f"""
    select doc_id,
           list_sort(list_distinct(
             regexp_extract_all(lower(text), '{_BLOCKLIST_PAT}', 1)))
             as blocklist_hits,
           len(regexp_extract_all(lower(text), '{_BLOCKLIST_PAT}', 1))
             as n_blocklist_hits,
           len(regexp_extract_all(lower(text), '{_BLOCKLIST_PAT}', 1)) = 0
             as blocklist_keep
    from documents where doc_id < 400
"""

ORACLES["q_blocklist_join"] = """
    with toks as (
      select doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') as ts
      from documents where doc_id < 400
    ),
    tp as (
      select doc_id, ts, u.pos as pos
      from toks, unnest(range(1, len(ts) + 1)) as u(pos)
    ),
    m as (
      -- verified token-level matches; the gate's terms share no words, so
      -- matches can never overlap and greedy resolution keeps all of them
      select doc_id, t.term
      from tp
      join (values ('hash join', ['hash','join']),
                   ('slow', ['slow']),
                   ('vector', ['vector'])) as t(term, tt)
        on ts[pos] = tt[1]
      where list_slice(ts, pos, pos + len(tt) - 1) = tt
    ),
    agg as (
      select doc_id, list_sort(list_distinct(list(term))) as hits,
             count(*) as n
      from m group by doc_id
    )
    select d.doc_id,
           coalesce(hits, []::VARCHAR[]) as blocklist_hits,
           coalesce(n, 0)::BIGINT as n_blocklist_hits,
           coalesce(n, 0) = 0 as blocklist_keep
    from (select doc_id from documents where doc_id < 400) d
    left join agg using (doc_id)
"""

ORACLES["q_langid"] = """
    with src as (
      select doc_id, lang, lower(substr(text, 1, 160)) as t
      from documents where doc_id < 500
    ),
    g as (
      select doc_id, lang,
             case when length(t) >= 3
                  then list_transform(range(1, length(t) - 1),
                                      i -> substr(t, i, 3))
                  when length(t) >= 1 then [t]
                  else []::VARCHAR[] end as gs
      from src
    ),
    tb as (
      select lang,
             ('0x'||substr(md5(unnest(gs)),1,15))::BIGINT % 4096 as bucket
      from g where doc_id < 300
    ),
    counts as (select lang, bucket, count(*) as c from tb group by 1, 2),
    lang_tot as (select lang, sum(c) as tot from counts group by 1),
    dc as (select lang, count(*) as n_docs
           from src where doc_id < 300 group by 1),
    nall as (select sum(n_docs) as n_all from dc),
    langs as (
      select l.lang, tot,
             round(-ln(n_docs / n_all) * 1e6)::BIGINT as prior_cost,
             round(-ln(1.0 / (tot + 4096.0)) * 1e6)::BIGINT as default_cost
      from lang_tot l join dc using (lang) cross join nall
    ),
    bks as (select distinct bucket from counts),
    dense as (
      select l.lang, b.bucket,
             round(-ln((coalesce(c.c, 0) + 1.0) / (l.tot + 4096.0))
                   * 1e6)::BIGINT as cost
      from bks b cross join langs l
      left join counts c on c.lang = l.lang and c.bucket = b.bucket
    ),
    sb as (
      select doc_id,
             ('0x'||substr(md5(unnest(gs)),1,15))::BIGINT % 4096 as bucket
      from g
    ),
    bc as (select doc_id, bucket, count(*) as cnt from sb group by 1, 2),
    tot_g as (
      select s.doc_id, coalesce(sum(cnt), 0)::BIGINT as n_grams
      from (select distinct doc_id from src) s
      left join bc using (doc_id) group by 1
    ),
    m as (
      select doc_id, lang, sum(cnt * cost)::BIGINT as m_cost,
             sum(cnt)::BIGINT as m_cnt
      from bc join dense using (bucket) group by 1, 2
    ),
    sc as (
      select t.doc_id, l.lang, t.n_grams,
             (l.prior_cost + coalesce(m.m_cost, 0)
              + (t.n_grams - coalesce(m.m_cnt, 0)) * l.default_cost
             )::BIGINT as total_cost
      from tot_g t cross join langs l
      left join m on m.doc_id = t.doc_id and m.lang = l.lang
    ),
    r as (
      select *,
             row_number() over (partition by doc_id
                                order by total_cost, lang) as rn,
             lead(total_cost) over (partition by doc_id
                                    order by total_cost, lang) as nxt
      from sc
    )
    select doc_id, lang as pred_lang, total_cost as cost_micro,
           (nxt - total_cost)::BIGINT as margin_micro, n_grams
    from r where rn = 1
"""

ORACLES["q_kwic"] = """
    with t as (
      select doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 1) as l
      from documents where doc_id < 300
    ),
    hit as (
      select doc_id, i - 1 as pos, l
      from t, unnest(range(1, len(l) + 1)) as u(i)
      where l[i] = 'table'
    )
    select doc_id, pos::BIGINT as pos,
           array_to_string(l[greatest(pos + 1 - 3, 1) : pos + 1 + 3],
                           ' ') as snippet
    from hit
"""

ORACLES["q_index_update"] = """
    with corpus as (
      select doc_id,
             case when doc_id between 100 and 149
                  then text || ' refreshmarker refreshmarker'
                  else text end as text
      from documents
      where doc_id < 200 and doc_id not between 150 and 159
    ),
    t as (
      select doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 1) as l
      from corpus
    ),
    tok as (select doc_id, l[i] as term, i - 1 as pos
            from t, unnest(range(1, len(l) + 1)) as u(i)),
    p as (select term, doc_id, count(*) as tf,
                 string_agg(pos::VARCHAR, ',' order by pos) as pos_csv
          from tok group by 1, 2),
    d as (select term, count(*) as df, sum(tf) as cf from p group by 1)
    select p.term, p.doc_id, p.tf::BIGINT as tf, d.df::BIGINT as df,
           d.cf::BIGINT as cf, p.pos_csv
    from p join d using (term)
"""

ORACLES["q_cc_index"] = """
    select 'com,example)/p/' || doc_id as urlkey,
           'https://example.com/p/' || doc_id as url,
           strptime('2025'
                    || lpad((doc_id % 12 + 1)::VARCHAR, 2, '0')
                    || lpad((doc_id % 28 + 1)::VARCHAR, 2, '0')
                    || lpad((doc_id % 24)::VARCHAR, 2, '0')
                    || lpad((doc_id % 60)::VARCHAR, 2, '0')
                    || lpad((doc_id % 60)::VARCHAR, 2, '0'),
                    '%Y%m%d%H%M%S') as capture_ts,
           'crawl-data/seg-' || ((doc_id + 1) % 7) || '.warc.gz'
             as warc_filename,
           (doc_id * 2000)::BIGINT as warc_offset,
           (doc_id % 1000 + 200)::BIGINT as warc_length
    from documents
    where doc_id < 300 and doc_id % 10 <> 0
"""

ORACLES["q_proximity"] = """
    with t as (
      select doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 1) as l
      from documents where doc_id < 300
    ),
    tok as (select doc_id, l[i] as term, i - 1 as pos
            from t, unnest(range(1, len(l) + 1)) as u(i)),
    pa as (select doc_id, pos as p1 from tok where term = 'table'),
    pb as (select doc_id, pos as p2 from tok where term = 'query'),
    pairs as (
      select pa.doc_id, abs(pa.p1 - pb.p2) as d
      from pa join pb using (doc_id)
    )
    select doc_id, min(d)::INT as min_dist,
           sum(case when d <= 8 then 1 else 0 end)::BIGINT as n_pairs_within
    from pairs group by doc_id having min(d) <= 8
"""

ORACLES["q_ql_retrieval"] = """
    with t as (
      select doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 1) as l
      from documents where doc_id < 300
    ),
    tok as (select doc_id, unnest(l) as term from t),
    p as (select term, doc_id, count(*) as tf from tok group by 1, 2),
    dl as (select doc_id, sum(tf) as dl from p group by 1),
    d as (select term, sum(tf) as cf from p group by 1),
    c as (select sum(cf)::DOUBLE as c_total from d),
    m as (
      select p.doc_id,
             sum(ln(1.0 + p.tf / (2000.0 * d.cf / c.c_total))) as match_ll,
             count(*)::BIGINT as n_terms
      from p join d using (term) cross join c
      where p.term in ('spark', 'table', 'query')
      group by p.doc_id
    )
    select m.doc_id,
           round(m.match_ll + 3.0 * ln(2000.0 / (dl.dl + 2000.0)), 4) as ql,
           m.n_terms
    from m join dl using (doc_id)
"""

ORACLES["q_tfidf_keywords"] = """
    with t as (
      select doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 1) as l
      from documents where doc_id < 200
    ),
    tok as (select doc_id, unnest(l) as term from t),
    p as (select doc_id, term, count(*) as tf from tok group by 1, 2),
    dl as (select doc_id, sum(tf) as dl from p group by 1),
    d as (select term, count(*) as df from p group by 1),
    nd as (select count(*)::DOUBLE as n from dl),
    w as (
      select p.doc_id, p.term, p.tf, d.df,
             (p.tf::DOUBLE / dl.dl)
             * (ln((1.0 + nd.n) / (1.0 + d.df)) + 1.0) as tfidf
      from p join d using (term) join dl using (doc_id) cross join nd
    ),
    r as (select *, row_number() over
            (partition by doc_id order by tfidf desc, term) as rank
          from w)
    select doc_id, term, tf::BIGINT as tf, df::BIGINT as df,
           round(tfidf, 4) as tfidf, rank::BIGINT as rank
    from r where rank <= 5
"""

ORACLES["q_pmi_collocations"] = """
    with t as (
      select doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 1) as l
      from documents where doc_id < 400
    ),
    bg as (select l[i] as w1, l[i+1] as w2
           from t, unnest(range(1, len(l))) as u(i)),
    pairs as (select w1, w2, count(*) as c12 from bg group by 1, 2),
    lm as (select w1, sum(c12) as c1 from pairs group by 1),
    rm as (select w2, sum(c12) as c2 from pairs group by 1),
    n as (select sum(c12)::DOUBLE as n_bg from pairs)
    select p.w1, p.w2, p.c12::BIGINT as c12, lm.c1::BIGINT as c1,
           rm.c2::BIGINT as c2,
           round(ln(p.c12 * n.n_bg / (lm.c1 * rm.c2)), 4) + 0.0 as pmi
    from pairs p join lm using (w1) join rm using (w2) cross join n
    where p.c12 >= 5
"""

ORACLES["q_kn_bigram"] = """
    with rt as (
      select list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 1) as l
      from documents where doc_id % 5 = 0 and doc_id < 1000
    ),
    rbg as (select l[i] as w1, l[i+1] as w2
            from rt, unnest(range(1, len(l))) as u(i)),
    pairs as (select w1, w2, count(*) as c12 from rbg group by 1, 2),
    bo as (select w1, sum(c12) as c1, count(*) as n1p_right
           from pairs group by 1),
    cont as (select w2, count(*) as n1p_left from pairs group by 1),
    scal as (select count(*) as n_types from pairs),
    tgt as (select doc_id, text from documents
            where doc_id % 5 = 1 and doc_id < 500),
    tt as (select doc_id,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> length(x) > 1) as l
           from tgt),
    tbg as (select doc_id, l[i] as w1, l[i+1] as w2
            from tt, unnest(range(1, len(l))) as u(i)),
    j as (
      select t.doc_id,
             case when bo.c1 is not null then
               (greatest(coalesce(p.c12, 0) - 0.75, 0.0)
                + 0.75 * bo.n1p_right
                  * (coalesce(cont.n1p_left, 0.75) / scal.n_types)) / bo.c1
             else coalesce(cont.n1p_left, 0.75) / scal.n_types end as p
      from tbg t
      left join pairs p using (w1, w2)
      left join bo using (w1)
      left join cont using (w2)
      cross join scal
    ),
    agg as (select doc_id, count(*) as n_bigrams, -avg(ln(p)) as avg_nll
            from j group by 1)
    select d.doc_id, coalesce(agg.n_bigrams, 0)::BIGINT as n_bigrams,
           round(coalesce(agg.avg_nll, 0.0) + 1e-9, 6) as avg_nll
    from tgt d left join agg using (doc_id)
"""

ORACLES["q_lm_score"] = """
    with ref_toks as (
      select unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> length(x) > 1)) as term
      from documents where doc_id < 300
    ),
    counts as (select term, count(*) as c from ref_toks group by term),
    scal as (select sum(c) as total, count(*) as vocab from counts),
    lm as (
      select term, ln((c + 1.0) / (total + vocab)) as logp
      from counts cross join scal
    ),
    doc_toks as (
      select doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> length(x) > 1)) as term
      from documents where doc_id < 500
    ),
    scored as (
      select d.doc_id,
             coalesce(lm.logp, ln(1.0 / (scal.total + scal.vocab))) as logp
      from doc_toks d cross join scal left join lm on lm.term = d.term
    ),
    agg as (
      select doc_id, count(*) as n_tokens, -avg(logp) as avg_nll
      from scored group by doc_id
    )
    select docs.doc_id,
           coalesce(agg.n_tokens, 0)::BIGINT as n_tokens,
           round(coalesce(agg.avg_nll, 0.0) + 1e-9, 6) as avg_nll
    from (select doc_id from documents where doc_id < 500) docs
    left join agg on agg.doc_id = docs.doc_id
"""

ORACLES["q_classifier_score"] = """
    with feats_src as (
      select doc_id, (lang = 'en') as label,
             list_filter(string_split_regex(lower(substr(text, 1, 240)),
                                            '[^a-z0-9]+'),
                         x -> length(x) > 1) as ts
      from documents
    ),
    with_f as (
      select doc_id, label,
             list_concat(ts, list_transform(ts[2:],
                                            (x,i) -> ts[i] || '_' || x)) as fs
      from feats_src
    ),
    train_b as (
      select label,
             ('0x'||substr(md5(unnest(fs)),1,15))::BIGINT % 4096 as bucket
      from with_f where doc_id < 300
    ),
    counts as (
      select bucket,
             sum(case when label then 1 else 0 end) as good_c,
             sum(case when label then 0 else 1 end) as bad_c
      from train_b group by bucket
    ),
    scal as (select sum(good_c) as gt, sum(bad_c) as bt from counts),
    model as (
      select bucket,
             ln((good_c + 1.0) / (gt + 4096.0))
               - ln((bad_c + 1.0) / (bt + 4096.0)) as log_odds
      from counts cross join scal
    ),
    score_b as (
      select doc_id,
             ('0x'||substr(md5(unnest(fs)),1,15))::BIGINT % 4096 as bucket
      from with_f where doc_id < 500
    ),
    scored as (
      select s.doc_id,
             coalesce(m.log_odds,
                      ln((scal.bt + 4096.0) / (scal.gt + 4096.0))) as log_odds
      from score_b s cross join scal left join model m using (bucket)
    ),
    agg as (
      select doc_id, count(*) as n_features, avg(log_odds) as clf_score
      from scored group by doc_id
    )
    select d.doc_id, coalesce(agg.n_features, 0)::BIGINT as n_features,
           round(coalesce(agg.clf_score, 0.0) + 1e-9, 6) as clf_score
    from (select doc_id from documents where doc_id < 500) d
    left join agg using (doc_id)
"""

_DSIR_WEIGHTS_CTE = """
    feats_src as (
      select doc_id, lang,
             list_filter(string_split_regex(lower(substr(text, 1, 240)),
                                            '[^a-z0-9]+'),
                         x -> length(x) > 1) as ts
      from documents where doc_id < 500
    ),
    with_f as (
      select doc_id, lang,
             list_concat(ts, list_transform(ts[2:],
                                            (x,i) -> ts[i] || '_' || x)) as fs
      from feats_src
    ),
    t_b as (
      select ('0x'||substr(md5(unnest(fs)),1,15))::BIGINT % 4096 as bucket
      from with_f where lang = 'en' and doc_id < 300
    ),
    r_b as (
      select doc_id,
             ('0x'||substr(md5(unnest(fs)),1,15))::BIGINT % 4096 as bucket
      from with_f
    ),
    tc as (select bucket, count(*) as t_c from t_b group by bucket),
    rc as (select bucket, count(*) as r_c from r_b group by bucket),
    buckets as (
      select coalesce(tc.bucket, rc.bucket) as bucket,
             coalesce(t_c, 0) as t_c, coalesce(r_c, 0) as r_c
      from tc full outer join rc on tc.bucket = rc.bucket
    ),
    scal as (select sum(t_c) as tt, sum(r_c) as rt from buckets),
    ratios as (
      select bucket,
             ln((t_c + 1.0) / (tt + 4096.0))
               - ln((r_c + 1.0) / (rt + 4096.0)) as log_ratio
      from buckets cross join scal
    ),
    agg as (
      select r.doc_id, count(*) as n_features,
             sum(log_ratio) as log_weight
      from r_b r join ratios using (bucket)
      group by r.doc_id
    ),
    weights as (
      select d.doc_id,
             coalesce(agg.n_features, 0)::BIGINT as n_features,
             coalesce(agg.log_weight, 0.0) as log_weight
      from (select doc_id from documents where doc_id < 500) d
      left join agg using (doc_id)
    )
"""

ORACLES["q_dsir"] = f"""
    with {_DSIR_WEIGHTS_CTE}
    select doc_id, n_features,
           round(log_weight + 1e-9, 6) as log_weight
    from weights
"""

ORACLES["q_dsir_sample"] = f"""
    with {_DSIR_WEIGHTS_CTE},
    keyed as (
      select doc_id, n_features, log_weight,
             round(log_weight - ln(-ln(
               ((('0x'||substr(md5('dsir-v1-g-'||doc_id),1,15))::BIGINT
                 % 1073741824) + 0.5) / 1073741824.0)), 6) as gumbel_key
      from weights
    ),
    ranked as (
      select *, row_number() over (order by gumbel_key desc, doc_id asc)
               as rn
      from keyed
    )
    select doc_id, n_features,
           round(log_weight + 1e-9, 6) as log_weight,
           round(gumbel_key + 1e-9, 6) as gumbel_key
    from ranked where rn <= 100
"""

ORACLES["q_semantic_decontam"] = """
    with bench as (
      select embedding from embeddings where vec_id < 20
    ),
    corpus as (
      select vec_id as id, embedding from embeddings
      where vec_id >= 100 and vec_id < 400
    ),
    scored as (
      select c.id,
             list_dot_product(c.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
               as cos
      from corpus c cross join bench b
    )
    select id,
           round(max(cos) + 1e-9, 6) as max_bench_cosine,
           sum(case when cos >= 0.3 then 1 else 0 end)::BIGINT
             as n_bench_hits,
           sum(case when cos >= 0.3 then 1 else 0 end) > 0
             as semantically_contaminated
    from scored group by id
"""

ORACLES["q_corpus_report"] = f"""
    with corpus as (
      select doc_id, text, lang from documents
      union all
      select doc_id + 500000, text, lang from documents where doc_id % 10 = 0
    ),
    base as (
      select coalesce(lang, '??') as lang,
             case when length(trim(text)) = 0 then 0
                  else len(regexp_split_to_array(trim(text), '\\s+')) end
               as tok,
             {_QUALITY_RAW_SQL} as q,
             md5({_NORM_TEXT_SQL}) as fp
      from corpus
    )
    select coalesce(lang, 'ALL') as lang,
           count(*) as n_docs,
           sum(tok) as n_tokens,
           round(avg(q) + 1e-9, 4) as avg_quality,
           count(distinct fp) as distinct_fp,
           round(1.0 - count(distinct fp) / count(*) + 1e-9, 4) as dup_rate
    from base group by rollup(lang)
"""

ORACLES["q_token_budget"] = """
    with d as (
      select doc_id,
             ((doc_id * 7919) % 1000) / 1000.0 as quality,
             50 + doc_id % 100 as n_tokens
      from documents where doc_id < 500
    ),
    b as (
      select doc_id, n_tokens,
             least(999, greatest(0, floor(quality * 1000)::INT)) as qbucket
      from d
    ),
    bt as (select qbucket, sum(n_tokens) as btok from b group by qbucket),
    ct as (
      select qbucket, btok,
             coalesce(sum(btok) over (order by qbucket desc
                      rows between unbounded preceding and 1 preceding), 0)
               as cumb
      from bt
    ),
    thr as (
      select qbucket,
             floor(case when cumb + btok <= 12000 then 1.0
                        when cumb >= 12000 then 0.0
                        else (12000.0 - cumb) / btok end
                   * 1000000)::BIGINT as thr
      from ct
    )
    select b.doc_id, b.n_tokens, b.qbucket
    from b join thr using (qbucket)
    where ('0x' || substr(md5('budget-v1' || b.doc_id), 1, 15))::BIGINT
          % 1000000 < thr
"""

ORACLES["q_mirror_hosts"] = """
    with d as (select * from documents where doc_id < 400),
    hf as (
      select distinct host, fp from (
        select source || '.com' as host, md5(text) as fp from d
        union all
        select source || '-mirror.com' as host, md5(text) as fp
        from d where doc_id % 2 = 0
      )
    ),
    sizes as (select host, count(*) as n from hf group by host),
    ok_fp as (
      select fp from hf group by fp having count(*) between 2 and 20
    ),
    pairs as (
      select a.host as host_a, b.host as host_b
      from hf a join hf b using (fp) join ok_fp using (fp)
      where a.host < b.host
    ),
    shared as (
      select host_a, host_b, count(*) as shared from pairs group by 1, 2
    )
    select s.host_a, s.host_b, s.shared,
           round(s.shared / least(na.n, nb.n) + 1e-9, 6) as frac
    from shared s
    join sizes na on na.host = s.host_a
    join sizes nb on nb.host = s.host_b
    where s.shared >= 3
      and round(s.shared / least(na.n, nb.n) + 1e-9, 6) >= 0.5
"""

ORACLES["q_crawl_delay_budget"] = """
    with d as (select doc_id from documents where doc_id < 100),
    r as (
      select 'd' || doc_id || '.com' as registrable_domain,
             case when doc_id % 4 = 0 then null
                  else (doc_id % 9 + 1)::DOUBLE end as crawl_delay
      from d
    )
    select registrable_domain, crawl_delay,
           greatest(1, floor(30.0 / greatest(2.0, least(crawl_delay, 60.0))))::INT
             as budget
    from r where crawl_delay is not null
"""

ORACLES["q_url_blocklist"] = """
    with urls as (
      select doc_id,
        'https://' || source || '.com/'
          || case when doc_id % 7 = 0 then 'free-casino-poker/'
                  when doc_id % 5 = 0 then 'news-casino/'
                  else 'articles/' end
          || doc_id as url_canon,
        source || '.com' as registrable_domain
      from documents where doc_id < 400
    ),
    bl as (select * from (values ('src3.com'), ('src7.com')) t(domain))
    select u.doc_id, u.url_canon, u.registrable_domain,
      (b.domain is not null) as domain_blocked,
      (case when contains(lower(u.url_canon), 'casino') then 1 else 0 end
       + case when contains(lower(u.url_canon), 'poker') then 1 else 0 end)
        as kw_hits,
      ((b.domain is not null)
       or (case when contains(lower(u.url_canon), 'casino') then 1 else 0 end
           + case when contains(lower(u.url_canon), 'poker') then 1 else 0 end)
          >= 2) as url_blocked
    from urls u left join bl b on b.domain = u.registrable_domain
"""

ORACLES["q_ccnet_buckets"] = """
    with ref_toks as (
      select unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> length(x) > 1)) as term
      from documents where doc_id < 300
    ),
    counts as (select term, count(*) as c from ref_toks group by term),
    scal as (select sum(c) as total, count(*) as vocab from counts),
    lm as (
      select term, ln((c + 1.0) / (total + vocab)) as logp
      from counts cross join scal
    ),
    doc_toks as (
      select doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> length(x) > 1)) as term
      from documents where doc_id < 500
    ),
    scored as (
      select d.doc_id,
             coalesce(lm.logp, ln(1.0 / (scal.total + scal.vocab))) as logp
      from doc_toks d cross join scal left join lm on lm.term = d.term
    ),
    agg as (
      select doc_id, -avg(logp) as avg_nll from scored group by doc_id
    ),
    nlls as (
      select docs.doc_id, docs.lang,
             round(coalesce(agg.avg_nll, 0.0) + 1e-9, 6) as avg_nll
      from (select doc_id, lang from documents where doc_id < 500) docs
      left join agg on agg.doc_id = docs.doc_id
    ),
    th as (
      select lang,
             quantile_cont(avg_nll, 1.0/3) as head_max,
             quantile_cont(avg_nll, 2.0/3) as middle_max
      from nlls group by lang
    )
    select n.doc_id, n.lang, n.avg_nll,
           case when n.avg_nll <= t.head_max then 'head'
                when n.avg_nll <= t.middle_max then 'middle'
                else 'tail' end as bucket
    from nlls n join th t using (lang)
"""

ORACLES["q_mixture_sample"] = """
    with counts as (select lang, count(*) as n_g from documents group by lang),
    scal as (select sum(sqrt(n_g)) as z, sum(n_g) as n_total from counts),
    rates as (
      select lang,
             round(least(1.0, 0.4 * n_total * sqrt(n_g) / z / n_g)
                   * 1000000)::BIGINT as thr
      from counts cross join scal
    )
    select d.doc_id, d.lang
    from documents d join rates using (lang)
    where ('0x'||substr(md5('mix-t1'||d.doc_id),1,15))::BIGINT % 1000000 < thr
"""

ORACLES["q_shuffle_shards"] = """
    with h as (
      select doc_id,
             ('0x'||substr(md5('shuf-v1-s-'||doc_id),1,15))::BIGINT % 8
               as shard,
             ('0x'||substr(md5('shuf-v1-o-'||doc_id),1,15))::BIGINT as ord_key
      from documents where doc_id < 500
    )
    select doc_id, shard,
           row_number() over (partition by shard order by ord_key, doc_id)
             as pos
    from h
"""

ORACLES["q_pii_redact"] = _pii_oracle_sql()

ORACLES["q_pagination"] = """
    select 'https://p.com/list/' || doc_id as url,
           case when doc_id % 3 <> 2
                then 'https://p.com/list/' || (doc_id + 1) end as next_url,
           case when doc_id % 3 <> 0
                then 'https://p.com/list/' || (doc_id - 1) end as prev_url
    from documents where doc_id < 400
"""

ORACLES["q_meta_refresh"] = """
    select 'https://mr.com/' || doc_id as url, 301 as status_code,
           'https://mr.com/new/' || doc_id as redirect_to
    from documents where doc_id < 400 and doc_id % 3 = 0
"""

ORACLES["q_hreflang"] = """
    select 'https://m.com/' || doc_id as url, 0 as alt_index,
           'en' as hreflang, 'https://m.com/en/' || doc_id as alt_url
    from documents where doc_id < 400
    union all
    select 'https://m.com/' || doc_id, 1, lang,
           'https://m.com/' || lang || '/' || doc_id
    from documents where doc_id < 400 and lang <> 'en'
"""

ORACLES["q_crawl_traps"] = """
    with u as (
      select case doc_id % 4
        when 0 then 'https://trap.example.com/cal?d=2024-01-' || doc_id
        when 1 then 'https://shop.example.com/product/' || (doc_id % 80)
        when 2 then 'https://forum.example.com/t/x?sid=' || md5(doc_id::VARCHAR)
        else 'https://blog.example.com/post-' || (doc_id % 10)
      end as url
      from documents where doc_id < 500
    ),
    per as (
      select lower(regexp_extract(url, 'https?://([^/:]+)', 1)) as host,
             regexp_replace(
               regexp_replace(url, '[0-9a-f]{8,}', '{H}', 'g'),
               '\\d+', '{N}', 'g') as template,
             count(distinct url)::BIGINT as n_urls
      from u group by 1, 2
    ),
    tot as (select host, sum(n_urls)::BIGINT as host_total
            from per group by host)
    select per.host, template, n_urls, host_total,
           round(n_urls / host_total::DOUBLE + 1e-9, 6) as url_share,
           (n_urls >= 30 and n_urls / host_total::DOUBLE >= 0.5) as is_trap
    from per join tot on tot.host = per.host
"""

ORACLES["q_outdegree"] = """
    with l as (
      select 'https://h' || (doc_id % 10) || '.com/p/' || doc_id as url,
             case when doc_id % 4 = 0
                  then 'https://h' || (doc_id % 10) || '.com/q/' || doc_id
                  else 'https://ext' || (doc_id % 25) || '.org/x' end as href
      from documents where doc_id < 500
    ),
    e as (
      select lower(regexp_extract(url, 'https?://([^/:]+)', 1)) as s,
             lower(regexp_extract(href, 'https?://([^/:]+)', 1)) as d
      from l
    )
    select s as src_host, count(*)::BIGINT as n_outlinks,
           count(distinct d)::BIGINT as n_distinct_hosts,
           round(avg(case when d <> s then 1.0 else 0.0 end) + 1e-9, 6)
             as external_frac
    from e where s <> '' and d <> '' group by s
"""

ORACLES["q_url_templates"] = """
    with u as (
      select case doc_id % 3
        when 0 then 'https://s.com/product/' || doc_id
        when 1 then 'https://s.com/page?p=' || (doc_id % 50) || '&y=2024'
        else 'https://s.com/' || source || '/post-' || doc_id
      end as url
      from documents where doc_id < 500
    )
    select regexp_replace(url, '\\d+', '{N}', 'g') as template,
           count(*)::BIGINT as n_urls, min(url) as example_url
    from u group by 1
"""

ORACLES["q_anchor_stats"] = """
    with links as (
      select 'https://t.com/' || (doc_id % 40) as href,
             'anchor ' || (doc_id % 7) as anchor
      from documents where doc_id < 500
    ),
    per as (select href, anchor, count(*) as n from links group by 1, 2),
    ranked as (
      select href, anchor, n,
             row_number() over (partition by href
                                order by n desc, anchor asc) as rn
      from per
    ),
    top as (
      select href, string_agg(anchor, '|' order by rn) as top_anchors
      from ranked where rn <= 3 group by href
    ),
    tot as (
      select href, sum(n)::BIGINT as n_incoming,
             count(*)::BIGINT as n_unique_anchors
      from per group by href
    )
    select tot.href, n_incoming, n_unique_anchors, top_anchors
    from tot join top using (href)
"""

ORACLES["q_redirects"] = """
    with base as (
      select doc_id, doc_id % 4 as r, doc_id % 100 as h
      from documents where doc_id < 500
    )
    select 'https://r.com/' || doc_id as url,
           case when h between 1 and 3
                then 'https://r.com/' || (doc_id - h + 1)
                else 'https://r.com/' || (doc_id - r) end as final_url,
           (case when h between 1 and 3 then 4 else r end)::INT as n_hops,
           not (h between 1 and 3) as resolved
    from base
"""

ORACLES["q_canonical_collapse"] = """
    with p as (
      select 'https://ex.com/p/' || doc_id as url,
             case when doc_id % 3 = 0 then 'https://ex.com/p/' || doc_id
                  else 'https://ex.com/p/' || (doc_id - doc_id % 3) end
               as canonical_url
      from documents where doc_id < 500
    )
    select url, canonical_url,
           url = min(url) over (partition by canonical_url)
             as is_canonical_rep
    from p
"""

ORACLES["q_robots_sitemaps"] = """
    with base as (
      select doc_id, source,
             'https://' || source || '-' || doc_id || '.com/robots.txt'
               as robots_url
      from documents where doc_id < 300
    )
    select robots_url, 0 as sitemap_index,
           'https://' || source || '.com/sitemap.xml' as sitemap_url
    from base
    union all
    select robots_url, 1 as sitemap_index,
           'https://cdn.' || source || '.com/s2.xml.gz' as sitemap_url
    from base where doc_id % 2 = 0
"""

ORACLES["q_crawl_diff"] = """
    select 'https://' || source || '.com/' || doc_id as url,
           case when doc_id < 50 then 'gone'
                when doc_id >= 450 then 'new'
                when doc_id % 3 = 0 then 'changed'
                else 'unchanged' end as change
    from documents where doc_id < 500
"""

ORACLES["q_revisit_priority"] = """
    with d as (
      select doc_id, source,
             case doc_id % 4 when 0 then 3 else 2 end as n_obs,
             case doc_id % 4 when 1 then 0 else 1 end as n_changed
      from documents where doc_id < 400
    )
    select 'https://' || source || '.com/' || doc_id as url,
           n_obs::BIGINT as n_obs, n_changed::BIGINT as n_changed,
           round((n_changed + 1.0) / (n_obs + 3.0) + 1e-9, 6) as change_rate,
           round(0.7 * ((n_changed + 1.0) / (n_obs + 3.0))
                 + 0.3 * ((doc_id % 10) / 10.0) + 1e-9, 6) as revisit_score
    from d
"""

ORACLES["q_trustrank"] = """
    with docs as (select doc_id from documents where doc_id < 400),
    edges as (
      select distinct src, dst from (
        select doc_id as src, (doc_id*7 + 1) % 400 as dst from docs
        union all
        select doc_id, (doc_id*13 + 2) % 400 from docs
      ) where src <> dst
    ),
    nodes as (
      select distinct node from (
        select src as node from edges union all select dst from edges)
    ),
    seedset as (
      select node from nodes
      where node in (select doc_id from docs where doc_id % 40 = 0)
    ),
    ns as (select count(*)::DOUBLE as n from seedset),
    tp as (select nodes.node,
                  case when s.node is not null then 1.0 / ns.n else 0 end as t
           from nodes cross join ns
           left join seedset s on s.node = nodes.node),
    deg as (select src, count(*) as d from edges group by src),
    r0 as (select node, t as rank from tp),
    c1 as (select e.dst as node, sum(r.rank / g.d) as s
           from edges e join r0 r on r.node = e.src
           join deg g on g.src = e.src group by e.dst),
    r1 as (select tp.node, 0.15 * tp.t + 0.85 * coalesce(c1.s, 0) as rank
           from tp left join c1 on c1.node = tp.node),
    c2 as (select e.dst as node, sum(r.rank / g.d) as s
           from edges e join r1 r on r.node = e.src
           join deg g on g.src = e.src group by e.dst),
    r2 as (select tp.node, 0.15 * tp.t + 0.85 * coalesce(c2.s, 0) as rank
           from tp left join c2 on c2.node = tp.node),
    c3 as (select e.dst as node, sum(r.rank / g.d) as s
           from edges e join r2 r on r.node = e.src
           join deg g on g.src = e.src group by e.dst),
    r3 as (select tp.node, 0.15 * tp.t + 0.85 * coalesce(c3.s, 0) as rank
           from tp left join c3 on c3.node = tp.node)
    select node, round(rank + 1e-12, 8) as rank from r3
"""

ORACLES["q_pagerank"] = """
    with docs as (select doc_id from documents where doc_id < 400),
    edges as (
      select distinct src, dst from (
        select doc_id as src, (doc_id*7 + 1) % 400 as dst from docs
        union all
        select doc_id, (doc_id*13 + 2) % 400 from docs
      ) where src <> dst
    ),
    nodes as (
      select distinct node from (
        select src as node from edges union all select dst from edges)
    ),
    nn as (select count(*)::DOUBLE as n from nodes),
    deg as (select src, count(*) as d from edges group by src),
    r0 as (select node, 1.0 / nn.n as rank from nodes cross join nn),
    c1 as (select e.dst as node, sum(r.rank / g.d) as s
           from edges e join r0 r on r.node = e.src
           join deg g on g.src = e.src group by e.dst),
    r1 as (select nodes.node, 0.15 / nn.n + 0.85 * coalesce(c1.s, 0) as rank
           from nodes cross join nn left join c1 on c1.node = nodes.node),
    c2 as (select e.dst as node, sum(r.rank / g.d) as s
           from edges e join r1 r on r.node = e.src
           join deg g on g.src = e.src group by e.dst),
    r2 as (select nodes.node, 0.15 / nn.n + 0.85 * coalesce(c2.s, 0) as rank
           from nodes cross join nn left join c2 on c2.node = nodes.node),
    c3 as (select e.dst as node, sum(r.rank / g.d) as s
           from edges e join r2 r on r.node = e.src
           join deg g on g.src = e.src group by e.dst),
    r3 as (select nodes.node, 0.15 / nn.n + 0.85 * coalesce(c3.s, 0) as rank
           from nodes cross join nn left join c3 on c3.node = nodes.node)
    select node, round(rank + 1e-12, 8) as rank from r3
"""

ORACLES["q_spam_mass"] = """
    with docs as (select doc_id from documents where doc_id < 200),
    edges as (
      select distinct src, dst from (
        select doc_id as src, (doc_id*7 + 1) % 200 as dst from docs
        union all
        select doc_id, (doc_id*13 + 2) % 200 from docs
      ) where src <> dst
    ),
    nodes as (
      select distinct node from (
        select src as node from edges union all select dst from edges)
    ),
    nn as (select count(*)::DOUBLE as n from nodes),
    deg as (select src, count(*) as d from edges group by src),
    -- plain PageRank, 3 unrolled iterations
    r0 as (select node, 1.0 / nn.n as rank from nodes cross join nn),
    c1 as (select e.dst as node, sum(r.rank / g.d) as s
           from edges e join r0 r on r.node = e.src
           join deg g on g.src = e.src group by e.dst),
    r1 as (select nodes.node, 0.15 / nn.n + 0.85 * coalesce(c1.s, 0) as rank
           from nodes cross join nn left join c1 on c1.node = nodes.node),
    c2 as (select e.dst as node, sum(r.rank / g.d) as s
           from edges e join r1 r on r.node = e.src
           join deg g on g.src = e.src group by e.dst),
    r2 as (select nodes.node, 0.15 / nn.n + 0.85 * coalesce(c2.s, 0) as rank
           from nodes cross join nn left join c2 on c2.node = nodes.node),
    -- TrustRank (teleport uniform over the good core), 3 iterations
    seedset as (
      select node from nodes
      where node in (select doc_id from docs where doc_id % 40 = 0)
    ),
    ns as (select count(*)::DOUBLE as n from seedset),
    tp as (select nodes.node,
                  case when s.node is not null then 1.0 / ns.n else 0 end as t
           from nodes cross join ns
           left join seedset s on s.node = nodes.node),
    t0 as (select node, t as rank from tp),
    d1 as (select e.dst as node, sum(r.rank / g.d) as s
           from edges e join t0 r on r.node = e.src
           join deg g on g.src = e.src group by e.dst),
    t1 as (select tp.node, 0.15 * tp.t + 0.85 * coalesce(d1.s, 0) as rank
           from tp left join d1 on d1.node = tp.node),
    d2 as (select e.dst as node, sum(r.rank / g.d) as s
           from edges e join t1 r on r.node = e.src
           join deg g on g.src = e.src group by e.dst),
    t2 as (select tp.node, 0.15 * tp.t + 0.85 * coalesce(d2.s, 0) as rank
           from tp left join d2 on d2.node = tp.node)
    select r2.node,
           round(r2.rank + 1e-12, 8) as pagerank,
           round(t2.rank * (ns.n / nn.n) + 1e-12, 8) as core_rank,
           round(least(greatest(
             (r2.rank - t2.rank * (ns.n / nn.n)) / r2.rank, 0.0), 1.0)
             + 1e-9, 6) as spam_mass
    from r2 join t2 on t2.node = r2.node
    cross join ns cross join nn
"""

ORACLES["q_graph_shape"] = """
    with docs as (select doc_id from documents where doc_id < 400),
    edges as (
      select distinct src, dst from (
        select doc_id as src, (doc_id*7 + 1) % 400 as dst from docs
        union all
        select doc_id, (doc_id*13 + 2) % 400 from docs
        union all
        select (doc_id*7 + 1) % 400, doc_id from docs where doc_id % 5 = 0
      ) where src <> dst
    ),
    outdeg as (select src, count(*)::DOUBLE as x from edges group by src),
    indeg as (select dst, count(*)::DOUBLE as y from edges group by dst),
    pairs as (
      select case when r.src is not null then 1 else 0 end as rev, o.x, i.y
      from edges e
      left join edges r on r.src = e.dst and r.dst = e.src
      join outdeg o on o.src = e.src
      join indeg i on i.dst = e.dst
    ),
    agg as (
      select count(*)::BIGINT as n_edges, sum(rev)::DOUBLE as nrev,
             sum(x) as sx, sum(y) as sy, sum(x*x) as sxx,
             sum(y*y) as syy, sum(x*y) as sxy
      from pairs
    ),
    nodes as (
      select count(*)::BIGINT as n_nodes from (
        select distinct node from (
          select src as node from edges union all select dst from edges))
    )
    select n_nodes, n_edges,
           round(nrev / n_edges + 1e-9, 6) as reciprocity,
           round(case when n_edges*sxx - sx*sx > 0
                       and n_edges*syy - sy*sy > 0
                 then (n_edges*sxy - sx*sy)
                      / sqrt((n_edges*sxx - sx*sx) * (n_edges*syy - sy*sy))
                 end + 1e-9, 6) as assortativity
    from agg, nodes
"""

ORACLES["q_good_turing"] = """
    with per_key as (
      select event_type, event_id % 1500 as key, count(*)::BIGINT as c
      from events group by 1, 2
    )
    select event_type,
           sum(c)::BIGINT as n_obs,
           count(*)::BIGINT as n_distinct,
           sum(case when c = 1 then 1 else 0 end)::BIGINT as f1,
           round(sum(case when c = 1 then 1 else 0 end)::DOUBLE / sum(c)
                 + 1e-9, 6) as unseen_mass,
           round(1.0 - sum(case when c = 1 then 1 else 0 end)::DOUBLE
                 / sum(c) + 1e-9, 6) as coverage
    from per_key group by event_type
"""

ORACLES["q_ucb_hosts"] = """
    with hist as (
      select 'h' || (user_id % 37)::VARCHAR as host,
             count(*)::BIGINT as n_fetches,
             round(sum(value), 6) as reward_sum
      from events group by 1
      union all
      select h, null::BIGINT, null::DOUBLE
      from (values ('new-a'), ('new-b'), ('new-c')) v(h)
    ),
    tot as (select greatest(coalesce(sum(n_fetches), 0), 1)::DOUBLE as N
            from hist),
    scored as (
      select host,
             coalesce(n_fetches, 0)::BIGINT as n_fetches,
             case when coalesce(n_fetches, 0) > 0
                  then reward_sum / n_fetches::DOUBLE end as mean_reward,
             case when coalesce(n_fetches, 0) > 0
                  then reward_sum / n_fetches::DOUBLE
                       + sqrt(2.0 * ln(tot.N) / n_fetches::DOUBLE)
             end as ucb_score,
             coalesce(n_fetches, 0) > 0 as explored
      from hist cross join tot
    )
    select host, n_fetches,
           round(mean_reward + 1e-9, 6) as mean_reward,
           round(ucb_score + 1e-9, 6) as ucb_score,
           explored
    from scored
    order by explored asc, ucb_score desc nulls first, host asc
    limit 15
"""

ORACLES["q_hits"] = """
    with docs as (select doc_id from documents where doc_id < 400),
    edges as (
      select distinct src, dst from (
        select doc_id as src, (doc_id*7 + 1) % 400 as dst from docs
        union all
        select doc_id, (doc_id*13 + 2) % 400 from docs
      ) where src <> dst
    ),
    nodes as (
      select distinct node from (
        select src as node from edges union all select dst from edges)
    ),
    s0 as (select node, 1.0 as hub from nodes),
    a1r as (select e.dst as node, sum(s.hub) as r
            from edges e join s0 s on s.node = e.src group by e.dst),
    a1z as (select sum(r) as z from a1r),
    a1 as (select nodes.node, coalesce(a1r.r, 0) / a1z.z as auth
           from nodes cross join a1z
           left join a1r on a1r.node = nodes.node),
    h1r as (select e.src as node, sum(a.auth) as r
            from edges e join a1 a on a.node = e.dst group by e.src),
    h1z as (select sum(r) as z from h1r),
    h1 as (select nodes.node, coalesce(h1r.r, 0) / h1z.z as hub
           from nodes cross join h1z
           left join h1r on h1r.node = nodes.node),
    a2r as (select e.dst as node, sum(h.hub) as r
            from edges e join h1 h on h.node = e.src group by e.dst),
    a2z as (select sum(r) as z from a2r),
    a2 as (select nodes.node, coalesce(a2r.r, 0) / a2z.z as auth
           from nodes cross join a2z
           left join a2r on a2r.node = nodes.node),
    h2r as (select e.src as node, sum(a.auth) as r
            from edges e join a2 a on a.node = e.dst group by e.src),
    h2z as (select sum(r) as z from h2r),
    h2 as (select nodes.node, coalesce(h2r.r, 0) / h2z.z as hub
           from nodes cross join h2z
           left join h2r on h2r.node = nodes.node)
    select h2.node,
           round(h2.hub + 1e-12, 8) as hub,
           round(a2.auth + 1e-12, 8) as auth
    from h2 join a2 on a2.node = h2.node
"""

ORACLES["q_hll_distinct"] = """
    with urls as (
      select 'https://h' || ((d.doc_id * 20 + t.i) % 3000 % 37)
             || '.com/p/' || ((d.doc_id * 20 + t.i) % 3000) as url
      from documents d, (select unnest(generate_series(0, 19)) as i) t
    ),
    hashed as (
      select ('0x' || substr(md5(url), 1, 15))::BIGINT as h from urls
    ),
    rows_ as (
      select h & 255 as register,
             (h >> 8) & 1048575 as w
      from hashed
    ),
    regs as (
      select register,
             max(case when w = 0 then 21 else 21 - length(bin(w)) end)
               as max_rho
      from rows_ group by register
    ),
    est as (
      select count(*) as n_hit,
             sum(power(2.0, -max_rho)) as s
      from regs
    ),
    ex as (select count(distinct url)::BIGINT as exact_distinct from urls),
    e2 as (
      select n_hit,
             case when 47072.71267120224 / (s + (256 - n_hit)) <= 640.0
                       and (256 - n_hit) > 0
                  then 256.0 * ln(256.0 / (256 - n_hit))
                  else 47072.71267120224 / (s + (256 - n_hit)) end
               as estimate
      from est
    )
    select r.register, r.max_rho,
           round(e2.estimate, 4) as estimate,
           ex.exact_distinct,
           round(abs(e2.estimate - ex.exact_distinct) / ex.exact_distinct, 4)
             as rel_error
    from regs r cross join e2 cross join ex
"""

ORACLES["q_heaps"] = """
    with toks as (
      select doc_id as d,
             unnest(list_filter(
               string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))
               as term
      from documents
    ),
    first as (select term, min(d) as fd from toks group by term),
    vb as (select length(bin(fd + 1)) as b, count(*) as vocab_new
           from first group by 1),
    tb as (select length(bin(doc_id + 1)) as b,
                  sum(case when trim(text) = '' then 0
                      else len(string_split_regex(trim(text), '\\s+')) end)
                    as tokens_new
           from documents group by 1),
    pts0 as (
      select coalesce(vb.b, tb.b) as b,
             sum(coalesce(vb.vocab_new, 0))
               over (order by coalesce(vb.b, tb.b)) as v,
             sum(coalesce(tb.tokens_new, 0))
               over (order by coalesce(vb.b, tb.b)) as n
      from vb full outer join tb on vb.b = tb.b
    ),
    pts as (
      select ln(n) as x, ln(v) as y, v, n
      from pts0 where v > 0 and n > 0
    )
    select count(*)::BIGINT as n_checkpoints,
           max(v)::BIGINT as vocab_size,
           max(n)::BIGINT as n_tokens,
           round((covar_pop(x, y) / var_pop(x)) + 1e-9, 4) as heaps_beta,
           round((avg(y) - (covar_pop(x, y) / var_pop(x)) * avg(x)) + 1e-9, 4)
             as heaps_lnk
    from pts
"""

ORACLES["q_cms_heavy"] = """
    with stream as (
      select 'h' || floor(sqrt(d.doc_id * 20 + t.i))::BIGINT as key
      from documents d, (select unnest(generate_series(0, 19)) as i) t
    ),
    expanded as (
      select s.key, j.row_idx from stream s,
             (select unnest(generate_series(0, 3)) as row_idx) j
    ),
    cms as (
      select row_idx,
             ('0x' || substr(md5(row_idx::VARCHAR || ':' || key), 1, 15))
               ::BIGINT % 256 as col_idx,
             count(*)::BIGINT as cnt
      from expanded group by 1, 2
    ),
    truth as (select key, count(*)::BIGINT as true_cnt
              from stream group by key),
    probes as (
      select t.key, j.row_idx,
             ('0x' || substr(md5(j.row_idx::VARCHAR || ':' || t.key), 1, 15))
               ::BIGINT % 256 as col_idx
      from truth t, (select unnest(generate_series(0, 3)) as row_idx) j
    ),
    est as (
      select p.key, min(coalesce(c.cnt, 0))::BIGINT as est
      from probes p
      left join cms c on c.row_idx = p.row_idx and c.col_idx = p.col_idx
      group by p.key
    )
    select truth.key, truth.true_cnt, est.est,
           (est.est - truth.true_cnt)::BIGINT as over
    from truth join est on est.key = truth.key
"""

ORACLES["q_char_entropy"] = """
    with base as (select doc_id, text from documents where doc_id < 400),
    chars as (
      select b.doc_id, substring(b.text, u.i, 1) as ch,
             length(b.text) as n
      from base b, unnest(range(1, length(b.text) + 1)) as u(i)
    ),
    counts as (
      select doc_id, n, ch, count(*)::DOUBLE as c
      from chars group by doc_id, n, ch
    ),
    ent as (
      select doc_id, round(-sum((c / n) * log2(c / n)), 6) as e
      from counts group by doc_id, n
    )
    select b.doc_id,
           ent.e as entropy_bits,
           ent.e < 2.5 as low_entropy,
           ent.e > 5.2 as high_entropy
    from base b left join ent on ent.doc_id = b.doc_id
"""

ORACLES["q_kmv_setops"] = """
    with keys as (
      select event_id % 2 as side,
             ('0x' || substr(md5('url' || (event_id % 6000)::VARCHAR),
                             1, 15))::BIGINT as h
      from events
    ),
    ka as (select h from (select distinct h from keys where side = 0)
           order by h limit 256),
    kb as (select h from (select distinct h from keys where side = 1)
           order by h limit 256),
    ku as (select h from (select h from ka union select h from kb)
           order by h limit 256),
    ea as (select count(*)::BIGINT as n_a,
                  case when count(*) < 256 then count(*)::DOUBLE
                       else 255.0 / (max(h) / 1152921504606846976.0) end
                  as est_a
           from ka),
    eb as (select count(*)::BIGINT as n_b,
                  case when count(*) < 256 then count(*)::DOUBLE
                       else 255.0 / (max(h) / 1152921504606846976.0) end
                  as est_b
           from kb),
    eu as (select count(*)::BIGINT as nu,
                  case when count(*) < 256 then count(*)::DOUBLE
                       else 255.0 / (max(h) / 1152921504606846976.0) end
                  as union_est
           from ku),
    mk as (select count(*)::BIGINT as n_union_sample,
                  sum(case when ku.h in (select h from ka)
                            and ku.h in (select h from kb)
                       then 1 else 0 end)::BIGINT as n_both
           from ku),
    ex as (select count(distinct h)::BIGINT as exact_union from keys)
    select n_a, n_b,
           round(est_a + 1e-9, 4) as est_a,
           round(est_b + 1e-9, 4) as est_b,
           round(union_est + 1e-9, 4) as union_est,
           round((n_both::DOUBLE / n_union_sample) * union_est + 1e-9, 4)
             as intersection_est,
           round(n_both::DOUBLE / n_union_sample + 1e-9, 4) as jaccard,
           exact_union
    from ea, eb, eu, mk, ex
"""

ORACLES["q_degree_powerlaw"] = """
    with deg as (
      select 'h' || floor(sqrt((event_id % 4096)::DOUBLE))::BIGINT::VARCHAR
               as node,
             count(*)::BIGINT as deg
      from events group by 1
    ),
    t as (
      select count(*)::BIGINT as n_nodes,
             count(case when deg >= 4 then 1 end)::BIGINT as n_tail,
             sum(case when deg >= 4
                  then ln(deg::DOUBLE / 3.5) end) as s,
             max(deg) as max_degree
      from deg
    )
    select 'in' as direction, 4 as x_min, n_nodes, n_tail, max_degree,
           round(1.0 + n_tail::DOUBLE / s + 1e-9, 6) as alpha,
           round((n_tail::DOUBLE / s) / sqrt(n_tail::DOUBLE) + 1e-9, 6)
             as alpha_se
    from t
"""

ORACLES["q_weighted_sample"] = """
    with w as (
      select lang, doc_id, n_chars,
             -ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT + 1)
                 / 1152921504606846976.0) / n_chars::DOUBLE as priority
      from documents where n_chars is not null and n_chars > 0
    ),
    r as (
      select *, row_number() over
               (partition by lang order by priority, doc_id) as rn
      from w
    )
    select lang, doc_id, n_chars, round(priority + 1e-9, 6) as priority
    from r where rn <= 20
"""

ORACLES["q_keyness"] = """
    with base as (select doc_id, text from documents where doc_id < 400),
    ftok as (
      select unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> length(x) > 1)) as term
      from base where doc_id % 3 = 0
    ),
    rtok as (
      select unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> length(x) > 1)) as term
      from base where doc_id % 3 <> 0
    ),
    fa as (select term, count(*) as a from ftok group by term),
    rb as (select term, count(*) as b from rtok group by term),
    tot as (select (select sum(a)::DOUBLE from fa) as c,
                   (select sum(b)::DOUBLE from rb) as d),
    j as (
      select coalesce(fa.term, rb.term) as term,
             coalesce(fa.a, 0)::DOUBLE as a,
             coalesce(rb.b, 0)::DOUBLE as b
      from fa full outer join rb on fa.term = rb.term
    )
    select term,
           a::BIGINT as focus_count,
           b::BIGINT as ref_count,
           round(2.0 * (
             case when a > 0
                  then a * ln(a / (tot.c * (a + b) / (tot.c + tot.d)))
                  else 0.0 end
             + case when b > 0
                    then b * ln(b / (tot.d * (a + b) / (tot.c + tot.d)))
                    else 0.0 end), 4) + 0.0 as g2,
           case when a > 0 and b > 0
                then round(log2((a / tot.c) / (b / tot.d)), 4) + 0.0
                end as log_ratio
    from j cross join tot
    where a + b >= 10
"""

ORACLES["q_opic"] = """
    with docs as (select doc_id from documents where doc_id < 400),
    edges as (
      select distinct src, dst from (
        select doc_id as src, (doc_id*7 + 1) % 400 as dst from docs
        union all
        select doc_id, (doc_id*13 + 2) % 400 from docs
      ) where src <> dst and src % 50 <> 0
    ),
    nodes as (
      select distinct node from (
        select src as node from edges union all select dst from edges)
    ),
    nn as (select count(*)::DOUBLE as n from nodes),
    deg as (select src, count(*) as d from edges group by src),
    s0 as (select node, 1.0 / nn.n as cash, 0.0 as hist
           from nodes cross join nn),
    g0 as (select coalesce(sum(s.cash), 0) as dc
           from s0 s left join deg g on g.src = s.node where g.src is null),
    c1 as (select e.dst as node, sum(s.cash / g.d) as s
           from edges e join s0 s on s.node = e.src
           join deg g on g.src = e.src group by e.dst),
    s1 as (select nodes.node,
                  coalesce(c1.s, 0) + g0.dc / nn.n as cash,
                  s0.hist + s0.cash as hist
           from nodes cross join nn cross join g0
           join s0 on s0.node = nodes.node
           left join c1 on c1.node = nodes.node),
    g1 as (select coalesce(sum(s.cash), 0) as dc
           from s1 s left join deg g on g.src = s.node where g.src is null),
    c2 as (select e.dst as node, sum(s.cash / g.d) as s
           from edges e join s1 s on s.node = e.src
           join deg g on g.src = e.src group by e.dst),
    s2 as (select nodes.node,
                  coalesce(c2.s, 0) + g1.dc / nn.n as cash,
                  s1.hist + s1.cash as hist
           from nodes cross join nn cross join g1
           join s1 on s1.node = nodes.node
           left join c2 on c2.node = nodes.node),
    g2 as (select coalesce(sum(s.cash), 0) as dc
           from s2 s left join deg g on g.src = s.node where g.src is null),
    c3 as (select e.dst as node, sum(s.cash / g.d) as s
           from edges e join s2 s on s.node = e.src
           join deg g on g.src = e.src group by e.dst),
    s3 as (select nodes.node,
                  coalesce(c3.s, 0) + g2.dc / nn.n as cash,
                  s2.hist + s2.cash as hist
           from nodes cross join nn cross join g2
           join s2 on s2.node = nodes.node
           left join c3 on c3.node = nodes.node)
    select node,
           round(cash + 1e-12, 8) as cash,
           round((hist + cash) / 4.0 + 1e-12, 8) as importance
    from s3
"""

ORACLES["q_warc_parse"] = """
    select (doc_id // 20) as blob_id,
           row_number() over (partition by doc_id // 20 order by doc_id) - 1
             as record_index,
           'response' as warc_type,
           'https://' || source || '.example.com/doc/' || doc_id as target_uri,
           octet_length(encode(text))::BIGINT as content_length,
           text as payload
    from documents where doc_id < 500
"""

ORACLES["q_warc_roundtrip"] = """
    select 'https://' || source || '.example.com/doc/' || doc_id as url,
           md5(text) as payload_md5,
           octet_length(encode(text))::BIGINT as content_length,
           '2024-01-01T00:00:00Z' as warc_date
    from documents where doc_id < 400
"""

ORACLES["q_repetition"] = """
    with mdocs as (
      select doc_id,
             substr(text, 1, 40) || chr(10) || substr(text, 41, 40) || chr(10)
             || case when doc_id % 2 = 0 then substr(text, 1, 40)
                     else substr(text, 81, 40) end as text
      from documents where doc_id < 300
    ),
    lines as (
      select doc_id, unnest(string_split(text, chr(10))) as line from mdocs
    ),
    nz as (select doc_id, line from lines where length(trim(line)) > 0),
    per_line as (select doc_id, line, count(*) as c from nz group by 1, 2),
    ls as (
      select doc_id, sum(c) as n_lines, count(*) as n_distinct,
             sum(length(line) * c) as line_chars,
             sum(length(line) * (c - 1)) as dup_chars
      from per_line group by doc_id
    ),
    toks as (
      select doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') as l
      from mdocs
    ),
    bg as (
      select doc_id, array_to_string(l[i+1 : i+2], ' ') as bigram
      from toks, unnest(range(0, greatest(len(l) - 2, 0) + 1)) as t(i)
      where len(l) >= 2
    ),
    per_bg as (select doc_id, bigram, count(*) as c from bg group by 1, 2),
    bs as (
      select doc_id, sum(c) as n_bigrams, max(c) as top_c
      from per_bg group by doc_id
    )
    select m.doc_id,
           coalesce(ls.n_lines, 0)::BIGINT as n_lines,
           round(case when coalesce(ls.n_lines, 0) > 0
                 then (ls.n_lines - ls.n_distinct)::DOUBLE / ls.n_lines
                 else 0.0 end + 1e-9, 4) as dup_line_frac,
           round(case when coalesce(ls.line_chars, 0) > 0
                 then ls.dup_chars::DOUBLE / ls.line_chars
                 else 0.0 end + 1e-9, 4) as dup_line_char_frac,
           round(case when coalesce(bs.n_bigrams, 0) > 0
                 then bs.top_c::DOUBLE / bs.n_bigrams
                 else 0.0 end + 1e-9, 4) as top_bigram_frac
    from mdocs m
    left join ls on ls.doc_id = m.doc_id
    left join bs on bs.doc_id = m.doc_id
"""

ORACLES["q_stratified_sample"] = f"""
    select doc_id, lang from documents
    where ({_HASH_SQL.format(x="'mix-v1' || doc_id")}) % 1000000
          < (case lang when 'en' then 0.5 when 'de' then 0.25
             else 0.125 end * 1000000)::BIGINT
"""

_DECONTAM_GRAMS_SQL = """
      select distinct doc_id as id, {hash} as shingle_hash
      from (
        select doc_id, array_to_string(l[i+1:i+3], ' ') as shingle
        from (select doc_id, string_split({norm}, ' ') as l from {src}),
             unnest(range(0, greatest(len(l)-3, 0) + 1)) as t(i)
      ) where length(shingle) > 0
"""

ORACLES["q_decontam"] = f"""
    with corpus as (select doc_id, text from documents where doc_id < 500),
    bench as (select doc_id, text from documents where doc_id % 37 = 0),
    doc_grams as ({_DECONTAM_GRAMS_SQL.format(hash=_HASH_SQL.format(x="shingle"), norm=_NORM_TEXT_SQL, src="corpus")}),
    bench_grams as (
      select distinct shingle_hash from ({_DECONTAM_GRAMS_SQL.format(hash=_HASH_SQL.format(x="shingle"), norm=_NORM_TEXT_SQL, src="bench")})
    ),
    ov as (
      select id, count(*) as n
      from doc_grams join bench_grams using (shingle_hash) group by id
    )
    select c.doc_id, coalesce(ov.n, 0)::BIGINT as n_contaminated_grams,
           coalesce(ov.n, 0) >= 1 as contaminated
    from corpus c left join ov on ov.id = c.doc_id
"""

# bloom path is exact: same oracle
ORACLES["q_decontam_bloom"] = ORACLES["q_decontam"]


ORACLES["q_term_stats"] = """
    with toks as (
      select doc_id as id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> length(x) > 1)) as term
      from documents
    ),
    stats as (
      select term, count(*) as tf, count(distinct id) as df
      from toks group by term
    )
    select term, tf, df from stats
    where tf >= 5
    order by tf desc, term asc
    limit 100
"""

ORACLES["q_bm25_rank"] = """
    with toks as (
      select doc_id as id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x <> '')) as term
      from documents
    ),
    dl as (select id, count(*) as dl from toks group by id),
    consts as (
      select (select count(*) from documents)::DOUBLE as n_docs,
             (select avg(dl) from dl) as avgdl
    ),
    tf as (
      select id, term, count(*) as tf from toks
      where term in ('spark','table','query')
      group by id, term
    ),
    dft as (select term, count(distinct id) as df from tf group by term),
    scored as (
      select tf.id,
             ln((c.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
             * tf.tf * 2.5
             / (tf.tf + 1.5 * (1.0 - 0.75 + 0.75 * dl.dl / c.avgdl)) as part
      from tf join dft using (term) join dl using (id) cross join consts c
    )
    select id, round(sum(part), 4) as bm25 from scored group by id
"""

ORACLES["q_chunk_overlap"] = """
    with t as (
      select doc_id as id, text,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') as l
      from documents where doc_id < 50
    ),
    small as (
      select id, 0 as chunk_index, text as chunk from t where len(l) <= 20
    ),
    big as (
      select id, i::INT as chunk_index,
             array_to_string(l[i*15+1 : i*15+20], ' ') as chunk
      from t, unnest(range(0, ceil((len(l) - 20) / 15.0)::BIGINT + 1)) as u(i)
      where len(l) > 20
    )
    select * from (select * from small union all select * from big)
    where length(chunk) > 0
"""

ORACLES["q_chunk_sliding"] = """
    with t as (
      select doc_id as id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') as l
      from documents where doc_id < 50
    )
    select id, i::INT as chunk_index,
           array_to_string(l[i*10+1 : i*10+20], ' ') as chunk
    from t, unnest(range(0, (greatest(len(l) - 20, 0) // 10) + 1)) as u(i)
    where length(array_to_string(l[i*10+1 : i*10+20], ' ')) > 0
"""

ORACLES["q_adaptive_rank"] = """
    with corpus as (select * from documents where doc_id < 400),
    stats as (
      select term, count(*) as tf, count(distinct doc_id) as df
      from (
        select doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                  x -> length(x) > 1)) as term
        from corpus) t
      group by term
    ),
    links as (
      select case when doc_id % 2 = 0 then 'https://ex.com/a/' || doc_id
                  else 'http://ex.com/a/b/c/' || doc_id end as href,
             substr(text, 1, 80) as text
      from documents where doc_id >= 400 and doc_id < 460
    ),
    words as (
      select href,
             unnest(list_filter(
               string_split_regex(lower(text || ' ' || href), '[^a-z0-9]+'),
               x -> length(x) > 1)) as term
      from links
    ),
    known as (select term from stats where df >= 2),
    novelty as (
      select w.href, count(*) as new_terms
      from words w left join known k using (term)
      where k.term is null group by w.href
    ),
    total as (select href, count(*) as n_terms from words group by href),
    scored as (
      select l.href,
        ((case when contains(lower(l.href), 'spark')
                 or contains(lower(l.text), 'spark') then 1.0 else 0.0 end)
         + (case when contains(lower(l.href), 'data')
                 or contains(lower(l.text), 'data') then 1.0 else 0.0 end)
        ) / 2.0 as relevance,
        coalesce(n.new_terms, 0)::DOUBLE / greatest(t.n_terms, 1) as novelty,
        (case when l.href like 'https://%' then 0.5 else 0.0 end
         + case when len(string_split_regex(l.href, '/')) <= 5
                then 0.5 else 0.2 end) as authority
      from links l
      left join novelty n using (href)
      left join total t using (href)
    )
    select href, round(relevance, 4) as relevance, round(novelty, 4) as novelty,
           round(authority, 4) as authority,
           round(0.5 * relevance + 0.3 * novelty + 0.2 * authority, 4)
             as adaptive_score
    from scored
"""

ORACLES["q_chunk_merge"] = """
    with t as (
      select doc_id as id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') as toks
      from documents where doc_id < 400
    ),
    p as (
      select id, toks, len(toks) as n,
             case when len(toks) * 0.75 >= 48
                  then floor((len(toks) * 0.75 - 48) / (52 * 0.75))::INT + 1
                  else 0 end as f
      from t
    )
    select id, u.i as chunk_index,
           array_to_string(
             case when u.i < f then toks[u.i*52 + 1 : u.i*52 + 52]
                  else toks[f*52 + 1 : n] end, ' ') as chunk
    from p, lateral unnest(generate_series(0, f)) as u(i)
    where length(array_to_string(
             case when u.i < f then toks[u.i*52 + 1 : u.i*52 + 52]
                  else toks[f*52 + 1 : n] end, ' ')) > 0
"""

ORACLES["q_chunk_sentence"] = """
    select distinct doc_id as id, trim(sentence) as sentence
    from (
      select doc_id,
             unnest(string_split(
               regexp_replace(text, '([.!?])\\s+', '\\1' || chr(1), 'g'),
               chr(1))) as sentence
      from documents where doc_id < 150
    )
    where length(trim(sentence)) > 0
"""

ORACLES["q_chunk_topics"] = """
    with base as (
      select doc_id as id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') as toks
      from documents where doc_id < 150
    ),
    blocks as (
      select id, u.i as block_index,
             toks[u.i*20 + 1 : u.i*20 + 20] as block_toks
      from base,
           lateral unnest(generate_series(0, greatest(len(toks)-1, 0)//20)) as u(i)
      where len(toks[u.i*20 + 1 : u.i*20 + 20]) > 0
    ),
    v as (
      select *, list_distinct(list_transform(block_toks, x -> lower(x))) as vocab
      from blocks
    ),
    c as (
      select *, lag(vocab) over (partition by id order by block_index) as pvocab
      from v
    ),
    d as (
      select *,
             case when pvocab is null then 1
                  when len(list_intersect(vocab, pvocab))::DOUBLE
                       / len(list_distinct(list_concat(vocab, pvocab))) < 0.12
                  then 1 else 0 end as boundary
      from c
    ),
    s as (
      select *, sum(boundary) over (partition by id order by block_index) - 1
             as segment
      from d
    )
    select id, segment::INT as chunk_index,
           array_to_string(flatten(list(block_toks order by block_index)), ' ')
             as chunk
    from s group by id, segment
"""

ORACLES["q_headpeek"] = """
    select doc_id,
           source || ' ' || doc_id as head_title,
           substr(text, 1, 50) as head_description,
           'og ' || source as og_title
    from documents
"""

ORACLES["q_link_preview"] = """
    with pages as (
      select 'https://ex.com/p/' || doc_id as url,
             source || ' ' || doc_id as head_title,
             substr(text, 1, 50) as head_description
      from documents where doc_id < 300
    ),
    links as (
      select 'https://ex.com/p/' || doc_id as page_url,
             (doc_id % 10)::DOUBLE as intrinsic_score,
             unnest([
               {href: 'https://ex.com/p/' || (doc_id+100), link_pos: 0},
               {href: 'https://ex.com/p/' || (doc_id+100), link_pos: 1},
               {href: 'https://ex.com/p/' || (doc_id+9000), link_pos: 2},
               {href: 'https://ex.com/p/' || (doc_id+101), link_pos: 3}
             ], recursive := true)
      from documents where doc_id < 100
    ),
    capped as (
      select * from (
        select l.*,
               row_number() over (partition by page_url order by link_pos) as rn
        from links l) t where rn <= 3
    ),
    dedup as (
      select * from (
        select c.*,
               row_number() over (partition by page_url, href
                                  order by link_pos) as dd
        from capped c) t where dd = 1
    ),
    joined as (
      select d.page_url, d.href, d.intrinsic_score,
             p.head_title, p.head_description
      from dedup d left join pages p on d.href = p.url
    ),
    scored as (
      select page_url, href, intrinsic_score,
        case when head_title is not null then
          ((case when contains(lower(head_title), 'spark') then 1 else 0 end
            + case when contains(lower(head_title), 'data') then 1 else 0 end) * 3
          + (case when contains(lower(head_description), 'spark') then 1 else 0 end
            + case when contains(lower(head_description), 'data') then 1 else 0 end) * 2
          ) / (6.0 * 2) end as ctx
      from joined
    )
    select page_url, href,
      round(ctx, 4) as contextual_score,
      round(case when ctx is null
                 then greatest(0.0, least(intrinsic_score, 10.0))
                 else greatest(0.0, least(intrinsic_score * 0.7
                                          + least(ctx * 10, 10.0) * 0.3, 10.0))
            end, 4) as total_score
    from scored
"""

ORACLES["q_events_hourly"] = """
    select epoch(date_trunc('hour', ts))::BIGINT as hour_epoch, event_type,
           count(*) as n, round(avg(value), 4) as avg_value
    from events group by 1, 2
"""

ORACLES["q_sessionize"] = """
    with g as (
      select user_id,
             floor(epoch(ts))::BIGINT
               - floor(epoch(lag(ts) over (partition by user_id order by ts, event_id)))::BIGINT as gap
      from events
    )
    select user_id,
           sum(case when gap is null or gap > 1800 then 1 else 0 end)::BIGINT as n_sessions
    from g group by user_id
"""

ORACLES["q_pricing_summary"] = """
    select l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) as sum_qty,
           round(sum(l_extendedprice), 2) as sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
           count(*) as count_order
    from lineitem
    where l_shipdate <= timestamp '1998-09-01'
    group by l_returnflag, l_linestatus
"""

ORACLES["q_top_revenue_nations"] = """
    select n_name, r_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue,
           count(*) as n_items
    from lineitem
    join orders on l_orderkey = o_orderkey
    join customer on o_custkey = c_custkey
    join nation on c_nationkey = n_nationkey
    join region on n_regionkey = r_regionkey
    group by n_name, r_name
    order by revenue desc, n_name asc
    limit 10
"""

ORACLES["q_seo_filter"] = """
    with f as (
      select doc_id,
        case when doc_id % 3 = 0 then 1.0
             when doc_id % 3 = 1 then 0.7 else 0.3 end as s_title,
        case when doc_id % 2 = 0 then 0.6 else 0.0 end as s_kw,
        case when doc_id % 4 = 0 then 1.0
             when doc_id % 4 = 1 then 0.5 else 0.2 end as s_desc,
        case when doc_id % 6 = 0 then 1.0
             when doc_id % 6 = 1 then 0.2 else 0.5 end as s_canon,
        case when doc_id % 5 = 0 then 0.0 else 1.0 end as s_robot,
        case when doc_id % 7 = 0 then 1.0 else 0.0 end as s_schema,
        case when doc_id % 8 = 0 then 0.7 * 0.8 * 0.6 * 0.9
             else 1.0 end as s_url
      from documents where doc_id < 100
    )
    select doc_id,
      round((0.15*s_title + 0.18*s_kw + 0.12*s_desc + 0.10*s_canon
             + 0.20*s_robot + 0.10*s_schema + 0.15*s_url)::DOUBLE, 4)
        as seo_score,
      (0.15*s_title + 0.18*s_kw + 0.12*s_desc + 0.10*s_canon
       + 0.20*s_robot + 0.10*s_schema + 0.15*s_url) >= 0.65 as seo_pass
    from f
"""

ORACLES["q_media_sniff"] = """
    select doc_id as media_id,
      case doc_id % 6 when 0 then 'png' when 1 then 'jpeg' when 2 then 'gif'
           when 3 then 'riff' when 4 then 'pdf' else 'unknown' end as format,
      (case when doc_id % 6 = 1 then 3 else 4 end)
        + 4 + length(doc_id::VARCHAR) as n_bytes,
      round(((doc_id % 30 + 1) * 0.5 / 4)::DOUBLE, 4) as off0,
      round(((doc_id % 30 + 1) * 3.5 / 4)::DOUBLE, 4) as off3
    from documents where doc_id < 300
"""

ORACLES["q_extract_text"] = """
    select 'https://' || source || '.example.com/doc/' || doc_id as url,
           trim(regexp_replace(source || ' ' || text, '\\s+', ' ', 'g')) as extracted_text,
           '# ' || source || chr(10)
             || trim(regexp_replace(text, '\\s+', ' ', 'g')) || chr(10)
             as raw_markdown
    from documents
"""

ORACLES["q_seeder_rank"] = """
    with cand as (
      select 'https://' || source || '.example.com/' ||
             case when doc_id % 3 = 0 then 'spark/docs/' else 'misc/' end
             || doc_id as url
      from documents
    ),
    scored as (
      select url,
        round((
          (case when contains(lower(url), 'spa') or contains(lower(url), 'par')
                     or contains(lower(url), 'ark') then 1.0 else 0.0 end)
          + (case when contains(lower(url), 'doc') or contains(lower(url), 'ocs')
                  then 1.0 else 0.0 end)
        ) / 2.0, 4)::DOUBLE as relevance_score
      from cand
    )
    select url, relevance_score from scored
    order by relevance_score desc, url asc
    limit 200
"""

ORACLES["q_pdf_extract"] = """
    with p as (
      select doc_id as media_id, 'Doc ' || doc_id as page1,
             substr(regexp_replace(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
               '[^\\x20-\\x7e]', '', 'g'), 1, 60) as page2
      from documents
    )
    select media_id, 0 as page_number,
           case when length(page2) = 0 then page1
                else page1 || ' ' || page2 end as page_text,
           -1 as n_images, 2 as meta_pages,
           NULL as title, NULL as producer, NULL as created,
           NULL as encrypted
    from p
    union all
    select media_id, 1 as page_number, page1 as page_text,
           (media_id % 3)::INT as n_images, 2 as meta_pages,
           page1 as title, 'pdfmini' as producer,
           '2026-01-15T09:30:00' as created, 'false' as encrypted
    from p
    union all
    select media_id, 2 as page_number, page2 as page_text,
           (media_id % 3)::INT as n_images, 2 as meta_pages,
           page1 as title, 'pdfmini' as producer,
           '2026-01-15T09:30:00' as created, 'false' as encrypted
    from p
"""

ORACLES["q_queue_wait_stats"] = """
    with log as (
      select doc_id % 5 as wave,
             greatest(0, (doc_id % 5) - (doc_id % 3)) as discovered_wave
      from documents
    )
    select wave, count(*) as admitted,
           max(wave - discovered_wave)::BIGINT as max_wait_waves,
           round(avg(wave - discovered_wave), 4) as avg_wait_waves
    from log group by wave
"""

ORACLES["q_serp_extract"] = """
    select doc_id, 'R' || doc_id || ' a' as title,
           'https://r.example/' || doc_id || '/a' as link,
           's' || (doc_id % 7) as snippet,
           (doc_id % 24) || ' hours ago' as result_date
    from documents where doc_id < 300
    union all
    select doc_id, 'R' || doc_id || ' b' as title,
           'https://r.example/' || doc_id || '/b' as link,
           't' || (doc_id % 5) as snippet,
           NULL as result_date
    from documents where doc_id < 300
"""

ORACLES["q_market_intel"] = """
    select 'intel' as seed, 'P' || doc_id as name,
           'https://catalog.example/p' || doc_id as catalog_url,
           'https://prod' || doc_id || '.example/' as homepage_url,
           'Product ' || doc_id as product_name,
           'T' || (doc_id % 9) as product_title,
           'd' || (doc_id % 5) as product_description
    from documents where doc_id < 40
"""

ORACLES["q_feed_entries"] = """
    with d as (
      select doc_id, source,
             lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0') as day,
             lpad((doc_id % 24)::VARCHAR, 2, '0') as hh
      from documents where doc_id < 120
    )
    select 'https://' || source || '.com/rss.xml' as feed_url,
           'https://' || source || '.com/a/' || doc_id as loc,
           't' || doc_id as title,
           day || ' Jan 2026 ' || hh || ':00:00 GMT' as published,
           strptime(day || ' Jan 2026 ' || hh || ':00:00 GMT',
                    '%d %b %Y %H:%M:%S GMT') as published_ts
    from d where doc_id % 2 = 0
    union all
    select 'https://' || source || '.com/atom.xml',
           'https://' || source || '.com/b/' || doc_id,
           't' || doc_id,
           '2026-01-' || day || 'T' || hh || ':00:00Z',
           ('2026-01-' || day || 'T' || hh || ':00:00Z')::TIMESTAMP
    from d where doc_id % 2 = 1
"""

ORACLES["q_sitemap_entries"] = """
    select 'https://' || source || '.example.com/sitemap-' || (doc_id % 2)
             || '.xml' as sitemap_url,
           'https://' || source || '.example.com/p/' || doc_id as loc,
           case when doc_id % 3 <> 0
                then '2024-01-' || lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0')
           end as lastmod,
           case when doc_id % 3 <> 0
                then ('2024-01-'
                      || lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0'))::TIMESTAMP
           end as lastmod_ts,
           case when doc_id % 2 = 0 then 'daily' end as changefreq,
           case when doc_id % 5 <> 0
                then ('0.' || (doc_id % 10))::DOUBLE end as priority
    from documents where doc_id < 60
"""

ORACLES["q_sitemap_scan"] = """
    select 'https://' || source || '.example.com/sitemap-' || (doc_id % 2)
             || '.xml' as sitemap_url,
           'https://' || source || '.example.com/p/' || doc_id as loc
    from documents where doc_id < 60
"""

ORACLES["q_schema_extract_nested"] = """
    select doc_id,
      'SKU-' || doc_id as sku,
      'Item ' || doc_id as name,
      '{"bname":"' || source || '","country":"C' || (doc_id % 5) || '"}'
        as brand_json,
      '[{"label":"f' || (doc_id % 3) || '","weight":"' || (doc_id % 7)
        || '"},{"label":"g' || (doc_id % 2) || '","weight":"' || (doc_id % 4)
        || '"}]' as features_json,
      upper('Item ' || doc_id) as shout
    from documents
"""

ORACLES["q_regex_extract"] = """
    with d as (
      select doc_id,
             'contact admin' || doc_id || '@example.org or visit https://site'
             || (doc_id % 7) || '.example.net/page on 2026-0' || (doc_id % 9 + 1)
             || '-15 price $' || (doc_id % 100) || '.99 ' || text as blob
      from documents
    )
    select doc_id as id, 'date_iso' as pattern_name,
           '2026-0' || (doc_id % 9 + 1) || '-15' as match
    from d
    union all
    select doc_id as id, 'email' as pattern_name,
           'admin' || doc_id || '@example.org' as match
    from d
"""


# --------------------------------------------------------------------------
# contract functions
# --------------------------------------------------------------------------

ORACLES["q_fit_html"] = """
    select doc_id,
      '<html><body><div id="d' || doc_id || '" class="c' || (doc_id % 3)
      || '" data-k="' || repeat('v', case when doc_id % 5 = 0 then 200 else 5 end)
      || case when doc_id % 5 = 0 then '...' else '' end
      || '">' || repeat('T', case when doc_id % 2 = 0 then 100 else 10 end)
      || case when doc_id % 2 = 0 then '...' else '' end
      || '</div><span class="s">a</span>'
      || case when doc_id % 4 = 0 then ''
              else '<span class="s">b' || doc_id || '</span>' end
      || '</body></html>' as fit_html
    from documents where doc_id < 200
"""


ORACLES["q_cosine_extract"] = """
    with p as (
      select doc_id,
             case when doc_id % 5 = 0 then 2
                  when doc_id % 5 = 4 then 4 else 3 end as npass,
             case when doc_id % 5 = 1 then 0 else 1 end as topup
      from documents where doc_id < 80
    ),
    c1 as (
      select doc_id::INT as id, 1 as cluster_index,
        'w' || doc_id || ' c0 t0 w' || doc_id || ' c3 t0'
        || case when npass >= 3 then ' w' || doc_id || ' c6 t0' else '' end
        || case when npass >= 4 then ' w' || doc_id || ' c9 t0' else '' end
          as content,
        npass as n_chunks, 3 * npass as n_words
      from p
    ),
    c2 as (
      select doc_id::INT as id, 2 as cluster_index,
        'w' || doc_id || ' c1 t1' as content, 1 as n_chunks, 3 as n_words
      from p where topup = 1
    )
    select * from c1 union all select * from c2
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document (vowel-run
    syllable estimator). Every 53rd doc is blanked to whitespace so the
    zero-word guard path is exercised in the gate."""
    from crawl4ai_custom_spark.operators.textstats import readability_scores

    docs = _t(spark, sf_dir, "documents")
    t2 = F.when(F.col("doc_id") % 53 == 0, F.lit("   ")).otherwise(
        F.col("text"))
    out = readability_scores(docs.select("doc_id", t2.alias("text")))
    return out.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        F.col("n_sentences").cast("int").alias("n_sentences"),
        F.col("n_syllables").cast("int").alias("n_syllables"),
        F.round(F.col("flesch_ease") + 1e-9, 4).alias("flesch_ease"),
        F.round(F.col("fk_grade") + 1e-9, 4).alias("fk_grade"),
        "readability_band",
    )


ORACLES["q_readability"] = """
    with injected as (
      select doc_id,
        case when doc_id % 53 = 0 then '   ' else text end as text
      from documents
    ), m as (
      select doc_id, text,
        list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                    x -> x <> '') as words
      from injected
    ), m2 as (
      select doc_id,
        len(words)::INT as n_words,
        greatest(1, len(regexp_extract_all(text, '[.!?]+')))::INT
          as n_sentences,
        coalesce(list_sum(list_transform(words,
          w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))),
          0)::INT as n_syllables
      from m
    ), m3 as (
      select doc_id, n_words,
        case when n_words = 0 then 1 else n_sentences end as n_sentences,
        n_syllables,
        case when n_words = 0 then 0.0
             else 206.835 - 1.015 * (n_words::DOUBLE / n_sentences)
                  - 84.6 * (n_syllables::DOUBLE / n_words) end as ease,
        case when n_words = 0 then 0.0
             else 0.39 * (n_words::DOUBLE / n_sentences)
                  + 11.8 * (n_syllables::DOUBLE / n_words) - 15.59 end
          as grade
      from m2
    )
    select doc_id, n_words, n_sentences, n_syllables,
      round(ease + 1e-9, 4) as flesch_ease,
      round(grade + 1e-9, 4) as fk_grade,
      case when n_words = 0 then 'hard'
           when ease >= 70.0 then 'easy'
           when ease >= 50.0 then 'medium'
           else 'hard' end as readability_band
    from m3
"""


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level Zipf rank-frequency fit: one-row health check
    (vocabulary size, token count, singleton fraction, least-squares
    ln-ln slope + intercept)."""
    from crawl4ai_custom_spark.operators.textstats import zipf_slope
    from crawl4ai_custom_spark.session import spread_scan

    # full-corpus tokenize: spread the single-row-group scan
    docs = spread_scan(_t(spark, sf_dir, "documents"))
    out = zipf_slope(docs.select("text"))
    return out.select(
        F.col("vocab_size").cast("bigint").alias("vocab_size"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("singleton_frac") + 1e-9, 4).alias("singleton_frac"),
        F.round(F.col("zipf_slope") + 1e-9, 4).alias("zipf_slope"),
        F.round(F.col("zipf_intercept") + 1e-9, 4).alias("zipf_intercept"),
    )


ORACLES["q_zipf_slope"] = """
    with toks as (
      select unnest(list_filter(
        string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))
        as term
      from documents
    ), counts as (
      select term, count(*) as n from toks group by term
    ), ranked as (
      select ln(row_number() over (order by n desc, term)) as x,
             ln(n) as y, n
      from counts
    )
    select count(*)::BIGINT as vocab_size,
      sum(n)::BIGINT as n_tokens,
      round((sum(case when n = 1 then 1 else 0 end)::DOUBLE / count(*))
            + 1e-9, 4) as singleton_frac,
      round((covar_pop(x, y) / var_pop(x)) + 1e-9, 4) as zipf_slope,
      round((avg(y) - (covar_pop(x, y) / var_pop(x)) * avg(x)) + 1e-9, 4)
        as zipf_intercept
    from ranked
"""


def q_change_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cho & Garcia-Molina Poisson change-rate estimator over a synthetic
    4-epoch visit log: per-doc visit counts vary (doc_id%4 — the %4==0
    docs have ONE visit and exercise the null-rate path), intervals vary
    (1-5 h), and the fingerprint period varies (1-6 — periods 5/6 never
    change and exercise the exact-zero-rate path). All timestamps are
    integral doubles, so the only FP work is the estimator itself."""
    from crawl4ai_custom_spark.operators.recrawl import change_rate_poisson

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    d = F.col("doc_id")
    vis = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".com/"),
                 d.cast("string")).alias("url"),
        d, F.explode(F.sequence(F.lit(0), F.lit(3))).alias("v"),
    ).where((F.col("v") == 0) | (F.col("v") <= d % 4))
    vis = vis.select(
        "url",
        (F.lit(1700000000.0) + d * 7.0
         + F.col("v") * (3600.0 * (1 + d % 5))).alias("ts"),
        F.floor(F.col("v").cast("double") / (1 + d % 6))
        .cast("int").cast("string").alias("fingerprint"),
    )
    out = change_rate_poisson(vis, as_of=1700600000.0)
    return out.select(
        "url",
        F.col("n_visits").cast("int").alias("n_visits"),
        F.col("n_changes").cast("int").alias("n_changes"),
        F.round(F.col("mean_interval_s") / 3600.0 + 1e-9, 6)
        .alias("mean_int_h"),
        F.round(F.col("lambda_hat") * 86400.0 + 1e-12, 8).alias("lambda_day"),
        F.round(F.col("stale_prob") + 1e-12, 8).alias("stale_prob"),
        F.round((F.col("next_due_ts") - 1700000000.0) / 3600.0 + 1e-9, 4)
        .alias("next_due_h"),
    )


ORACLES["q_change_rate"] = """
    with vis as (
      select 'https://' || source || '.com/' || doc_id as url,
             1700000000.0 + doc_id * 7.0
               + v * (3600.0 * (1 + doc_id % 5)) as ts,
             cast(cast(floor(cast(v as double) / (1 + doc_id % 6)) as int)
                  as varchar) as fp
      from documents
      cross join (select unnest([0, 1, 2, 3]) as v)
      where doc_id < 400 and (v = 0 or v <= doc_id % 4)
    ), lagd as (
      select url, ts, fp,
             lag(fp) over (partition by url order by ts) as prev
      from vis
    ), agg as (
      select url, count(*) as n_visits,
             sum(case when prev is not null and fp <> prev then 1 else 0
                 end) as n_changes,
             max(ts) as last_ts, max(ts) - min(ts) as span
      from lagd group by url
    ), est as (
      select url, n_visits, n_changes, last_ts,
        case when n_visits > 1 and span > 0
             then span / (n_visits - 1) end as mean_interval_s,
        case when n_visits > 1 and span > 0
             then -ln((n_visits - 1 - n_changes + 0.5) / (n_visits - 1 + 0.5))
                  / (span / (n_visits - 1)) end as lam
      from agg
    )
    select url, n_visits::INT as n_visits, n_changes::INT as n_changes,
      round(mean_interval_s / 3600.0 + 1e-9, 6) as mean_int_h,
      round(lam * 86400.0 + 1e-12, 8) as lambda_day,
      round(case when lam is not null
            then 1.0 - exp(-lam * (1700600000.0 - last_ts)) end
            + 1e-12, 8) as stale_prob,
      round(case when lam > 0
            then (last_ts + 1.0 / lam - 1700000000.0) / 3600.0 end
            + 1e-9, 4) as next_due_h
    from est
"""


def q_refresh_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling refresh allocation under a global budget of 100
    refreshes/unit-time over ~97 distinct change rates (plus null- and
    zero-rate docs that must stay inert at f=0). The oracle recomputes
    the identical bucket prefix solve — both engines walk the same
    ascending-rate cumulative sums, so the water level matches
    bit-for-bit before rounding."""
    from crawl4ai_custom_spark.operators.recrawl import refresh_allocation

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    d = F.col("doc_id")
    lam = (
        F.when(d % 11 == 0, F.lit(None).cast("double"))
        .when(d % 13 == 0, F.lit(0.0))
        .otherwise((d % 97 + 1) / 10.0)
    )
    rates = docs.select("doc_id", lam.alias("lambda_hat"))
    out = refresh_allocation(rates, budget=100.0)
    return out.select(
        "doc_id",
        F.col("lambda_hat").alias("lam"),
        F.round(F.col("f_opt") + 1e-9, 6).alias("f_opt"),
        F.round(F.col("stale_frac") + 1e-9, 6).alias("stale_frac"),
    )


ORACLES["q_refresh_alloc"] = """
    with rates as (
      select doc_id,
        case when doc_id % 11 = 0 then null
             when doc_id % 13 = 0 then 0.0
             else ((doc_id % 97) + 1) / 10.0 end as lam
      from documents where doc_id < 500
    ), b as (
      select round(lam, 9) as lam_q, count(*) as cnt
      from rates where lam > 0 group by 1
    ), c as (
      select lam_q,
        sum(cnt * lam_q) over (order by lam_q
          rows between unbounded preceding and current row) as cum_lam,
        sum(cnt * sqrt(lam_q)) over (order by lam_q
          rows between unbounded preceding and current row) as cum_rt,
        lead(lam_q) over (order by lam_q) as nxt
      from b
    ), lvl as (
      select min((100.0 + cum_lam) / cum_rt) as t
      from c
      where (100.0 + cum_lam) / cum_rt > sqrt(lam_q)
        and (nxt is null or (100.0 + cum_lam) / cum_rt <= sqrt(nxt))
    ), alloc as (
      select doc_id, lam, round(lam, 9) as lam_q,
        case when lam is not null and lam > 0
             then greatest(0.0, sqrt(round(lam, 9)) * coalesce(t, 0.0)
                                - round(lam, 9))
             else 0.0 end as f
      from rates cross join lvl
    )
    select doc_id, lam, round(f + 1e-9, 6) as f_opt,
      round(case when lam is not null and lam > 0
            then lam_q / (lam_q + f) else 0.0 end + 1e-9, 6) as stale_frac
    from alloc
"""


def _graph_gate_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic triangle/core gate graph: the q_pagerank-style 2-out
    mod graph over doc_id < 300 plus two planted cliques (doc_id%37==0 —
    9 nodes; doc_id%50==1 — 6 nodes), so the graph has organic wedges AND
    farm-like dense cores."""
    docs = _t(spark, sf_dir, "documents").where(
        F.col("doc_id") < 300).select("doc_id")
    d = F.col("doc_id")
    rand = docs.select(d.alias("src"), ((d * 7 + 1) % 300).alias("dst")) \
        .unionByName(docs.select(d.alias("src"),
                                 ((d * 13 + 2) % 300).alias("dst")))
    a = docs.where(d % 37 == 0).select(d.alias("src"))
    b = docs.where(d % 50 == 1).select(d.alias("src"))
    cliques = None
    for grp in (a, b):
        pair = grp.crossJoin(grp.select(F.col("src").alias("dst"))).where(
            F.col("src") < F.col("dst"))
        cliques = pair if cliques is None else cliques.unionByName(pair)
    return rand.unionByName(cliques).where(F.col("src") != F.col("dst"))


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle-count gate: per-node triangles + local clustering over the
    planted-clique graph via degree-ordered orientation (compact-forward),
    undirected + oriented lists materialized once (the operator's scale
    path); the oracle counts the SAME triangles with an independent
    brute-force x<y<z three-way join — same numbers, different
    algorithm."""
    import tempfile

    from crawl4ai_custom_spark.operators.linkgraph import triangle_stats

    ckpt = tempfile.mkdtemp(prefix="q_triangles_")
    return triangle_stats(_graph_gate_edges(spark, sf_dir),
                          checkpoint_dir=ckpt)


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core gate (k=5): synchronous peel to fixpoint isolates exactly
    the two planted cliques from the organic mod graph; the oracle
    unrolls the same peel rounds in SQL (extra rounds past the fixpoint
    are no-ops, so the unroll count just has to be >= the peel depth)."""
    from crawl4ai_custom_spark.operators.linkgraph import k_core

    return k_core(_graph_gate_edges(spark, sf_dir), k=5)


def q_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous / highest-random-weight sharding gate (Thaler &
    Ravishankar 1998): shard = argmax over shards of hash(salt, shard,
    key) — the resharding scheme that moves ~1/(n+1) of a 10^10-doc
    store on resize where mod-N moves ~all of it. Shuffle-free
    projection; oracle replays the per-shard hashes and the argmax."""
    from crawl4ai_custom_spark.operators.corpusmix import rendezvous_shard

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500) \
        .select("doc_id")
    shards = [f"s{i:02d}" for i in range(16)]
    return rendezvous_shard(docs, shards).select("doc_id", "shard")


def q_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation similarity gate (Small 1973 / Dean & Henzinger WWW 99):
    hosts are related when the same third host links to both — one
    self-join on the shared source over fanout-capped adjacency, Salton
    cosine over in-degree. Oracle replays joins, cap and normalization."""
    from crawl4ai_custom_spark.operators.linkgraph import colink_similarity

    return colink_similarity(
        _graph_gate_edges(spark, sf_dir), mode="cocitation", min_common=2)


def q_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full core decomposition via h-index iteration (Lu et al. 2016 /
    Montresor et al. 2013): est0 = degree, then est <- H(neighbors' est)
    to the fixpoint (this graph converges within 3 rounds; the planted
    cliques surface as coreness 8 and 5 islands). Oracle unrolls the
    histogram-cumulative h-operator rounds in SQL."""
    from crawl4ai_custom_spark.operators.linkgraph import coreness

    return coreness(_graph_gate_edges(spark, sf_dir), max_rounds=3)


def _anf_gate_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2-out-degree directed graph over 160 string-labeled
    hosts for the HyperBall gates (small enough that the oracle's
    unrolled 3-hop reachability join stays a few thousand pairs)."""
    docs = _t(spark, sf_dir, "documents").where(
        F.col("doc_id") < 160).select("doc_id")
    d = F.col("doc_id")
    e = docs.select(d.alias("s"), ((d * 7 + 1) % 160).alias("t")) \
        .unionByName(docs.select(d.alias("s"), ((d * 13 + 2) % 160).alias("t")))
    return e.where(F.col("s") != F.col("t")).select(
        F.concat(F.lit("n"), F.col("s").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("t").cast("string")).alias("dst"),
    )


def q_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall gate (Boldi & Vigna 2013): per-node HLL ball-size
    estimates |B(v, t)| for t = 0..3 over the directed host graph — one
    register-table join + groupBy-max per round. The oracle reproduces
    every estimate bit-for-bit from an unrolled 3-hop reachability join
    re-hashed through the shared register convention (the estimator's
    dyadic 2^-rho sums agree exactly cross-engine)."""
    from crawl4ai_custom_spark.operators.anf import hyperball

    out = hyperball(_anf_gate_edges(spark, sf_dir), p=8, max_t=3)
    return out.select(
        "node", "t",
        F.round(F.col("ball_est") + 1e-9, 6).alias("ball_est"),
    )


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality + effective diameter from the HyperBall
    rounds: h(v) = sum_t (|B(v,t)| - |B(v,t-1)|)/t, and the interpolated
    smallest t where the neighborhood function reaches 90% of its final
    mass — the two headline statistics of the HyperBall paper, riding on
    q_hyperball's graph. Oracle unrolls the same deltas and
    interpolation."""
    from crawl4ai_custom_spark.operators.anf import (
        effective_diameter,
        harmonic_centrality,
        hyperball,
        neighborhood_function,
    )

    balls = hyperball(_anf_gate_edges(spark, sf_dir), p=8, max_t=3)
    h = harmonic_centrality(balls)
    ed = effective_diameter(neighborhood_function(balls), q=0.9)
    return h.crossJoin(F.broadcast(ed)).select(
        "node",
        F.round(F.col("harmonic") + 1e-9, 6).alias("harmonic"),
        F.round(F.col("ball_final") + 1e-9, 6).alias("ball_final"),
        F.round(F.col("effective_diameter") + 1e-9, 6)
        .alias("effective_diameter"),
    )


_GRAPH_GATE_EDGES_SQL = """
    docs as (select doc_id from documents where doc_id < 300),
    raw as (
      select doc_id as src, (doc_id*7+1)%300 as dst from docs
      union all
      select doc_id, (doc_id*13+2)%300 from docs
      union all
      select a.doc_id, b.doc_id from docs a, docs b
       where a.doc_id%37=0 and b.doc_id%37=0 and a.doc_id < b.doc_id
      union all
      select a.doc_id, b.doc_id from docs a, docs b
       where a.doc_id%50=1 and b.doc_id%50=1 and a.doc_id < b.doc_id
    ),
    und0 as (select distinct least(src,dst) as a, greatest(src,dst) as b
             from raw where src <> dst)
"""

ORACLES["q_triangles"] = f"""
    with {_GRAPH_GATE_EDGES_SQL},
    deg as (select node, count(*)::BIGINT as degree from (
        select a as node from und0 union all select b from und0) t
        group by node),
    tri as (
      select e1.a as x, e1.b as y, e2.b as z
      from und0 e1
      join und0 e2 on e2.a = e1.a and e2.b > e1.b
      join und0 e3 on e3.a = e1.b and e3.b = e2.b
    ),
    pn as (select node, count(*)::BIGINT as triangles from (
        select x as node from tri union all select y from tri
        union all select z from tri) t group by node)
    select d.node, d.degree,
           coalesce(p.triangles, 0)::BIGINT as triangles,
           case when d.degree < 2 then 0.0
                else 2.0 * coalesce(p.triangles, 0)
                     / (d.degree::DOUBLE * (d.degree - 1)) end as clustering
    from deg d left join pn p on d.node = p.node
"""


def _kcore_oracle_sql(k: int = 5, rounds: int = 4) -> str:
    """Unrolled synchronous peel: deg_i over und_i, keep degree >= k,
    filter both endpoints, repeat. Rounds past the fixpoint are no-ops."""
    parts = [f"with {_GRAPH_GATE_EDGES_SQL}"]
    for i in range(rounds):
        parts.append(f"""
    , deg{i} as (select node, count(*)::BIGINT as core_degree from (
        select a as node from und{i} union all select b from und{i}) t
        group by node)
    , keep{i} as (select node from deg{i} where core_degree >= {k})
    , und{i + 1} as (
        select u.a, u.b from und{i} u
        join keep{i} ka on u.a = ka.node
        join keep{i} kb on u.b = kb.node)""")
    parts.append(f"""
    , degF as (select node, count(*)::BIGINT as core_degree from (
        select a as node from und{rounds} union all
        select b from und{rounds}) t group by node)
    select node, core_degree from degF where core_degree >= {k}""")
    return "".join(parts)


ORACLES["q_kcore"] = _kcore_oracle_sql()

def _coreness_oracle_sql(rounds: int) -> str:
    """Unrolled h-index-iteration twin of linkgraph.coreness over
    _graph_gate_edges: per round, neighbor-estimate histogram -> cumulative
    count over descending estimates -> h = max(least(est, cum))."""
    sql = """
    with docs as (select doc_id from documents where doc_id < 300),
    rand as (
      select doc_id as src, (doc_id * 7 + 1) % 300 as dst from docs
      union all
      select doc_id, (doc_id * 13 + 2) % 300 from docs
    ),
    cl as (
      select a.doc_id as src, b.doc_id as dst
      from docs a join docs b on a.doc_id < b.doc_id
      where a.doc_id % 37 = 0 and b.doc_id % 37 = 0
      union all
      select a.doc_id, b.doc_id
      from docs a join docs b on a.doc_id < b.doc_id
      where a.doc_id % 50 = 1 and b.doc_id % 50 = 1
    ),
    und as (
      select distinct least(src, dst) as a, greatest(src, dst) as b
      from (select * from rand union all select * from cl)
      where src <> dst
    ),
    adj as (
      select a as node, b as nbr from und
      union all select b, a from und
    ),
    e0 as (select node, count(*)::BIGINT as est from adj group by 1)"""
    for r in range(1, rounds + 1):
        sql += f""",
    n{r} as (
      select adj.node, e.est from adj
      join e{r - 1} e on e.node = adj.nbr
    ),
    g{r} as (select node, est, count(*) as cnt from n{r} group by 1, 2),
    e{r} as (
      select node, max(least(est, cum))::BIGINT as est from (
        select node, est,
               sum(cnt) over (partition by node order by est desc
                              rows between unbounded preceding
                              and current row) as cum
        from g{r}) group by node
    )"""
    sql += f"""
    select node, est as coreness from e{rounds}
"""
    return sql


ORACLES["q_coreness"] = _coreness_oracle_sql(3)

ORACLES["q_rendezvous"] = """
    with docs as (select doc_id from documents where doc_id < 500),
    sh as (select unnest(['s00', 's01', 's02', 's03', 's04', 's05', 's06', 's07', 's08', 's09', 's10', 's11', 's12', 's13', 's14', 's15']) as s),
    w as (
      select doc_id, s,
             ('0x' || substr(md5('hrw-v1:' || s || ':'
                || doc_id::VARCHAR), 1, 15))::BIGINT as wt
      from docs cross join sh
    ),
    r as (
      select doc_id, s,
             row_number() over (partition by doc_id
                                order by wt desc, s asc) as rn
      from w
    )
    select doc_id, s as shard from r where rn = 1
"""

ORACLES["q_cocitation"] = """
    with docs as (select doc_id from documents where doc_id < 300),
    rand as (
      select doc_id as src, (doc_id * 7 + 1) % 300 as dst from docs
      union all
      select doc_id, (doc_id * 13 + 2) % 300 from docs
    ),
    cl as (
      select a.doc_id as src, b.doc_id as dst
      from docs a join docs b on a.doc_id < b.doc_id
      where a.doc_id % 37 = 0 and b.doc_id % 37 = 0
      union all
      select a.doc_id, b.doc_id
      from docs a join docs b on a.doc_id < b.doc_id
      where a.doc_id % 50 = 1 and b.doc_id % 50 = 1
    ),
    e as (
      select distinct src, dst
      from (select * from rand union all select * from cl)
      where src <> dst
    ),
    deg as (select dst as item, count(*) as d from e group by 1),
    fan as (select src, count(*) as fan from e group by 1),
    capped as (
      select e.src, e.dst from e join fan using (src) where fan <= 1000
    ),
    p as (
      select x.dst as host_a, y.dst as host_b, count(*)::BIGINT as common
      from capped x join capped y on x.src = y.src and x.dst < y.dst
      group by 1, 2 having count(*) >= 2
    )
    select host_a, host_b, common,
           round(common / sqrt(da.d * db.d) + 1e-9, 6) as salton
    from p
    join deg da on da.item = host_a
    join deg db on db.item = host_b
"""




# shared CTE prefix for the two HyperBall gates: the 160-node directed
# graph, the per-node register hash, and the unrolled 0..3-hop ball
# memberships re-aggregated into (t, node) HLL estimates. Constants:
# m = 256, alpha*m^2 = 47072.71267120224 (p=8 — same as q_hll_distinct),
# linear-counting switch at raw <= 640 with zeros > 0.
_ANF_ORACLE_PREFIX = """
    docs as (select doc_id from documents where doc_id < 160),
    edges as (
      select distinct 'n' || src as src, 'n' || dst as dst from (
        select doc_id as src, (doc_id*7+1) % 160 as dst from docs
        union all
        select doc_id, (doc_id*13+2) % 160 from docs
      ) where src <> dst
    ),
    nodes as (
      select distinct node from (
        select src as node from edges union all select dst from edges)
    ),
    hk as (select node,
                  ('0x' || substr(md5(node), 1, 15))::BIGINT as h
           from nodes),
    b0 as (select node as src, node as m from nodes),
    b1 as (select distinct src, m from (
        select src, m from b0
        union all
        select e.src, b.m from edges e join b0 b on b.src = e.dst)),
    b2 as (select distinct src, m from (
        select src, m from b1
        union all
        select e.src, b.m from edges e join b1 b on b.src = e.dst)),
    b3 as (select distinct src, m from (
        select src, m from b2
        union all
        select e.src, b.m from edges e join b2 b on b.src = e.dst)),
    members as (
      select 0 as t, src, m from b0
      union all select 1, src, m from b1
      union all select 2, src, m from b2
      union all select 3, src, m from b3
    ),
    regs as (
      select members.t, members.src as node,
             (hk.h & 255) as register,
             max(case when ((hk.h >> 8) & 1048575) = 0 then 21
                 else 21 - length(bin((hk.h >> 8) & 1048575)) end)
               as max_rho
      from members join hk on hk.node = members.m
      group by 1, 2, 3
    ),
    agg as (
      select t, node, count(*) as n_hit,
             sum(power(2.0, -max_rho)) as s
      from regs group by 1, 2
    ),
    est as (
      select t, node,
             case when 47072.71267120224 / (s + (256 - n_hit)) <= 640.0
                       and (256 - n_hit) > 0
                  then 256.0 * ln(256.0 / (256 - n_hit))
                  else 47072.71267120224 / (s + (256 - n_hit)) end
               as ball_est
      from agg
    )
"""

ORACLES["q_hyperball"] = f"""
    with {_ANF_ORACLE_PREFIX}
    select node, t, round(ball_est + 1e-9, 6) as ball_est from est
"""

ORACLES["q_harmonic_centrality"] = f"""
    with {_ANF_ORACLE_PREFIX},
    hv as (
      select e0.node,
             greatest(0.0, e1.ball_est - e0.ball_est) / 1.0
             + greatest(0.0, e2.ball_est - e1.ball_est) / 2.0
             + greatest(0.0, e3.ball_est - e2.ball_est) / 3.0 as harmonic,
             e3.ball_est as ball_final
      from      (select node, ball_est from est where t = 0) e0
      join (select node, ball_est from est where t = 1) e1 using (node)
      join (select node, ball_est from est where t = 2) e2 using (node)
      join (select node, ball_est from est where t = 3) e3 using (node)
    ),
    nf as (select t, sum(ball_est) as np from est group by t),
    tgt as (select 0.9 * np as target from nf where t = 3),
    cand as (
      select t, np,
             lag(np) over (order by t) as prev,
             lag(t) over (order by t) as prev_t
      from nf
    ),
    hit as (
      select c.*, g.target from cand c cross join tgt g
      where c.np >= g.target order by c.t limit 1
    ),
    edv as (
      select greatest(0.0,
        case when prev is not null and np > prev
             then prev_t + (target - prev) / (np - prev)
             else t::DOUBLE end) as effective_diameter
      from hit
    )
    select hv.node,
           round(hv.harmonic + 1e-9, 6) as harmonic,
           round(hv.ball_final + 1e-9, 6) as ball_final,
           round(edv.effective_diameter + 1e-9, 6) as effective_diameter
    from hv cross join edv
"""


def q_ddsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch gate (Masson et al. VLDB 2019): relative-error quantiles
    of document char lengths from a mergeable (bucket, cnt) row sketch at
    alpha=0.02. The oracle rebuilds the identical log-gamma bucket table
    (ln(gamma) inlined as the same Python double in both engines, 1e-11
    boundary nudge inside ceil), the same cumulative walk at rank
    floor(1 + q*(n-1)), and the same gamma-midpoint reconstruction —
    quantile q is cast to DOUBLE on the DuckDB side so the rank
    arithmetic is bit-identical IEEE in both engines."""
    from crawl4ai_custom_spark.operators.sketches import (
        ddsketch,
        ddsketch_quantiles,
    )

    docs = _t(spark, sf_dir, "documents")
    vals = docs.select(F.length("text").alias("x"))
    sk = ddsketch(vals, "x", alpha=0.02)
    return (
        ddsketch_quantiles(sk, [0.25, 0.5, 0.75, 0.9, 0.99], alpha=0.02)
        .select("q", "n_total", "bucket", "est")
    )


_DD_G = 1.0408163265306123          # dd_gamma(0.02), inlined for the oracle
_DD_LG = 0.040005334613699206       # math.log(dd_gamma(0.02))

ORACLES["q_ddsketch"] = f"""
    with v as (select length(text)::DOUBLE as x from documents),
    b as (
      select case when x < 0 then -2147483648
                  when x = 0 then -2147483647
                  else cast(ceil(ln(x) / {_DD_LG!r} - 1e-11) as int) end
               as bucket
      from v),
    sk as (select bucket, count(*)::BIGINT as cnt from b group by bucket),
    cum as (
      select bucket,
             sum(cnt) over (order by bucket
                            rows between unbounded preceding and current row)
               as cum,
             sum(cnt) over ()::BIGINT as n_total
      from sk),
    qs as (select unnest([0.25, 0.5, 0.75, 0.9, 0.99])::DOUBLE as q),
    hit as (
      select q, min(bucket) as bucket, any_value(n_total) as n_total
      from qs join cum on cum.cum >= floor(1.0 + q * (n_total - 1))
      group by q)
    select q, n_total, bucket,
           case when bucket = -2147483647 then 0.0
                when bucket = -2147483648 then NULL
                else 2.0 / ({_DD_G!r} + 1.0) * power({_DD_G!r}, bucket)
           end as est
    from hit
"""


def q_share_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-fairness Gini gate: inequality of event counts across 97
    synthetic hosts (user_id % 97). Integer numerator — exact in both
    engines; oracle replays rank window + fold."""
    from crawl4ai_custom_spark.operators.linkgraph import share_gini

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 97).alias("host"))
    out = share_gini(ev, "host")
    return out.select("n_groups", "total",
                      F.round(F.col("gini") + 1e-9, 6).alias("gini"))


ORACLES["q_share_gini"] = """
    with per as (
      select user_id % 97 as g, count(*)::BIGINT as x
      from events group by 1
    ),
    ranked as (
      select x, row_number() over (order by x asc, g asc) as i from per
    ),
    sizes as (select count(*)::BIGINT as n, sum(x)::BIGINT as t from per)
    select s.n as n_groups, s.t::DOUBLE as total,
           round(num.v::DOUBLE / (s.n * s.t) + 1e-9, 6) as gini
    from sizes s,
         (select sum((2 * i - (select n from sizes) - 1) * x) as v
          from ranked) num
"""


def q_share_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition-diversity gate: Shannon / effective-source / Simpson
    of the documents table's language mix weighted by n_chars; oracle
    replays the share algebra."""
    from crawl4ai_custom_spark.operators.linkgraph import share_diversity

    docs = _t(spark, sf_dir, "documents").select("lang", "n_chars")
    out = share_diversity(docs, "lang", weight_col="n_chars")
    return out.select(
        "n_groups", "total",
        F.round(F.col("shannon") + 1e-9, 6).alias("shannon"),
        F.round(F.col("effective_groups") + 1e-9, 6).alias("effective_groups"),
        F.round(F.col("simpson") + 1e-9, 6).alias("simpson"),
    )


ORACLES["q_share_diversity"] = """
    with per as (
      select lang as g, sum(n_chars)::BIGINT as x
      from documents group by 1
    ),
    tot as (select sum(x)::BIGINT as t from per),
    terms as (
      select -(x::DOUBLE / t) * ln(x::DOUBLE / t) as h,
             (x::DOUBLE / t) * (x::DOUBLE / t) as s,
             t::DOUBLE as total
      from per, tot
    )
    select count(*)::BIGINT as n_groups, max(total) as total,
           round(sum(h) + 1e-9, 6) as shannon,
           round(exp(sum(h)) + 1e-9, 6) as effective_groups,
           round(sum(s) + 1e-9, 6) as simpson
    from terms
"""


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration/ECE gate: deterministic pseudo-scores s=(id*37%101)/101
    and labels y=(id*53%101 > 45), 10 bins; oracle replays binning,
    per-bin means and the weighted-gap rollup."""
    from crawl4ai_custom_spark.operators.corpusmix import calibration_report

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        (((d * 37) % 101) / 101.0).alias("s"),
        ((d * 53) % 101 > 45).alias("y"),
    )
    out = calibration_report(docs, "s", "y", n_bins=10)
    return out.select(
        "bin", "n",
        F.round(F.col("avg_score") + 1e-9, 6).alias("avg_score"),
        F.round(F.col("frac_pos") + 1e-9, 6).alias("frac_pos"),
        F.round(F.col("gap") + 1e-9, 6).alias("gap"),
    )


ORACLES["q_calibration"] = """
    with d as (
      select ((doc_id * 37) % 101) / 101.0 as s,
             ((doc_id * 53) % 101 > 45)::INT as y
      from documents
    ),
    binned as (
      select least(greatest(floor(s * 10), 0), 9)::INT as bin, s, y from d
    ),
    per as (
      select bin, count(*)::BIGINT as n,
             sum(s) / count(*) as avg_score,
             sum(y)::DOUBLE / count(*) as frac_pos
      from binned group by bin
    ),
    gapped as (select *, abs(avg_score - frac_pos) as gap from per)
    select bin, n, round(avg_score + 1e-9, 6) as avg_score,
           round(frac_pos + 1e-9, 6) as frac_pos,
           round(gap + 1e-9, 6) as gap
    from gapped
    union all
    select -1, sum(n)::BIGINT, NULL, NULL,
           round(sum(n * gap) / sum(n) + 1e-9, 6)
    from gapped
"""


def q_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities gate: 2 synchronous rounds over the
    q_pagerank graph with the deterministic (count desc, label asc)
    argmax; oracle unrolls both rounds."""
    from crawl4ai_custom_spark.operators.linkgraph import lpa_communities

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    d = F.col("doc_id")
    e1 = docs.select(d.alias("src"), ((d * 7 + 1) % 200).alias("dst"))
    e2 = docs.select(d.alias("src"), ((d * 13 + 2) % 200).alias("dst"))
    out = lpa_communities(e1.unionByName(e2), rounds=2)
    return out.select("node", "label")


def _lpa_oracle_sql(rounds: int = 2) -> str:
    parts = ["""
    with docs as (select doc_id as d from documents where doc_id < 200),
    raw as (
      select d as src, (d*7 + 1) % 200 as dst from docs
      union all
      select d, (d*13 + 2) % 200 from docs
    ),
    bidir as (
      select distinct u, v from (
        select src as u, dst as v from raw
        union all
        select dst, src from raw
      ) where u <> v
    ),
    l0 as (select distinct u as node, u as label from bidir)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
    m{k} as (
      select b.u as node, l.label
      from bidir b join l{k - 1} l on l.node = b.v
    ),
    c{k} as (select node, label, count(*) as c from m{k} group by 1, 2),
    l{k} as (
      select node, label from (
        select node, label,
               row_number() over (partition by node
                                  order by c desc, label asc) as rn
        from c{k}) where rn = 1
    )""")
    parts.append(f"""
    select node, label from l{rounds}""")
    return "".join(parts)


ORACLES["q_lpa"] = _lpa_oracle_sql()


def q_quality_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup keepers over the q_cc_star graph, components
    via the star algorithm: keeper = max((doc_id*37)%101) per cluster,
    ties min id; cluster_id stays the min-id label. Oracle: recursive
    reachability + row_number argmax."""
    from crawl4ai_custom_spark.operators.dedup import dedup_keepers

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    d = F.col("doc_id")
    qdocs = docs.select("doc_id", ((d * 37) % 101).alias("q"))
    spokes = docs.where(d % 3 != 0).select(
        d.alias("id_a"), (d - d % 3).alias("id_b"))
    chain = docs.where((d % 3 == 0) & (d % 9 != 6)).select(
        d.alias("id_a"), (d + 3).alias("id_b"))
    out = dedup_keepers(qdocs, spokes.unionByName(chain),
                        id_col="doc_id", quality_col="q", cc="star")
    return out.select(F.col("doc_id").alias("id"), "q", "cluster_id",
                      "is_keeper")


ORACLES["q_quality_keepers"] = """
    with recursive docs as (select doc_id as d from documents where doc_id < 300),
    pairs as (
      select d as id_a, d - (d % 3) as id_b from docs where d % 3 <> 0
      union all
      select d, d + 3 from docs where d % 3 = 0 and d % 9 <> 6
    ),
    edges as (
      select id_a as src, id_b as dst from pairs
      union
      select id_b, id_a from pairs
    ),
    nodes as (select distinct src as id from edges),
    reach(id, r) as (
      select id, id as r from nodes
      union
      select e.dst as id, reach.r from reach join edges e on e.src = reach.id
    ),
    labels as (select id, min(r) as cluster_id from reach group by id),
    qd as (select d as id, (d * 37) % 101 as q from docs),
    lab as (
      select qd.id, qd.q, coalesce(l.cluster_id, qd.id) as cluster_id
      from qd left join labels l on l.id = qd.id
    ),
    ranked as (
      select id, q, cluster_id,
             row_number() over (partition by cluster_id
                                order by q desc, id asc) as rn
      from lab
    )
    select id, q, cluster_id, rn = 1 as is_keeper from ranked
"""


def q_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minhash gate (Li & Konig 2010): signatures packed to their
    2 low bits (16 hashes -> ONE bigint), then de-biased Jaccard
    estimates for planted near-dup pairs (id, id+100000 tail-append)
    and unrelated pairs (id, id+1). Oracle recomputes the identical
    minhash chain and compares (h & 3) per hash."""
    from crawl4ai_custom_spark.operators.dedup import (
        bbit_agreement,
        bbit_pack_signatures,
        minhash_signatures,
        shingle_table,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = _duped_docs(docs).where((F.col("doc_id") % 100000) < 60)
    sigs = minhash_signatures(shingle_table(corpus), num_hashes=N_MINHASH)
    bs = bbit_pack_signatures(sigs, b=2, num_hashes=N_MINHASH)
    d = F.col("doc_id")
    near = docs.where((d % 10 == 0) & (d < 60)).select(
        d.alias("id_a"), (d + 100000).alias("id_b"))
    far = docs.where((d % 10 == 5) & (d + 1 < 60)).select(
        d.alias("id_a"), (d + 1).alias("id_b"))
    out = bbit_agreement(near.unionByName(far), bs, b=2,
                         num_hashes=N_MINHASH)
    return out.select(
        "id_a", "id_b", F.col("n_match").cast("long").alias("n_match"),
        F.round(F.col("match_frac") + 1e-9, 6).alias("match_frac"),
        F.round(F.col("est_jaccard") + 1e-9, 6).alias("est_jaccard"),
    )


def _bbit_oracle_sql() -> str:
    matches = " + ".join(
        f"((a.h{i} & 3) = (b.h{i} & 3))::BIGINT" for i in range(N_MINHASH))
    return f"""
    with corpus as (
      select * from ({_DUPED_DOCS_SQL}) where doc_id % 100000 < 60
    ),
    {_SHINGLES_SQL},
    sigs as (
      select id, {", ".join(_minhash_sig_sql_terms())}
      from shingles group by id
    ),
    pairs as (
      select doc_id as id_a, doc_id + 100000 as id_b from documents
      where doc_id % 10 = 0 and doc_id < 60
      union all
      select doc_id, doc_id + 1 from documents
      where doc_id % 10 = 5 and doc_id + 1 < 60
    ),
    m as (
      select p.id_a, p.id_b, ({matches})::BIGINT as n_match
      from pairs p
      join sigs a on a.id = p.id_a
      join sigs b on b.id = p.id_b
    )
    select id_a, id_b, n_match,
           round(n_match / {float(N_MINHASH)!r} + 1e-9, 6) as match_frac,
           round(greatest(least(
             (n_match / {float(N_MINHASH)!r} - 0.25) / 0.75, 1.0), 0.0)
             + 1e-9, 6) as est_jaccard
    from m
"""


ORACLES["q_bbit_minhash"] = _bbit_oracle_sql()


def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script-profile gate: each doc gets a deterministic
    mixed-script suffix (literal array indexed by doc_id, repeated
    doc_id%3+1 times) so every range fires; oracle reruns the identical
    patterns (with RE2 'g') and the same alphabetical tie-break CASE."""
    from crawl4ai_custom_spark.operators.textstats import script_profile

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    suf = ("element_at(array('абвгд', '中文漢字', 'επίθετο', 'पाठ', 'نصوص'),"
           " cast(doc_id % 5 + 1 as int))")
    mixed = docs.select(
        "doc_id",
        F.expr(f"concat(text, ' ', repeat({suf}, cast(doc_id % 3 + 1 as int)))")
        .alias("text"),
    )
    out = script_profile(mixed, "text")
    keep = ["doc_id"] + [f"n_{n}" for n in
                         ("arabic", "cjk", "cyrillic", "devanagari",
                          "greek", "latin")]
    return out.select(
        *keep, "n_script_chars", "dominant_script",
        F.round(F.col("script_frac") + 1e-9, 6).alias("script_frac"),
    )


def _script_profile_oracle_sql() -> str:
    from crawl4ai_custom_spark.operators.textstats import SCRIPT_RANGES

    names = sorted(SCRIPT_RANGES)
    counts = ",\n             ".join(
        f"length(regexp_replace(text, '[^{SCRIPT_RANGES[n]}]', '', 'g'))"
        f"::BIGINT as n_{n}" for n in names)
    total = " + ".join(f"n_{n}" for n in names)
    dom_n = "greatest(" + ", ".join(f"n_{n}" for n in names) + ")"
    dom_case = " ".join(
        f"when n_{n} = {dom_n} then '{n}'" for n in names)
    return f"""
    with mixed as (
      select doc_id,
             text || ' ' || repeat(
               (['абвгд', '中文漢字', 'επίθετο', 'पाठ', 'نصوص'])
                 [(doc_id % 5 + 1)::INT],
               (doc_id % 3 + 1)::INT) as text
      from documents where doc_id < 400
    ),
    counted as (
      select doc_id,
             {counts}
      from mixed
    ),
    totalled as (
      select *, ({total})::BIGINT as n_script_chars from counted
    )
    select doc_id, {", ".join("n_" + n for n in names)}, n_script_chars,
           case when n_script_chars = 0 then NULL {dom_case} end
             as dominant_script,
           case when n_script_chars > 0
                then round({dom_n}::DOUBLE / n_script_chars + 1e-9, 6)
           end as script_frac
    from totalled
"""


ORACLES["q_script_profile"] = _script_profile_oracle_sql()


def q_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap gate: 16 deterministic replicate (n_eff, total)
    sums of n_chars over the documents table — weights are the shared
    60-bit md5 hash inverted through fixed integer Poisson(1) CDF
    thresholds, so totals are exact integers in both engines; mean is
    one IEEE division."""
    from crawl4ai_custom_spark.operators.sketches import (
        bootstrap_replicate_stats,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = bootstrap_replicate_stats(docs, "n_chars", "doc_id", n_reps=16)
    return out.select("rep", "n_eff", "total",
                      F.round(F.col("mean") + 1e-9, 6).alias("mean"))


def _bootstrap_oracle_sql() -> str:
    from crawl4ai_custom_spark.operators.sketches import POISSON1_CUM_T60

    w = " + ".join(f"(u >= {t})::BIGINT" for t in POISSON1_CUM_T60)
    return f"""
    with reps as (select unnest(generate_series(0, 15)) as rep),
    draws as (
      select rep, n_chars::BIGINT as x,
             ('0x' || substr(md5(doc_id::VARCHAR || ':' || rep || ':boot'),
                             1, 15))::BIGINT as u
      from documents, reps
    ),
    weighted as (select rep, x, {w} as w from draws)
    select rep, sum(w)::BIGINT as n_eff, sum(w * x)::BIGINT as total,
           round(sum(w * x)::DOUBLE / sum(w) + 1e-9, 6) as mean
    from weighted group by rep
"""


ORACLES["q_bootstrap"] = _bootstrap_oracle_sql()


def q_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy segmentation gate: vocabulary derived
    deterministically from the corpus IN BOTH ENGINES (all single chars
    plain + ##-prefixed, top-25 length-2..4 word prefixes, top-25
    continuation substrings — integer counts, (count desc, piece asc)
    ranking), then greedy longest-match-first per distinct word with the
    BERT [UNK] rule. Oracle rebuilds the identical vocabulary and unrolls
    the greedy walk 12 steps (words capped at 12 chars)."""
    from pyspark.sql import Window as W

    from crawl4ai_custom_spark.operators.bpe import wordpiece_segment

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    words = (
        docs.select(F.explode(
            F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
                     lambda t: F.length(t) > 0)).alias("word"))
        .distinct()
        .where(F.length("word") <= 12)
    )
    chars = (
        words.select("word", F.explode(
            F.sequence(F.lit(1), F.length("word"))).alias("p"))
        .select(F.expr("substring(word, p, 1)").alias("c"))
        .distinct()
    )
    singles = chars.select(F.col("c").alias("piece")).unionByName(
        chars.select(F.concat(F.lit("##"), "c").alias("piece")))
    w25 = W.orderBy(F.col("cnt").desc(), F.col("piece"))
    prefs = (
        words.select("word", F.explode(F.sequence(F.lit(2), F.lit(4))).alias("L"))
        .where(F.length("word") >= F.col("L"))
        .select(F.expr("substring(word, 1, L)").alias("piece"))
        .groupBy("piece").agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w25)).where(F.col("rn") <= 25)
        .select("piece")
    )
    conts = (
        words
        .select("word", F.explode(F.sequence(F.lit(2), F.lit(4))).alias("L"))
        .select("word", "L", F.explode(F.sequence(F.lit(2), F.lit(12))).alias("s"))
        .where(F.col("s") + F.col("L") - 1 <= F.length("word"))
        .select(F.concat(F.lit("##"), F.expr("substring(word, s, L)")).alias("piece"))
        .groupBy("piece").agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w25)).where(F.col("rn") <= 25)
        .select("piece")
    )
    vocab = singles.unionByName(prefs).unionByName(conts).distinct()
    return wordpiece_segment(words, vocab).select(
        "word", "pieces_str", F.col("n_pieces").cast("long").alias("n_pieces"),
        "is_unk")


def _wordpiece_oracle_sql() -> str:
    def cand(ln: int) -> str:
        return (
            f"case when not skip and pos + {ln - 1} <= length(word) and "
            f"(case when pos = 1 then substr(word, pos, {ln}) "
            f"else '##' || substr(word, pos, {ln}) end) in "
            f"(select piece from vocab) then {ln} end"
        )

    steps = []
    for k in range(1, 13):
        steps.append(f"""
    s{k} as (
      select word,
             case when skip or L is null then pos else pos + L end as pos,
             case when skip or L is null then path
                  else case when path = '' then
                         (case when pos = 1 then '' else '##' end)
                           || substr(word, pos, L)
                       else path || ' ' ||
                         (case when pos = 1 then '' else '##' end)
                           || substr(word, pos, L) end end as path,
             (failed or (not skip and L is null)) as failed
      from (
        select word, pos, path, failed,
               (failed or pos > length(word)) as skip,
               coalesce({", ".join(cand(ln) for ln in (4, 3, 2, 1))}) as L
        from s{k - 1})
    )""")
    return f"""
    with toks as (
      select distinct tok as word
      from (select unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+'))
              as tok
            from documents where doc_id < 150)
      where length(tok) >= 1
    ),
    words as (select word from toks where length(word) <= 12),
    positions as (select unnest(generate_series(1, 12)) as p),
    chars as (
      select distinct substr(word, p, 1) as c
      from words, positions where p <= length(word)
    ),
    singles as (
      select c as piece from chars
      union
      select '##' || c from chars
    ),
    lens as (select unnest(generate_series(2, 4)) as L),
    prefs as (
      select substr(word, 1, L) as piece, count(*)::BIGINT as cnt
      from words, lens where length(word) >= L group by 1
    ),
    top_prefs as (
      select piece from (
        select piece, row_number() over (order by cnt desc, piece) as rn
        from prefs) where rn <= 25
    ),
    starts as (select unnest(generate_series(2, 12)) as s),
    conts as (
      select '##' || substr(word, s, L) as piece, count(*)::BIGINT as cnt
      from words, lens, starts
      where s + L - 1 <= length(word) group by 1
    ),
    top_conts as (
      select piece from (
        select piece, row_number() over (order by cnt desc, piece) as rn
        from conts) where rn <= 25
    ),
    vocab as (
      select piece from singles
      union select piece from top_prefs
      union select piece from top_conts
    ),
    s0 as (
      select word, 1 as pos, '' as path, false as failed from words
    ),{",".join(steps).lstrip()}
    select word,
           case when failed then '[UNK]' else path end as pieces_str,
           (case when failed then 1
                 else length(path) - length(replace(path, ' ', '')) + 1
            end)::BIGINT as n_pieces,
           failed as is_unk
    from s12
"""


ORACLES["q_wordpiece"] = _wordpiece_oracle_sql()


def q_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-star/small-star connected components gate (Kiveris et al.
    2014): deterministic graph of 9-node components (triples rooted at
    multiples of 3, chained into blocks of 9 — diameter ~4, kept small
    so the gate stays cheap; the diameter-independence claim is pinned
    by the 41-hop-chain unit test). Oracle computes components by
    recursive reachability — a different algorithm, same labels."""
    from crawl4ai_custom_spark.operators.dedup import cluster_pairs_star

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    d = F.col("doc_id")
    spokes = docs.where(d % 3 != 0).select(
        d.alias("id_a"), (d - d % 3).alias("id_b"))
    chain = docs.where((d % 3 == 0) & (d % 9 != 6)).select(
        d.alias("id_a"), (d + 3).alias("id_b"))
    out = cluster_pairs_star(spokes.unionByName(chain))
    return out.select("id", "cluster_id")


ORACLES["q_cc_star"] = """
    with recursive docs as (select doc_id as d from documents where doc_id < 300),
    pairs as (
      select d as id_a, d - (d % 3) as id_b from docs where d % 3 <> 0
      union all
      select d, d + 3 from docs where d % 3 = 0 and d % 9 <> 6
    ),
    edges as (
      select id_a as src, id_b as dst from pairs
      union
      select id_b, id_a from pairs
    ),
    nodes as (select distinct src as id from edges),
    reach(id, r) as (
      select id, id as r from nodes
      union
      select e.dst as id, reach.r from reach join edges e on e.src = reach.id
    )
    select id, min(r) as cluster_id from reach group by id
"""


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI/KL corpus-drift gate: epoch A = even doc_ids' n_chars, epoch B
    = odd doc_ids with a deterministic +120*(doc_id%7) length shift (real
    drift, nonzero PSI); fixed breaks shared by both epochs. Oracle
    replays the histograms, Laplace smoothing, log algebra and the
    TOTAL(-1) rollup row."""
    from crawl4ai_custom_spark.operators.textstats import psi_drift

    docs = _t(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0).select(
        F.col("n_chars").cast("double").alias("v"))
    b = docs.where(F.col("doc_id") % 2 == 1).select(
        (F.col("n_chars") + (F.col("doc_id") % 7) * 120)
        .cast("double").alias("v"))
    out = psi_drift(a, b, "v", [300.0, 600.0, 900.0, 1200.0, 1500.0])
    return out.select(
        "bucket", "n_a", "n_b",
        F.round(F.col("p_a") + 1e-9, 6).alias("p_a"),
        F.round(F.col("p_b") + 1e-9, 6).alias("p_b"),
        F.round(F.col("psi_term") + 1e-9, 6).alias("psi_term"),
        F.round(F.col("kl_term") + 1e-9, 6).alias("kl_term"),
    )


ORACLES["q_psi_drift"] = """
    with a as (select n_chars::DOUBLE as v from documents
               where doc_id % 2 = 0),
    b as (select (n_chars + (doc_id % 7) * 120)::DOUBLE as v
          from documents where doc_id % 2 = 1),
    ha as (select (v >= 300.0)::INT + (v >= 600.0)::INT + (v >= 900.0)::INT
                  + (v >= 1200.0)::INT + (v >= 1500.0)::INT as bucket,
                  count(*)::BIGINT as n_a
           from a group by 1),
    hb as (select (v >= 300.0)::INT + (v >= 600.0)::INT + (v >= 900.0)::INT
                  + (v >= 1200.0)::INT + (v >= 1500.0)::INT as bucket,
                  count(*)::BIGINT as n_b
           from b group by 1),
    j as (select coalesce(ha.bucket, hb.bucket) as bucket,
                 coalesce(n_a, 0)::BIGINT as n_a,
                 coalesce(n_b, 0)::BIGINT as n_b
          from ha full outer join hb on ha.bucket = hb.bucket),
    tot as (select sum(n_a)::BIGINT as ta, sum(n_b)::BIGINT as tb from j),
    terms as (
      select bucket, n_a, n_b,
             (n_a + 0.5) / (ta + 3.0) as p_a,
             (n_b + 0.5) / (tb + 3.0) as p_b
      from j, tot)
    select bucket, n_a, n_b,
           round(p_a + 1e-9, 6) as p_a,
           round(p_b + 1e-9, 6) as p_b,
           round((p_a - p_b) * ln(p_a / p_b) + 1e-9, 6) as psi_term,
           round(p_a * ln(p_a / p_b) + 1e-9, 6) as kl_term
    from terms
    union all
    select -1, sum(n_a)::BIGINT, sum(n_b)::BIGINT, 1.0, 1.0,
           round(sum((p_a - p_b) * ln(p_a / p_b)) + 1e-9, 6),
           round(sum(p_a * ln(p_a / p_b)) + 1e-9, 6)
    from terms
"""


_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_url_canonicalize": q_url_canonicalize,
    "q_normalize_url": q_normalize_url,
    "q_url_scorers": q_url_scorers,
    "q_frontier_admission": q_frontier_admission,
    "q_seen_antijoin": q_seen_antijoin,
    "q_latest_event": q_latest_event,
    "q_politeness_backoff": q_politeness_backoff,
    "q_robots_gate": q_robots_gate,
    "q_url_filter_chain": q_url_filter_chain,
    "q_dedup_exact": q_dedup_exact,
    "q_ngram_jaccard": q_ngram_jaccard,
    "q_prefix_join": q_prefix_join,
    "q_lsh_plan": q_lsh_plan,
    "q_fuzzy_terms": q_fuzzy_terms,
    "q_winnow": q_winnow,
    "q_minhash_lsh": q_minhash_lsh,
    "q_dedup_incremental": q_dedup_incremental,
    "q_dup_fraction": q_dup_fraction,
    "q_exact_substring": q_exact_substring,
    "q_simhash": q_simhash,
    "q_simhash_neardup": q_simhash_neardup,
    "q_embedding_neardup": q_embedding_neardup,
    "q_embedding_neardup_bucketed": q_embedding_neardup_bucketed,
    "q_embedding_neardup_multiprobe": q_embedding_neardup_multiprobe,
    "q_neardup_clusters": q_neardup_clusters,
    "q_ann_ivf": q_ann_ivf,
    "q_nn_descent": q_nn_descent,
    "q_graph_ann": q_graph_ann,
    "q_ann_bruteforce": q_ann_bruteforce,
    "q_knn_classify": q_knn_classify,
    "q_ann_lsh": q_ann_lsh,
    "q_text_profile": q_text_profile,
    "q_domain_prior": q_domain_prior,
    "q_gopher_rules": q_gopher_rules,
    "q_c4_filters": q_c4_filters,
    "q_readability": q_readability,
    "q_zipf_slope": q_zipf_slope,
    "q_change_rate": q_change_rate,
    "q_refresh_alloc": q_refresh_alloc,
    "q_span_dedup": q_span_dedup,
    "q_pii_redact": q_pii_redact,
    "q_repetition": q_repetition,
    "q_warc_parse": q_warc_parse,
    "q_warc_roundtrip": q_warc_roundtrip,
    "q_pagerank": q_pagerank,
    "q_trustrank": q_trustrank,
    "q_spam_mass": q_spam_mass,
    "q_ucb_hosts": q_ucb_hosts,
    "q_graph_shape": q_graph_shape,
    "q_good_turing": q_good_turing,
    "q_psi_drift": q_psi_drift,
    "q_cc_star": q_cc_star,
    "q_wordpiece": q_wordpiece,
    "q_bootstrap": q_bootstrap,
    "q_script_profile": q_script_profile,
    "q_bbit_minhash": q_bbit_minhash,
    "q_quality_keepers": q_quality_keepers,
    "q_lpa": q_lpa,
    "q_calibration": q_calibration,
    "q_share_gini": q_share_gini,
    "q_share_diversity": q_share_diversity,
    "q_hits": q_hits,
    "q_opic": q_opic,
    "q_hll_distinct": q_hll_distinct,
    "q_ddsketch": q_ddsketch,
    "q_triangles": q_triangles,
    "q_kcore": q_kcore,
    "q_coreness": q_coreness,
    "q_cocitation": q_cocitation,
    "q_rendezvous": q_rendezvous,
    "q_hyperball": q_hyperball,
    "q_harmonic_centrality": q_harmonic_centrality,
    "q_kmv_setops": q_kmv_setops,
    "q_degree_powerlaw": q_degree_powerlaw,
    "q_weighted_sample": q_weighted_sample,
    "q_keyness": q_keyness,
    "q_char_entropy": q_char_entropy,
    "q_cms_heavy": q_cms_heavy,
    "q_heaps": q_heaps,
    "q_host_mirrors": q_host_mirrors,
    "q_dust_rules": q_dust_rules,
    "q_moments": q_moments,
    "q_crawl_diff": q_crawl_diff,
    "q_canonical_collapse": q_canonical_collapse,
    "q_anchor_stats": q_anchor_stats,
    "q_url_templates": q_url_templates,
    "q_crawl_traps": q_crawl_traps,
    "q_pagination": q_pagination,
    "q_hreflang": q_hreflang,
    "q_meta_refresh": q_meta_refresh,
    "q_outdegree": q_outdegree,
    "q_redirects": q_redirects,
    "q_robots_sitemaps": q_robots_sitemaps,
    "q_feature_hash": q_feature_hash,
    "q_cdc_chunks": q_cdc_chunks,
    "q_capture_timeline": q_capture_timeline,
    "q_revisit_priority": q_revisit_priority,
    "q_stratified_sample": q_stratified_sample,
    "q_classifier_score": q_classifier_score,
    "q_dsir": q_dsir,
    "q_dsir_sample": q_dsir_sample,
    "q_mixture_sample": q_mixture_sample,
    "q_shuffle_shards": q_shuffle_shards,
    "q_bpe": q_bpe,
    "q_phrase_match": q_phrase_match,
    "q_inverted_index": q_inverted_index,
    "q_bm25_index": q_bm25_index,
    "q_tfidf_keywords": q_tfidf_keywords,
    "q_pmi_collocations": q_pmi_collocations,
    "q_index_update": q_index_update,
    "q_skipgram": q_skipgram,
    "q_kwic": q_kwic,
    "q_textrank": q_textrank,
    "q_textrank_sents": q_textrank_sents,
    "q_blocklist": q_blocklist,
    "q_blocklist_join": q_blocklist_join,
    "q_langid": q_langid,
    "q_unigram_segment": q_unigram_segment,
    "q_unigram_em": q_unigram_em,
    "q_ql_retrieval": q_ql_retrieval,
    "q_proximity": q_proximity,
    "q_cc_index": q_cc_index,
    "q_kn_bigram": q_kn_bigram,
    "q_lm_score": q_lm_score,
    "q_ccnet_buckets": q_ccnet_buckets,
    "q_url_blocklist": q_url_blocklist,
    "q_crawl_delay_budget": q_crawl_delay_budget,
    "q_mirror_hosts": q_mirror_hosts,
    "q_token_budget": q_token_budget,
    "q_corpus_report": q_corpus_report,
    "q_semantic_decontam": q_semantic_decontam,
    "q_line_dedup": q_line_dedup,
    "q_host_boilerplate": q_host_boilerplate,
    "q_soft404": q_soft404,
    "q_link_spam": q_link_spam,
    "q_budget_alloc": q_budget_alloc,
    "q_domain_cap": q_domain_cap,
    "q_mojibake": q_mojibake,
    "q_sitemap_coverage": q_sitemap_coverage,
    "q_ann_pq": q_ann_pq,
    "q_kmeans": q_kmeans,
    "q_semdedup": q_semdedup,
    "q_pack_sequences": q_pack_sequences,
    "q_decontam": q_decontam,
    "q_decontam_bloom": q_decontam_bloom,
    "q_term_stats": q_term_stats,
    "q_adaptive_rank": q_adaptive_rank,
    "q_adaptive_embedding": q_adaptive_embedding,
    "q_bm25_rank": q_bm25_rank,
    "q_chunk_sliding": q_chunk_sliding,
    "q_chunk_overlap": q_chunk_overlap,
    "q_chunk_merge": q_chunk_merge,
    "q_chunk_sentence": q_chunk_sentence,
    "q_chunk_topics": q_chunk_topics,
    "q_headpeek": q_headpeek,
    "q_link_preview": q_link_preview,
    "q_seo_filter": q_seo_filter,
    "q_events_hourly": q_events_hourly,
    "q_sessionize": q_sessionize,
    "q_pricing_summary": q_pricing_summary,
    "q_top_revenue_nations": q_top_revenue_nations,
    "q_multimodal_features": q_multimodal_features,
    "q_image_decode": q_image_decode,
    "q_image_resize": q_image_resize,
    "q_image_ahash": q_image_ahash,
    "q_image_neardup": q_image_neardup,
    "q_audio_ahash": q_audio_ahash,
    "q_video_decode": q_video_decode,
    "q_video_neardup": q_video_neardup,
    "q_jpeg_decode": q_jpeg_decode,
    "q_audio_decode": q_audio_decode,
    "q_media_sniff": q_media_sniff,
    "q_extract_text": q_extract_text,
    "q_seeder_rank": q_seeder_rank,
    "q_regex_extract": q_regex_extract,
    "q_schema_extract_nested": q_schema_extract_nested,
    "q_serp_extract": q_serp_extract,
    "q_market_intel": q_market_intel,
    "q_sitemap_scan": q_sitemap_scan,
    "q_sitemap_entries": q_sitemap_entries,
    "q_feed_entries": q_feed_entries,
    "q_fit_html": q_fit_html,
    "q_cosine_extract": q_cosine_extract,
    "q_queue_wait_stats": q_queue_wait_stats,
    "q_pdf_extract": q_pdf_extract,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one full wave of the crawl pipeline over a deterministic
    synthetic site — seed -> politeness admission -> robots gate -> fetch
    join -> extraction -> link discovery stats."""
    import tempfile

    from crawl4ai_custom_spark.operators.extraction import extract_pages, links_table
    from crawl4ai_custom_spark.operators.urlops import canonicalize_abs_udf
    from crawl4ai_custom_spark.sources.datagen import write_dataset
    from crawl4ai_custom_spark.sources.pages import latest_pages

    cache = os.path.join(tempfile.gettempdir(), "c4a_spark_site_entry")
    if not os.path.exists(os.path.join(cache, "pages.parquet")):
        write_dataset(cache, n_pages=80, n_domains=3, with_text=False)
    pages = latest_pages(spark.read.parquet(os.path.join(cache, "pages.parquet")))
    seeds = spark.read.parquet(os.path.join(cache, "seeds.parquet"))
    fr = seeds.select(canonicalize_abs_udf(F.col("url")).alias("url"))
    # seeds prove the frontier join path; the whole site proves extraction
    fetched = fr.join(pages, "url", "inner").unionByName(
        pages.withColumnRenamed("url", "url").select(
            "url", *[c for c in pages.columns if c != "url"]
        )
    ).dropDuplicates(["url"])
    ext = extract_pages(fetched.select("url", "html"))
    links = links_table(ext)
    return ext.select(
        "url", "title", "n_links_internal", "n_links_external", "success"
    ).join(
        links.groupBy("page_url").agg(F.count(F.lit(1)).alias("n_edges")),
        ext.url == F.col("page_url"),
        "left",
    ).select("url", "title", "n_links_internal", "n_links_external", "n_edges")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
