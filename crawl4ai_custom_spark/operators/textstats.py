"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting — all native Spark SQL expressions (no Python UDFs:
these run over every document of a 100 TB corpus; staying inside
whole-stage codegen is the difference between hours and days).

Design note: each operator has an exact SQL twin in __spark_entry__.oracle_sql
(DuckDB), so semantics are pinned by the correctness gate, not just tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Marker words per language for the n-gram/stopword-voting language ID.
# Deliberately small + deterministic; mirrors classic stopword-profile LID.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr": ("le", "la", "les", "et", "est", "pas", "une", "pour", "dans", "que"),
    "es": ("el", "la", "los", "las", "es", "una", "para", "con", "que", "por"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不", "人", "这"),
}


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, 0).otherwise(
        F.size(F.split(t, r"\s+"))
    ).alias("token_count")


def word_token_count(text: Column) -> Column:
    """BPE-ish token estimate: words + punctuation marks counted separately
    (regexp token classes, the pre-tokenizer split of byte-pair encoders)."""
    words = F.size(F.filter(F.split(F.lower(text), r"[^a-z0-9]+"),
                            lambda s: s != F.lit("")))
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?()\[\]{}\"'`]", ""))
    return (words + punct).alias("bpe_token_estimate")


def _lower_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens, empties dropped. Codegen's common-
    subexpression elimination collapses the repeated embeds of this into one
    split per row, so marker counting is O(tokens), not O(passes*bytes)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != F.lit(""))


def _count_occurrences(text: Column, word: str) -> Column:
    # occurrence count of word as a whole whitespace token
    return F.size(F.filter(_lower_tokens(text), lambda t: t == F.lit(word)))


def lang_scores(text: Column, langs: dict[str, tuple[str, ...]] | None = None
                ) -> dict[str, Column]:
    langs = langs or LANG_MARKERS
    toks = _lower_tokens(text)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words)))
        for lang, words in langs.items()
    }


def lang_id(text: Column, langs: dict[str, tuple[str, ...]] | None = None
            ) -> Column:
    """Predicted language = argmax marker-hit count; 'und' when all zero.
    Ties break by language code order (deterministic).

    Shape: the argmax runs as a runtime array fold so each per-language
    score expression appears in the plan exactly ONCE. A chained
    when(s > best, ...) formulation embeds best_score (itself all previous
    whens) twice per level — 2^|langs| copies of the marker-count regexps,
    measured at ~3 ms/row on 2 KB docs; this form is ~40x cheaper."""
    scores = lang_scores(text, langs)
    pairs = sorted(scores.items())
    arr = F.array(*[
        F.struct(s.cast("long").alias("s"), F.lit(code).alias("c"))
        for code, s in pairs
    ])
    init = F.struct(F.lit(0).cast("long").alias("s"), F.lit("und").alias("c"))
    best = F.aggregate(
        arr, init,
        lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc),
    )
    return best["c"]


def quality_score(text: Column) -> Column:
    """0..1 document quality blend: length factor, alpha ratio, punctuation
    density sanity, mean word length sanity, stopword presence.
    (Gopher/C4-style filters condensed into one score.)"""
    t = F.trim(text)
    n = F.length(t).cast("double")
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("double")
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", "")).cast("double")
    n_words = F.size(F.split(t, r"\s+")).cast("double")
    len_factor = F.least(F.lit(1.0), n / F.lit(500.0))
    alpha_ratio = F.when(n > 0, n_alpha / n).otherwise(0.0)
    punct_ok = F.when((n_punct / F.greatest(n_words, F.lit(1.0))) <= 0.3, 1.0).otherwise(0.3)
    mean_wlen = F.when(n_words > 0, n_alpha / n_words).otherwise(0.0)
    wlen_ok = F.when((mean_wlen >= 2.0) & (mean_wlen <= 12.0), 1.0).otherwise(0.3)
    stop_hits = sum(
        (_count_occurrences(t, w) for w in ("the", "and", "of", "a")),
        start=F.lit(0),
    )
    stop_ok = F.when(stop_hits > 0, 1.0).otherwise(0.5)
    return (
        F.lit(0.3) * len_factor
        + F.lit(0.3) * alpha_ratio
        + F.lit(0.15) * punct_ok
        + F.lit(0.15) * wlen_ok
        + F.lit(0.10) * stop_ok
    ).cast("double")


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_filter(docs: DataFrame, text_col: str = "text"
                          ) -> DataFrame:
    """Gopher document-level quality rules (Rae et al. 2021,
    arXiv:2112.11446 — the MassiveWeb filter set) as pure codegen
    expressions: one shuffle-free projection per document, so the pack runs
    at scan speed over a 100 TB corpus.

    Measures (definitions pinned by the q_gopher_rules DuckDB oracle):
      n_words        whitespace tokens (empties dropped)
      mean_word_len  total word chars / n_words (0.0 when no words)
      symbol_ratio   ('#' chars + non-overlapping '...' runs + '…' chars)
                     per word
      bullet_frac    fraction of non-blank lines whose ltrim starts with
                     a bullet char (one of "•‣*-")
      ellipsis_frac  fraction of non-blank lines whose rtrim ends with
                     '...' or '…'
      alpha_frac     fraction of words containing an ASCII letter
      stop_hits      distinct Gopher stopwords present as lowercase tokens

    Rules (AND-ed into ``gopher_keep``): 50 <= n_words <= 100_000,
    3 <= mean_word_len <= 10, symbol_ratio <= 0.1, bullet_frac < 0.9,
    ellipsis_frac < 0.3, alpha_frac >= 0.8, stop_hits >= 2.
    """
    t = F.col(text_col)
    # Perf shape: lambda (higher-order) expressions sit OUTSIDE codegen's
    # common-subexpression elimination, so naive per-measure filters would
    # re-split the text once per measure (~5 ms/row on 2 KB docs). Instead:
    # ONE fold over the words array and ONE fold over the lines array, each
    # producing a stats struct, staged behind a projection boundary —
    # CollapseProject keeps the boundary because the folds are non-cheap and
    # referenced multiple times downstream.
    words = F.filter(F.split(t, r"\s+"), lambda w: w != F.lit(""))
    zero3 = lambda names: F.struct(  # noqa: E731
        *[F.lit(0).cast("long").alias(n) for n in names]
    )
    wstats = F.aggregate(
        words, zero3(("n", "chars", "alpha")),
        lambda a, w: F.struct(
            (a["n"] + 1).alias("n"),
            (a["chars"] + F.length(w)).alias("chars"),
            (a["alpha"] + F.when(w.rlike("[A-Za-z]"), 1).otherwise(0)
             ).alias("alpha"),
        ),
    )
    lines = F.filter(F.split(t, r"\n"), lambda l: F.trim(l) != F.lit(""))
    lstats = F.aggregate(
        lines, zero3(("n", "bullet", "ell")),
        lambda a, l: F.struct(
            (a["n"] + 1).alias("n"),
            (a["bullet"] + F.when(F.ltrim(l).rlike(r"^[•‣*-]"), 1)
             .otherwise(0)).alias("bullet"),
            (a["ell"] + F.when(F.rtrim(l).rlike(r"(\.\.\.|…)$"), 1)
             .otherwise(0)).alias("ell"),
        ),
    )
    n_hash = F.length(F.regexp_replace(t, r"[^#]", ""))
    n_ell3 = (F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))) / 3
    n_ellu = F.length(F.regexp_replace(t, r"[^…]", ""))
    # one pass: distinct stopwords present = |tokens ∩ stopwords|
    # (array_intersect dedups)
    stop_hits = F.size(F.array_intersect(
        _lower_tokens(t), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    ))
    staged = docs.select(
        "*",
        wstats.alias("_w"),
        lstats.alias("_l"),
        (n_hash + n_ell3 + n_ellu).alias("_symbols"),
        stop_hits.cast("int").alias("stop_hits"),
    )
    w, li = F.col("_w"), F.col("_l")
    n_words, n_lines = w["n"], li["n"]
    out = staged.select(
        *[c for c in staged.columns if c not in ("_w", "_l", "_symbols",
                                                 "stop_hits")],
        n_words.cast("int").alias("n_words"),
        F.when(n_words > 0, w["chars"] / n_words).otherwise(0.0)
        .cast("double").alias("mean_word_len"),
        F.when(n_words > 0, F.col("_symbols") / n_words).otherwise(0.0)
        .cast("double").alias("symbol_ratio"),
        F.when(n_lines > 0, li["bullet"] / n_lines).otherwise(0.0)
        .cast("double").alias("bullet_frac"),
        F.when(n_lines > 0, li["ell"] / n_lines).otherwise(0.0)
        .cast("double").alias("ellipsis_frac"),
        F.when(n_words > 0, w["alpha"] / n_words).otherwise(0.0)
        .cast("double").alias("alpha_frac"),
        "stop_hits",
    )
    r_words = (F.col("n_words") >= 50) & (F.col("n_words") <= 100_000)
    r_wlen = (F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 10.0)
    r_symbol = F.col("symbol_ratio") <= 0.1
    r_bullet = F.col("bullet_frac") < 0.9
    r_ellipsis = F.col("ellipsis_frac") < 0.3
    r_alpha = F.col("alpha_frac") >= 0.8
    r_stop = F.col("stop_hits") >= 2
    return out.select(
        "*",
        r_words.alias("rule_word_count"),
        r_wlen.alias("rule_mean_word_len"),
        r_symbol.alias("rule_symbol_ratio"),
        r_bullet.alias("rule_bullet_lines"),
        r_ellipsis.alias("rule_ellipsis_lines"),
        r_alpha.alias("rule_alpha_words"),
        r_stop.alias("rule_stopwords"),
        (r_words & r_wlen & r_symbol & r_bullet & r_ellipsis & r_alpha
         & r_stop).alias("gopher_keep"),
    )


def c4_quality_filter(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2019, arXiv:1910.10683 §2.2) as one
    shuffle-free projection — the line filters run inside a single
    higher-order ``filter`` over the split lines, so the whole pack is
    codegen over the scan (global line dedup is separate: ``line_dedup``).

    Line filters (a line survives iff ALL hold; pinned by q_c4_filters):
      - trimmed line ends with a terminal punctuation mark (. ! ? " ”)
      - line has at least 3 whitespace words
      - line does not mention 'javascript' (case-insensitive)

    Document flags (on the ORIGINAL text): contains 'lorem ipsum'
    (case-insensitive), contains a curly brace; ``n_sentences`` counts
    [.!?] in the line-filtered text. ``c4_keep`` = no lorem-ipsum, no curly
    brace, and at least 5 sentences survive the line filters.

    Output adds: c4_text (kept lines re-joined), n_lines_total,
    n_lines_kept, n_sentences, has_lorem_ipsum, has_curly_brace, c4_keep.
    """
    t = F.col(text_col)
    lines = F.split(t, r"\n")
    kept = F.filter(
        lines,
        lambda l: F.rtrim(l).rlike('[.!?"”]$')
        & (F.size(F.filter(F.split(l, r"\s+"), lambda w: w != F.lit(""))) >= 3)
        & ~F.lower(l).contains("javascript"),
    )
    clean = F.array_join(kept, "\n")
    n_sentences = F.length(F.regexp_replace(clean, r"[^.!?]", ""))
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_brace = t.contains("{") | t.contains("}")
    return docs.select(
        "*",
        clean.alias("c4_text"),
        F.size(lines).alias("n_lines_total"),
        F.size(kept).alias("n_lines_kept"),
        n_sentences.alias("n_sentences"),
        has_lorem.alias("has_lorem_ipsum"),
        has_brace.alias("has_curly_brace"),
        (~has_lorem & ~has_brace & (n_sentences >= 5)).alias("c4_keep"),
    )


def fingerprint(text: Column) -> Column:
    """Deterministic content fingerprint: md5 of the whitespace/casing
    canonical form (the exact-dedup key; oracle: DuckDB md5)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def bm25_rank(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.5,
    b: float = 0.75,
) -> DataFrame:
    """Corpus-level Okapi BM25 as pure dataflow (no Python UDF):
    explode tokens -> tf per (doc, term) -> df per term -> idf -> score.
    idf = ln((N - df + 0.5)/(df + 0.5) + 1). Returns (id, bm25) per doc
    with bm25 > 0. Mirrors the SQL oracle exactly."""
    qt = [t.lower() for t in query_terms if t]
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                     lambda t: t != F.lit(""))
        ).alias("term"),
    )
    dl = toks.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    # two scalar probes: N is count of ALL docs (token-less docs included —
    # the avg(dl) universe differs, so these cannot fuse into one agg)
    n_docs = docs.count()
    avgdl_row = dl.agg(F.avg("dl")).collect()[0][0] or 0.0
    tf = (
        toks.where(F.col("term").isin(qt))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.countDistinct("id").alias("df"))
    idf = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    scored = (
        tf.join(df_t, "term")
        .join(dl, "id")
        .withColumn(
            "part",
            idf * F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(float(avgdl_row)))),
        )
    )
    return scored.groupBy("id").agg(F.sum("part").cast("double").alias("bm25"))


def profile_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass document profile: all text-analysis columns at once."""
    t = F.col(text_col)
    return docs.withColumns(
        {
            "token_count": token_count(t),
            "bpe_token_estimate": word_token_count(t),
            "lang_pred": lang_id(t),
            "quality": quality_score(t),
            "fingerprint": fingerprint(t),
            "n_chars_obs": F.length(t),
        }
    )


def corpus_report(docs: DataFrame, text_col: str = "text",
                  lang_col: str = "lang") -> DataFrame:
    """One-job corpus health report: per-language rows PLUS a grand-total
    row via Spark ``rollup`` — n_docs, n_tokens, avg_quality, distinct
    fingerprints, exact-dup rate. The monitoring sink of the corpus
    pipeline: run it per epoch and diff reports to see what a pipeline
    change did to the corpus before committing it.

    The null rollup group surfaces as lang='ALL'. ``distinct_fp`` is an
    exact count_distinct (oracle-checkable); at extreme scale swap in
    approx_count_distinct — the plan shape is otherwise one aggregation
    with a rollup Expand, no joins."""
    t = F.col(text_col)
    base = docs.select(
        F.coalesce(F.col(lang_col), F.lit("??")).alias("lang"),
        token_count(t).alias("_tok"),
        quality_score(t).alias("_q"),
        fingerprint(t).alias("_fp"),
    )
    return (
        base.rollup("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tok").alias("n_tokens"),
            F.round(F.avg("_q") + 1e-9, 4).alias("avg_quality"),
            F.count_distinct("_fp").alias("distinct_fp"),
        )
        .withColumn(
            "dup_rate",
            F.round(1.0 - F.col("distinct_fp") / F.col("n_docs") + 1e-9, 4),
        )
        .withColumn("lang", F.coalesce("lang", F.lit("ALL")))
    )


def domain_quality_rollup(
    docs: DataFrame,
    domain_col: str = "registrable_domain",
    text_col: str = "text",
    min_docs: int = 3,
    min_avg_quality: float = 0.5,
    max_dup_rate: float = 0.5,
) -> DataFrame:
    """Per-domain quality prior (RefinedWeb-style domain curation): roll the
    shuffle-free per-doc profile up to the registrable domain and emit a
    keep/block verdict usable as a broadcast filter on future crawl or
    ingest batches.

    Columns: (domain, n_docs, avg_quality, distinct_fp, dup_rate, keep)
    where dup_rate = 1 - distinct fingerprints / docs (a domain serving the
    same page under many URLs scores high) and keep requires n_docs >=
    min_docs (small samples are not evidence), avg_quality >=
    min_avg_quality, and dup_rate <= max_dup_rate.

    Shape at 100 TB: quality/fingerprint are codegen projections in the
    scan; the ONLY exchange is the domain groupBy (evenly keyed far below
    host skew — partial aggregation absorbs mega-domains); the output is
    |domains| rows — broadcastable by construction."""
    prof = profile_documents(docs, text_col=text_col)
    n = F.count(F.lit(1))
    return (
        prof.groupBy(F.col(domain_col).alias("domain"))
        .agg(
            n.alias("n_docs"),
            # +1e-9 before rounding: keeps exact .5 boundaries off the
            # HALF_UP/half-even rounding edge (engine-independent values)
            F.round(F.avg("quality") + 1e-9, 4).alias("avg_quality"),
            F.count_distinct("fingerprint").alias("distinct_fp"),
        )
        .withColumn(
            "dup_rate",
            F.round(1.0 - F.col("distinct_fp") / F.col("n_docs") + 1e-9, 4),
        )
        .withColumn(
            "keep",
            (F.col("n_docs") >= min_docs)
            & (F.col("avg_quality") >= min_avg_quality)
            & (F.col("dup_rate") <= max_dup_rate),
        )
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1.1,
    public paper — the standard crawl-quality repetition filters):

      n_lines                 non-empty lines
      dup_line_frac           (n_lines - distinct_lines) / n_lines
      dup_line_char_frac      chars in repeat occurrences beyond the first /
                              total line chars
      top_bigram_frac         occurrences of the most frequent word 2-gram /
                              total 2-grams

    Shape at 100 TB: two groupBys keyed by (id, unit) then (id) — linear,
    evenly keyed, no driver state; all native exprs.
    """
    did = F.col(id_col)
    lines = (
        docs.select(did.alias("id"),
                    F.explode(F.split(F.col(text_col), "\n")).alias("line"))
        .where(F.length(F.trim("line")) > 0)
    )
    per_line = lines.groupBy("id", "line").agg(F.count(F.lit(1)).alias("c"))
    line_stats = per_line.groupBy("id").agg(
        F.sum("c").alias("n_lines"),
        F.count(F.lit(1)).alias("n_distinct_lines"),
        F.sum(F.length("line") * F.col("c")).alias("line_chars"),
        F.sum(F.length("line") * (F.col("c") - 1)).alias("dup_line_chars"),
    )

    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda t: t != F.lit(""))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - 2, F.lit(0)))
    bigrams = F.when(n >= 2, F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2))
    )).otherwise(F.array())
    bg = docs.select(did.alias("id"), F.explode(bigrams).alias("bigram"))
    per_bg = bg.groupBy("id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    bg_stats = per_bg.groupBy("id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_c")
    )

    base = docs.select(did.alias("id"))
    out = (
        base.join(line_stats, "id", "left").join(bg_stats, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.when(F.coalesce("n_lines", F.lit(0)) > 0,
                   (F.col("n_lines") - F.col("n_distinct_lines"))
                   / F.col("n_lines")).otherwise(F.lit(0.0))
            .alias("dup_line_frac"),
            F.when(F.coalesce("line_chars", F.lit(0)) > 0,
                   F.col("dup_line_chars") / F.col("line_chars"))
            .otherwise(F.lit(0.0)).alias("dup_line_char_frac"),
            F.when(F.coalesce("n_bigrams", F.lit(0)) > 0,
                   F.col("top_bigram_c") / F.col("n_bigrams"))
            .otherwise(F.lit(0.0)).alias("top_bigram_frac"),
        )
    )
    return out


def stratified_sample(docs: DataFrame, rates: dict[str, float],
                      stratum_col: str = "lang", id_col: str = "doc_id",
                      default_rate: float = 0.0, salt: str = "mix-v1"
                      ) -> DataFrame:
    """Deterministic hash-based stratified sampling — how training mixtures
    are actually drawn at corpus scale (reproducible across runs & engines,
    no RNG state, no shuffle: a pure filter the scan can evaluate).

    Keeps a row iff stable_hash60(salt || id) % 1_000_000 <
    rate(stratum) * 1e6. The oracle reproduces the identical arithmetic.
    """
    from .urlops import stable_hash60

    rate = None
    for k, v in sorted(rates.items()):
        cond = F.col(stratum_col) == k
        rate = (F.when(cond, F.lit(v)) if rate is None
                else rate.when(cond, F.lit(v)))
    rate = (rate.otherwise(F.lit(default_rate)) if rate is not None
            else F.lit(default_rate))
    bucket = F.pmod(
        stable_hash60(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
        F.lit(1_000_000),
    )
    return docs.where(bucket < (rate * 1_000_000).cast("long"))


def unigram_lm(ref_docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unigram language model with add-one smoothing from a reference
    corpus: (term, logp) + the shared (total, vocab) scalars as columns.
    The CCNet-style LM-quality dataflow (public: Wenzek et al. 2020) with
    the n-gram model behind the same seam a KenLM swap would use — training
    is one explode + groupBy; the scalars stay IN the dataflow (one-row
    cross join), never on the driver. In a long pipeline, materialize the
    returned (small, vocab-sized) table to parquet once — its lineage
    otherwise recomputes the reference-corpus explode at every broadcast."""
    toks = ref_docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                     lambda t: F.length(t) > 1)
        ).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    scal = counts.agg(
        F.sum("c").alias("lm_total"), F.count(F.lit(1)).alias("lm_vocab")
    )
    return counts.crossJoin(F.broadcast(scal)).select(
        "term",
        F.log((F.col("c") + 1.0) / (F.col("lm_total") + F.col("lm_vocab")))
        .alias("logp"),
        "lm_total", "lm_vocab",
    )


def lm_quality_score(docs: DataFrame, lm: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-doc mean negative log-likelihood under the unigram LM (lower =
    more reference-like; the LM-filter signal used to rank crawl text
    against a clean corpus). Unknown terms get the smoothed unseen mass
    1/(total+vocab). Shape: explode -> broadcast join -> one keyed agg."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                     lambda t: F.length(t) > 1)
        ).alias("term"),
    )
    scal = lm.select("lm_total", "lm_vocab").limit(1)
    scored = (
        toks.join(F.broadcast(lm.select("term", "logp")), "term", "left")
        .crossJoin(F.broadcast(scal))
        .select(
            "id",
            F.coalesce(
                "logp",
                F.log(1.0 / (F.col("lm_total") + F.col("lm_vocab"))),
            ).alias("logp"),
        )
    )
    agg = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (-F.avg("logp")).alias("avg_nll"),
    )
    return (
        docs.select(F.col(id_col))
        .join(agg, docs[id_col] == agg["id"], "left")
        .drop("id")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("avg_nll", F.lit(0.0)).alias("avg_nll"),
        )
    )


def nll_thresholds(scored: DataFrame, head_frac: float = 1 / 3,
                   middle_frac: float = 1 / 3, lang_col: str = "lang",
                   nll_col: str = "avg_nll") -> DataFrame:
    """Per-language exact NLL percentile cut points for CCNet-style
    head/middle/tail bucketing (Wenzek et al. 2020 §4.4: each language's
    perplexity distribution is split into thirds; head = most
    reference-like). ONE tiny aggregate — ``percentile`` is a single-pass
    grouped agg, so no global sort of the corpus ever happens and the
    result is one row per language (broadcastable by construction).

    Returns (lang, head_max, middle_max)."""
    return scored.groupBy(F.col(lang_col).alias("lang")).agg(
        F.percentile(F.col(nll_col), F.lit(head_frac)).alias("head_max"),
        F.percentile(
            F.col(nll_col), F.lit(head_frac + middle_frac)
        ).alias("middle_max"),
    )


def ccnet_buckets(scored: DataFrame, thresholds: DataFrame,
                  lang_col: str = "lang",
                  nll_col: str = "avg_nll") -> DataFrame:
    """Assign each LM-scored document to the CCNet quality bucket
    (head / middle / tail) of its language: nll <= head_max -> head,
    <= middle_max -> middle, else tail. ``thresholds`` is the
    (lang, head_max, middle_max) table from :func:`nll_thresholds` —
    computed once per snapshot, exactly as CCNet publishes per-dump
    cutoffs — joined BROADCAST, so bucketing is a shuffle-free projection
    over the scored corpus. Languages absent from the thresholds table
    bucket as 'tail' (no reference distribution: assume worst)."""
    t = F.broadcast(
        thresholds.select(
            F.col("lang").alias("_bl"), "head_max", "middle_max"
        )
    )
    return (
        scored.join(t, scored[lang_col] == t["_bl"], "left")
        .withColumn(
            "bucket",
            F.when(F.col("head_max").isNull(), F.lit("tail"))
            .when(F.col(nll_col) <= F.col("head_max"), F.lit("head"))
            .when(F.col(nll_col) <= F.col("middle_max"), F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
        .drop("_bl", "head_max", "middle_max")
    )


def _bigram_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) adjacent-token bigrams over the engine's standard
    tokenization (lowercase, alnum split, len>1) — pure array exprs, the
    pair build never leaves codegen."""
    a = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
        lambda t: F.length(t) > 1,
    )
    n = F.greatest(F.size(a) - 1, F.lit(0))
    zipped = F.arrays_zip(
        F.slice(a, 1, n).alias("w1"), F.slice(a, 2, n).alias("w2")
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(zipped).alias("bg")
    ).select("id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))


def kneser_ney_bigram_lm(ref_docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id"):
    """Interpolated Kneser-Ney bigram LM trained in-dataflow (Kneser & Ney
    1995; the KenLM default order-reduced to 2): returns
    (pairs, backoff, cont) model tables —

      pairs(w1, w2, c12)                    seen-bigram counts
      backoff(w1, c1, n1p_right)            context mass + fan-out
      cont(w2, n1p_left, n_types)           continuation counts + |types|

    P(w2|w1) = (max(c12-d,0) + d*n1p_right(w1)*Pc(w2)) / c1(w1) for seen
    contexts, Pc(w2) = n1p_left(w2)/n_types otherwise, with the unseen-w2
    floor d/n_types — deterministic and SQL-replayable (q_kn_bigram).

    Shape at 100 TB: training is ONE groupBy over exploded bigrams
    (partial-agg combines duplicate pairs map-side) + two grouped rollups
    of the pair table (each keyed on one word — no second corpus pass);
    the model tables are vocab/type-sized, joined hash- or broadcast-side
    by the scorer depending on size, exactly like unigram_lm above.
    """
    bg = _bigram_tokens(ref_docs, id_col, text_col)
    pairs = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    backoff = pairs.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p_right")
    )
    scal = pairs.agg(F.count(F.lit(1)).alias("n_types"))
    cont = pairs.groupBy("w2").agg(
        F.count(F.lit(1)).alias("n1p_left")
    ).crossJoin(F.broadcast(scal))
    return pairs, backoff, cont


def kn_bigram_score(docs: DataFrame, model, id_col: str = "doc_id",
                    text_col: str = "text",
                    discount: float = 0.75) -> DataFrame:
    """Per-doc mean bigram NLL under the KN model (lower = more
    reference-like) — the order-2 upgrade of lm_quality_score's signal:
    unlike the unigram filter it penalizes scrambled / concatenated text
    whose word frequencies look fine but whose transitions don't.

    Docs with <2 tokens score 0.0 / n_bigrams 0 (neutral, retained — the
    zero-token convention). Shape: bigram explode -> three left joins
    against the model tables (pair-keyed join shuffles on (w1,w2); the
    word-keyed sides broadcast when small) -> one keyed agg.
    """
    pairs, backoff, cont = model
    d = float(discount)
    bg = _bigram_tokens(docs, id_col, text_col)
    n_types = cont.select("n_types").limit(1)
    j = (
        bg.join(pairs, ["w1", "w2"], "left")
        .join(backoff, "w1", "left")
        .join(cont.select("w2", "n1p_left"), "w2", "left")
        .crossJoin(F.broadcast(n_types))
    )
    pc = (
        F.coalesce(F.col("n1p_left").cast("double"), F.lit(d))
        / F.col("n_types")
    )
    p = F.when(
        F.col("c1").isNotNull(),
        (F.greatest(F.coalesce("c12", F.lit(0)) - d, F.lit(0.0))
         + d * F.col("n1p_right") * pc) / F.col("c1"),
    ).otherwise(pc)
    agg = j.select("id", F.log(p).alias("logp")).groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (-F.avg("logp")).alias("avg_nll"),
    )
    return (
        docs.select(F.col(id_col))
        .join(agg, docs[id_col] == agg["id"], "left")
        .drop("id")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("avg_nll", F.lit(0.0)).alias("avg_nll"),
        )
    )


def inverted_postings(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Positional inverted index as a POSTINGS TABLE:
    (term, id, tf, positions sorted-int-array) — one posexplode + ONE
    groupBy(term, id) with partial-agg combines.

    The index the engine's retrieval ops (bm25_rank, term_stats) compute
    on the fly, materialized for reuse. Scale shape: postings stay ROWS
    keyed by term — never per-term arrays of documents (a stopword's
    posting list at 10^10 docs would be a single multi-GB value) — so the
    natural at-rest layout is this table written bucketed/sorted by term,
    and a term lookup is a storage-partitioned scan. Write positions off
    (drop the column) when phrase queries aren't needed; tf alone halves
    the bytes.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                lambda t: F.length(t) > 1,
            )
        ).alias("pos", "term"),
    )
    return toks.groupBy("term", "id").agg(
        F.count(F.lit(1)).alias("tf"),
        F.array_sort(F.collect_list("pos")).alias("positions"),
    )


def term_dictionary(postings: DataFrame) -> DataFrame:
    """The index's dictionary: (term, df, cf) from the postings table —
    one grouped rollup, no second corpus pass."""
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
    )


def phrase_match(postings: DataFrame, terms: list[str],
                 id_col: str = "id") -> DataFrame:
    """Exact-phrase retrieval over the positional index: (id, n_matches)
    for documents containing ``terms`` consecutively (positions are over
    the engine's filtered token stream, so phrase terms must each pass
    the len>1 tokenizer — enforced here).

    Shape: the phrase's FIRST term anchors (explode its positions); each
    subsequent term joins by document id with an array_contains(pos + i)
    probe — k-1 doc-keyed joins total, each against a single term's
    postings (index-pruned scans when the postings table is stored
    bucketed/sorted by term). No corpus scan, no window.
    """
    terms = [t.lower() for t in terms]
    if not terms or any(len(t) <= 1 for t in terms):
        raise ValueError(
            "phrase terms must be non-empty and each len>1 "
            "(the index tokenizer drops single-character tokens)"
        )
    anchor = (
        postings.where(F.col("term") == terms[0])
        .select(F.col(id_col), F.explode("positions").alias("pos"))
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = postings.where(F.col("term") == t).select(
            F.col(id_col), F.col("positions").alias(f"_p{i}")
        )
        anchor = anchor.join(nxt, id_col).where(
            F.array_contains(F.col(f"_p{i}"), F.col("pos") + i)
        ).drop(f"_p{i}")
    return anchor.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_matches")
    )


def skipgram_counts(
    docs: DataFrame,
    *,
    window: int = 5,
    min_count: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """(center, context, count) co-occurrence table with a symmetric
    ±``window`` token window — the corpus statistic word2vec/GloVe-style
    embedding training consumes; counts are corpus-global (id-agnostic).
    Tokenization matches the index (len>1).

    Scale shape: NO self-join — each doc's token array is carried
    alongside its posexplode, and the window is an array slice per
    center token (2w context rows per token, emitted by a second
    explode). The only shuffle is the final groupBy(center, context)
    with partial-agg combines, so cost is linear in corpus token count
    × window — the right plan at any corpus size (a positions self-join
    per doc would build per-doc cartesians instead).
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
        lambda t: F.length(t) > 1,
    )
    toks = docs.select(arr.alias("l")).select(
        "l", F.posexplode("l").alias("pos", "center"))
    # slice is 1-based: window [pos-w, pos+w] minus the center itself
    lo = F.greatest(F.col("pos") - window + 1, F.lit(1))
    ctx = F.filter(
        F.slice("l", lo, F.col("pos") + 1 + window - lo + 1),
        lambda _, i: lo + i != F.col("pos") + 1,
    )
    return (
        toks.select("center", F.explode(ctx).alias("context"))
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") >= min_count)
    )


def kwic_snippets(
    docs: DataFrame,
    postings: DataFrame,
    term: str,
    *,
    width: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keyword-in-context snippet extraction: every occurrence of
    ``term`` with ±``width`` tokens of context, driven by the positional
    index. Returns (id, pos, snippet) — snippet over the index's
    filtered token stream, so it reads as normalized text.

    Scale shape: the index side prunes to ONE term's postings (a
    storage-partitioned scan when bucketed by term) before joining the
    corpus scan, so only matching documents re-tokenize. The join is NOT
    force-broadcast: a stopword's occurrence list is corpus-sized and a
    forced hint would be the OOM cliff — AQE promotes the rare-term case
    to a broadcast join at runtime from the actual post-filter size.
    """
    t = term.lower()
    if len(t) <= 1:
        raise ValueError("term must be len>1 (index tokenizer)")
    hits = postings.where(F.col("term") == t).select(
        F.col("id").alias(id_col), F.explode("positions").alias("pos"))
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
        lambda x: F.length(x) > 1,
    )
    lo = F.greatest(F.col("pos") + 1 - width, F.lit(1))
    ln = F.col("pos") + 1 + width - lo + 1
    return (
        docs.select(id_col, arr.alias("l"))
        .join(hits, id_col)
        .select(
            id_col, "pos",
            F.concat_ws(" ", F.slice("l", lo, ln)).alias("snippet"),
        )
    )


def merge_postings(
    base: DataFrame,
    delta: DataFrame,
    retired_ids: DataFrame | None = None,
    id_col: str = "id",
    changed_ids: DataFrame | None = None,
) -> DataFrame:
    """LSM-style index maintenance: the postings of re-crawled documents
    REPLACE their old postings (delete-insert), retired documents drop.
    ``delta`` is :func:`inverted_postings` over just the changed docs;
    ``retired_ids`` is a 1-column DataFrame of doc ids to remove outright;
    ``changed_ids`` (1-column) widens the doomed set beyond the delta's
    ids — pass it when a changed doc may tokenize to NOTHING (no delta
    rows), or its stale postings would silently survive.

    Scale shape: the doomed-id set (changed + retired — one crawl epoch's
    docs) rides a broadcast anti-join, so the base index is never
    shuffled; the union is a plan-level concat. Note the base side IS a
    full postings scan when stored bucketed by term (a doc-keyed probe
    can't prune term buckets) — at 10^10 docs you amortize exactly like
    the seen store: accumulate epochs as delta files and fold them into
    the base on LSM compaction, not per epoch.
    """
    if changed_ids is not None:
        ccol = changed_ids.columns[0]
        gone = changed_ids.select(F.col(ccol).alias(id_col)).distinct()
    else:
        gone = delta.select(F.col(id_col)).distinct()
    if retired_ids is not None:
        rcol = retired_ids.columns[0]
        retired = retired_ids.select(F.col(rcol).alias(id_col)).distinct()
        gone = gone.unionByName(retired).distinct()
        # retirement wins over re-crawl: a doc in both sets must LEAVE
        # the index, not be re-inserted by its delta rows
        delta = delta.join(F.broadcast(retired), id_col, "left_anti")
    kept = base.join(F.broadcast(gone), id_col, "left_anti")
    # project the delta onto the base schema: a positions-free at-rest
    # index (built with positions dropped) takes a freshly-tokenized
    # delta without re-widening
    return kept.unionByName(delta.select(*base.columns))


def merge_dictionary(
    dictionary: DataFrame,
    removed_postings: DataFrame,
    added_postings: DataFrame,
) -> DataFrame:
    """Incremental (term, df, cf) maintenance: fold the postings LEAVING
    the index and the postings ENTERING it into signed per-term deltas,
    then one full-outer merge against the old dictionary — never a
    rebuild pass over the whole postings table. Terms whose df hits 0
    drop out."""
    rem = removed_postings.groupBy("term").agg(
        (-F.count(F.lit(1))).alias("ddf"), (-F.sum("tf")).alias("dcf"))
    add = added_postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("ddf"), F.sum("tf").alias("dcf"))
    delta = rem.unionByName(add).groupBy("term").agg(
        F.sum("ddf").alias("ddf"), F.sum("dcf").alias("dcf"))
    return (
        dictionary.join(delta, "term", "full_outer")
        .select(
            "term",
            (F.coalesce("df", F.lit(0)) + F.coalesce("ddf", F.lit(0)))
            .alias("df"),
            (F.coalesce("cf", F.lit(0)) + F.coalesce("dcf", F.lit(0)))
            .alias("cf"),
        )
        .where(F.col("df") > 0)
    )


def update_index(
    postings: DataFrame,
    dictionary: DataFrame,
    changed_docs: DataFrame,
    retired_ids: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """One re-crawl epoch applied to the index: changed docs re-tokenize
    (delta postings), their old postings and any retired docs' postings
    leave, the dictionary takes the signed delta. Returns the new
    (postings, dictionary) pair — equal, row for row, to rebuilding both
    from the updated corpus (pinned by the q_index_update oracle gate).

    Edge semantics (both oracle-equivalent to the rebuild): a changed doc
    whose new text tokenizes to NOTHING still leaves the index (the
    doomed set comes from changed_docs ids, not from the delta — a
    delta-derived set would silently keep its stale postings); a doc in
    BOTH changed_docs and retired_ids is retired (retirement wins).
    """
    delta = inverted_postings(changed_docs, id_col, text_col)
    changed_ids = changed_docs.select(F.col(id_col).alias("id"))
    gone = changed_ids.distinct()
    if retired_ids is not None:
        rcol = retired_ids.columns[0]
        retired = retired_ids.select(F.col(rcol).alias("id")).distinct()
        gone = gone.unionByName(retired).distinct()
        # keep the dictionary delta consistent with merge_postings'
        # retirement-wins rule
        delta = delta.join(F.broadcast(retired), "id", "left_anti")
    removed = postings.join(F.broadcast(gone), "id", "semi")
    new_postings = merge_postings(
        postings, delta, retired_ids, id_col="id", changed_ids=changed_ids)
    new_dictionary = merge_dictionary(dictionary, removed, delta)
    return new_postings, new_dictionary


def proximity_match(
    postings: DataFrame,
    term_a: str,
    term_b: str,
    *,
    within: int = 8,
    id_col: str = "id",
) -> DataFrame:
    """Proximity retrieval over the positional index: documents where
    ``term_a`` and ``term_b`` occur within ``within`` tokens of each
    other (positions over the filtered token stream). Returns
    (id, min_dist, n_pairs_within) — the minimum absolute position gap
    and how many occurrence pairs fall inside the window.

    Shape: two single-term index-pruned scans join once on the doc id;
    the pair math is per-row array work (explode A's positions, probe
    B's array with a transform/min — never a positions×positions row
    blowup), then one groupBy(id). Distance 0 is impossible (two terms
    cannot share a position), so min_dist >= 1.
    """
    a, b = term_a.lower(), term_b.lower()
    if len(a) <= 1 or len(b) <= 1 or a == b:
        raise ValueError(
            "proximity terms must be distinct and each len>1 "
            "(the index tokenizer drops single-character tokens)"
        )
    if within < 1:
        raise ValueError("within must be >= 1")
    pa = postings.where(F.col("term") == a).select(
        F.col(id_col), F.explode("positions").alias("pa"))
    pb = postings.where(F.col("term") == b).select(
        F.col(id_col), F.col("positions").alias("pbs"))
    dists = F.transform("pbs", lambda x: F.abs(x - F.col("pa")))
    return (
        pa.join(pb, id_col)
        .select(
            id_col,
            F.array_min(dists).alias("row_min"),
            F.size(F.filter(dists, lambda d: d <= within))
            .alias("row_within"),
        )
        .groupBy(id_col)
        .agg(
            F.min("row_min").alias("min_dist"),
            F.sum("row_within").cast("bigint").alias("n_pairs_within"),
        )
        .where(F.col("min_dist") <= within)
    )


def doc_lengths(postings: DataFrame, id_col: str = "id") -> DataFrame:
    """(id, dl) side table from the postings: dl = sum(tf) over the doc's
    indexed terms. At scale this is written ONCE at index-build time next
    to the postings (it is a full-postings rollup) and reused by every
    query — never derived per query."""
    return postings.groupBy(id_col).agg(
        F.sum("tf").cast("bigint").alias("dl")
    )


def bm25_from_index(
    postings: DataFrame,
    dictionary: DataFrame,
    query_terms: list[str],
    *,
    doclens: DataFrame | None = None,
    k1: float = 1.5,
    b: float = 0.75,
    id_col: str = "id",
) -> DataFrame:
    """Okapi BM25 ranked retrieval FROM the materialized index — the query
    path that never touches the corpus text (vs :func:`bm25_rank`, which
    re-tokenizes per query). Mirrors the reference's relevance scorer
    semantics (crawl4ai's BM25 use in deep_crawling/filters.py /
    content_filter_strategy.py) over the at-rest index instead of live
    pages. idf = ln((N - df + 0.5)/(df + 0.5) + 1); N counts docs IN the
    index (a doc with zero len>1 tokens has no postings and no dl row).

    Scale shape: the postings/dictionary sides are filtered to the query's
    terms BEFORE any join (index-pruned scans when stored bucketed/sorted
    by term); the dictionary slice and the 1-row (N, avgdl) corpus stats
    are broadcast; the only non-broadcast join is postings->doclens on the
    doc key, then one partial-agg groupBy(id). No corpus scan, no scalar
    driver actions — the whole query is a single plan.

    Returns (id, bm25, n_terms) for every doc matching >=1 query term.
    Compose ``.orderBy(F.desc("bm25"), id_col).limit(k)`` for top-k —
    Catalyst turns that into TakeOrderedAndProject (no global sort).
    """
    qt = sorted({t.lower() for t in query_terms if len(t) > 1})
    if not qt:
        raise ValueError(
            "query_terms must contain at least one len>1 term "
            "(the index tokenizer drops single-character tokens)"
        )
    if doclens is None:
        doclens = doc_lengths(postings, id_col)
    stats = doclens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    qp = postings.where(F.col("term").isin(qt)).select(id_col, "term", "tf")
    qd = dictionary.where(F.col("term").isin(qt)).select("term", "df")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    part = (
        idf * F.col("tf") * (k1 + 1.0)
        / (F.col("tf")
           + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        qp.join(F.broadcast(qd), "term")
        .join(doclens, id_col)
        .crossJoin(F.broadcast(stats))
        .select(id_col, part.alias("part"))
        .groupBy(id_col)
        .agg(
            F.sum("part").cast("double").alias("bm25"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )


def ql_dirichlet_from_index(
    postings: DataFrame,
    dictionary: DataFrame,
    query_terms: list[str],
    *,
    mu: float = 2000.0,
    doclens: DataFrame | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Query-likelihood ranked retrieval with Dirichlet smoothing — the
    LM-based ranker beside :func:`bm25_from_index`, from the same index.
    log p(q|d) decomposes as
    sum_t qtf_t * ln(1 + tf_td / (mu * cf_t / C))  +  |q| * ln(mu / (dl_d + mu))
    so only MATCHING terms' postings are touched; the second term needs
    just the doc-length sidecar. Scores are exact for every doc matching
    >=1 query term (the returned set); a no-match doc's score is the
    query-independent floor and never competes for top-k.

    Scale shape: identical to bm25_from_index — term-pruned scans, the
    query-term stats (qtf joined onto the dictionary slice) and the
    1-row corpus total C broadcast, one doc-keyed join, one groupBy.
    """
    from collections import Counter

    qtf = Counter(t.lower() for t in query_terms if len(t) > 1)
    if not qtf:
        raise ValueError(
            "query_terms must contain at least one len>1 term "
            "(the index tokenizer drops single-character tokens)"
        )
    q_len = float(sum(qtf.values()))
    spark = postings.sparkSession
    from ..session import local_df

    qdf = local_df(
        spark, [(t, float(n)) for t, n in sorted(qtf.items())],
        "term string, qtf double")
    if doclens is None:
        doclens = doc_lengths(postings, id_col)
    corpus = dictionary.agg(
        F.sum("cf").cast("double").alias("c_total"))
    qd = dictionary.join(qdf, "term").select("term", "cf", "qtf")
    qp = postings.where(
        F.col("term").isin(sorted(qtf))).select(id_col, "term", "tf")
    part = F.col("qtf") * F.log(
        1.0 + F.col("tf") / (mu * F.col("cf") / F.col("c_total")))
    return (
        qp.join(F.broadcast(qd), "term")
        .crossJoin(F.broadcast(corpus))
        .select(id_col, part.alias("part"))
        .groupBy(id_col)
        .agg(F.sum("part").alias("match_ll"),
             F.count(F.lit(1)).alias("n_terms"))
        .join(doclens, id_col)
        .select(
            id_col,
            (F.col("match_ll")
             + q_len * F.log(mu / (F.col("dl") + mu)))
            .cast("double").alias("ql"),
            "n_terms",
        )
    )


def tfidf_keywords(
    postings: DataFrame,
    dictionary: DataFrame,
    *,
    k: int = 5,
    doclens: DataFrame | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Top-k keyword terms per document by smoothed tf-idf, straight from
    the materialized index (no corpus re-tokenization): weight =
    (tf / dl) * (ln((1 + N)/(1 + df)) + 1) — the sklearn-smooth idf, so
    corpus-wide terms still score > 0 and the log never sees 0.

    Scale shape: this touches EVERY posting (unlike the query-pruned
    rankers), so the dictionary join stays a plain term-keyed join —
    postings and dictionary are co-partitioned on term at rest, and a
    10^8-term dictionary (Heaps' law at web scale) must never be forced
    broadcast; AQE still picks broadcast for small corpora. The per-doc
    top-k is a window PARTITIONED BY the doc id — per-partition state is
    one doc's term list (page-sized), so the window distributes cleanly
    at any corpus size. Ties break on term to keep output deterministic.

    Returns (id, term, tf, df, tfidf, rank<=k).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if doclens is None:
        doclens = doc_lengths(postings, id_col)
    n_docs = doclens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"))
    w = (
        postings.select(id_col, "term", "tf")
        .join(dictionary.select("term", "df"), "term")
        .join(doclens, id_col)
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.col("tf") / F.col("dl"))
            * (F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0),
        )
    )
    win = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term"))
    return (
        w.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )


def pmi_collocations(
    docs: DataFrame,
    *,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level collocation mining: pointwise mutual information over
    adjacent token pairs (the index tokenizer's len>1 stream), using
    bigram-table marginals — pmi = ln(c12 * n / (c1 * c2)) with
    c1 = count(w1 as left), c2 = count(w2 as right), n = total bigrams.

    ``min_count`` gates on the INTEGER pair count before any float math,
    so the returned row set is exactly reproducible; pmi is the only
    float column. Shape: the adjacent-pair build is pure array exprs
    (:func:`_bigram_tokens` — never leaves codegen, no self-join) -> one
    groupBy(pair) -> two grouped marginal rollups of the PAIR table
    (never a second corpus pass) that re-join on single keys; the 1-row
    n rides a broadcast.
    """
    bg = _bigram_tokens(docs, id_col, text_col)
    pairs = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    left = pairs.groupBy("w1").agg(F.sum("c12").alias("c1"))
    right = pairs.groupBy("w2").agg(F.sum("c12").alias("c2"))
    n_row = pairs.agg(F.sum("c12").cast("double").alias("n_bg"))
    return (
        pairs.where(F.col("c12") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(n_row))
        .select(
            "w1", "w2", "c12", "c1", "c2",
            F.log(F.col("c12") * F.col("n_bg")
                  / (F.col("c1") * F.col("c2"))).alias("pmi"),
        )
    )


# The classic UTF-8-read-as-cp1252 artifacts (ftfy's core table, public
# knowledge): each is the cp1252 rendering of a common non-ASCII char's
# UTF-8 bytes. Printable-only subset so Spark and DuckDB literals agree
# byte-for-byte; longest-first so no entry is a prefix of a later one.
MOJIBAKE_PAIRS: tuple[tuple[str, str], ...] = (
    ("â€™", "’"),   # â€™ -> right single quote
    ("â€˜", "‘"),   # â€˜ -> left single quote
    ("â€œ", "“"),   # â€œ -> left double quote
    ("â€“", "–"),   # â€“ -> en dash
    ("â€”", "—"),   # â€” -> em dash
    ("â€¦", "…"),   # â€¦ -> ellipsis
    ("Ã©", "é"),         # Ã© -> é
    ("Ã¨", "è"),         # Ã¨ -> è
    ("Ã¡", "á"),         # Ã¡ -> á
    ("Ã³", "ó"),         # Ã³ -> ó
    ("Ãº", "ú"),         # Ãº -> ú
    ("Ã¤", "ä"),         # Ã¤ -> ä
    ("Ã¶", "ö"),         # Ã¶ -> ö
    ("Ã¼", "ü"),         # Ã¼ -> ü
    ("Ã±", "ñ"),         # Ã± -> ñ
    ("Ã§", "ç"),         # Ã§ -> ç
    ("Ã¯", "ï"),         # Ã¯ -> ï
    ("Ã ", "à"),         # Ã + nbsp -> à
    ("Â«", "«"),         # Â« -> «
    ("Â»", "»"),         # Â» -> »
    ("Â ", " "),              # Â + nbsp -> space
)


def fix_mojibake(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Encoding-artifact repair (ftfy-lite): detect and fix the classic
    "UTF-8 bytes decoded as cp1252" mojibake — â€™ for apostrophes, Ã©
    for é, Â-prefixed punctuation — that litters real web crawls where
    the page lied about its charset. Counts each artifact on the ORIGINAL
    text (so overlapping repairs don't double-count), then applies the
    repair table longest-first.

    Adds ``n_mojibake`` (total artifact occurrences) and
    ``is_mojibake``, and rewrites ``<text_col>`` repaired.

    Scale shape: a pure projection — literal (non-regex) replace chains
    and length arithmetic, all whole-stage codegen over the scan; no
    shuffle, no UDF. Run BEFORE quality scoring: mojibake inflates
    non-alpha ratios and poisons dedup shingles."""
    t = F.col(text_col)
    counts = [
        ((F.length(t) - F.length(F.replace(t, F.lit(bad), F.lit(""))))
         / F.lit(len(bad))).cast("long")
        for bad, _ in MOJIBAKE_PAIRS
    ]
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    fixed = t
    for bad, good in MOJIBAKE_PAIRS:
        fixed = F.replace(fixed, F.lit(bad), F.lit(good))
    return (
        docs.withColumn("n_mojibake", total)
        .withColumn("is_mojibake", F.col("n_mojibake") > 0)
        .withColumn(text_col, fixed)
    )


def readability_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch readability profile: syllable-approximate reading-ease and
    Flesch-Kincaid grade per document — the classic surface-form quality
    signal corpus pipelines use alongside Gopher/C4 rules to bucket prose
    by difficulty (reference quality scoring: crawl4ai's relevance/quality
    heuristics, utils.py; the Flesch formulas are the published 1975 Kincaid
    recalculation constants).

    Syllables are approximated as vowel-run count per word (min 1), the
    standard dictionary-free estimator; sentences as ``[.!?]+`` runs
    (min 1). Adds ``n_words``, ``n_sentences``, ``n_syllables``,
    ``flesch_ease``, ``fk_grade``, ``readability_band``
    (easy >= 70 > medium >= 50 > hard on the ease score).

    Scale shape: a pure projection — one split + two higher-order array
    folds per row, all whole-stage codegen over the scan; no shuffle, no
    UDF, no Python crossing. Survives 100 TB by construction."""
    t = F.col(text_col)
    words = F.filter(F.split(F.lower(F.trim(t)), r"\s+"),
                     lambda w: w != F.lit(""))
    n_words = F.size(words)
    n_sentences = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), F.lit(0)))
    )
    n_syllables = F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))),
        ),
    )
    wps = n_words.cast("double") / n_sentences.cast("double")
    spw = n_syllables.cast("double") / n_words.cast("double")
    ease = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    )
    grade = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    )
    return docs.withColumns({
        "n_words": n_words,
        "n_sentences": F.when(n_words == 0, F.lit(1)).otherwise(n_sentences),
        "n_syllables": n_syllables,
        "flesch_ease": ease,
        "fk_grade": grade,
        "readability_band": F.when(n_words == 0, F.lit("hard"))
        .when(ease >= 70.0, F.lit("easy"))
        .when(ease >= 50.0, F.lit("medium"))
        .otherwise(F.lit("hard")),
    })


def zipf_slope(docs: DataFrame, text_col: str = "text",
               min_count: int = 1, top_n: int = 0) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: least-squares
    slope of ln(freq) on ln(rank) plus vocabulary size and singleton
    fraction — the one-row corpus-health check that catches template-
    flooded or boilerplate-heavy crawls (natural prose sits near slope -1;
    machine-generated floods flatten it, mass-duplicated templates steepen
    it). Ranks are made deterministic by ordering (count desc, term asc).

    Returns one row: ``vocab_size``, ``n_tokens``, ``singleton_frac``,
    ``zipf_slope``, ``zipf_intercept``.

    Scale shape: explode -> one partial-agg groupBy(term) -> one
    row_number window over the (optionally top_n-truncated) vocabulary ->
    closed-form regression via covar_pop/var_pop aggregates. The window
    runs over the VOCABULARY (terms, not tokens; bounded by Heaps' law at
    ~10^7-10^8 even for 100 TB) and with ``top_n`` set it is a
    TakeOrderedAndProject, so no single-partition token-scale sort ever
    happens."""
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                     lambda w: w != F.lit(""))
        ).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count("*").alias("n"))
    if min_count > 1:
        counts = counts.where(F.col("n") >= min_count)
    if top_n:
        counts = counts.orderBy(F.col("n").desc(), F.col("term")).limit(top_n)
    w = Window.orderBy(F.col("n").desc(), F.col("term"))
    ranked = counts.withColumn("rank", F.row_number().over(w)).select(
        F.log("rank").alias("x"), F.log("n").alias("y"),
        F.col("n"), (F.col("n") == 1).cast("int").alias("is_singleton"),
    )
    return ranked.agg(
        F.count("*").alias("vocab_size"),
        F.sum("n").alias("n_tokens"),
        (F.sum("is_singleton") / F.count("*")).alias("singleton_frac"),
        (F.covar_pop("x", "y") / F.var_pop("x")).alias("zipf_slope"),
        (F.avg("y") - (F.covar_pop("x", "y") / F.var_pop("x")) * F.avg("x")
         ).alias("zipf_intercept"),
    )


def keyness_g2(
    focus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Corpus-comparison keyness: Dunning's log-likelihood ratio G²
    (Dunning 1993, "Accurate Methods for the Statistics of Surprise and
    Coincidence") between a FOCUS corpus and a REFERENCE corpus — the
    standard "what vocabulary characterizes this slice" statistic for
    corpus curation (which terms mark a domain, a crawl wave, a suspected
    spam segment) that stays valid for the rare events a chi-square
    approximation butchers.

    Per term: a = focus count, b = reference count, c/d = corpus token
    totals, expecteds E1 = c(a+b)/(c+d), E2 = d(a+b)/(c+d),

        G² = 2 * ( a·ln(a/E1) + b·ln(b/E2) )      (0-count terms drop
                                                   their own summand)

    plus ``log_ratio`` = log2((a/c)/(b/d)) as the effect size (null when
    either side is absent — G² alone says "surprising", log_ratio says
    "which way and how hard"). ``min_count`` gates on the INTEGER a+b so
    the returned row set is exactly reproducible; floats never decide
    membership.

    Scale shape: one tokenize+groupBy(term) pass per corpus (partial
    map-side counts), a full-outer equi-join of the two TERM tables
    (vocabulary-sized, Heaps-bounded — never the token streams), and the
    two one-row totals ride a single broadcast. Nothing here is a window
    or a self-join; both corpora are read exactly once."""
    def term_counts(df: DataFrame, out: str) -> DataFrame:
        toks = F.filter(
            F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
            lambda t: F.length(t) > 1,
        )
        return (
            df.select(F.explode(toks).alias("term"))
            .groupBy("term").agg(F.count(F.lit(1)).alias(out))
        )

    fa = term_counts(focus, "a")
    rb = term_counts(reference, "b")
    totals = (
        fa.agg(F.sum("a").cast("double").alias("c"))
        .crossJoin(rb.agg(F.sum("b").cast("double").alias("d")))
    )
    a = F.coalesce("a", F.lit(0)).cast("double")
    b = F.coalesce("b", F.lit(0)).cast("double")
    e1 = F.col("c") * (a + b) / (F.col("c") + F.col("d"))
    e2 = F.col("d") * (a + b) / (F.col("c") + F.col("d"))
    g2 = F.lit(2.0) * (
        F.when(a > 0, a * F.log(a / e1)).otherwise(F.lit(0.0))
        + F.when(b > 0, b * F.log(b / e2)).otherwise(F.lit(0.0))
    )
    log_ratio = F.when(
        (a > 0) & (b > 0),
        F.log2((a / F.col("c")) / (b / F.col("d"))),
    )
    return (
        fa.join(rb, "term", "full_outer")
        .where(F.coalesce("a", F.lit(0)) + F.coalesce("b", F.lit(0))
               >= min_count)
        .crossJoin(F.broadcast(totals))
        .select(
            "term",
            F.coalesce("a", F.lit(0)).alias("focus_count"),
            F.coalesce("b", F.lit(0)).alias("ref_count"),
            g2.alias("g2"),
            log_ratio.alias("log_ratio"),
        )
    )


def char_entropy(text: Column) -> Column:
    """Shannon entropy of the character distribution, in bits/char — the
    classic gibberish detector for web text (base64 blobs, minified JS
    and hash dumps run HIGH ~5-6 bits; keyboard mashing and repeated-char
    padding run LOW <2.5 bits; natural language sits ~3.5-4.5). Null for
    empty text.

    Scale shape: a PURE PROJECTION — no explode, no groupBy, no shuffle.
    Using -sum(p·log2 p) = log2(n) - (sum over chars c of cnt_c·log2
    cnt_c)/n, the frequency table never materializes at all: ONE fold
    over the sorted char array tracks (previous char, current run
    length, running sum of c·log2 c) and closes the last run in the
    finish lambda. Each array subtree is referenced exactly once — an
    index-based formulation would re-evaluate the sort inside every
    lambda probe (lambda bodies sit outside common-subexpression
    elimination) and go quadratic. Entropy of a 100 TB corpus costs one
    scan pass, same as the Gopher/C4 rule packs."""
    chars = F.filter(F.split(text, ""), lambda c: c != F.lit(""))
    n = F.size(chars).cast("double")
    clog = lambda run: run.cast("double") * F.log2(run.cast("double"))  # noqa: E731
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0.0).alias("s"),
    )
    folded = F.aggregate(
        F.array_sort(chars),
        acc0,
        lambda acc, ch: F.struct(
            ch.alias("prev"),
            F.when(ch == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(ch == acc["prev"], acc["s"])
            .otherwise(acc["s"] + F.when(acc["run"] > 0, clog(acc["run"]))
                       .otherwise(F.lit(0.0))).alias("s"),
        ),
        lambda acc: acc["s"] + F.when(acc["run"] > 0, clog(acc["run"]))
        .otherwise(F.lit(0.0)),
    )
    return F.when(n > 0, F.log2(n) - folded / n)


def heaps_fit(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Heaps'-law vocabulary-growth fit: V(n) = K * n^beta over the
    corpus prefix ordered by ``id_col`` — the companion one-row health
    check to :func:`zipf_slope` (natural web text sits near beta ~
    0.4-0.6; a template-flooded crawl's vocabulary saturates, beta -> 0;
    OCR noise / gibberish floods push beta -> 1 because every page mints
    new "words"). Also the engine's own capacity planner: the fitted
    (K, beta) extrapolates vocabulary size — and hence term-dictionary /
    index width — from a rehearsal corpus to the 100 TB target.

    Checkpoints are the power-of-two doc prefixes: bucket(d) =
    bit_length(d+1), so checkpoint b summarizes the first 2^b - 1 docs.
    V(b) = terms whose FIRST occurrence falls at or before b (one
    groupBy(term).min pass — first occurrence needs no sort, no window
    over the token stream); n(b) = cumulative token count (a projection
    + tiny groupBy over docs). The cumulative window and the closed-form
    ln-ln regression (covar_pop/var_pop, like zipf_slope) run over the
    <= 64-row bucket table only.

    Returns one row: ``n_checkpoints``, ``vocab_size``, ``n_tokens``,
    ``heaps_beta``, ``heaps_lnk``.

    Scale shape: two corpus scans (explode -> partial-agg groupBy(term)
    min; projection -> bucket sum), then strictly bucket-table work.
    Nothing global ever sorts: doc->bucket is scan-level integer math."""
    bucket = lambda c: F.length(F.conv(c + 1, 10, 2))  # noqa: E731
    toks = docs.select(
        F.col(id_col).alias("d"),
        F.explode(
            F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                     lambda w: w != F.lit(""))
        ).alias("term"),
    )
    first = toks.groupBy("term").agg(F.min("d").alias("fd"))
    vocab_b = first.groupBy(bucket(F.col("fd")).alias("b")).agg(
        F.count(F.lit(1)).alias("vocab_new"))
    tokens_b = docs.select(
        bucket(F.col(id_col)).alias("b"),
        token_count(F.col(text_col)).alias("tc"),
    ).groupBy("b").agg(F.sum("tc").alias("tokens_new"))
    cum = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    pts = (
        vocab_b.join(tokens_b, "b", "full_outer")
        .select(
            "b",
            F.sum(F.coalesce("vocab_new", F.lit(0))).over(cum).alias("v"),
            F.sum(F.coalesce("tokens_new", F.lit(0))).over(cum).alias("n"),
        )
        .where((F.col("v") > 0) & (F.col("n") > 0))
        .select(F.log("n").alias("x"), F.log("v").alias("y"),
                "v", "n")
    )
    slope = F.covar_pop("x", "y") / F.var_pop("x")
    return pts.agg(
        F.count(F.lit(1)).alias("n_checkpoints"),
        F.max("v").alias("vocab_size"),
        F.max("n").alias("n_tokens"),
        slope.alias("heaps_beta"),
        (F.avg("y") - slope * F.avg("x")).alias("heaps_lnk"),
    )


def fuzzy_term_pairs(terms: DataFrame, term_col: str = "term",
                     min_len: int = 3) -> DataFrame:
    """Edit-distance-1 term pairs via DELETION NEIGHBORHOODS (the
    SymSpell/FastSS family — Bocek et al. 2007 "Fast Similarity Search
    in Large Dictionaries"; public algorithm): every term generates
    itself plus its |t| single-character deletions; two terms are within
    one edit (insert/delete/substitute) IFF their neighborhoods
    intersect, so candidates come from ONE equi-join on the variant key
    instead of an all-pairs Levenshtein — the fuzzy-match shape that
    survives a 10^8-term dictionary (typo'd anchors, scannos, host-name
    confusables). Survivors are verified with exact Levenshtein, so the
    pair set is EXACT for distance 1 — the neighborhood only bounds the
    candidates (it also admits some distance-2 pairs, e.g. two deletions
    at the same spot; the verify removes them).

    Shape: the variant table is a per-row array transform (|t|+1 rows
    per term after the explode), one self-join keyed by variant, exact
    verify on the O(candidates) survivors. ``min_len`` drops terms too
    short to match meaningfully (every 1-char term is within 1 edit of
    every other). Returns (term_a, term_b, dist=1) with term_a < term_b
    and a length-1 guard on the join asymmetry."""
    t = F.col(term_col)
    base = (
        terms.select(t.alias("term")).where(F.length("term") >= min_len)
        .distinct()
    )
    variants = base.select(
        "term",
        F.explode(F.array_union(
            F.array(F.col("term")),
            F.transform(
                F.sequence(F.lit(1), F.length("term")),
                lambda i: F.concat(
                    F.col("term").substr(F.lit(1), i - 1),
                    F.col("term").substr(i + 1, F.length("term")),
                ),
            ),
        )).alias("variant"),
    )
    a = variants.select(F.col("term").alias("term_a"), "variant")
    b = variants.select(F.col("term").alias("term_b"), "variant")
    return (
        a.join(b, "variant")
        .where(F.col("term_a") < F.col("term_b"))
        .select("term_a", "term_b").distinct()
        .where(F.levenshtein("term_a", "term_b") <= 1)
        .withColumn("dist", F.lit(1))
    )


def textrank_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    window: int = 2,
    iterations: int = 3,
    damping: float = 0.85,
    top_k: int = 5,
    min_len: int = 4,
    round_to: int = 8,
) -> DataFrame:
    """TextRank keywords (Mihalcea & Tarau 2004 — public paper): build
    each document's co-occurrence graph over candidate tokens (length >=
    ``min_len``, symmetric ±``window`` over the FILTERED token sequence),
    run ``iterations`` steps of weighted PageRank on every graph, return
    the ``top_k`` tokens per doc as (id, token, rank, rn).

    Scale shape: the per-doc graph never materializes anywhere special —
    every step keys by (id[, token]), so one dataflow ranks ALL documents'
    graphs at once and the corpus dimension distributes. Edge building is
    the join-free array-slice shape (see :func:`skipgram_counts`): token
    array carried next to its posexplode, context = per-row slice — no
    positions self-join, no per-doc cartesian. Each power iteration is
    one equi-join + one groupBy over the edge table; the graph-wide
    normalizers (out-strength, node count) ride as columns.

    ``round_to`` rounds ranks (with the +1e-12 half-up nudge, as
    :func:`linkgraph.pagerank` gates do) BEFORE the ranking window, so the
    keyword set is deterministic under float summation order — reruns,
    partitionings and the SQL oracle agree exactly. Ties break token-asc.

    Reference parity: crawl4ai ships BM25/keyword relevance but no
    graph keyword extractor; this is the standard public algorithm a
    training-data pipeline wants for per-doc topic tags at corpus scale.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0 < damping < 1:
        raise ValueError("damping must be in (0, 1)")
    # Per-doc graphs are inherently tiny (bounded by doc length), so the
    # whole pipeline — tokenize, co-occurrence graph, power iterations,
    # top-k — runs per document inside ONE Arrow stage (guide §4.2): the
    # corpus dimension distributes across tasks and NOTHING shuffles.
    # The previous corpus-wide dataflow paid ~15 Exchanges (explode +
    # per-iteration join/groupBy over (id, token)) for graphs that never
    # needed cross-document data movement. Numerics are identical: same
    # (rank*w)/out_s evaluation order per contribution, and the +1e-12
    # HALF_UP rounding before ranking absorbs summation-order noise
    # exactly as it already did between Spark and the DuckDB oracle.
    from pyspark.sql.types import (
        DoubleType, IntegerType, StringType, StructField, StructType,
    )

    out_schema = StructType([
        StructField("id", docs.schema[id_col].dataType),
        StructField("token", StringType()),
        StructField("rank", DoubleType()),
        StructField("rn", IntegerType()),
    ])
    src = docs.select(F.col(id_col).alias("id"),
                      F.col(text_col).alias("text"))

    def fn(batches):
        import re
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        split_pat = re.compile(r"[^a-z0-9]+")
        quantum = Decimal(1).scaleb(-round_to)

        def rnd(x: float) -> float:
            # F.round HALF_UP on the double's shortest decimal repr
            return float(Decimal(repr(x + 1e-12))
                         .quantize(quantum, rounding=ROUND_HALF_UP))

        for pdf in batches:
            out = {"id": [], "token": [], "rank": [], "rn": []}
            for did, text in zip(pdf["id"], pdf["text"]):
                if text is None:
                    continue
                toks = [t for t in split_pat.split(text.lower())
                        if len(t) >= min_len]
                if not toks:
                    continue
                n_pos = len(toks)
                w: dict = {}
                for p, s in enumerate(toks):
                    for q in range(max(p - window, 0),
                                   min(p + window, n_pos - 1) + 1):
                        if q == p or toks[q] == s:
                            continue
                        key = (s, toks[q])
                        w[key] = w.get(key, 0) + 1
                nodes = sorted(set(toks))
                n = len(nodes)
                outs: dict = {}
                for (s, _d), c in w.items():
                    outs[s] = outs.get(s, 0) + c
                rank = {t: 1.0 / n for t in nodes}
                base = (1.0 - damping) / n
                for _ in range(iterations):
                    sums: dict = {}
                    for (s, d), c in w.items():
                        sums[d] = sums.get(d, 0.0) + rank[s] * c / outs[s]
                    rank = {t: base + damping * sums.get(t, 0.0)
                            for t in nodes}
                ranked = sorted(((rnd(r), t) for t, r in rank.items()),
                                key=lambda x: (-x[0], x[1]))
                for i, (r, t) in enumerate(ranked[:top_k], 1):
                    out["id"].append(did)
                    out["token"].append(t)
                    out["rank"].append(r)
                    out["rn"].append(i)
            yield pd.DataFrame(out, columns=["id", "token", "rank", "rn"])

    return src.mapInPandas(fn, out_schema)


def textrank_sentences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    iterations: int = 3,
    damping: float = 0.85,
    top_k: int = 3,
    min_tokens: int = 3,
    round_to: int = 8,
) -> DataFrame:
    """Extractive summarization via sentence-level TextRank (Mihalcea &
    Tarau 2004; the similarity graph of LexRank, Erkan & Radev 2004 —
    public papers): per document, rank sentences by weighted PageRank on
    the sentence-similarity graph and keep the ``top_k``. Edge weight is
    the TextRank normalized overlap |tokens(a) ∩ tokens(b)| /
    (ln|tokens(a)| + ln|tokens(b)|) over distinct len>1 tokens; sentences
    with fewer than ``min_tokens`` distinct tokens are excluded (also
    keeps the log denominator positive). Sentence boundaries are the
    reference chunker's rule (split after .!? + whitespace — see
    :func:`chunking.sentence_chunks`), kept POSITIONED (sidx) rather than
    deduped so the summary can be re-emitted in document order.

    Scale shape: everything keys by (id[, sidx]) — one dataflow
    summarizes the whole corpus. The pairwise-overlap join is the
    inverted-index shape (explode distinct tokens, equi-join on (id,
    token), count per sentence pair): per-document work is page-sized
    (s² in the number of QUALIFYING sentences) while the corpus dimension
    distributes; no cross-doc pairs ever form. Power iterations are the
    same equi-join + groupBy loop as :func:`textrank_keywords`, ranks
    rounded before the ranking window for summation-order determinism.

    Returns (id, sidx, sentence, rank, rn); sort by (id, sidx) to read
    the summary in document order."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0 < damping < 1:
        raise ValueError("damping must be in (0, 1)")
    if min_tokens < 2:
        raise ValueError("min_tokens must be >= 2 (ln(1) = 0 denominator)")
    # Same per-document Arrow-stage shape as textrank_keywords (see the
    # note there): the sentence graph is doc-local by construction (no
    # cross-doc pairs ever form), so the pairwise-overlap join, power
    # iterations and ranking all run inside one mapInPandas — the old
    # corpus-wide dataflow paid an inverted-index self-join plus three
    # join+groupBy rounds in Exchanges for it. Spark-semantics details
    # mirrored exactly: split after [.!?]+ASCII-whitespace, trim = strip
    # of chars <= 0x20 is NOT what F.trim does — F.trim strips ONLY
    # spaces (0x20), measured; length/order on code points.
    from pyspark.sql.types import (
        DoubleType, IntegerType, StringType, StructField, StructType,
    )

    out_schema = StructType([
        StructField("id", docs.schema[id_col].dataType),
        StructField("sidx", IntegerType()),
        StructField("sentence", StringType()),
        StructField("rank", DoubleType()),
        StructField("rn", IntegerType()),
    ])
    src = docs.select(F.col(id_col).alias("id"),
                      F.col(text_col).alias("text"))

    def fn(batches):
        import math
        import re
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        mark_pat = re.compile(r"([.!?])\s+", re.ASCII)  # Java \s == ASCII
        split_pat = re.compile(r"[^a-z0-9]+")
        quantum = Decimal(1).scaleb(-round_to)

        def rnd(x: float) -> float:
            return float(Decimal(repr(x + 1e-12))
                         .quantize(quantum, rounding=ROUND_HALF_UP))

        for pdf in batches:
            out = {"id": [], "sidx": [], "sentence": [], "rank": [],
                   "rn": []}
            for did, text in zip(pdf["id"], pdf["text"]):
                if text is None:
                    continue
                pieces = mark_pat.sub("\\1\x01", text).split("\x01")
                sents = []  # (sidx, sentence, tokset)
                for sidx, raw in enumerate(pieces):
                    sentence = raw.strip(" ")  # F.trim strips 0x20 only
                    if not sentence:
                        continue
                    tokset = {t for t in split_pat.split(sentence.lower())
                              if len(t) > 1}
                    if len(tokset) >= min_tokens:
                        sents.append((sidx, sentence, tokset))
                if not sents:
                    continue
                n = len(sents)
                w: dict = {}
                outs: dict = {}
                for i in range(n):
                    for j in range(i + 1, n):
                        common = len(sents[i][2] & sents[j][2])
                        if common == 0:
                            continue
                        wt = common / (math.log(float(len(sents[i][2])))
                                       + math.log(float(len(sents[j][2]))))
                        w[(i, j)] = wt
                        outs[i] = outs.get(i, 0.0) + wt
                        outs[j] = outs.get(j, 0.0) + wt
                rank = [1.0 / n] * n
                base = (1.0 - damping) / n
                for _ in range(iterations):
                    sums = [0.0] * n
                    for (i, j), wt in w.items():
                        sums[j] += rank[i] * wt / outs[i]
                        sums[i] += rank[j] * wt / outs[j]
                    rank = [base + damping * s for s in sums]
                ranked = sorted(
                    ((rnd(rank[i]), sents[i][0], sents[i][1])
                     for i in range(n)),
                    key=lambda x: (-x[0], x[1]),
                )
                for rn, (r, sidx, sentence) in enumerate(ranked[:top_k], 1):
                    out["id"].append(did)
                    out["sidx"].append(sidx)
                    out["sentence"].append(sentence)
                    out["rank"].append(r)
                    out["rn"].append(rn)
            yield pd.DataFrame(
                out, columns=["id", "sidx", "sentence", "rank", "rn"])

    return src.mapInPandas(fn, out_schema)


def blocklist_scan(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
) -> DataFrame:
    """C4's banned-words rule (Raffel et al. 2019 §2.2 drops any page
    containing a word from the public "List of Dirty, Naughty, Obscene..."
    blocklist — the one C4 cleaning rule :func:`c4_quality_filter` does
    not cover): flag documents containing any of ``terms`` as a whole
    word, case-insensitive. Adds ``blocklist_hits`` (sorted distinct
    matched terms), ``n_blocklist_hits`` (total occurrences) and
    ``blocklist_keep``.

    Scale shape: the list compiles into ONE word-boundary alternation
    regex evaluated as a codegen projection — shuffle-free, zero joins,
    the right plan for the real C4 list (~400 terms; RE2/Java both
    compile alternations of that size to a DFA-ish matcher). For 10^5+
    term dictionaries switch to the token-explode + broadcast-join shape
    (see decontam) instead of growing the pattern. Terms are validated to
    a letters/digits/space/apostrophe/hyphen alphabet so the pattern
    needs no escaping and the SAME string runs in the DuckDB oracle;
    multi-word phrases match across single spaces. Longest-first
    alternation so overlapping terms prefer the longer match."""
    if not terms:
        raise ValueError("terms must be non-empty")
    import re as _re

    for t in terms:
        if not _re.fullmatch(r"[a-z0-9][a-z0-9' -]*", t):
            raise ValueError(f"term {t!r} outside the safe alphabet")
    pat = r"\b(" + "|".join(
        sorted(terms, key=lambda t: (-len(t), t))) + r")\b"
    hits = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(pat), 1)
    return docs.select(
        "*",
        F.array_sort(F.array_distinct(hits)).alias("blocklist_hits"),
        F.size(hits).alias("n_blocklist_hits"),
        (F.size(hits) == 0).alias("blocklist_keep"),
    )


def blocklist_scan_join(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The 10^5+-term dictionary path :func:`blocklist_scan` points at: a
    regex alternation stops being a sane plan somewhere past ~10^3 terms
    (pattern size, compile time, and the engine's alternation matcher all
    scale with the dictionary), so the real blocklists — full DNOW lists
    per language, url-token dictionaries, brand/PII phrase sets — run as
    data instead of code: one token explode + an equi-join against the
    broadcast dictionary.

    Same output contract as :func:`blocklist_scan` (``blocklist_hits``
    sorted distinct matched terms, ``n_blocklist_hits`` occurrence count
    after overlap resolution, ``blocklist_keep``), same match policy
    (whole word, case-insensitive, multi-word phrases, longest-first on
    overlap, left-to-right non-overlapping count — the alternation-regex
    scan's semantics, pinned equal by the randomized equivalence test).
    The one intended difference: matching is TOKEN-level (words = maximal
    ``[a-z0-9]+`` runs), so phrases also match across newlines / repeated
    whitespace / underscores where the surface regex requires a literal
    single space. Terms here must be space-separated ``[a-z0-9]+`` words
    (no apostrophes/hyphens — those stay on the regex path, whose ``\\b``
    semantics they depend on).

    Scale shape: tokens explode once; candidates = equi-join on the
    phrase's FIRST word against the broadcast dictionary (dictionary rows
    = terms, broadcastable to 10^6+); phrase verify compares an array
    slice of the doc's token array against the phrase's token array — the
    token arrays ride a single doc-keyed equi-join that only candidate
    docs' rows survive (the decontam verify shape); overlap resolution is
    a per-doc fold over that doc's own match list (page-sized, runtime
    ``F.aggregate`` — no window over the corpus). Two keyed shuffles
    total (candidate ids, final groupBy(id)); nothing scales with
    |dictionary| x |corpus|."""
    if not terms:
        raise ValueError("terms must be non-empty")
    import re as _re

    for t in terms:
        if not _re.fullmatch(r"[a-z0-9]+( [a-z0-9]+)*", t):
            raise ValueError(
                f"term {t!r} outside the token alphabet (space-separated "
                "[a-z0-9]+ words); apostrophe/hyphen terms belong on the "
                "regex path (blocklist_scan)")
    spark = docs.sparkSession
    dict_rows = [
        (t, t.split(" ")[0], t.split(" "), len(t.split(" ")))
        for t in sorted(set(terms))
    ]
    from ..session import local_df

    dictionary = local_df(
        spark, dict_rows, "term string, first_tok string, "
        "term_toks array<string>, term_len int")
    did = F.col(id_col)
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
        lambda x: x != F.lit(""),
    )
    base = docs.select(did.alias("id"), toks.alias("ts"))
    tok_pos = base.select(
        "id", F.posexplode("ts").alias("pos0", "tok"))
    cand = tok_pos.join(
        F.broadcast(dictionary), tok_pos["tok"] == dictionary["first_tok"]
    ).select("id", "pos0", "term", "term_toks", "term_len")
    verified = (
        cand.join(base, "id")
        .where(
            F.slice(F.col("ts"), F.col("pos0") + 1, F.col("term_len"))
            == F.col("term_toks")
        )
        .select("id", F.col("pos0").alias("start"),
                "term_len", "term")
    )
    # greedy left-to-right, longest-first resolution — the alternation
    # regex's non-overlapping scan — as a fold over THIS doc's matches
    matches = verified.groupBy("id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("start"),
                    (-F.col("term_len")).alias("neg_len"),
                    F.col("term"),
                )
            )
        ).alias("ms")
    )
    init = F.struct(
        F.lit(0).alias("next_free"),
        F.array().cast("array<string>").alias("hits"),
        F.lit(0).alias("n"),
    )
    resolved = matches.select(
        "id",
        F.aggregate(
            F.col("ms"),
            init,
            lambda acc, m: F.when(
                m["start"] >= acc["next_free"],
                F.struct(
                    (m["start"] - m["neg_len"]).alias("next_free"),
                    F.array_append(acc["hits"], m["term"]).alias("hits"),
                    (acc["n"] + 1).alias("n"),
                ),
            ).otherwise(acc),
        ).alias("r"),
    ).select(
        "id",
        F.array_sort(F.array_distinct(F.col("r.hits"))).alias("_hits"),
        F.col("r.n").alias("_n"),
    )
    return (
        docs.join(resolved, docs[id_col] == resolved["id"], "left")
        .drop("id")
        .select(
            *[docs[c] for c in docs.columns],
            F.coalesce("_hits", F.array().cast("array<string>"))
            .alias("blocklist_hits"),
            F.coalesce("_n", F.lit(0)).alias("n_blocklist_hits"),
            (F.coalesce("_n", F.lit(0)) == 0).alias("blocklist_keep"),
        )
    )


def distribution_buckets(
    docs: DataFrame,
    value_col: str,
    breaks: list[float],
) -> DataFrame:
    """Fixed-break histogram of ``value_col``: bucket i holds values in
    [breaks[i-1], breaks[i]) with bucket 0 = below the first break and
    bucket len(breaks) = at-or-above the last. Returns (bucket, n) — one
    partial-agg groupBy, B+1 output rows, no windows.

    The breaks are explicit shared constants (not per-epoch quantiles) so
    two epochs bucketed with the same list are directly comparable — the
    requirement for :func:`psi_drift`."""
    if not breaks or sorted(breaks) != list(breaks):
        raise ValueError("breaks must be non-empty and ascending")
    v = F.col(value_col).cast("double")
    bucket = sum(
        (v >= F.lit(float(b))).cast("int") for b in breaks
    ).alias("bucket")
    return docs.select(bucket).groupBy("bucket").agg(
        F.count("*").alias("n"))


def psi_drift(
    epoch_a: DataFrame,
    epoch_b: DataFrame,
    value_col: str,
    breaks: list[float],
    smoothing: float = 0.5,
) -> DataFrame:
    """Population Stability Index between two corpus epochs over one
    numeric column (quality score, doc length, NLL, ...): the standard
    "did my input distribution shift?" monitor a production pipeline
    recomputes every ingest epoch. PSI = sum_b (p_a - p_b)·ln(p_a/p_b)
    with add-``smoothing`` Laplace proportions (empty buckets never hit
    log 0); conventional reading: <0.1 stable, 0.1-0.25 moderate shift,
    >0.25 investigate. Also emits the (asymmetric) KL divergence
    KL(a||b) from the same smoothed proportions.

    Returns per-bucket rows (bucket, n_a, n_b, p_a, p_b, psi_term,
    kl_term) plus one TOTAL row (bucket = -1) carrying the summed psi /
    kl — a ROLLUP-style grand total without a second pass. The sum runs
    over buckets observed in AT LEAST ONE epoch (a bucket empty in both
    contributes nothing, by definition here — its smoothed term would be
    noise, not evidence).

    Scale shape: each epoch pays ONE scan + one partial-agg groupBy down
    to B+1 rows; everything after (full-outer bucket join, log algebra,
    the total) runs on the bounded bucket table. No windows, no
    driver-side math; 10^10 docs/epoch cost two scans regardless of B.
    Reference: crawl monitoring/TraversalStats at
    /root/reference/crawl4ai/deep_crawling (per-wave stat tallies) —
    this is the cross-epoch generalization those tallies feed."""
    n_buckets = len(breaks) + 1
    ha = distribution_buckets(epoch_a, value_col, breaks).withColumnRenamed("n", "n_a")
    hb = distribution_buckets(epoch_b, value_col, breaks).withColumnRenamed("n", "n_b")
    joined = (
        ha.join(hb, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
        # persist the <= B+1-row joined histogram: three plan branches
        # consume it (totals, per-bucket terms, rollup row) and WITHOUT
        # the cache each branch re-derives it from scratch — i.e. each
        # 10^10-row epoch would be SCANNED three times (caught by
        # scripts/plan_audit.py). The cache is B rows; lifecycle is the
        # session's (a monitoring query runs once per epoch).
        .persist()
    )
    tot = joined.agg(
        F.sum("n_a").alias("tot_a"), F.sum("n_b").alias("tot_b"))
    s = float(smoothing)
    pa = (F.col("n_a") + s) / (F.col("tot_a") + s * n_buckets)
    pb = (F.col("n_b") + s) / (F.col("tot_b") + s * n_buckets)
    per = (
        joined.crossJoin(F.broadcast(tot))  # one-row totals
        .select(
            "bucket", "n_a", "n_b",
            pa.alias("p_a"), pb.alias("p_b"),
            ((pa - pb) * F.log(pa / pb)).alias("psi_term"),
            (pa * F.log(pa / pb)).alias("kl_term"),
        )
    )
    total = per.agg(
        F.sum("n_a").alias("n_a"), F.sum("n_b").alias("n_b"),
        F.sum("psi_term").alias("psi_term"),
        F.sum("kl_term").alias("kl_term"),
    ).select(
        F.lit(-1).alias("bucket"), "n_a", "n_b",
        F.lit(1.0).alias("p_a"), F.lit(1.0).alias("p_b"),
        "psi_term", "kl_term",
    )
    return per.unionByName(total)


# Unicode script ranges (BMP only — identical byte-for-byte in Java regex
# and RE2, so the SAME pattern string runs in Spark and the DuckDB oracle).
# Alphabetical key order IS the dominant-script tie-break order.
SCRIPT_RANGES: dict[str, str] = {
    "arabic": "؀-ۿ",
    "cjk": "぀-ヿ一-鿿가-힯",
    "cyrillic": "Ѐ-ӿ",
    "devanagari": "ऀ-ॿ",
    "greek": "Ͱ-Ͽ",
    "latin": "A-Za-zÀ-ɏ",
}


def script_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Unicode script profile: per-script letter counts
    (n_arabic .. n_latin), total scripted letters, dominant script
    (alphabetically-first on ties — the CASE order both engines share)
    and its fraction. The script signal disambiguates language ID the
    stopword vote can't (CCNet §4.2 routes zh/ja/ko/ru by script before
    any model runs) and flags mojibake/mixed-script spam (a "latin" page
    that is 40% Cyrillic look-alikes is a homoglyph attack, not French).

    Scale shape: one shuffle-free codegen projection — each count is a
    regexp_replace+length over the text column, no explode, no joins;
    the 100 TB cost is the scan itself."""
    counts = {
        name: F.length(F.regexp_replace(
            F.col(text_col), f"[^{rng}]", "")).alias(f"n_{name}")
        for name, rng in SCRIPT_RANGES.items()
    }
    out = docs.select("*", *counts.values())
    names = sorted(SCRIPT_RANGES)
    total = sum(F.col(f"n_{n}") for n in names).alias("n_script_chars")
    out = out.withColumn("n_script_chars", total)
    dom_n = F.greatest(*[F.col(f"n_{n}") for n in names])
    dom = F.when(F.col("n_script_chars") == 0, F.lit(None))
    for n in names:
        dom = dom.when(F.col(f"n_{n}") == dom_n, F.lit(n))
    return out.withColumns({
        "dominant_script": dom,
        "script_frac": F.when(
            F.col("n_script_chars") > 0,
            dom_n.cast("double") / F.col("n_script_chars")),
    })
