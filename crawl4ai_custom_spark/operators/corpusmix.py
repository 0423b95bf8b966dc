"""Corpus-assembly operators: the final mile between cleaned/deduped
documents and a training-ready corpus.

Three operators, all closed-form and oracle-reproducible (DuckDB recomputes
the identical arithmetic via the shared 60-bit md5 hash):

  train_quality_classifier / classifier_quality_score
      fastText-shaped linear quality classifier (public recipe: Joulin et
      al. 2017; the GPT-3/CCNet "quality classifier" stage, Brown et al.
      2020 / Wenzek et al. 2020): hashed unigram+bigram features into a
      fixed bucket space, Naive-Bayes log-odds weights trained with one
      explode+groupBy, scoring = explode -> broadcast model join -> one
      keyed avg. Model size is bounded by num_buckets (broadcastable by
      construction), training is a single shuffle on the bucket key —
      both survive 100 TB.

  temperature_mixture
      temperature-based stratum rebalancing (public recipe: multilingual
      sampling in mT5, Xue et al. 2021 — p_g proportional to n_g^(1/T)):
      one tiny groupBy for stratum counts, a broadcast rates join, then a
      pure hash filter the scan evaluates. No wide shuffle of the docs.

  shuffle_shards
      deterministic global shuffle + shard assignment for training output:
      shard = hash(salt||id) % n_shards, within-shard order = a second
      independent hash. ONE exchange on the shard key + an intra-partition
      sort — exactly the physical layout the training-file writer needs
      (repartition(shard) + sortWithinPartitions), no global sort.

The reference produces the documents (crawl4ai's crawl -> markdown
pipeline); these operators are the downstream corpus-assembly steps a
pretraining pipeline runs next. No reference-code parity applies — the
cited recipes are public papers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .urlops import stable_hash60


def text_features(text: Column) -> Column:
    """Hashed-classifier feature set: lowercase word unigrams + '_'-joined
    bigrams (tokens of length > 1, split on non-alphanumerics). Pure
    native expression; DuckDB mirrors it with list_transform's indexed
    lambda."""
    toks = F.filter(
        F.split(F.lower(text), r"[^a-z0-9]+"), lambda t: F.length(t) > 1
    )
    # zip_with evaluates its array arguments ONCE per row (an element_at
    # inside the lambda would re-evaluate the split per element — O(len^2)).
    # The trailing (last_token, null) pair concats to null and is filtered.
    bigrams = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.size(toks)),
            lambda a, b: F.concat(a, F.lit("_"), b),
        ),
        lambda x: x.isNotNull(),
    )
    return F.concat(toks, bigrams)


def _bucketed_features(
    docs: DataFrame, id_col: str, text_col: str, num_buckets: int
) -> DataFrame:
    """(id, bucket) per feature occurrence — the shared explode stage."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(text_features(F.col(text_col))).alias("feature"),
    ).select(
        "id",
        F.pmod(stable_hash60(F.col("feature")), F.lit(num_buckets))
        .alias("bucket"),
    )


def train_quality_classifier(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    num_buckets: int = 1 << 18,
    smoothing: float = 1.0,
) -> DataFrame:
    """Train Naive-Bayes log-odds weights over hashed features from a
    boolean-labeled corpus (label true = "good"/reference-like).

    Returns (bucket, log_odds, good_total, bad_total, n_buckets, k) — the
    scalars ride along as columns (one-row broadcast cross join, never on
    the driver) so scoring can reconstruct the unseen-bucket default
    log-odds ln((bad_total + k*B) / (good_total + k*B)) without a second
    pass over the training corpus.

    Shape: explode -> ONE groupBy(bucket) with map-side partial counts ->
    tiny scalar agg -> broadcast cross join. Model rows <= num_buckets.
    """
    feats = _bucketed_features(
        labeled, id_col=label_col, text_col=text_col, num_buckets=num_buckets
    ).withColumnRenamed("id", "label")
    counts = feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("label"), 1).otherwise(0)).alias("good_c"),
        F.sum(F.when(F.col("label"), 0).otherwise(1)).alias("bad_c"),
    )
    scal = counts.agg(
        F.sum("good_c").alias("good_total"), F.sum("bad_c").alias("bad_total")
    )
    k, b = float(smoothing), num_buckets
    return counts.crossJoin(F.broadcast(scal)).select(
        "bucket",
        (
            F.log((F.col("good_c") + k) / (F.col("good_total") + k * b))
            - F.log((F.col("bad_c") + k) / (F.col("bad_total") + k * b))
        ).alias("log_odds"),
        "good_total",
        "bad_total",
        F.lit(b).alias("n_buckets"),
        F.lit(k).alias("k"),
    )


def classifier_quality_score(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int | None = None,
) -> DataFrame:
    """Score documents under a trained hashed-feature classifier: mean
    per-feature log-odds (positive = good-like). Docs with zero features
    score 0.0 with n_features 0 (kept in the output, like the LM gate).

    Shape: explode -> broadcast model join -> one keyed avg. The model is
    broadcastable by construction (<= num_buckets rows). Pass num_buckets
    (the training-time value) to keep the plan fully lazy; omitting it
    reads the scalar off the model with one driver action — fine for an
    already-materialized model, wasteful on a live training lineage."""
    if num_buckets is None:
        num_buckets = model.select("n_buckets").limit(1).collect()[0][0]
    feats = _bucketed_features(docs, id_col, text_col, int(num_buckets))
    scal = model.select("good_total", "bad_total", "n_buckets", "k").limit(1)
    scored = (
        feats.join(F.broadcast(model.select("bucket", "log_odds")), "bucket",
                   "left")
        .crossJoin(F.broadcast(scal))
        .select(
            "id",
            F.coalesce(
                F.col("log_odds"),
                F.log(
                    (F.col("bad_total") + F.col("k") * F.col("n_buckets"))
                    / (F.col("good_total") + F.col("k") * F.col("n_buckets"))
                ),
            ).alias("log_odds"),
        )
    )
    agg = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_features"),
        F.avg("log_odds").alias("clf_score"),
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(agg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_features", F.lit(0)).cast("long").alias("n_features"),
            F.coalesce("clf_score", F.lit(0.0)).alias("clf_score"),
        )
    )


def temperature_mixture(
    docs: DataFrame,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    temperature: float = 2.0,
    out_frac: float = 0.5,
    salt: str = "mix-t1",
) -> DataFrame:
    """Temperature-rebalanced deterministic sampling: target stratum shares
    p_g proportional to n_g^(1/T) (T=1 keeps natural proportions, T->inf
    approaches uniform), total output ~= out_frac * N. Per-stratum keep
    rate = min(1, out_frac * N * p_g / n_g); a row survives iff
    hash(salt||id) % 1e6 < round(rate * 1e6) — reproducible across engines,
    no RNG state.

    Shape: tiny groupBy(stratum) counts -> one-row scalar agg -> broadcast
    rates join -> pure filter. The docs themselves are never shuffled.
    T=2 lowers pow to IEEE-exact sqrt so the oracle's threshold arithmetic
    is bit-stable; other temperatures are supported but thresholds then
    rely on pow agreeing to ~1 ulp (fine unless a rate lands within 1e-9
    of a rounding boundary)."""
    w = (
        F.sqrt(F.col("n_g"))
        if temperature == 2.0
        else F.pow(F.col("n_g"), 1.0 / temperature)
    )
    counts = docs.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_g")
    )
    weighted = counts.select("stratum", "n_g", w.alias("w_g"))
    scal = weighted.agg(F.sum("w_g").alias("z"), F.sum("n_g").alias("n_total"))
    rates = weighted.crossJoin(F.broadcast(scal)).select(
        "stratum",
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(out_frac) * F.col("n_total") * F.col("w_g")
                / F.col("z") / F.col("n_g"),
            )
            * 1_000_000
        )
        .cast("long")
        .alias("keep_threshold"),
    )
    bucket = F.pmod(
        stable_hash60(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
        F.lit(1_000_000),
    )
    return (
        docs.join(
            F.broadcast(rates),
            docs[stratum_col] == rates["stratum"],
        )
        .where(bucket < F.col("keep_threshold"))
        .drop("stratum", "keep_threshold")
    )


def token_budget_select(
    docs: DataFrame,
    budget_tokens: int,
    quality_col: str = "quality",
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    buckets: int = 1000,
    salt: str = "budget-v1",
) -> DataFrame:
    """Fill a token budget with the highest-quality documents — the
    data-budget pass of corpus assembly ("keep the best N-token subset",
    the selection stage of quality-pruning recipes) — WITHOUT a global
    sort of the corpus:

    1. quality (in [0, 1]) quantizes into ``buckets`` — scan projection;
    2. per-bucket token sums aggregate into a ``buckets``-row table;
    3. a cumulative sum over that TINY table (window over <= ``buckets``
       rows, never over docs) finds which buckets fit whole and which one
       straddles the budget;
    4. whole buckets admit everything; the straddling bucket admits a
       deterministic hash fraction of its docs sized to the remaining
       budget (stable_hash60 thresholding, the stratified_sample
       convention — reproducible across runs and engines, no RNG).

    Budget precision is doc-granular within the straddling bucket (hash
    sampling hits the remaining budget in expectation; whole buckets are
    exact). Returns the admitted docs with ``qbucket`` attached. The only
    shuffle over the corpus is the groupBy(qbucket) partial agg — the
    bucket table is broadcast back."""
    qb = F.least(
        F.lit(buckets - 1),
        F.greatest(F.lit(0),
                   F.floor(F.col(quality_col) * buckets).cast("int")),
    )
    d = docs.withColumn("qbucket", qb)
    btab = d.groupBy("qbucket").agg(F.sum(token_col).alias("_btok"))
    w = (Window.orderBy(F.desc("qbucket"))
         .rowsBetween(Window.unboundedPreceding, -1))
    btab = btab.withColumn(
        "_cum_before", F.coalesce(F.sum("_btok").over(w), F.lit(0))
    )
    admit_frac = (
        F.when(F.col("_cum_before") + F.col("_btok") <= budget_tokens,
               F.lit(1.0))
        .when(F.col("_cum_before") >= budget_tokens, F.lit(0.0))
        .otherwise((F.lit(float(budget_tokens)) - F.col("_cum_before"))
                   / F.col("_btok"))
    )
    thr = btab.select(
        "qbucket",
        F.floor(admit_frac * 1_000_000).cast("long").alias("_thr"),
    )
    h = F.pmod(
        stable_hash60(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
        F.lit(1_000_000),
    )
    return (
        d.join(F.broadcast(thr), "qbucket")
        .where(h < F.col("_thr"))
        .drop("_thr")
    )


def shuffle_shards(
    docs: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 16,
    salt: str = "shuf-v1",
) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training output:
    shard = hash(salt||'-s-'||id) % n_shards, within-shard position = rank
    of an independent second hash (id tiebreak for exactness under
    collisions). Returns docs + (shard, pos).

    Physical shape: ONE exchange on shard + intra-partition sort — the same
    layout the writer needs (`out.repartition(n_shards, "shard")
    .sortWithinPartitions("pos").write...`), so materializing the shuffled
    corpus costs exactly one shuffle and no global sort. n_shards is the
    output file count: size it to ~the corpus row count / rows-per-file at
    the target scale."""
    sid = F.col(id_col).cast("string")
    with_keys = docs.withColumn(
        "shard",
        F.pmod(
            stable_hash60(F.concat(F.lit(salt + "-s-"), sid)),
            F.lit(n_shards),
        ),
    ).withColumn(
        "ord_key", stable_hash60(F.concat(F.lit(salt + "-o-"), sid))
    )
    win = Window.partitionBy("shard").orderBy("ord_key", id_col)
    return with_keys.withColumn(
        "pos", F.row_number().over(win).cast("long")
    ).drop("ord_key")


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 1 << 16,
    smoothing: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance Resampling,
    Xie et al. 2023): per raw document, the log importance ratio of a
    hashed-ngram bag-of-features model —

        log w(d) = sum over features f of d of
                   ln p_target(bucket(f)) - ln p_raw(bucket(f))

    where both bucket distributions are add-k-smoothed frequency estimates
    over the shared ``text_features`` space (lowercase unigrams + bigrams,
    ``stable_hash60 % num_buckets`` — the classifier's feature hashing).
    High weight = "looks like the target domain relative to the raw pool".

    Returns (id, n_features, log_weight); zero-feature docs keep
    log_weight 0.0 / n_features 0 (neutral, retained), matching the
    classifier/LM-gate convention.

    Shape at 100 TB: each side is one explode -> ONE groupBy(bucket)
    partial-agg count (bucket table <= num_buckets rows, broadcastable by
    construction), the per-bucket log-ratio table full-outer-joins the two
    tiny tables driver-free, and scoring is explode -> broadcast ratio
    join -> one keyed sum. The raw corpus shuffles only on its own doc key
    for the final sum; the target corpus (the small curated sample in the
    DSIR recipe) is read once.
    """
    k, b = float(smoothing), num_buckets

    def bucket_counts(df: DataFrame, name: str) -> DataFrame:
        feats = _bucketed_features(df, id_col=id_col, text_col=text_col,
                                   num_buckets=num_buckets)
        return feats.groupBy("bucket").agg(F.count(F.lit(1)).alias(name))

    tc = bucket_counts(target, "t_c")
    rc = bucket_counts(raw, "r_c")
    joined = tc.join(rc, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("t_c", F.lit(0)).alias("t_c"),
        F.coalesce("r_c", F.lit(0)).alias("r_c"),
    )
    scal = joined.agg(F.sum("t_c").alias("t_total"),
                      F.sum("r_c").alias("r_total"))
    ratios = joined.crossJoin(F.broadcast(scal)).select(
        "bucket",
        (
            F.log((F.col("t_c") + k) / (F.col("t_total") + k * b))
            - F.log((F.col("r_c") + k) / (F.col("r_total") + k * b))
        ).alias("log_ratio"),
    )
    feats = _bucketed_features(raw, id_col=id_col, text_col=text_col,
                               num_buckets=num_buckets)
    agg = (
        feats.join(F.broadcast(ratios), "bucket")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum("log_ratio").alias("log_weight"),
        )
    )
    return (
        raw.select(F.col(id_col).alias("id"))
        .join(agg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_features", F.lit(0)).cast("long")
            .alias("n_features"),
            F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
        )
    )


def dsir_resample(
    raw: DataFrame,
    target: DataFrame,
    n_docs: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 1 << 16,
    smoothing: float = 1.0,
    salt: str = "dsir-v1",
) -> DataFrame:
    """The resampling half of DSIR: draw ``n_docs`` raw documents without
    replacement with probability proportional to their importance weight,
    via the Gumbel-top-k trick (Vieira 2014) — per doc,

        key = log_weight + Gumbel(u),  Gumbel(u) = -ln(-ln(u))

    with u a deterministic hash uniform (``(stable_hash60(salt||id) %
    2^30 + 0.5) / 2^30`` — never exactly 0 or 1), then the n_docs largest
    keys win. No RNG state: reruns and the SQL oracle reproduce the exact
    sample. Determinism contract (the kmeans round-6 convention): the key
    is rounded to 6 decimals before ranking, ties break on id asc, so the
    selected set is bit-identical across engines despite non-associative
    log-sum noise. Returns (id, n_features, log_weight, gumbel_key) of the
    sampled docs.

    Shape: the weight dataflow above + one TakeOrderedAndProject (a
    per-partition top-n then a driver-side merge of n_docs rows — no
    global sort of the corpus). n_docs must fit driver memory; for
    billion-doc samples switch to a key-threshold filter instead (two
    passes: approximate the n_docs-th key by sampling, then filter).
    """
    weighted = dsir_log_weights(
        raw, target, id_col=id_col, text_col=text_col,
        num_buckets=num_buckets, smoothing=smoothing,
    )
    u = (
        F.pmod(
            stable_hash60(F.concat(F.lit(salt + "-g-"),
                                   F.col(id_col).cast("string"))),
            F.lit(1 << 30),
        ).cast("double")
        + 0.5
    ) / float(1 << 30)
    keyed = weighted.withColumn(
        "gumbel_key", F.round(F.col("log_weight") - F.log(-F.log(u)), 6)
    )
    return keyed.orderBy(F.desc("gumbel_key"), F.asc(id_col)).limit(n_docs)


def domain_doc_cap(docs: DataFrame, cap: int, domain_col: str = "domain",
                   id_col: str = "doc_id", score_col: str | None = None,
                   salt_partitions: int = 0) -> DataFrame:
    """Per-domain document cap (the FineWeb/RefinedWeb "no single domain
    dominates the corpus" rule, public recipes: Penedo et al. 2023/2024):
    keep at most ``cap`` documents per domain, chosen deterministically —
    best ``score_col`` first when given (quality-aware retention), ties
    and the unscored case by ``id_col`` asc.

    Scale shape: ONE window keyed on the domain (a single keyed shuffle).
    For pathological mega-domains set ``salt_partitions`` > 1: a first
    within-(domain, salt) top-``cap`` bounds any single task to
    ~|domain|/salt rows before the exact per-domain pass — the same
    two-stage trick as the frontier's admission window."""
    order = ([F.col(score_col).desc()] if score_col else []) \
        + [F.col(id_col).asc()]
    out = docs
    if salt_partitions > 1:
        salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                      F.lit(salt_partitions))
        w1 = Window.partitionBy(F.col(domain_col), salt).orderBy(*order)
        out = (out.withColumn("_srn", F.row_number().over(w1))
               .where(F.col("_srn") <= cap).drop("_srn"))
    w = Window.partitionBy(domain_col).orderBy(*order)
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def weighted_sample(df: DataFrame, weight_col: str, n: int,
                    key_col: str = "doc_id",
                    group_cols: tuple[str, ...] | list[str] = ()) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic (Efraimidis &
    Spirakis 2006 via the exponential-race form): row i gets
    t_i = -ln(u_i) / w_i with u_i = (stable_hash60(key)+1) / 2^60, and
    the n smallest t per group are exactly a weight-proportional
    without-replacement sample. The hash-seeded u makes the "random"
    draw reproducible row-by-row — reruns, retries and the DuckDB oracle
    all pick the same sample (the same trick as stratified_sample /
    temperature_mixture, extended to exact-size weighted draws: use this
    to pull a fixed-budget, quality-weighted corpus slice instead of a
    Bernoulli rate that only hits the budget in expectation).

    Shape: ungrouped -> sort+limit, which Spark executes as
    TakeOrderedAndProject (per-partition top-n, driver merge of n rows —
    no full exchange); grouped -> one window per group over rows carrying
    only (key, weight, priority). Rows with weight <= 0 or null never
    qualify (they'd be +inf race times)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    w = F.col(weight_col).cast("double")
    u = ((stable_hash60(F.col(key_col).cast("string")) + 1).cast("double")
         / F.lit(float(1 << 60)))
    out = (
        df.where(w.isNotNull() & (w > 0))
        .withColumn("priority", -F.log(u) / w)
    )
    gcols = list(group_cols)
    if not gcols:
        return out.orderBy("priority", key_col).limit(n)
    rn = F.row_number().over(
        Window.partitionBy(*gcols).orderBy("priority", key_col))
    return out.withColumn("_rn", rn).where(F.col("_rn") <= n).drop("_rn")


def calibration_report(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + Expected Calibration Error for a quality
    classifier: per-bin rows (bin, n, avg_score, frac_pos, gap) plus one
    TOTAL row (bin = -1) carrying ECE = sum_b n_b/N * |avg_score_b -
    frac_pos_b|. A classifier that gates a 100 TB corpus at "score >= t"
    is implicitly treated as a probability — this is the check that it
    IS one (Guo et al. 2017's ECE, the standard metric). Scores outside
    [0, 1) clamp into the edge bins.

    Scale shape: one partial-agg groupBy down to n_bins rows; the ECE
    rollup and the one-row N broadcast run on the bin table. No windows,
    no second corpus pass."""
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    s = F.col(score_col).cast("double")
    b = F.least(F.greatest(F.floor(s * n_bins), F.lit(0)),
                F.lit(n_bins - 1)).cast("int")
    per = (
        scored.select(
            b.alias("bin"), s.alias("s"),
            F.col(label_col).cast("int").alias("y"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"),
             (F.sum("s") / F.count(F.lit(1))).alias("avg_score"),
             (F.sum("y").cast("double") / F.count(F.lit(1)))
             .alias("frac_pos"))
        .withColumn("gap", F.abs(F.col("avg_score") - F.col("frac_pos")))
    )
    total = per.agg(
        F.sum("n").alias("n"),
        (F.sum(F.col("n") * F.col("gap")) / F.sum("n")).alias("ece"),
    ).select(
        F.lit(-1).alias("bin"), "n",
        F.lit(None).cast("double").alias("avg_score"),
        F.lit(None).cast("double").alias("frac_pos"),
        F.col("ece").alias("gap"),
    )
    return per.unionByName(total)


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Lowercased character n-grams of ``text`` (spaces and punctuation
    kept — they carry language signal), as one per-row array: grams start
    at every position 1..len-n+1; texts shorter than n yield their whole
    (lowercased) self as the single gram; empty text yields no grams.
    Pure native expression; DuckDB mirrors it with substr over range."""
    t = F.lower(text)
    ln = F.length(t)
    idx = (
        F.when(ln >= n, F.sequence(F.lit(1), ln - n + 1))
        .when(ln >= 1, F.array(F.lit(1)))
        .otherwise(F.array().cast("array<int>"))
    )
    return F.transform(idx, lambda i: F.substring(t, i, n))


def train_langid(
    labeled: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    n: int = 3,
    num_buckets: int = 4096,
    smoothing: float = 1.0,
) -> DataFrame:
    """Train a multi-class Naive-Bayes language identifier over hashed
    character n-grams — the trained LID stage of a web-corpus pipeline
    (CCNet routes every page through fastText LID before anything else,
    Wenzek et al. 2020 §4.2; Joulin et al. 2017 is the model shape). The
    marker heuristic (:func:`textstats.lang_id`) needs a curated stopword
    list per language; this learns the distribution from labeled pages
    (e.g. an earlier epoch's high-confidence labels) and extends to any
    label set the training data carries.

    Everything is INTEGER micro-nat costs (cost = round(-ln(p)*1e6), the
    ``bpe.train_unigram`` convention), so a document's per-language score
    is an exact integer SUM — order-independent under any shuffle, and
    bit-reproducible in the DuckDB oracle. Lower cost = more likely.

    Returns the DENSE model: one row per (lang, bucket) over every bucket
    seen in training — (lang, bucket, cost, prior_cost, default_cost,
    n_buckets). ``prior_cost`` = -ln(class prior); ``default_cost`` = the
    add-k cost of a bucket this language never saw (dense zero-count rows
    carry exactly this value, so scoring needs no matched/unmatched case
    split for trained buckets — only buckets unseen by EVERY language use
    it at score time). Model rows <= |langs| * num_buckets: broadcastable
    by construction for real LID sizes (dozens of langs, 2^12-2^16
    buckets).

    Shape: one explode -> ONE groupBy(lang, bucket) partial-agg count ->
    dense cross of the (tiny) lang and bucket tables -> cost algebra.
    Linear in training chars; nothing scales with the scoring corpus.

    Small labeled sets (the common case — LID trains on a curated sample,
    not the corpus) run a bit-identical driver twin: integer md5 bucket
    hashing and HALF_UP micro-nat rounding shared verbatim, gated by the
    pairwise small-input gate (rows carry documents); the distributed
    path is unchanged and exercised above the gate."""
    from ..session import PAIRWISE_MAX_ROWS, collect_if_small

    rows = collect_if_small(labeled.select(
        F.col(lang_col).cast("string"), F.col(text_col)), PAIRWISE_MAX_ROWS)
    if rows is not None:
        import hashlib
        import math
        from decimal import ROUND_HALF_UP, Decimal

        from ..session import local_df

        def grams(t):
            if t is None:
                return []
            t = t.lower()
            if len(t) >= n:
                return [t[i:i + n] for i in range(len(t) - n + 1)]
            return [t] if t else []

        def bucket(g):
            return int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15],
                       16) % num_buckets

        def micro(p):
            return int(Decimal(repr(-math.log(p) * 1e6))
                       .quantize(Decimal(1), rounding=ROUND_HALF_UP))

        counts: dict = {}
        n_docs: dict = {}
        for lg, text in rows:
            n_docs[lg] = n_docs.get(lg, 0) + 1
            for g in grams(text):
                key = (lg, bucket(g))
                counts[key] = counts.get(key, 0) + 1
        tot = {}
        for (lg, _b), c in counts.items():
            tot[lg] = tot.get(lg, 0) + c
        n_all = sum(n_docs.values())
        k, b = float(smoothing), num_buckets
        langs = {
            lg: (micro(n_docs[lg] / n_all),
                 micro(k / (tot[lg] + k * b)))
            for lg in tot  # langs with zero grams have no lang_tot row
        }
        all_buckets = sorted({bk for (_lg, bk) in counts})
        out = []
        for bk in all_buckets:
            for lg, (prior, default) in langs.items():
                c = counts.get((lg, bk), 0)
                out.append((lg, bk, micro((c + k) / (tot[lg] + k * b)),
                            prior, default, b))
        return local_df(
            labeled.sparkSession, out,
            "lang string, bucket bigint, cost bigint, prior_cost bigint, "
            "default_cost bigint, n_buckets int")
    lang = F.col(lang_col).cast("string")
    feats = labeled.select(
        lang.alias("lang"),
        F.explode(char_ngrams(F.col(text_col), n)).alias("gram"),
    ).select(
        "lang",
        F.pmod(stable_hash60(F.col("gram")), F.lit(num_buckets))
        .alias("bucket"),
    )
    counts = feats.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("c"))
    lang_tot = counts.groupBy("lang").agg(F.sum("c").alias("tot"))
    doc_counts = labeled.groupBy(lang.alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs"))
    n_total = doc_counts.agg(F.sum("n_docs").alias("n_all"))
    k, b = float(smoothing), num_buckets
    micro = lambda p: F.round(-F.log(p) * 1e6, 0).cast("long")  # noqa: E731
    langs = (
        lang_tot.join(doc_counts, "lang")
        .crossJoin(F.broadcast(n_total))
        .select(
            "lang", "tot",
            micro(F.col("n_docs") / F.col("n_all")).alias("prior_cost"),
            micro(F.lit(k) / (F.col("tot") + k * b)).alias("default_cost"),
        )
    )
    buckets = counts.select("bucket").distinct()
    dense = (
        buckets.crossJoin(F.broadcast(langs))
        .join(counts, ["lang", "bucket"], "left")
        .select(
            "lang", "bucket",
            micro(
                (F.coalesce(F.col("c"), F.lit(0)) + k)
                / (F.col("tot") + k * b)
            ).alias("cost"),
            "prior_cost", "default_cost",
            F.lit(b).alias("n_buckets"),
        )
    )
    return dense


def langid_predict(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_buckets: int | None = None,
) -> DataFrame:
    """Predict each document's language under a :func:`train_langid`
    model: pred = argmin over languages of prior_cost + sum of per-gram
    bucket costs (buckets no language ever saw cost ``default_cost``
    each). Ties break by language code (ascending) — with integer costs
    that tie-break is exact, not float luck. Returns (id, pred_lang,
    cost_micro, margin_micro, n_grams): ``margin_micro`` = runner-up cost
    minus best cost (null with a single-language model; 0 = a dead tie —
    route to the marker heuristic or a human), ``n_grams`` = evidence
    volume. Zero-gram docs cost prior only: pred = most frequent training
    class.

    Shape: explode -> per-doc bucket counts -> broadcast model join ->
    one integer groupBy(id, lang) sum -> per-doc argmin over the |langs|
    candidate rows via one more keyed agg (array_sort over |langs|
    structs — never a corpus window). Pass num_buckets (the training
    value) to keep the plan fully lazy, as classifier_quality_score
    does."""
    if num_buckets is None:
        num_buckets = model.select("n_buckets").limit(1).collect()[0][0]
    # the model is referenced by three plan branches (broadcast cost join,
    # langs table, n_buckets probe); left lazy, each branch re-runs the
    # whole training chain. It is broadcast-sized BY CONSTRUCTION
    # (<= |langs| * num_buckets rows), so truncate once here — bounded
    # executor storage, freed when the model handle is dropped.
    model = model.localCheckpoint(eager=False)
    did = F.col(id_col)
    bcounts = (
        docs.select(
            did.alias("id"),
            F.explode(char_ngrams(F.col(text_col), n)).alias("gram"),
        )
        .select(
            "id",
            F.pmod(stable_hash60(F.col("gram")), F.lit(int(num_buckets)))
            .alias("bucket"),
        )
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = docs.select(did.alias("id")).join(
        bcounts.groupBy("id").agg(F.sum("cnt").alias("n_grams")),
        "id", "left",
    ).select("id", F.coalesce("n_grams", F.lit(0)).alias("n_grams"))
    matched = (
        bcounts.join(
            F.broadcast(model.select("lang", "bucket", "cost")), "bucket")
        .groupBy("id", "lang")
        .agg(
            F.sum(F.col("cnt") * F.col("cost")).alias("m_cost"),
            F.sum("cnt").alias("m_cnt"),
        )
    )
    langs = model.select("lang", "prior_cost", "default_cost").distinct()
    scored = (
        totals.crossJoin(F.broadcast(langs))
        .join(matched, ["id", "lang"], "left")
        .select(
            "id", "lang", "n_grams",
            (
                F.col("prior_cost")
                + F.coalesce(F.col("m_cost"), F.lit(0))
                + (F.col("n_grams") - F.coalesce(F.col("m_cnt"), F.lit(0)))
                * F.col("default_cost")
            ).alias("total_cost"),
        )
    )
    ranked = scored.groupBy("id", "n_grams").agg(
        F.array_sort(
            F.collect_list(F.struct("total_cost", "lang"))).alias("arr"))
    arr = F.col("arr")
    return ranked.select(
        F.col("id").alias(id_col),
        arr[0]["lang"].alias("pred_lang"),
        arr[0]["total_cost"].alias("cost_micro"),
        F.when(
            F.size(arr) > 1, arr[1]["total_cost"] - arr[0]["total_cost"]
        ).alias("margin_micro"),
        "n_grams",
    )


def rendezvous_shard(
    df: DataFrame,
    shards: list[str],
    key_col: str = "doc_id",
    salt: str = "hrw-v1",
) -> DataFrame:
    """Rendezvous / highest-random-weight shard assignment (Thaler &
    Ravishankar 1998; the consistent-hashing alternative memcached/Ceph
    descend from): key k goes to argmax over shards s of
    hash(salt, s, k). The property mod-N sharding lacks: ADDING a shard
    moves only ~1/(n+1) of the keys (exactly the keys whose new-shard
    hash beats their old winner), and REMOVING one moves only that
    shard's keys — where ``shard = hash(k) % n`` reassigns ~(n-1)/n of
    the corpus on any resize. At a 10^10-doc store, re-sharding from 512
    to 640 shards under mod-N rewrites ~10^10 rows; under HRW it
    rewrites ~2x10^9 — and every row's assignment is computable locally,
    no ring state to ship.

    Returns df + (shard string). Cost: |shards| native hash evaluations
    per row folded through one array argmax — shuffle-free projection;
    the shard list is a plan literal (hundreds of shards = hundreds of
    expression nodes, fine; for 10^5+ shards switch to the two-level
    HRW-of-groups composition, same operator applied twice). Ties are
    impossible in practice (60-bit hashes) and break to the
    lexicographically smallest shard name for cross-engine exactness."""
    if not shards:
        raise ValueError("shards must be non-empty")
    if len(set(shards)) != len(shards):
        raise ValueError("shard names must be unique")
    k = F.col(key_col).cast("string")
    weighted = F.array(*[
        F.struct(
            stable_hash60(
                F.concat(F.lit(f"{salt}:{s}:"), k)).alias("w"),
            F.lit(s).alias("s"),
        )
        for s in sorted(shards)
    ])
    # fold in sorted-name order keeping the strictly-greater weight: a
    # tie keeps the earlier (smaller) name; the -1 sentinel loses to any
    # real 60-bit hash (all non-negative)
    best = F.aggregate(
        weighted,
        F.struct(F.lit(-1).cast("long").alias("w"),
                 F.lit("").alias("s")),
        lambda acc, x: F.when(x["w"] > acc["w"], x).otherwise(acc),
    )
    return df.withColumn("shard", best["s"])
