"""Corpus-assembly operators: hashed-ngram quality classifier, temperature
mixture rebalancing, deterministic shuffle-sharding."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark):
    rows = []
    for i in range(40):
        if i % 2 == 0:
            rows.append((i, "en", "the quick brown fox jumps over the lazy "
                                  "dog and reads fine english prose daily"))
        else:
            rows.append((i, "xx", "zzq qqz zqz xqx qxq zzq qqz zqz xqx qxq "
                                  "zzq qqz"))
    rows.append((99, "en", "!!! ... ???"))  # zero features after filtering
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_classifier_separates_classes_and_handles_empty(spark):
    from crawl4ai_custom_spark.operators.corpusmix import (
        classifier_quality_score,
        train_quality_classifier,
    )

    docs = _docs(spark)
    labeled = docs.where(F.col("doc_id") < 40).select(
        (F.col("lang") == "en").alias("label"), "text"
    )
    model = train_quality_classifier(labeled, num_buckets=1024)
    scored = classifier_quality_score(docs, model, num_buckets=1024)
    by_id = {r["doc_id"]: r for r in scored.collect()}
    assert len(by_id) == 41
    # english-trained log-odds: en docs positive, xx docs negative
    assert by_id[0]["clf_score"] > 0 > by_id[1]["clf_score"]
    # zero-feature doc is kept, scored neutrally
    assert by_id[99]["n_features"] == 0 and by_id[99]["clf_score"] == 0.0
    # deterministic across runs
    again = {r["doc_id"]: r["clf_score"]
             for r in classifier_quality_score(
                 docs, model, num_buckets=1024).collect()}
    assert all(again[k] == by_id[k]["clf_score"] for k in again)


def test_classifier_unseen_bucket_default(spark):
    """A doc made of never-trained tokens gets the smoothed default
    log-odds ln((bad+kB)/(good+kB)) per feature, not 0."""
    import math

    from crawl4ai_custom_spark.operators.corpusmix import (
        classifier_quality_score,
        train_quality_classifier,
    )

    labeled = spark.createDataFrame(
        [(True, "good words here"), (False, "bad words there")],
        "label boolean, text string",
    )
    model = train_quality_classifier(labeled, num_buckets=1 << 16)
    m = model.limit(1).collect()[0]
    default = math.log((m["bad_total"] + 1.0 * (1 << 16))
                       / (m["good_total"] + 1.0 * (1 << 16)))
    novel = spark.createDataFrame(
        [(1, "qqqq wwww eeee")], "doc_id long, text string"
    )
    got = classifier_quality_score(novel, model, num_buckets=1 << 16).collect()
    assert abs(got[0]["clf_score"] - default) < 1e-12


def test_temperature_mixture_shapes_and_plan(spark):
    from crawl4ai_custom_spark.operators.corpusmix import temperature_mixture

    docs = _docs(spark).where(F.col("doc_id") < 40)  # 20 en / 20 xx
    # T=1, out_frac=1.0: every stratum rate is exactly 1 -> identity
    full = temperature_mixture(docs, temperature=1.0, out_frac=1.0)
    assert full.count() == 40
    assert set(full.columns) == set(docs.columns)
    # skewed corpus, high T: the small stratum's keep RATE must exceed the
    # large stratum's (rebalancing toward uniform)
    skew = docs.where(F.col("lang") == "en").unionByName(
        docs.where(F.col("lang") == "xx").limit(4)
    )
    out = temperature_mixture(skew, temperature=8.0, out_frac=0.5,
                              salt="t8")
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts.get("xx", 0) / 4.0 > counts.get("en", 0) / 20.0
    # plan: docs reach the output through a broadcast join + filter — no
    # sort-merge join, no exchange of the docs themselves
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_shuffle_shards_exact_partition_order(spark):
    from crawl4ai_custom_spark.operators.corpusmix import shuffle_shards

    docs = spark.range(200).select(F.col("id").alias("doc_id"))
    out = shuffle_shards(docs, n_shards=4, salt="s1").collect()
    assert len(out) == 200
    by_shard: dict[int, list] = {}
    for r in out:
        assert 0 <= r["shard"] < 4
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    # pos is a dense 1..n_s ranking inside every shard
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # deterministic: identical assignment on a re-run
    again = shuffle_shards(docs, n_shards=4, salt="s1").collect()
    assert sorted((r["doc_id"], r["shard"], r["pos"]) for r in out) == \
        sorted((r["doc_id"], r["shard"], r["pos"]) for r in again)
    # a different salt produces a different permutation
    other = shuffle_shards(docs, n_shards=4, salt="s2").collect()
    assert sorted((r["doc_id"], r["shard"], r["pos"]) for r in out) != \
        sorted((r["doc_id"], r["shard"], r["pos"]) for r in other)


def test_dsir_weights_rank_target_like_docs_higher(spark):
    from crawl4ai_custom_spark.operators.corpusmix import dsir_log_weights

    docs = _docs(spark)
    raw = docs.select("doc_id", "text")
    target = docs.where(F.col("lang") == "en").select("doc_id", "text")
    w = {r["doc_id"]: r for r in
         dsir_log_weights(raw, target, num_buckets=1024).collect()}
    assert len(w) == 41
    # en docs look like the target relative to the mixed raw pool; xx don't
    assert w[0]["log_weight"] > w[1]["log_weight"]
    assert w[1]["log_weight"] < 0
    # zero-feature doc neutral and retained
    assert w[99]["n_features"] == 0 and w[99]["log_weight"] == 0.0


def test_dsir_resample_deterministic_weighted(spark):
    from crawl4ai_custom_spark.operators.corpusmix import dsir_resample

    docs = _docs(spark)
    raw = docs.select("doc_id", "text")
    target = docs.where(F.col("lang") == "en").select("doc_id", "text")
    s1 = dsir_resample(raw, target, n_docs=10, num_buckets=1024).collect()
    s2 = dsir_resample(raw, target, n_docs=10, num_buckets=1024).collect()
    assert [r["doc_id"] for r in s1] == [r["doc_id"] for r in s2]
    assert len(s1) == 10
    # keys are sorted descending with id tiebreak
    keys = [(r["gumbel_key"], -r["doc_id"]) for r in s1]
    assert keys == sorted(keys, reverse=True)
    # importance resampling should over-select target-like (even-id) docs:
    # en docs carry strictly higher log weights than the xx half
    n_en = sum(1 for r in s1 if r["doc_id"] % 2 == 0 or r["doc_id"] == 99)
    assert n_en >= 7


def test_langid_learns_and_predicts_held_out(spark):
    """Trained char-trigram NB LID separates two synthetic languages on
    held-out docs; zero-gram docs fall back to the prior; the model join
    stays broadcast."""
    from crawl4ai_custom_spark.operators.corpusmix import (
        langid_predict, train_langid)

    docs = _docs(spark)  # 21 en (incl. 99), 20 xx
    train = docs.where(F.col("doc_id") < 30)
    model = train_langid(train, num_buckets=1024)
    held = docs.where((F.col("doc_id") >= 30) | (F.col("doc_id") == 99))
    out = {r["doc_id"]: r for r in langid_predict(
        held, model, num_buckets=1024).collect()}
    for i in range(30, 40):
        want = "en" if i % 2 == 0 else "xx"
        assert out[i]["pred_lang"] == want, (i, out[i])
        assert out[i]["margin_micro"] > 0
        assert out[i]["n_grams"] > 0
    # doc 99 has grams ("!!! ... ???" lowercases to itself, len 11 -> 9
    # trigrams) none of which favor xx; it should still resolve
    assert out[99]["pred_lang"] in ("en", "xx")

    plan = langid_predict(held, model, num_buckets=1024) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_langid_zero_gram_prior_and_integer_determinism(spark):
    """Empty text scores prior-only (pred = majority training class);
    integer micro-nat costs make repeated runs bit-identical."""
    from crawl4ai_custom_spark.operators.corpusmix import (
        langid_predict, train_langid)

    train = spark.createDataFrame(
        [(i, "aa", "aaaa bbbb aaaa") for i in range(6)]
        + [(i + 10, "bb", "cccc dddd cccc") for i in range(3)],
        "doc_id long, lang string, text string")
    model = train_langid(train, num_buckets=256)
    probe = spark.createDataFrame(
        [(1, ""), (2, "aaaa"), (3, "cccc")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           langid_predict(probe, model, num_buckets=256).collect()}
    # empty doc: cost = prior only; 'aa' has the larger prior (6 vs 3 docs)
    assert out[1]["n_grams"] == 0 and out[1]["pred_lang"] == "aa"
    assert out[2]["pred_lang"] == "aa"
    assert out[3]["pred_lang"] == "bb"
    # bit-identical across runs (integer sums, no float accumulation)
    again = {r["doc_id"]: r for r in
             langid_predict(probe, model, num_buckets=256).collect()}
    for i in out:
        assert out[i] == again[i]


def test_rendezvous_shard_bounded_movement(spark):
    """HRW's defining property: adding a shard moves only ~1/(n+1) of the
    keys, and every moved key moves TO the new shard; removing a shard
    moves exactly that shard's keys. Mod-N resharding (shuffle_shards)
    moves ~(n-1)/n — measured side by side."""
    from crawl4ai_custom_spark.operators.corpusmix import (
        rendezvous_shard, shuffle_shards)

    docs = spark.range(4000).select(F.col("id").alias("doc_id"))
    s16 = [f"s{i:02d}" for i in range(16)]
    a = rendezvous_shard(docs, s16).select("doc_id", F.col("shard").alias("a"))
    b = rendezvous_shard(docs, s16 + ["s16"]).select(
        "doc_id", F.col("shard").alias("b"))
    j = a.join(b, "doc_id").persist()
    moved = j.where(F.col("a") != F.col("b"))
    frac = moved.count() / 4000
    # expectation 1/17 ~= 0.0588; generous band for hash variance
    assert 0.03 < frac < 0.10, frac
    # every moved key landed on the NEW shard
    assert moved.where(F.col("b") != "s16").count() == 0

    # removal: only the removed shard's keys move
    c = rendezvous_shard(docs, s16[:-1]).select(
        "doc_id", F.col("shard").alias("c"))
    jc = a.join(c, "doc_id")
    assert jc.where(
        (F.col("a") != "s15") & (F.col("a") != F.col("c"))).count() == 0
    j.unpersist()

    # balance: occupancy within a reasonable band of uniform
    occ = [r["count"] for r in rendezvous_shard(docs, s16)
           .groupBy("shard").count().collect()]
    assert len(occ) == 16 and min(occ) > 150 and max(occ) < 350

    # mod-N control: the same resize moves the overwhelming majority
    m16 = shuffle_shards(docs, n_shards=16).select(
        "doc_id", F.col("shard").alias("a"))
    m17 = shuffle_shards(docs, n_shards=17).select(
        "doc_id", F.col("shard").alias("b"))
    mod_frac = m16.join(m17, "doc_id").where(
        F.col("a") != F.col("b")).count() / 4000
    assert mod_frac > 0.8

    # determinism + validation
    again = rendezvous_shard(docs, s16).select("doc_id", "shard")
    assert a.withColumnRenamed("a", "shard").exceptAll(again).count() == 0
    import pytest as _p
    with _p.raises(ValueError):
        rendezvous_shard(docs, [])
    with _p.raises(ValueError):
        rendezvous_shard(docs, ["x", "x"])


def test_langid_train_driver_path_matches_distributed(spark,
                                                      force_distributed):
    """The train_langid driver twin (integer md5 buckets + HALF_UP
    micro-nat rounding) must equal the distributed dataflow exactly: the
    whole dense model, priors and default costs included, on the same
    labeled set."""
    from crawl4ai_custom_spark.operators.corpusmix import train_langid

    rows = [(i, ["en", "de", "fr"][i % 3],
             f"sample text nummer {i} mit ein paar worte the quick fox")
            for i in range(60)] + [(60, "en", None), (61, "de", "")]
    small = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    fast = train_langid(small, num_buckets=512)
    with force_distributed():
        slow = train_langid(small, num_buckets=512)
    assert fast.dtypes == slow.dtypes
    twin = sorted(map(tuple, fast.collect()))
    assert twin and twin == sorted(map(tuple, slow.collect()))
