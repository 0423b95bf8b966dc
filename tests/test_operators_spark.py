"""Fast Spark unit tests for the operator families (tiny inline data).

The DuckDB oracle harness (scripts/check_correctness.py + __spark_entry__)
pins exact semantics at sf scale; these tests pin BEHAVIOR (shapes,
invariants, edge cases) with minimal runtime.
"""

import pyspark.sql.functions as F
import pytest

from crawl4ai_custom_spark.operators.chunking import (
    fixed_word_chunks,
    regex_chunks,
    sliding_word_chunks,
)
from crawl4ai_custom_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_dedup,
    simhash_dedup,
)
from crawl4ai_custom_spark.operators.filters import FilterChain, url_pattern_filter
from crawl4ai_custom_spark.operators.politeness import (
    PolitenessConfig,
    admit,
    empty_host_state,
    fold_wave_outcomes,
)
from crawl4ai_custom_spark.operators.seen import PartitionedBloom, filter_unseen_exact
from crawl4ai_custom_spark.operators.similarity import brute_force_topk, lsh_topk
from crawl4ai_custom_spark.operators.structured import (
    regex_catalog_extract,
    schema_extract,
)
from crawl4ai_custom_spark.operators.textstats import profile_documents


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "the quick brown fox jumps over the lazy dog again and again today"),
        (3, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
        (4, "completely different content about spark dataframes and shuffles"),
        (5, "der hund und die katze sind nicht auf der couch mit der decke"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_exact_dedup_groups(docs):
    out = exact_dedup(docs).collect()
    assert len(out) == 1
    assert out[0]["n_dups"] == 2 and out[0]["keeper"] == 1


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_dedup(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.3 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_lsh_recovers_exact_dups(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_dedup(docs, num_hashes=16, bands=4,
                               jaccard_threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert (1, 4) not in pairs


def test_incremental_minhash_dedup(spark, docs):
    from crawl4ai_custom_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
        shingle_table,
    )

    corpus = docs.where(F.col("doc_id").isin(1, 4, 5))
    store = minhash_signatures(shingle_table(corpus), num_hashes=16, seed=1)
    batch = spark.createDataFrame(
        [
            # exact re-crawl of corpus doc 1
            (10, "the quick brown fox jumps over the lazy dog again and again today"),
            # near-dup of corpus doc 1 (one word changed)
            (11, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
            # genuinely novel
            (12, "structured streaming watermarks handle late arriving events"),
            # exact within-batch dup of 12
            (13, "structured streaming watermarks handle late arriving events"),
        ],
        ["doc_id", "text"],
    )
    out = incremental_minhash_dedup(
        batch, store, num_hashes=16, bands=4, est_threshold=0.5
    ).collect()
    rows = {(r["new_id"], r["dup_of"]): r for r in out}
    # exact corpus dup: full signature agreement
    assert rows[(10, 1)]["dup_source"] == "corpus"
    assert rows[(10, 1)]["est_jaccard"] == 1.0
    # within-batch exact dup attributed to the smaller batch id
    assert rows[(13, 12)]["dup_source"] == "batch"
    assert rows[(13, 12)]["est_jaccard"] == 1.0
    # novel docs are never flagged
    flagged = {nid for nid, _ in rows}
    assert 12 not in flagged
    # admission rule: unflagged batch ids = novel + one keeper per dup group
    admitted = {r["doc_id"] for r in batch.collect()} - flagged
    assert 12 in admitted and 13 not in admitted and 10 not in admitted


def test_window_dup_stats(spark):
    from crawl4ai_custom_spark.operators.dedup import window_dup_stats

    d = spark.createDataFrame(
        [
            (1, "a b c d"),          # windows (k=3): 'a b c', 'b c d'
            (2, "a b c x"),          # shares 'a b c' with doc 1
            (3, "hello"),            # shorter than k: one whole-doc window
            (4, "p q r p q r p q"),  # repeats only WITHIN one doc
        ],
        ["doc_id", "text"],
    )
    out = {r["id"]: r for r in window_dup_stats(d, k=3, min_docs=2).collect()}
    assert out[1]["n_windows"] == 2 and out[1]["dup_windows"] == 1
    assert out[1]["dup_fraction"] == 0.5
    assert out[2]["n_windows"] == 2 and out[2]["dup_windows"] == 1
    # short doc: a single window, never duplicated
    assert out[3]["n_windows"] == 1 and out[3]["dup_windows"] == 0
    # duplication means >= min_docs DISTINCT docs, not within-doc repeats
    assert out[4]["n_windows"] == 6 and out[4]["dup_windows"] == 0


def test_exact_substring_dedup(spark):
    from crawl4ai_custom_spark.operators.dedup import exact_substring_dedup

    d = spark.createDataFrame(
        [
            # k=4: doc 1 holds the keeper occurrence of 'a b c d'
            (1, "a b c d tail one two three"),
            # same run mid-document: tokens 3..6 removed
            (2, "x y a b c d z w"),
            # run repeated WITHIN one doc: second occurrence removed
            # (within-doc repeats count, like the suffix-array method)
            (3, "p q r s gap1 gap2 gap3 gap4 p q r s"),
            (4, "Totally UNIQUE\nlittle document"),  # untouched: keep bytes
            (5, ""),  # zero tokens: passes through empty
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in exact_substring_dedup(d, k=4).collect()}
    # keeper occurrence survives intact
    assert out[1]["text"] == "a b c d tail one two three"
    assert out[1]["n_tokens_removed"] == 0
    # duplicated run excised at token granularity, surroundings kept
    assert out[2]["text"] == "x y z w"
    assert out[2]["n_tokens"] == 8 and out[2]["n_tokens_removed"] == 4
    # within-doc repeat: first occurrence kept, second removed
    assert out[3]["text"] == "p q r s gap1 gap2 gap3 gap4"
    assert out[3]["n_tokens_removed"] == 4
    # untouched docs keep ORIGINAL casing and line structure
    assert out[4]["text"] == "Totally UNIQUE\nlittle document"
    assert out[5]["text"] == "" and out[5]["n_tokens"] == 0


def test_exact_substring_dedup_overlap_merge(spark):
    """Overlapping duplicated windows merge into one maximal removed span
    (the Lee et al. maximal-substring behavior)."""
    from crawl4ai_custom_spark.operators.dedup import exact_substring_dedup

    run = "r1 r2 r3 r4 r5 r6"  # 6 tokens, k=4 -> 3 overlapping dup windows
    d = spark.createDataFrame(
        [(1, f"{run} end"), (2, f"pre {run} post")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in exact_substring_dedup(d, k=4).collect()}
    assert out[1]["text"] == f"{run} end"
    # whole 6-token run removed from doc 2, not just one window
    assert out[2]["text"] == "pre post"
    assert out[2]["n_tokens_removed"] == 6


def test_simhash_dedup(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_dedup(docs, max_hamming=10, n_bands=5).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) in pairs


def test_knn_classify_separable_clusters(spark):
    """Labels propagate across two separable 2-D clusters; vote_frac is a
    confidence (unanimous inside clusters); a point equidistant between
    clusters resolves deterministically via the documented tie-break."""
    from crawl4ai_custom_spark.operators.similarity import knn_classify

    labeled = spark.createDataFrame(
        [(0, [1.0, 0.0], "pos"), (1, [0.9, 0.1], "pos"),
         (2, [0.0, 1.0], "neg"), (3, [0.1, 0.9], "neg")],
        ["vec_id", "embedding", "label"],
    )
    unlabeled = spark.createDataFrame(
        [(10, [0.95, 0.05]),   # pos cluster
         (11, [0.05, 0.95]),   # neg cluster
         (12, [1.0, 1.0])],    # exactly between: 2 pos + 2 neg votes
        ["vec_id", "embedding"],
    )
    out = {r["id"]: r for r in
           knn_classify(unlabeled, labeled, k=2).collect()}
    assert out[10]["label_pred"] == "pos" and out[10]["vote_frac"] == 1.0
    assert out[11]["label_pred"] == "neg" and out[11]["vote_frac"] == 1.0
    # k=2 on the diagonal point: nearest two are one from each cluster
    # (cos 0.9899 each side) -> votes tie, cosine-mass ties at 6dp,
    # lexicographic tie-break picks 'neg'
    assert out[12]["label_pred"] == "neg" and out[12]["votes"] == 1


def test_brute_force_vs_lsh_topk(spark):
    import math
    rows = []
    for i in range(40):
        base = [math.sin(i * 0.7 + j) for j in range(8)]
        rows.append((i, base))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.where(F.col("vec_id") < 3)
    bf = brute_force_topk(emb, q, k=3)
    assert bf.groupBy("query_id").count().agg(F.max("count")).first()[0] == 3
    lsh = lsh_topk(emb, q, k=3, n_planes=3)
    # LSH neighbors are a subset of candidates; ranks within 1..3
    assert lsh.agg(F.max("rank")).first()[0] <= 3
    # recall vs brute force should be positive on this smooth manifold
    bfset = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    lshset = {(r["query_id"], r["neighbor_id"]) for r in lsh.collect()}
    assert len(bfset & lshset) > 0


def test_profile_documents_handles_empty(docs):
    prof = {r["doc_id"]: r for r in profile_documents(docs).collect()}
    assert prof[6]["token_count"] == 0
    assert prof[1]["lang_pred"] == "en"
    assert prof[5]["lang_pred"] == "de"
    assert 0.0 <= prof[4]["quality"] <= 1.0
    assert prof[1]["fingerprint"] == prof[2]["fingerprint"]


def test_chunkers(docs):
    fixed = fixed_word_chunks(docs.where("doc_id=1"), words=5)
    assert fixed.count() == 3  # 13 words -> 5,5,3
    slid = sliding_word_chunks(docs.where("doc_id=1"), words=5, stride=2)
    assert slid.count() == 5  # starts 0,2,4,6,8
    rgx = regex_chunks(
        docs.sparkSession.createDataFrame([(9, "a b\n\nc d\n\ne")], ["doc_id", "text"])
    )
    assert rgx.count() == 3


def test_filter_chain_stats(spark):
    df = spark.createDataFrame(
        [("https://a.com/x.html",), ("https://a.com/y.pdf",), ("https://b.com/z.html",)],
        ["url"],
    )
    chain = FilterChain()
    chain.add("html_only", url_pattern_filter(F.col("url"), ["*.html"]))
    chain.add("a_only", F.col("url").contains("a.com"))
    out, stats = chain.apply(df)
    assert out.count() == 1
    srows = {r["filter"]: r for r in stats.collect()}
    assert srows["html_only"]["passed"] == 2
    assert srows["a_only"]["total"] == 2 and srows["a_only"]["passed"] == 1


def test_semantic_decontaminate_flags_paraphrase_neighbors(spark):
    """A corpus vector nearly parallel to a benchmark vector flags; an
    orthogonal one does not; hit counting and the flag stay consistent."""
    from crawl4ai_custom_spark.operators.decontam import (
        semantic_decontaminate,
    )

    bench = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    corpus = spark.createDataFrame(
        [(10, [0.99, 0.01, 0.0]),   # ~parallel to bench 0
         (11, [0.0, 0.0, 1.0]),     # orthogonal to both
         (12, [0.7, 0.7, 0.0])],    # close-ish to BOTH (cos ~0.7 each)
        ["vec_id", "embedding"],
    )
    out = {r["id"]: r for r in semantic_decontaminate(
        corpus, bench, threshold=0.9, id_col="vec_id"
    ).collect()}
    assert out[10]["semantically_contaminated"]
    assert out[10]["n_bench_hits"] == 1
    assert not out[11]["semantically_contaminated"]
    assert out[11]["max_bench_cosine"] == 0.0
    assert not out[12]["semantically_contaminated"]  # 0.707 < 0.9
    assert abs(out[12]["max_bench_cosine"] - 0.707107) < 1e-5


def test_corpus_report_rollup(spark):
    """Per-language rows plus an ALL grand total; dup_rate counts exact
    dups; cross-language duplicate text dedups only in the ALL row."""
    from crawl4ai_custom_spark.operators.textstats import corpus_report

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps", "en"),
         (2, "the quick brown fox jumps", "en"),   # exact dup of 1
         (3, "a totally different document", "en"),
         (4, "the quick brown fox jumps", "de")],  # same text, other lang
        ["doc_id", "text", "lang"],
    )
    out = {r["lang"]: r for r in corpus_report(docs).collect()}
    assert out["en"]["n_docs"] == 3 and out["en"]["distinct_fp"] == 2
    assert abs(out["en"]["dup_rate"] - 1 / 3) < 1e-3
    assert out["de"]["n_docs"] == 1 and out["de"]["dup_rate"] == 0.0
    assert out["ALL"]["n_docs"] == 4
    assert out["ALL"]["distinct_fp"] == 2  # the de copy folds globally
    assert out["ALL"]["n_tokens"] == 5 * 3 + 4


def test_token_budget_select_quality_threshold(spark):
    """Whole top-quality buckets admit fully, nothing below the straddling
    bucket admits, and the admitted token mass lands near the budget."""
    from crawl4ai_custom_spark.operators.corpusmix import token_budget_select

    # 100 docs, 100 tokens each; quality = doc_id/100 -> distinct buckets
    docs = spark.createDataFrame(
        [(i, i / 100.0, 100) for i in range(100)],
        ["doc_id", "quality", "n_tokens"],
    )
    out = token_budget_select(docs, budget_tokens=2000, buckets=100)
    got = {r["doc_id"] for r in out.collect()}
    # exactly the 20 highest-quality docs fill 2000 tokens (each bucket is
    # one whole doc here, so no fractional boundary exists)
    assert got == set(range(80, 100))

    # fractional boundary: one bucket of many docs straddles the budget
    flat = spark.createDataFrame(
        [(i, 0.5, 10) for i in range(1000)], ["doc_id", "quality", "n_tokens"]
    )
    sel = token_budget_select(flat, budget_tokens=5000, buckets=10)
    n = sel.count()
    assert 400 <= n <= 600  # hash fraction targets 500 in expectation


def test_trustrank_demotes_unreachable_farm(spark):
    """Rank flows only from the trusted seed: a densely self-linking farm
    unreachable from the seed ranks exactly 0 (plain PageRank would hand
    it teleport mass), while the seed's chain holds positive rank."""
    from crawl4ai_custom_spark.operators.linkgraph import pagerank, trustrank

    edges = spark.createDataFrame(
        [(0, 1), (1, 2),                       # trusted chain
         (10, 11), (11, 12), (12, 10), (10, 12), (11, 10), (12, 11)],
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([(0,)], ["node"])
    tr = {r["node"]: r["rank"] for r in
          trustrank(edges, seeds, iterations=3).collect()}
    assert tr[0] > 0 and tr[1] > 0 and tr[2] > 0
    assert tr[10] == 0.0 and tr[11] == 0.0 and tr[12] == 0.0
    pr = {r["node"]: r["rank"] for r in
          pagerank(edges, iterations=3).collect()}
    assert pr[10] > 0  # the farm inflates plain PageRank; TrustRank kills it
    # a seed that is not in the graph contributes nothing -> all zero
    ghost = spark.createDataFrame([(99,)], ["node"])
    assert all(r["rank"] == 0.0 for r in
               trustrank(edges, ghost, iterations=2).collect())


def test_mirror_hosts_detection_and_caps(spark):
    """A full mirror flags with containment 1.0; a single shared page stays
    below min_shared; a boilerplate page served by EVERY host (404
    template) is excluded by the fan-out cap and creates no pairs."""
    from crawl4ai_custom_spark.operators.linkgraph import mirror_hosts

    rows = []
    for i in range(4):  # a.com: 4 distinct pages
        rows.append((f"https://a.com/p{i}", f"content-{i}"))
    for i in range(4):  # m.com mirrors all of a.com
        rows.append((f"https://m.com/x{i}", f"content-{i}"))
    rows.append(("https://b.com/only", "content-0"))  # 1 shared page only
    for h in ("a.com", "m.com", "b.com", "c.com", "d.com"):
        rows.append((f"https://{h}/404", "not found"))  # global boilerplate
    pages = spark.createDataFrame(rows, ["url", "html"])
    out = {(r["host_a"], r["host_b"]): r for r in mirror_hosts(
        pages, min_shared=3, min_frac=0.5, max_hosts_per_fp=4
    ).collect()}
    assert set(out) == {("a.com", "m.com")}
    assert out[("a.com", "m.com")]["shared"] == 4
    assert abs(out[("a.com", "m.com")]["frac"] - 0.8) < 1e-6  # 4 of min(5,5)


def test_admit_honors_robots_crawl_delay(spark):
    """A robots-declared Crawl-delay shrinks only that host's wave budget:
    delay 15 at wave_seconds 30 admits 2 urls while the undeclared host
    keeps base-delay budget; a declared delay BELOW base never speeds a
    host up."""
    from crawl4ai_custom_spark.operators.politeness import (
        PolitenessConfig, admit, empty_host_state,
    )

    rows = [(f"https://slow.com/p{i}", "slow.com", 1, float(i)) for i in range(10)]
    rows += [(f"https://fast.com/p{i}", "fast.com", 1, float(i)) for i in range(10)]
    rows += [(f"https://eager.com/p{i}", "eager.com", 1, float(i)) for i in range(10)]
    fr = spark.createDataFrame(
        rows, ["url_canon", "registrable_domain", "depth", "score"]
    )
    delays = spark.createDataFrame(
        [("slow.com", 15.0), ("eager.com", 0.1)],
        ["registrable_domain", "crawl_delay"],
    )
    cfg = PolitenessConfig(base_delay=2.0, wave_seconds=30.0)  # base budget 15
    out = admit(fr, empty_host_state(spark), cfg, crawl_delays=delays)
    by_dom = {r[0]: r[1] for r in
              out.groupBy("registrable_domain").count().collect()}
    assert by_dom["slow.com"] == 2      # floor(30 / 15)
    assert by_dom["fast.com"] == 10     # base budget 15 > frontier size
    assert by_dom["eager.com"] == 10    # 0.1s declared: max(base, .1) = base
    assert "crawl_delay" not in out.columns


def test_admit_dfs_prefix_honors_crawl_delay(spark):
    """The DFS prefix admission consumes the robots-declared budget too:
    a delay-15 host ends the wave at its 3rd stack entry."""
    from crawl4ai_custom_spark.operators.politeness import (
        PolitenessConfig, admit_dfs_prefix, empty_host_state,
    )

    # stack order = score desc; slow.com rows at positions 1,2,3
    rows = [("https://slow.com/a", "slow.com", 1, 9.0),
            ("https://slow.com/b", "slow.com", 1, 8.0),
            ("https://slow.com/c", "slow.com", 1, 7.0),
            ("https://other.com/x", "other.com", 1, 6.0)]
    fr = spark.createDataFrame(
        rows, ["url_canon", "registrable_domain", "depth", "score"]
    )
    delays = spark.createDataFrame([("slow.com", 15.0)],
                                   ["registrable_domain", "crawl_delay"])
    cfg = PolitenessConfig(base_delay=2.0, wave_seconds=30.0)
    order = [F.desc("score")]
    got = [r["url_canon"] for r in admit_dfs_prefix(
        fr, empty_host_state(spark), cfg, order, 100, crawl_delays=delays
    ).collect()]
    # budget 2 for slow.com: the 3rd slow row ends the prefix BEFORE
    # other.com's entry (DFS pop-order preservation)
    assert got == ["https://slow.com/a", "https://slow.com/b"]
    # without the delay table the whole stack fits (base budget 15)
    assert admit_dfs_prefix(
        fr, empty_host_state(spark), cfg, order, 100
    ).count() == 4


def test_robots_crawl_delays_extraction(spark):
    """Group selection (our '*' group, not greedybot's), missing delays
    absent, TTL-stale entries dropped."""
    import datetime as dt

    from crawl4ai_custom_spark.operators.robots import robots_crawl_delays

    now = dt.datetime(2026, 8, 18, tzinfo=dt.timezone.utc)
    fresh, stale = now - dt.timedelta(days=1), now - dt.timedelta(days=30)
    rows = [
        ("a.com", "user-agent: greedybot\ncrawl-delay: 99\n"
                  "user-agent: *\ncrawl-delay: 7", fresh),
        ("b.com", "user-agent: *\ndisallow: /x/", fresh),   # none declared
        ("c.com", "user-agent: *\ncrawl-delay: 3", stale),  # past TTL
    ]
    robots = spark.createDataFrame(rows, ["domain", "rules", "fetch_time"])
    out = {r["registrable_domain"]: r["crawl_delay"]
           for r in robots_crawl_delays(robots, now=now).collect()}
    assert out == {"a.com": 7.0}


def test_url_blocklist_flags(spark):
    """Data-driven blocklist: domain hit and keyword-threshold hit both
    block; the url side of the join stays broadcast (no url shuffle)."""
    from crawl4ai_custom_spark.operators.filters import url_blocklist_flags

    urls = spark.createDataFrame(
        [
            (1, "https://bad.com/home", "bad.com"),
            (2, "https://ok.com/free-casino-poker-night", "ok.com"),
            (3, "https://ok.com/casino-review", "ok.com"),
            (4, "https://ok.com/articles/clean", "ok.com"),
        ],
        ["id", "url_canon", "registrable_domain"],
    )
    bl = spark.createDataFrame([("BAD.com",)], ["domain"])  # case-folded
    out = url_blocklist_flags(
        urls, bl, keywords=["casino", "poker"], kw_threshold=2
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["domain_blocked"] and rows[1]["url_blocked"]
    assert rows[2]["kw_hits"] == 2 and rows[2]["url_blocked"]
    assert rows[3]["kw_hits"] == 1 and not rows[3]["url_blocked"]
    assert not rows[4]["url_blocked"] and rows[4]["kw_hits"] == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # blocklist ships, frontier stays put


def test_politeness_admit_budget_and_order(spark):
    rows = [
        (f"https://d{i % 2}.com/p{i}", f"d{i % 2}.com", 1, float(i)) for i in range(10)
    ]
    fr = spark.createDataFrame(
        rows, ["url_canon", "registrable_domain", "depth", "score"]
    )
    cfg = PolitenessConfig(base_delay=2.0, wave_seconds=4.0)  # budget 2
    out = admit(fr, empty_host_state(spark), cfg, global_budget=3)
    rows = out.collect()
    assert len(rows) == 3
    # top scores win: 9,8 then 7
    assert {r["url_canon"] for r in rows} == {
        "https://d1.com/p9", "https://d0.com/p8", "https://d1.com/p7"
    }


def test_politeness_fold_backoff(spark):
    hs = empty_host_state(spark)
    wave = spark.createDataFrame(
        [("a.com", 200), ("a.com", 429), ("b.com", 200)],
        ["registrable_domain", "status_code"],
    )
    cfg = PolitenessConfig(base_delay=2.0, max_delay=60.0)
    out = {r["registrable_domain"]: r for r in
           fold_wave_outcomes(hs, wave, cfg).collect()}
    assert out["a.com"]["current_delay"] == 4.0 and out["a.com"]["fail_count"] == 1
    assert out["b.com"]["current_delay"] == 2.0 and out["b.com"]["fail_count"] == 0


def test_fold_over_empty_host_state_plans_no_join(spark):
    # wave 0's backoff fold: the optimizer must see the empty host_state as
    # empty, so the full outer join (a BroadcastNestedLoopJoin plus its
    # zero-task broadcast job) leaves the plan, and the rows stay the same
    # as a fold over an empty relation Catalyst cannot prove empty
    wave = spark.createDataFrame(
        [("a.com", 200), ("a.com", 429), ("b.com", 200)],
        ["registrable_domain", "status_code"],
    )
    cfg = PolitenessConfig(base_delay=2.0, max_delay=60.0)
    folded = fold_wave_outcomes(empty_host_state(spark), wave, cfg)
    plan = folded._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    opaque = spark.range(0).select(
        F.lit(None).cast("string").alias("registrable_domain"),
        F.lit(None).cast("double").alias("current_delay"),
        F.lit(None).cast("int").alias("fail_count"),
    )
    assert sorted(folded.collect()) == sorted(
        fold_wave_outcomes(opaque, wave, cfg).collect())
    fr = spark.createDataFrame([("https://a.com/", "a.com", 1, 1.0)],
                               ["url_canon", "registrable_domain", "depth",
                                "score"])
    admitted = admit(fr, empty_host_state(spark), cfg, global_budget=5)
    assert "Join" not in admitted._jdf.queryExecution().executedPlan().toString()


def test_partitioned_bloom_prefilter_no_false_negatives(spark):
    cands = spark.createDataFrame(
        [(i, i * 2654435761 % (1 << 60)) for i in range(200)], ["id", "url_hash"]
    )
    bloom = PartitionedBloom(spark, num_partitions=4, capacity_per_partition=10_000)
    first = cands.where(F.col("id") < 100)
    bloom.add(first.select("url_hash"))
    flagged = bloom.prefilter(cands)
    maybe = flagged.where(F.col("bloom_maybe_seen"))
    fresh = flagged.where(~F.col("bloom_maybe_seen"))
    # no false negatives: every added hash must be flagged maybe-seen
    assert maybe.join(first, "id").count() == 100
    # fresh rows are definitively new
    assert fresh.join(first.select("url_hash"), "url_hash").count() == 0


def test_partitioned_bloom_folds_accumulate_across_state_swaps(spark):
    """Each add folds into the state the previous add wrote back: after
    three folds and an empty one every added hash, signed xxhash64 values
    included, is still flagged; an empty filter flags nothing."""
    urls = spark.range(600).select(
        "id", F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"))
    assert urls.where(F.col("url_hash") < 0).count() > 0
    bloom = PartitionedBloom(spark, num_partitions=4,
                             capacity_per_partition=10_000)
    assert bloom.prefilter(urls).where(F.col("bloom_maybe_seen")).count() == 0
    for lo in (0, 100, 200):
        bloom.add(urls.where(F.col("id").between(lo, lo + 99))
                  .select("url_hash"))
    bloom.add(urls.where(F.lit(False)).select("url_hash"))
    flags = {r["id"]: r["bloom_maybe_seen"]
             for r in bloom.prefilter(urls).collect()}
    assert all(flags[i] for i in range(300))
    assert sum(flags[i] for i in range(300, 600)) <= 15  # ~1% design rate


def test_filter_unseen_exact(spark):
    cands = spark.createDataFrame([(i,) for i in range(10)], ["url_hash"])
    seen = spark.createDataFrame([(i,) for i in range(0, 10, 2)], ["url_hash"])
    assert filter_unseen_exact(cands, seen).count() == 5


def test_filter_unseen_exact_keeps_candidate_rows_and_columns(spark):
    """The seen anti-join passes every candidate column and duplicate
    through and matches on the named hash column only."""
    cands = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1), (2, "b2", 1), (3, "c", 2)],
        ["h", "url_canon", "depth"])
    seen = spark.createDataFrame([(1,), (4,)], ["h"])
    out = filter_unseen_exact(cands, seen, hash_col="h")
    assert out.columns == ["h", "url_canon", "depth"]
    assert sorted(map(tuple, out.collect())) == [
        (2, "b", 1), (2, "b2", 1), (3, "c", 2)]


def test_regex_catalog_extract(spark):
    df = spark.createDataFrame(
        [(1, "mail me at a@b.co and see https://x.org/d on 2026-01-02")],
        ["doc_id", "blob"],
    )
    out = {(r["pattern_name"], r["match"])
           for r in regex_catalog_extract(df, "blob", "doc_id").collect()}
    assert ("email", "a@b.co") in out
    assert ("url", "https://x.org/d") in out
    assert ("date_iso", "2026-01-02") in out


def test_schema_extract_css(spark):
    html = b"""<html><body>
      <div class="product"><h2 class="name">Widget</h2>
        <span class="price">$9.99</span><a href="/w1">more</a></div>
      <div class="product"><h2 class="name">Gadget</h2>
        <span class="price">$19.99</span><a href="/g1">more</a></div>
    </body></html>"""
    pages = spark.createDataFrame([("https://s.com/", html)], ["url", "html"])
    schema = {
        "baseSelector": "div.product",
        "fields": [
            {"name": "name", "selector": "h2.name", "type": "text"},
            {"name": "price", "selector": "span.price", "type": "text"},
            {"name": "link", "selector": "a", "type": "attribute", "attribute": "href"},
            {"name": "name_lower", "selector": "h2.name", "type": "text",
             "transform": "lowercase"},
        ],
    }
    recs = schema_extract(pages, schema).first()["records"]
    assert len(recs) == 2
    assert recs[0]["name"] == "Widget" and recs[0]["price"] == "$9.99"
    assert recs[0]["link"] == "/w1" and recs[1]["name_lower"] == "gadget"


def test_aged_score_starvation_jump(spark):
    """A row starved past fairness_waves outranks every fresh high-score row
    (dispatcher aging parity); under the horizon, plain score order holds."""
    from crawl4ai_custom_spark.operators.politeness import aged_score

    fr = spark.createDataFrame(
        [
            ("https://a.com/old", "a.com", 0.1, 1, 0),    # waited 25 waves
            ("https://a.com/hot", "a.com", 9.9, 1, 25),   # fresh, high score
        ],
        ["url_canon", "registrable_domain", "score", "depth", "discovered_wave"],
    )
    wave = 25
    aged = fr.withColumn(
        "score",
        aged_score(F.col("score"), F.lit(wave) - F.col("discovered_wave"), 20),
    )
    adm = admit(aged, empty_host_state(spark),
                PolitenessConfig(wave_seconds=2.0), global_budget=1)
    assert adm.first()["url_canon"] == "https://a.com/old"
    # below the horizon the hot row wins
    adm2 = admit(
        fr.withColumn("score", aged_score(
            F.col("score"), F.lit(wave) - F.col("discovered_wave"), 30)),
        empty_host_state(spark), PolitenessConfig(wave_seconds=2.0),
        global_budget=1,
    )
    assert adm2.first()["url_canon"] == "https://a.com/hot"


def test_link_preview_cap_dedup_and_fallback(spark):
    """Reference _filter_links semantics: truncate to max_links THEN dedup;
    missing head -> null contextual + intrinsic-only total; external links
    excluded by default."""
    from crawl4ai_custom_spark.operators.linkpreview import link_preview

    pages = spark.createDataFrame(
        [("https://s.com/t1",
          b"<html><head><title>spark data guide</title>"
          b'<meta name="description" content="all about spark"></head></html>')],
        ["url", "html"],
    )
    links = spark.createDataFrame(
        [
            ("https://s.com/", "https://s.com/t1", 0, True, 4.0),
            ("https://s.com/", "https://s.com/t1", 1, True, 4.0),   # dup
            ("https://s.com/", "https://s.com/missing", 2, True, 4.0),
            ("https://s.com/", "https://ext.com/x", 3, False, 4.0), # external
            ("https://s.com/", "https://s.com/capped", 4, True, 4.0),
        ],
        ["page_url", "href", "link_pos", "is_internal", "intrinsic_score"],
    )
    out = link_preview(links, pages, ["spark", "data"], max_links=3).collect()
    by_href = {r["href"]: r for r in out}
    # external dropped pre-cap; capped row beyond max_links=3 dropped
    assert set(by_href) == {"https://s.com/t1", "https://s.com/missing"}
    t1 = by_href["https://s.com/t1"]
    # title hits spark+data (x3 each), desc hits spark (x2): (6+2)/(6*2)
    assert abs(t1["contextual_score"] - 8 / 12.0) < 1e-9
    assert abs(t1["total_score"] - (4.0 * 0.7 + min(8 / 12.0 * 10, 10) * 0.3)) < 1e-9
    miss = by_href["https://s.com/missing"]
    assert miss["contextual_score"] is None
    assert miss["total_score"] == 4.0


def _ref_chunk_sim(text, threshold, overlap, rate=0.75):
    """Independent simulation of the reference's streaming chunk merge
    (utils.py:76-160, no-tokenizer path) for differential testing."""
    queue = [w for w in text.split() if w]
    out = []
    while len(queue) * rate >= threshold:
        take = 0
        while take < len(queue) and (take + 1) * rate <= threshold:
            take += 1
        take = max(take, 1)
        back = 0
        while back < take and (back + 1) * rate <= overlap:
            back += 1
        emit = take - back
        out.append(" ".join(queue[:emit]))
        queue = queue[emit:]
    if queue:
        out.append(" ".join(queue))
    return out


def test_token_budget_chunks_matches_reference_sim(spark):
    from crawl4ai_custom_spark.operators.chunking import token_budget_chunks

    texts = [
        ("d0", "w" + " x" * 199),            # 200 words
        ("d1", " ".join(f"t{i}" for i in range(137))),
        ("d2", "short doc only"),
        ("d3", ""),
        ("d4", " ".join(f"u{i}" for i in range(64))),  # exactly m words
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    for thr, ov in [(48, 9), (48, 0), (12, 3)]:
        got = {
            (r["id"], r["chunk_index"]): r["chunk"]
            for r in token_budget_chunks(
                df, token_threshold=thr, overlap=ov
            ).collect()
        }
        for did, text in texts:
            want = _ref_chunk_sim(text, thr, ov)
            have = [got[(did, i)] for i in range(len(want))]
            assert have == want, (did, thr, ov)
            assert (did, len(want)) not in got  # no extra chunks


def test_schema_extract_xpath(spark):
    """XPath backend (JsonXPathExtractionStrategy subset): // and / axes,
    attribute predicates, positional predicates per context group."""
    html = """<html><body>
      <div class="product"><h2>Widget</h2>
        <span class="price">$9.99</span><span class="price">$8.88</span>
        <a href="/w1">m</a></div>
      <div class="product"><h2>Gadget</h2>
        <span class="price">$19.99</span><a href="/g1">m</a></div>
    </body></html>"""
    pages = spark.createDataFrame([("https://s.com/", html)], ["url", "html"])
    schema = {
        "baseSelector": "//div[@class='product']",
        "fields": [
            {"name": "name", "selector": ".//h2", "type": "text"},
            {"name": "price2", "selector": ".//span[2]", "type": "text"},
            {"name": "link", "selector": ".//a[@href]", "type": "attribute",
             "attribute": "href"},
        ],
    }
    recs = schema_extract(pages, schema).first()["records"]
    assert len(recs) == 2
    assert recs[0]["name"] == "Widget" and recs[0]["price2"] == "$8.88"
    # reference semantics: a field whose selector matches nothing is OMITTED
    # from the record unless the schema gives a default
    assert recs[1]["name"] == "Gadget" and "price2" not in recs[1]
    assert recs[0]["link"] == "/w1" and recs[1]["link"] == "/g1"


def test_cluster_pairs_and_keepers(spark, tmp_path):
    """pair -> cluster -> keeper: a 4-chain, a 2-pair, and a singleton.
    Chain a-b, b-c, c-d must collapse to one cluster labeled min(a..d) even
    though a and d never share a pair (transitive closure, not pair groupBy)."""
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.dedup import cluster_pairs, dedup_keepers

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in cluster_pairs(pairs, checkpoint_dir=str(tmp_path / "cc")).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 4, 10, 11, 99]], ["doc_id", "text"]
    )
    kept = dedup_keepers(docs, pairs, checkpoint_dir=str(tmp_path / "cc2"))
    keepers = sorted(
        r["doc_id"] for r in kept.where(F.col("is_keeper")).collect()
    )
    assert keepers == [1, 10, 99]  # one survivor per cluster + the singleton


def test_embedding_dedup_requires_explicit_all_pairs(spark):
    import pytest as _pytest

    from crawl4ai_custom_spark.operators.dedup import embedding_cosine_dedup

    emb = spark.createDataFrame([(1, [1.0, 0.0]), (2, [1.0, 0.0])],
                                ["vec_id", "embedding"])
    with _pytest.raises(ValueError):
        embedding_cosine_dedup(emb)
    assert embedding_cosine_dedup(emb, all_pairs=True).count() == 1


def test_schema_extract_nested_and_computed(spark):
    """nested / nested_list / list-with-fields / computed / baseFields /
    default — the reference's full field-type surface
    (extraction_strategy.py:1060-1229). Structured values are JSON-encoded
    inside the map column."""
    import json

    html = b"""<html><body>
      <div class="product" data-sku="SKU-1">
        <h2>Widget</h2>
        <div class="brand"><span class="bname">Acme</span>
          <span class="country">DE</span></div>
        <ul><li class="feat" data-w="9">fast</li>
            <li class="feat" data-w="3">light</li></ul>
        <span class="price">10</span>
      </div>
    </body></html>"""
    pages = spark.createDataFrame([("https://s.com/", html)], ["url", "html"])
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
            {"name": "price", "selector": "span.price", "type": "text"},
            {"name": "missing", "selector": "span.nope", "type": "text",
             "default": "n/a"},
            {"name": "shout", "type": "computed",
             "expression": "name.upper() + '!'"},
        ],
    }
    recs = schema_extract(pages, schema).first()["records"]
    assert len(recs) == 1
    r = recs[0]
    assert r["sku"] == "SKU-1" and r["name"] == "Widget"
    assert json.loads(r["brand"]) == {"bname": "Acme", "country": "DE"}
    assert json.loads(r["features"]) == [
        {"label": "fast", "weight": "9"}, {"label": "light", "weight": "3"},
    ]
    assert r["missing"] == "n/a" and r["shout"] == "WIDGET!"


def test_css_attribute_operators(spark):
    """CSS [attr^=], [attr$=], [attr*=], [attr~=] and stacked attr blocks."""
    html = b"""<html><body>
      <a href="https://ext.com/a" rel="nofollow external" id="x1">one</a>
      <a href="/local/b.pdf" id="x2">two</a>
      <a href="https://ext.com/c.pdf" rel="external" id="x3">three</a>
    </body></html>"""
    pages = spark.createDataFrame([("https://s.com/", html)], ["url", "html"])

    def ids(selector):
        schema = {"baseSelector": "body", "fields": [
            {"name": "hit", "selector": selector, "type": "nested_list",
             "fields": [{"name": "id", "type": "attribute", "attribute": "id"}]},
        ]}
        import json
        recs = schema_extract(pages, schema).first()["records"]
        return [d["id"] for d in json.loads(recs[0]["hit"])] if recs else []

    assert ids('a[href^="https://"]') == ["x1", "x3"]
    assert ids('a[href$=".pdf"]') == ["x2", "x3"]
    assert ids('a[href*="ext.com"]') == ["x1", "x3"]
    assert ids('a[rel~="external"]') == ["x1", "x3"]
    assert ids('a[href^="https://"][href$=".pdf"]') == ["x3"]


def test_sentence_and_topic_chunkers(spark):
    from crawl4ai_custom_spark.operators.chunking import (
        sentence_chunks,
        topic_segment_chunks,
    )

    docs = spark.createDataFrame(
        [(1, "First one. Second here! Third? First one. No-break.end")],
        ["doc_id", "text"],
    )
    sents = {r["sentence"] for r in sentence_chunks(docs).collect()}
    # dedup (reference list(set(...))); no split without whitespace after '.'
    assert sents == {"First one.", "Second here!", "Third?", "No-break.end"}

    # two lexically disjoint halves -> cohesion 0 at the block seam -> 2 topics
    half_a = " ".join(f"alpha{i}" for i in range(20))
    half_b = " ".join(f"beta{i}" for i in range(20))
    tdocs = spark.createDataFrame([(1, half_a + " " + half_b)], ["doc_id", "text"])
    segs = topic_segment_chunks(tdocs, block_words=20).collect()
    assert len(segs) == 2
    by_idx = {r["chunk_index"]: r["chunk"] for r in segs}
    assert by_idx[0].startswith("alpha0") and by_idx[1].startswith("beta0")


def test_css_pseudo_classes(spark):
    """:nth-child / :first-child / :last-child (the td:nth-child(N) pattern
    the reference special-cases for table scraping)."""
    import json

    html = b"""<html><body><table>
      <tr><td id="r1c1">a</td><td id="r1c2">b</td></tr>
      <tr><td id="r2c1">c</td><td id="r2c2">d</td></tr>
    </table></body></html>"""
    pages = spark.createDataFrame([("https://s.com/", html)], ["url", "html"])
    schema = {"baseSelector": "tr", "fields": [
        {"name": "second", "selector": "td:nth-child(2)", "type": "attribute",
         "attribute": "id"},
        {"name": "first", "selector": "td:first-child", "type": "text"},
    ]}
    from crawl4ai_custom_spark.operators.structured import schema_extract
    recs = schema_extract(pages, schema).first()["records"]
    assert [r["second"] for r in recs] == ["r1c2", "r2c2"]
    assert [r["first"] for r in recs] == ["a", "c"]


def test_ivf_topk_recall(spark):
    import math

    from crawl4ai_custom_spark.operators.similarity import ivf_topk

    rows = [(i, [math.sin(i * 0.7 + j) for j in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.where(F.col("vec_id") < 3)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in brute_force_topk(emb, q, k=3).collect()}
    ivf = ivf_topk(emb, q, k=3, n_centroids=6, nprobe=3)
    got = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    assert ivf.agg(F.max("rank")).first()[0] <= 3
    # on this smooth manifold multiprobe IVF recovers most true neighbors
    assert len(bf & got) >= len(bf) // 2


def test_overlapping_and_identity_chunks_match_reference_sim(spark):
    """Differential vs a literal transcription of the reference's
    OverlappingWindowChunking.chunk loop (chunking_strategy.py:239-256)."""

    def ref_overlap(text, window, overlap):
        words = text.split()
        if len(words) <= window:
            return [text]
        chunks, start = [], 0
        while start < len(words):
            end = start + window
            chunks.append(" ".join(words[start:end]))
            if end >= len(words):
                break
            start = end - overlap
        return chunks

    texts = [
        (1, " ".join(f"w{i}" for i in range(23))),   # short tail chunk
        (2, " ".join(f"w{i}" for i in range(20))),   # aligned exactly
        (3, "one  two   three"),                     # passthrough, raw ws
        (4, " ".join(f"w{i}" for i in range(7))),    # n == window
        (5, ""),                                     # empty -> no rows
        (6, " ".join(f"w{i}" for i in range(50))),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    from crawl4ai_custom_spark.operators.chunking import (
        identity_chunks,
        overlapping_word_chunks,
    )

    out = overlapping_word_chunks(df, words=7, overlap=3).collect()
    got = {}
    for r in out:
        got.setdefault(r["id"], {})[r["chunk_index"]] = r["chunk"]
    for doc_id, text in texts:
        expected = [c for c in ref_overlap(text, 7, 3) if c]
        mine = [got.get(doc_id, {})[i] for i in sorted(got.get(doc_id, {}))]
        assert mine == expected, (doc_id, mine, expected)

    ident = {r["id"]: r for r in identity_chunks(df).collect()}
    assert ident[3]["chunk"] == "one  two   three" and ident[3]["chunk_index"] == 0
    assert 5 not in ident  # empty text yields no chunk


def test_pii_redaction_counts_and_text(spark):
    from crawl4ai_custom_spark.operators.pii import redact_pii

    rows = [
        (1, "mail me at a.b+c@sub.example.org or 10.0.0.1 thanks"),
        (2, "ssn 123-45-6789 phone 555-123-4567"),
        (3, "clean text, nothing here"),
        (4, "double x@y.io and z@w.co"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_ip"] == 1
    assert out[1]["text_redacted"] == "mail me at <EMAIL> or <IP> thanks"
    assert out[2]["n_ssn"] == 1 and out[2]["n_phone"] == 1
    assert out[2]["text_redacted"] == "ssn <SSN> phone <PHONE>"
    assert out[3]["any_pii"] is False and out[3]["text_redacted"] == rows[2][1]
    assert out[4]["n_email"] == 2


def test_decontaminate_flags_overlap(spark):
    from crawl4ai_custom_spark.operators.decontam import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            (1, "we saw the quick brown fox yesterday"),  # shares 3-grams
            (2, "completely different words entirely here"),
            (3, "the quick brown fox jumps over the lazy dog"),  # verbatim
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in
           decontaminate(docs, bench, n=3, min_overlap=1).collect()}
    assert out[1]["contaminated"] and out[1]["n_contaminated_grams"] >= 2
    assert not out[2]["contaminated"] and out[2]["n_contaminated_grams"] == 0
    assert out[3]["contaminated"] and out[3]["n_contaminated_grams"] == 7


def test_repetition_stats_known_values(spark):
    from crawl4ai_custom_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "aaa\nbbb\naaa\n\n"),       # 3 lines, 'aaa' twice
            (2, "x y x y x y"),             # top bigram 'x y' 3 of 5
            (3, ""),                        # empty -> zeros
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["n_lines"] == 3
    assert abs(out[1]["dup_line_frac"] - 1 / 3) < 1e-9
    assert abs(out[1]["dup_line_char_frac"] - 3 / 9) < 1e-9
    assert abs(out[2]["top_bigram_frac"] - 3 / 5) < 1e-9
    assert out[3]["n_lines"] == 0 and out[3]["dup_line_frac"] == 0.0


def test_stratified_sample_deterministic_and_monotone(spark):
    from crawl4ai_custom_spark.operators.textstats import stratified_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(400)],
        ["doc_id", "lang"],
    )
    a = {r["doc_id"] for r in
         stratified_sample(df, {"en": 0.5, "de": 0.25}).collect()}
    b = {r["doc_id"] for r in
         stratified_sample(df, {"en": 0.5, "de": 0.25}).collect()}
    assert a == b  # deterministic, no RNG state
    bigger = {r["doc_id"] for r in
              stratified_sample(df, {"en": 1.0, "de": 0.5}).collect()}
    assert a <= bigger  # raising rates only adds rows (hash thresholding)
    en = sum(1 for i in a if i % 2 == 0) / 200
    de = sum(1 for i in a if i % 2 == 1) / 200
    assert 0.35 < en < 0.65 and 0.1 < de < 0.4


def test_pagerank_known_graph_and_host_edges(spark):
    from crawl4ai_custom_spark.operators.linkgraph import host_edges, pagerank

    # 2-node cycle: symmetric, ranks must both be 0.5 at every iteration
    cyc = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    r = {x["node"]: x["rank"] for x in pagerank(cyc, iterations=4).collect()}
    assert abs(r["a"] - 0.5) < 1e-12 and abs(r["b"] - 0.5) < 1e-12

    # star: hub h pointed at by s1..s3 -> h outranks the spokes; total mass
    # shrinks by the dangling hub's share (documented simplification)
    star = spark.createDataFrame(
        [("s1", "h"), ("s2", "h"), ("s3", "h")], ["src", "dst"]
    )
    rs = {x["node"]: x["rank"] for x in pagerank(star, iterations=2).collect()}
    assert rs["h"] > rs["s1"] == rs["s2"] == rs["s3"]

    links = spark.createDataFrame(
        [
            ("https://a.com/x", "https://b.com/y"),
            ("https://a.com/x2", "https://B.com/z"),   # host case-folds
            ("https://a.com/x", "https://a.com/self"), # self-loop dropped
            ("http://c.com:8080/p", "https://a.com/"),
        ],
        ["url", "href"],
    )
    e = {(x["src"], x["dst"]) for x in host_edges(links).collect()}
    assert e == {("a.com", "b.com"), ("c.com", "a.com")}


def test_pagerank_authority_feeds_domain_scoring(spark):
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.linkgraph import (
        pagerank,
        pagerank_authority,
    )
    from crawl4ai_custom_spark.operators.scorers import domain_authority_score

    # hub.com is pointed at by everyone -> top authority
    edges = spark.createDataFrame(
        [("a.com", "hub.com"), ("b.com", "hub.com"), ("c.com", "hub.com"),
         ("hub.com", "a.com")],
        ["src", "dst"],
    )
    auth = pagerank_authority(pagerank(edges, iterations=5), top_n=2)
    assert set(auth) == {"hub.com", "a.com"}
    assert auth["hub.com"] == 1.0 and auth["a.com"] < 1.0

    df = spark.createDataFrame(
        [("hub.com",), ("a.com",), ("unknown.org",)], ["registrable_domain"]
    )
    out = {r["registrable_domain"]: r["s"] for r in df.select(
        "registrable_domain",
        domain_authority_score(F.col("registrable_domain"), auth).alias("s"),
    ).collect()}
    assert out["hub.com"] == 1.0 and out["unknown.org"] == 0.5
    assert 0.1 <= out["a.com"] < 1.0


def test_crawl_diff_and_revisit_priority(spark):
    from crawl4ai_custom_spark.operators.recrawl import (
        capture_fingerprint,
        crawl_diff,
        revisit_priority,
    )

    old = spark.createDataFrame(
        [("u1", "same"), ("u2", "before"), ("u3", "bye")], ["url", "html"]
    )
    new = spark.createDataFrame(
        [("u1", "same"), ("u2", "after"), ("u4", "hello")], ["url", "html"]
    )
    d = {r["url"]: r["change"] for r in
         crawl_diff(capture_fingerprint(old), capture_fingerprint(new)).collect()}
    assert d == {"u1": "unchanged", "u2": "changed", "u3": "gone", "u4": "new"}

    log = spark.createDataFrame(
        [("u1", "changed"), ("u1", "changed"), ("u1", "unchanged"),
         ("u2", "unchanged"), ("u2", "unchanged"),
         ("u3", "gone")],
        ["url", "change"],
    )
    p = {r["url"]: r for r in revisit_priority(log).collect()}
    assert p["u1"]["n_obs"] == 3 and p["u1"]["n_changed"] == 2
    assert abs(p["u1"]["change_rate"] - 3 / 6) < 1e-12  # (2+1)/(3+3)
    assert abs(p["u2"]["change_rate"] - 1 / 5) < 1e-12  # (0+1)/(2+3)
    assert "u3" not in p  # gone rows leave the frontier
    assert p["u1"]["revisit_score"] > p["u2"]["revisit_score"]


def test_canonical_collapse_and_robots_sitemaps(spark):
    from crawl4ai_custom_spark.operators.headpeek import canonical_collapse
    from crawl4ai_custom_spark.sources.sitemap import robots_sitemap_urls

    pages = spark.createDataFrame(
        [
            ("https://a.com/x?ref=1",
             b'<head><link rel="canonical" href="https://a.com/x"></head>'),
            ("https://a.com/x", b"<head><title>t</title></head>"),
            # reversed attribute order
            ("https://a.com/x?utm=2",
             b'<head><link href="https://a.com/x" rel="canonical"></head>'),
            ("https://b.com/solo", b"<head></head>"),
        ],
        ["url", "html"],
    )
    out = {r["url"]: r for r in canonical_collapse(pages).collect()}
    assert all(out[u]["canonical_url"] == "https://a.com/x"
               for u in ("https://a.com/x", "https://a.com/x?ref=1",
                         "https://a.com/x?utm=2"))
    reps = [u for u, r in out.items() if r["is_canonical_rep"]]
    assert sorted(reps) == ["https://a.com/x", "https://b.com/solo"]

    robots = spark.createDataFrame(
        [("https://a.com/robots.txt",
          "User-agent: *\nSitemap: https://a.com/s1.xml\n"
          "Disallow: /x\nSITEMAP:   https://a.com/s2.xml.gz"),
         ("https://b.com/robots.txt", "User-agent: *\nDisallow: /")],
        ["url", "robots_txt"],
    )
    sm = robots_sitemap_urls(robots).collect()
    got = [(r["robots_url"], r["sitemap_index"], r["sitemap_url"]) for r in sm]
    assert got == [
        ("https://a.com/robots.txt", 0, "https://a.com/s1.xml"),
        ("https://a.com/robots.txt", 1, "https://a.com/s2.xml.gz"),
    ]


def test_unigram_lm_quality_ordering(spark):
    import math

    from crawl4ai_custom_spark.operators.textstats import (
        lm_quality_score,
        unigram_lm,
    )

    ref = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat on the rug")],
        ["doc_id", "text"],
    )
    lm = unigram_lm(ref)
    model = {r["term"]: r for r in lm.collect()}
    # 'the' appears 4x of 12 tokens (len>1 filter keeps all these words)
    total, vocab = model["the"]["lm_total"], model["the"]["lm_vocab"]
    assert total == 12 and vocab == 7
    assert abs(model["the"]["logp"] - math.log(5 / 19)) < 1e-12

    docs = spark.createDataFrame(
        [(10, "the cat sat"),            # all in-vocab, frequent
         (11, "quantum flux capacitor"), # all unknown
         (12, "")],                      # empty
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in lm_quality_score(docs, lm).collect()}
    assert out[10]["avg_nll"] < out[11]["avg_nll"]  # reference-like ranks better
    assert abs(out[11]["avg_nll"] - (-math.log(1 / 19))) < 1e-12
    assert out[12]["n_tokens"] == 0 and out[12]["avg_nll"] == 0.0


def test_ccnet_buckets_closed_form(spark):
    """Tercile cut points interpolate at (n-1)*p and bucketing splits a
    6-doc language into 2/2/2; a language without thresholds goes to tail."""
    from crawl4ai_custom_spark.operators.textstats import (
        ccnet_buckets,
        nll_thresholds,
    )

    scored = spark.createDataFrame(
        [(i, "en", float(i)) for i in range(1, 7)]
        + [(10, "xx", 1.0)],
        ["doc_id", "lang", "avg_nll"],
    )
    th = {r["lang"]: r for r in
          nll_thresholds(scored.where(F.col("lang") == "en")).collect()}
    # [1..6]: p=1/3 -> idx 5/3 -> 2 + 2/3; p=2/3 -> idx 10/3 -> 4 + 1/3
    assert abs(th["en"]["head_max"] - (2 + 2 / 3)) < 1e-9
    assert abs(th["en"]["middle_max"] - (4 + 1 / 3)) < 1e-9
    out = {r["doc_id"]: r["bucket"] for r in ccnet_buckets(
        scored, nll_thresholds(scored.where(F.col("lang") == "en"))
    ).collect()}
    assert [out[i] for i in range(1, 7)] == [
        "head", "head", "middle", "middle", "tail", "tail"]
    assert out[10] == "tail"  # no reference distribution for 'xx'


def test_line_dedup_removes_global_boilerplate(spark):
    from crawl4ai_custom_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "NAV\nunique one\n\nFOOTER"),
            (2, "NAV\nunique two\nFOOTER"),
            (3, "NAV\nunique three\nFOOTER"),
            (4, "all original content here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, max_docs=2).collect()}
    assert out[1]["text"] == "unique one\n"  # blank line preserved
    assert out[1]["n_lines_removed"] == 2
    assert out[2]["text"] == "unique two"
    assert out[4]["text"] == "all original content here"
    assert out[4]["n_lines_removed"] == 0


def test_host_boilerplate_strip_is_host_scoped(spark):
    from crawl4ai_custom_spark.operators.dedup import host_boilerplate_strip

    pages = spark.createDataFrame(
        [
            ("https://a.com/1", "NAV\none"),
            ("https://a.com/2", "NAV\ntwo"),
            ("https://a.com/3", "NAV\nthree"),
            # same NAV line on b.com, but b.com has only 1/3 share of it
            ("https://b.com/1", "NAV\nb one"),
            ("https://b.com/2", "b two"),
            ("https://b.com/3", "b three"),
            # two-page host: below min_pages, never stripped
            ("https://c.com/1", "C NAV\nc one"),
            ("https://c.com/2", "C NAV\nc two"),
        ],
        ["url", "text"],
    )
    out = {r["url"]: r for r in
           host_boilerplate_strip(pages, min_pages=3, min_share=0.6).collect()}
    assert out["https://a.com/1"]["text"] == "one"
    assert out["https://a.com/1"]["n_lines_removed"] == 1
    assert out["https://a.com/1"]["host"] == "a.com"
    # host-scoped: the identical NAV line survives on b.com (share 1/3)
    assert out["https://b.com/1"]["text"] == "NAV\nb one"
    assert out["https://b.com/1"]["n_lines_removed"] == 0
    # min_pages floor: c.com's 100%-shared nav kept
    assert out["https://c.com/1"]["text"] == "C NAV\nc one"


def test_host_boilerplate_strip_id_col_keeps_refetches_apart(spark):
    from crawl4ai_custom_spark.operators.dedup import host_boilerplate_strip

    pages = spark.createDataFrame(
        [
            # the same URL fetched twice with different bodies
            (1, "https://a.com/1", "NAV\nfirst fetch"),
            (2, "https://a.com/1", "NAV\nsecond fetch"),
            (3, "https://a.com/2", "NAV\ntwo"),
            (4, "https://a.com/3", "NAV\nthree"),
        ],
        ["row_id", "url", "text"],
    )
    out = {r["row_id"]: r for r in
           host_boilerplate_strip(pages, min_pages=3, min_share=0.6,
                                  id_col="row_id").collect()}
    assert len(out) == 4
    # each refetch keeps its own rebuilt text — no line interleaving
    assert out[1]["text"] == "first fetch"
    assert out[2]["text"] == "second fetch"
    # share was counted in distinct URLs (3 pages), so NAV still stripped
    assert out[3]["text"] == "two"


def test_soft404_detect_flags_shared_error_templates(spark):
    from crawl4ai_custom_spark.operators.headpeek import soft404_detect

    err = "Sorry, page not found."
    pages = spark.createDataFrame(
        [
            ("https://a.com/x", err),
            ("https://a.com/y", "Sorry,  page NOT found. "),  # same after norm
            ("https://a.com/z", err),
            ("https://a.com/login", "Please log in"),
            ("https://a.com/login2", "Please log in"),
            ("https://a.com/login3", "Please log in"),
            ("https://b.com/x", err),  # other host: only 1 url shares it
            ("https://a.com/real", "genuine article text"),
        ],
        ["url", "text"],
    )
    out = {r["url"]: r for r in soft404_detect(pages, min_urls=3).collect()}
    assert out["https://a.com/x"]["is_soft404"]
    assert out["https://a.com/y"]["is_soft404"]  # normalization collapses ws/case
    assert out["https://a.com/x"]["n_same_content"] == 3
    # shared template without error wording: flagged shared, not soft-404
    assert out["https://a.com/login"]["n_same_content"] == 3
    assert not out["https://a.com/login"]["is_soft404"]
    # host-scoped: b.com's single copy is not shared
    assert out["https://b.com/x"]["n_same_content"] == 1
    assert not out["https://b.com/x"]["is_soft404"]
    assert not out["https://a.com/real"]["has_error_phrase"]


def test_reciprocal_link_spam_flags_exchanges_only(spark):
    from crawl4ai_custom_spark.operators.linkgraph import reciprocal_link_spam

    mk = lambda h, p="x": f"https://{h}/{p}"  # noqa: E731
    links = spark.createDataFrame(
        # 3-host farm trading all 6 ordered edges
        [(mk(a), mk(b)) for a in ("f1.com", "f2.com", "f3.com")
         for b in ("f1.com", "f2.com", "f3.com") if a != b]
        # organic: blog cites news + hub, hub links back (1/2 reciprocity)
        + [(mk("blog.com"), mk("news.com")),
           (mk("blog.com"), mk("hub.com")),
           (mk("hub.com"), mk("blog.com")),
           # self-link must be ignored
           (mk("blog.com"), mk("blog.com", "other"))],
        ["url", "href"],
    )
    out = {r["src_host"]: r for r in
           reciprocal_link_spam(links, min_out=2,
                                min_reciprocity=0.75).collect()}
    assert out["f1.com"]["is_link_farm"] and out["f1.com"]["reciprocity"] == 1.0
    assert out["f1.com"]["n_out_hosts"] == 2
    assert not out["blog.com"]["is_link_farm"]  # 1/2 < 0.75
    assert out["blog.com"]["n_out_hosts"] == 2  # self-link excluded
    assert out["blog.com"]["n_reciprocal"] == 1
    assert not out["hub.com"]["is_link_farm"]  # n_out 1 < min_out


def test_allocate_crawl_budget_exact_and_deterministic(spark):
    from crawl4ai_custom_spark.operators.politeness import allocate_crawl_budget

    hw = spark.createDataFrame(
        [("a", 3.0), ("b", 3.0), ("c", 1.0), ("z", 0.0), ("n", -2.0)],
        ["host", "weight"],
    )
    out = {r["host"]: r["quota"] for r in
           allocate_crawl_budget(hw, total_budget=10).collect()}
    # exact: 10*3/7=4.2857 (frac .2857) twice, 10*1/7=1.4286 (frac
    # .4286); floors 4+4+1=9, the one remainder page goes to the largest
    # fractional part -> c
    assert out == {"a": 4, "b": 4, "c": 2, "z": 0, "n": 0}
    assert sum(out.values()) == 10


def test_domain_doc_cap_keeps_best_and_salted_agrees(spark):
    from crawl4ai_custom_spark.operators.corpusmix import domain_doc_cap

    docs = spark.createDataFrame(
        [(i, f"d{i % 3}", float((i * 7) % 11)) for i in range(60)],
        ["doc_id", "domain", "score"],
    )
    plain = domain_doc_cap(docs, cap=4, score_col="score")
    rows = plain.collect()
    assert len(rows) == 12
    per = {}
    for r in rows:
        per.setdefault(r["domain"], []).append((r["score"], r["doc_id"]))
    for dom, kept in per.items():
        assert len(kept) == 4
        # kept set == the 4 best by (score desc, id asc) among that domain
        all_dom = sorted(
            ((float((i * 7) % 11), i) for i in range(60) if i % 3 == int(dom[1])),
            key=lambda t: (-t[0], t[1]))[:4]
        assert sorted(kept, key=lambda t: (-t[0], t[1])) == all_dom
    # the salted two-stage pre-pass must not change the exact result
    salted = domain_doc_cap(docs, cap=4, score_col="score",
                            salt_partitions=5)
    assert sorted((r["doc_id"]) for r in salted.collect()) \
        == sorted(r["doc_id"] for r in rows)


def test_fix_mojibake_repairs_and_counts(spark):
    from crawl4ai_custom_spark.operators.textstats import fix_mojibake

    docs = spark.createDataFrame(
        [
            (1, "cafÃ© â€” donâ€™t"),
            (2, "clean text"),
            (3, "Ã©Ã©Ã©"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in fix_mojibake(docs).collect()}
    assert out[1]["text"] == "café — don’t"
    assert out[1]["n_mojibake"] == 3 and out[1]["is_mojibake"]
    assert out[2]["text"] == "clean text" and not out[2]["is_mojibake"]
    assert out[3]["text"] == "ééé" and out[3]["n_mojibake"] == 3


def test_sitemap_coverage_per_host(spark):
    from crawl4ai_custom_spark.operators.recrawl import sitemap_coverage

    sm = spark.createDataFrame(
        [("https://a.com/1",), ("https://a.com/2",), ("https://a.com/3",),
         ("https://a.com/4",),
         ("https://b.com/1",),
         # duplicate declarations collapse
         ("https://a.com/1",)],
        ["url"],
    )
    crawled = spark.createDataFrame(
        [("https://a.com/1",), ("https://a.com/2",),
         ("https://a.com/orphan",),        # crawled, never declared
         ("https://c.com/x",)],            # host with no sitemap at all
        ["url"],
    )
    out = {r["host"]: r for r in sitemap_coverage(sm, crawled).collect()}
    a = out["a.com"]
    assert (a["n_sitemap"], a["n_crawled"], a["n_both"]) == (4, 3, 2)
    assert a["coverage"] == 0.5
    assert abs(a["orphan_frac"] - 1 / 3) < 1e-5
    assert out["b.com"]["n_crawled"] == 0 and out["b.com"]["orphan_frac"] == 0.0
    assert out["c.com"]["n_sitemap"] == 0 and out["c.com"]["coverage"] == 0.0


def test_pq_encode_and_adc_recall(spark):
    import math

    from crawl4ai_custom_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    rows = [(i, [math.sin(i * 0.7 + j) for j in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cb = pq_codebooks(emb, m=2, n_codes=8)
    assert cb.count() == 16  # 2 subspaces x 8 codes
    codes = pq_encode(emb, cb, m=2)
    assert codes.count() == 120  # one code per (vector, subspace)
    assert codes.agg(F.max("code")).first()[0] <= 7
    # codebook source vectors encode to their own code exactly (d2 == 0)
    own = {r["id"]: r["code"] for r in codes.where(
        (F.col("id") < 8) & (F.col("subspace") == 0)).collect()}
    assert own == {i: i for i in range(8)}

    q = emb.where(F.col("vec_id") < 3)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in brute_force_topk(emb, q, k=3).collect()}
    pq = pq_topk(emb, q, k=3, m=2, n_codes=8)
    got = {(r["query_id"], r["neighbor_id"]) for r in pq.collect()}
    assert pq.agg(F.max("rank")).first()[0] <= 3
    # coarse 8-code quantization still recovers some true neighbors on the
    # smooth manifold
    assert len(bf & got) >= 1


def test_ivfpq_composition(spark):
    import math

    from crawl4ai_custom_spark.operators.similarity import ivfpq_topk, pq_topk

    rows = [(i, [math.sin(i * 0.7 + j) for j in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.where(F.col("vec_id") < 3)
    full = {(r["query_id"], r["neighbor_id"]): r["approx_l2"]
            for r in pq_topk(emb, q, k=3, m=2, n_codes=8).collect()}
    # probing EVERY bucket makes IVF-PQ degenerate to plain PQ/ADC
    same = {(r["query_id"], r["neighbor_id"]): r["approx_l2"]
            for r in ivfpq_topk(emb, q, k=3, n_centroids=4, nprobe=4,
                                m=2, n_codes=8).collect()}
    assert same == full
    pruned = ivfpq_topk(emb, q, k=3, n_centroids=6, nprobe=2,
                        m=2, n_codes=8).collect()
    assert pruned and all(r["rank"] <= 3 for r in pruned)


def test_anchor_stats_and_redirect_resolution(spark):
    from crawl4ai_custom_spark.operators.linkgraph import anchor_text_stats
    from crawl4ai_custom_spark.operators.redirects import resolve_redirects

    links = spark.createDataFrame(
        [("https://t/a", "Home"), ("https://t/a", "Home"),
         ("https://t/a", "home page"), ("https://t/a", "  "),  # blank dropped
         ("https://t/b", "Docs")],
        ["href", "text"],
    )
    out = {r["href"]: r for r in anchor_text_stats(links, top_n=2).collect()}
    assert out["https://t/a"]["n_incoming"] == 3
    assert out["https://t/a"]["n_unique_anchors"] == 2
    assert out["https://t/a"]["top_anchors"] == "Home|home page"
    assert out["https://t/b"]["top_anchors"] == "Docs"

    pages = spark.createDataFrame(
        [("a", 301, "b"), ("b", 302, "c"), ("c", 200, None),
         ("x", 301, "y"), ("y", 301, "x"),  # 2-cycle
         ("z", 200, None)],
        ["url", "status_code", "redirect_to"],
    )
    res = {r["url"]: r for r in
           resolve_redirects(pages, max_hops=4).collect()}
    assert res["a"]["final_url"] == "c" and res["a"]["n_hops"] == 2
    assert res["a"]["resolved"] and res["c"]["n_hops"] == 0
    assert not res["x"]["resolved"] and res["x"]["n_hops"] == 4
    assert res["z"]["resolved"]


def test_kmeans_separable_clusters(spark):
    from crawl4ai_custom_spark.operators.similarity import kmeans_lloyd

    # two well-separated direction bundles (cosine geometry)
    rows = []
    for i in range(20):
        rows.append((i, [10.0 + (i % 3), 0.1 * i, 1.0, 0.0]))       # bundle A
        rows.append((100 + i, [0.0, 0.5, 10.0 + (i % 4), 9.0]))     # bundle B
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r["cluster"] for r in
           kmeans_lloyd(emb, k=2, iterations=3).collect()}
    a = {out[i] for i in range(20)}
    b = {out[100 + i] for i in range(20)}
    assert len(a) == 1 and len(b) == 1 and a != b  # perfect separation
    again = {r["vec_id"]: r["cluster"] for r in
             kmeans_lloyd(emb, k=2, iterations=3).collect()}
    assert again == out  # deterministic trajectory


def test_pack_sequences_offsets(spark):
    from crawl4ai_custom_spark.operators.chunking import pack_sequences

    chunks = spark.createDataFrame(
        [(0, 1, 0, "a b c d"),        # 4 words -> 3 tokens
         (0, 1, 1, "e f g h i j k l"),  # 8 -> 6
         (0, 2, 0, "m n o p"),        # 3
         (1, 9, 0, "x y")],           # other shard starts fresh
        ["shard", "id", "chunk_index", "chunk"],
    )
    out = {(r["shard"], r["id"], r["chunk_index"]): r
           for r in pack_sequences(chunks, seq_tokens=8).collect()}
    a = out[(0, 1, 0)]
    assert (a["n_tokens"], a["seq_id"], a["seq_offset"]) == (3, 0, 0)
    b = out[(0, 1, 1)]
    assert (b["n_tokens"], b["seq_id"], b["seq_offset"]) == (6, 0, 3)
    c = out[(0, 2, 0)]
    assert (c["seq_id"], c["seq_offset"]) == (1, 1)  # 3+6=9 -> second seq
    d = out[(1, 9, 0)]
    assert (d["seq_id"], d["seq_offset"]) == (0, 0)  # per-shard reset


def test_pagination_and_outdegree(spark):
    from crawl4ai_custom_spark.operators.headpeek import pagination_links
    from crawl4ai_custom_spark.operators.linkgraph import host_outdegree_stats

    pages = spark.createDataFrame(
        [("p1", b'<head><link rel="next" href="/2"></head>'),
         ("p2", b'<head><link href="/3" rel="next">'
                b'<link rel="prev" href="/1"></head>'),
         ("p3", b"<head><title>end</title></head>")],
        ["url", "html"],
    )
    out = {r["url"]: r for r in pagination_links(pages).collect()}
    assert out["p1"]["next_url"] == "/2" and out["p1"]["prev_url"] is None
    assert out["p2"]["next_url"] == "/3" and out["p2"]["prev_url"] == "/1"
    assert out["p3"]["next_url"] is None

    links = spark.createDataFrame(
        [("https://a.com/1", "https://a.com/2"),
         ("https://a.com/1", "https://x.org/"),
         ("https://a.com/3", "https://y.org/"),
         ("https://spam.net/", "https://z1.biz/"),
         ("https://spam.net/", "https://z2.biz/")],
        ["url", "href"],
    )
    od = {r["src_host"]: r for r in host_outdegree_stats(links).collect()}
    assert od["a.com"]["n_outlinks"] == 3
    assert od["a.com"]["n_distinct_hosts"] == 3
    assert abs(od["a.com"]["external_frac"] - 2 / 3) < 1e-4
    assert od["spam.net"]["external_frac"] == 1.0


def test_hreflang_alternates(spark):
    from crawl4ai_custom_spark.operators.headpeek import hreflang_alternates

    pages = spark.createDataFrame(
        [("p1", b'<head>'
                b'<link rel="alternate" hreflang="en" href="/en/x">'
                b'<link rel="alternate" hreflang="de-AT" href="/de/x">'
                b'<link rel="canonical" href="/x"></head>'),
         ("p2", b"<head><title>none</title></head>")],
        ["url", "html"],
    )
    out = [(r["url"], r["alt_index"], r["hreflang"], r["alt_url"])
           for r in hreflang_alternates(pages).collect()]
    assert out == [("p1", 0, "en", "/en/x"), ("p1", 1, "de-AT", "/de/x")]


def test_meta_refresh_feeds_redirect_resolution(spark):
    from crawl4ai_custom_spark.operators.headpeek import meta_refresh_redirects
    from crawl4ai_custom_spark.operators.redirects import resolve_redirects

    pages = spark.createDataFrame(
        [("a", b'<head><meta http-equiv="refresh" content="0;url=b"></head>'),
         ("b", b"<head><title>landing</title></head>"),
         ("c", b'<head><META HTTP-EQUIV=\'Refresh\' CONTENT=\'2; url = d\'>'
               b"</head>")],
        ["url", "html"],
    )
    mr = {r["url"]: r["redirect_to"]
          for r in meta_refresh_redirects(pages).collect()}
    assert mr == {"a": "b", "c": "d"}

    # compose: meta refreshes resolve through the redirect engine
    redirect_rows = meta_refresh_redirects(pages)
    base = pages.selectExpr("url", "200 as status_code",
                            "cast(null as string) as redirect_to")
    combined = base.join(redirect_rows.select("url"), "url", "left_anti"
                         ).unionByName(redirect_rows)
    res = {r["url"]: r for r in resolve_redirects(combined).collect()}
    assert res["a"]["final_url"] == "b" and res["a"]["resolved"]
    assert res["c"]["final_url"] == "d"


def test_schema_extract_serp(spark):
    """Google-SERP schema pack (reference google_search/crawler.py:1-131):
    the three cached schema families over a SERP-shaped fixture page."""
    from crawl4ai_custom_spark.crawlers import serp_extract, serp_schemas

    html = b"""<html><body>
      <div class="g"><h3>Result One</h3><a href="https://r1.com/">x</a>
        <div class="snippet">First snippet</div>
        <span class="date">1 hour ago</span></div>
      <div class="g"><h3>Result Two</h3><a href="https://r2.com/">x</a>
        <div class="snippet">Second snippet</div></div>
      <div class="story"><div class="story-title">Story A</div>
        <a href="https://news.com/a">s</a><span class="source">Wire</span>
        <span class="date">2 hours ago</span></div>
      <div class="suggested"><ul>
        <li><a>apple pie recipe</a></li>
        <li><a>apple sauce</a></li></ul></div>
    </body></html>"""
    pages = spark.createDataFrame([("https://g.example/search?q=apple", html)],
                                  ["url", "html"])
    row = serp_extract(pages).first()
    organic = row["organic"]
    assert len(organic) == 2
    assert organic[0]["title"] == "Result One"
    assert organic[0]["link"] == "https://r1.com/"
    assert organic[0]["snippet"] == "First snippet"
    assert organic[0]["date"] == "1 hour ago"
    assert organic[1].get("date") is None  # absent field stays absent
    assert row["top_stories"][0]["source"] == "Wire"
    assert [r["query"] for r in row["suggested"]] == [
        "apple pie recipe", "apple sauce"]
    assert set(serp_schemas()) == {
        "organic_schema", "top_stories_schema", "suggested_query_schema"}


def test_pdf_pages_and_metadata():
    """Per-page text, embedded-image counts, and /Info metadata round-trip
    (reference PDFPage/PDFMetadata surface, processor.py:25-49)."""
    from crawl4ai_custom_spark.kernel.pdfmini import (
        build_simple_pdf, pdf_metadata, pdf_pages,
    )

    pdf = build_simple_pdf(
        ["First page text", "Second (escaped) \\ page"],
        info={"title": "My Doc", "author": "A. Author",
              "producer": "pdfmini", "created": "D:20260115093000",
              "modified": "D:20260201"},
        images_per_page=2,
    )
    meta = pdf_metadata(pdf)
    assert meta["title"] == "My Doc" and meta["author"] == "A. Author"
    assert meta["created"] == "2026-01-15T09:30:00"
    assert meta["modified"] == "2026-02-01T00:00:00"
    assert meta["pages"] == 2 and meta["encrypted"] is False
    pages = pdf_pages(pdf)
    assert [p["page_number"] for p in pages] == [1, 2]
    assert pages[0]["text"] == "First page text"
    assert pages[1]["text"] == "Second (escaped) \\ page"
    assert all(p["n_images"] == 2 for p in pages)
    # garbage in -> empty out, never a crash
    assert pdf_pages(b"not a pdf") == []
    assert pdf_metadata(b"")["pages"] == 0


def test_gopher_quality_filter(spark):
    from crawl4ai_custom_spark.operators.textstats import gopher_quality_filter

    base = ("the quick brown fox jumps over that lazy dog and it will have "
            "been seen with many other words in a tidy document")
    rows = [
        (1, " ".join([base] * 3)),                      # passes every rule
        (2, "the cat and dog"),                         # too short
        (3, "• one\n• two\n• three"),                   # all-bullet lines
        (4, "first line...\nsecond line\nthird…"),      # ellipsis endings
        (5, "tag # tag # tag #"),                       # symbol-heavy
        (6, "111 222 333 444"),                         # no alphabetic words
        (7, ""),                                        # empty
        (8, "x... y"),                                  # '...' run counting
    ]
    out = {r["doc_id"]: r for r in gopher_quality_filter(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}

    g = out[1]
    assert g["n_words"] == 69 and g["gopher_keep"] is True
    assert abs(g["mean_word_len"] - 90 / 23) < 1e-9
    assert g["alpha_frac"] == 1.0 and g["stop_hits"] == 5

    assert out[2]["rule_word_count"] is False
    assert out[2]["rule_stopwords"] is True  # the, and
    assert out[2]["gopher_keep"] is False

    assert out[3]["bullet_frac"] == 1.0
    assert out[3]["rule_bullet_lines"] is False
    assert abs(out[3]["alpha_frac"] - 0.5) < 1e-9  # bullets count as words

    assert abs(out[4]["ellipsis_frac"] - 2 / 3) < 1e-9
    assert out[4]["rule_ellipsis_lines"] is False

    assert abs(out[5]["symbol_ratio"] - 0.5) < 1e-9
    assert out[5]["rule_symbol_ratio"] is False

    assert out[6]["alpha_frac"] == 0.0
    assert out[6]["rule_alpha_words"] is False

    e = out[7]
    assert e["n_words"] == 0 and e["mean_word_len"] == 0.0
    assert e["bullet_frac"] == 0.0 and e["gopher_keep"] is False

    assert abs(out[8]["symbol_ratio"] - 0.5) < 1e-9  # one '...' / two words


def test_c4_quality_filter(spark):
    from crawl4ai_custom_spark.operators.textstats import c4_quality_filter

    rows = [
        (1, "This is a fine sentence here.\nAnother good one follows now!\n"
            "Is this a question?\nShort.\nno terminal punct line\n"
            'He said "stop right there."\nFifth proper sentence lands here.'),
        (2, "Please enable javascript to continue viewing.\n"
            "A perfectly good sentence stands alone here."),
        (3, "Lorem ipsum dolor sit amet is boilerplate.\nMore text follows."),
        (4, "function f() { return 1; } is code text."),
        (5, ""),
    ]
    out = {r["doc_id"]: r for r in c4_quality_filter(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}

    d = out[1]
    # 'Short.' (<3 words) and the unpunctuated line are dropped
    assert d["n_lines_total"] == 7 and d["n_lines_kept"] == 5
    assert d["n_sentences"] == 5 and d["c4_keep"] is True
    assert "no terminal punct" not in d["c4_text"]
    assert "Short." not in d["c4_text"]

    assert out[2]["n_lines_kept"] == 1  # javascript line dropped
    assert out[2]["c4_keep"] is False   # only 1 sentence survives

    assert out[3]["has_lorem_ipsum"] is True and out[3]["c4_keep"] is False
    assert out[4]["has_curly_brace"] is True and out[4]["c4_keep"] is False
    assert out[5]["n_lines_kept"] == 0 and out[5]["c4_keep"] is False


def test_span_dedup_c4(spark):
    from crawl4ai_custom_spark.operators.dedup import span_dedup

    rows = [
        (1, "A one two. B three four. C five six. Unique tail sentence."),
        (2, "Intro here. A one two. B three four. C five six."),
        (3, "Totally different text. Nothing shared at all. Squirrels."),
        (4, "X a. Y b. Z c. X a. Y b. Z c."),
        (5, ""),
    ]
    out = {r["doc_id"]: r for r in span_dedup(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}

    # doc 1 holds the first occurrence of the (A,B,C) span -> untouched
    assert out[1]["n_sentences"] == 4 and out[1]["n_sentences_removed"] == 0
    assert out[1]["text"].startswith("A one two. B three four.")
    # doc 2's occurrence is second by (id, pos) -> its 3 span sentences go
    assert out[2]["n_sentences_removed"] == 3
    assert out[2]["text"] == "Intro here."
    # no shared spans -> untouched
    assert out[3]["n_sentences_removed"] == 0
    # WITHIN-doc duplicated span: second occurrence removed
    assert out[4]["n_sentences"] == 6 and out[4]["n_sentences_removed"] == 3
    assert out[4]["text"] == "X a. Y b. Z c."
    # empty doc survives as empty
    assert out[5]["n_sentences"] == 0 and out[5]["text"] == ""


def test_domain_quality_rollup(spark):
    from crawl4ai_custom_spark.operators.textstats import domain_quality_rollup

    good = ("The quick brown fox and the lazy dog of a fable met again "
            "near the calm river bank and walked home together quietly.")
    junk = "@@@@ #### %%%% ^^^^ &&&& **** (((( )))) {{{{ }}}} $$$$ !!!!"
    rows = (
        # clean.com: 4 distinct good docs -> keep
        [(i, good + f" Episode {i} closes the story.", "clean.com")
         for i in range(4)]
        # dupfarm.com: 4 docs, all the same text -> dup_rate 0.75 -> block
        + [(10 + i, good, "dupfarm.com") for i in range(4)]
        # junkyard.com: 4 distinct junk docs -> low quality -> block
        + [(20 + i, junk + f" {i}", "junkyard.com") for i in range(4)]
        # tiny.com: 2 good docs -> below min_docs -> block
        + [(30 + i, good + f" Chapter {i}.", "tiny.com") for i in range(2)]
    )
    d = spark.createDataFrame(rows, ["doc_id", "text", "registrable_domain"])
    out = {r["domain"]: r for r in domain_quality_rollup(
        d, min_docs=3, min_avg_quality=0.5, max_dup_rate=0.5).collect()}
    assert out["clean.com"]["keep"] and out["clean.com"]["dup_rate"] == 0.0
    assert not out["dupfarm.com"]["keep"]
    assert out["dupfarm.com"]["dup_rate"] == 0.75
    assert not out["junkyard.com"]["keep"]
    assert out["junkyard.com"]["avg_quality"] < 0.5
    assert not out["tiny.com"]["keep"] and out["tiny.com"]["n_docs"] == 2


def test_semdedup_keeps_cluster_edge_member(spark, tmp_path):
    from crawl4ai_custom_spark.operators.dedup import semdedup

    # bundle A: three near-identical vectors + one edge vector tilted away
    # from the bundle mean; bundle B: two singletons, mutually dissimilar
    rows = [
        (0, [10.0, 0.0, 1.0, 0.0]),
        (1, [10.0, 0.05, 1.0, 0.0]),
        (2, [10.0, 0.1, 1.0, 0.0]),
        (3, [10.0, 4.0, 1.0, 0.0]),      # same cluster, low centroid cos
        (100, [0.0, 0.5, 10.0, 9.0]),
        (101, [0.0, 9.0, 0.5, 10.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in
           semdedup(emb, k=2, iterations=2, eps=0.97,
                    checkpoint_dir=str(tmp_path)).collect()}
    assert len(out) == 6
    # 0,1,2 are one duplicate group; 3 is similar-cluster but below eps
    grp = {out[i]["group_id"] for i in (0, 1, 2)}
    assert grp == {0}
    assert out[3]["group_id"] == 3 and out[3]["keep"]
    # exactly one keeper among the dups: the member least like the centroid
    keepers = [i for i in (0, 1, 2) if out[i]["keep"]]
    assert len(keepers) == 1
    least = min((0, 1, 2),
                key=lambda i: (out[i]["centroid_cos"], i))
    assert keepers == [least]
    # singletons keep themselves
    assert out[100]["keep"] and out[101]["keep"]
    # deterministic
    again = {r["vec_id"]: r["keep"] for r in
             semdedup(emb, k=2, iterations=2, eps=0.97,
                      checkpoint_dir=str(tmp_path)).collect()}
    assert all(again[k] == out[k]["keep"] for k in again)


def test_cluster_pairs_both_paths_agree(spark, tmp_path, force_distributed):
    """The size-gated driver union-find fast path and the distributed
    min-label propagation produce identical components (chain + pair +
    implicit singletons), including on a chain whose diameter forces
    several propagation rounds."""
    from crawl4ai_custom_spark.operators.dedup import cluster_pairs

    edges = [(i, i + 1) for i in range(1, 8)] + [(20, 21), (30, 31)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    fast = {
        r["id"]: r["cluster_id"]
        for r in cluster_pairs(
            pairs, checkpoint_dir=str(tmp_path / "f")
        ).collect()
    }
    with force_distributed():
        slow = cluster_pairs(pairs, checkpoint_dir=str(tmp_path / "d"))
    dist = {r["id"]: r["cluster_id"] for r in slow.collect()}
    assert fast == dist
    assert fast[8] == 1 and fast[21] == 20 and fast[31] == 30


def test_kn_bigram_lm_matches_hand_model(spark):
    """Interpolated KN bigram probabilities against an independent in-test
    model (dict arithmetic), covering seen pairs, unseen pair in a seen
    context, unseen context, unseen word, and the <2-token neutral doc."""
    import math

    from crawl4ai_custom_spark.operators.textstats import (
        kn_bigram_score,
        kneser_ney_bigram_lm,
    )

    ref = spark.createDataFrame(
        [(0, "the cat sat on the mat"),
         (1, "the cat ran to the mat"),
         (2, "one dog sat on one rug")],
        ["doc_id", "text"],
    )
    tgt = spark.createDataFrame(
        [(10, "the cat sat"),        # all seen pairs
         (11, "the dog"),            # unseen pair, both words known
         (12, "mat zebra"),          # seen context, unseen word
         (13, "zebra quagga yak"),   # nothing known
         (14, "hi")],                # <2 tokens -> neutral
        ["doc_id", "text"],
    )

    # independent model: same tokenization (len>1 keeps every word here
    # except none — all are len>=2), adjacent pairs per doc
    def toks(t):
        import re as _re
        return [w for w in _re.split(r"[^a-z0-9]+", t.lower()) if len(w) > 1]

    from collections import Counter
    c12, d = Counter(), 0.75
    for t in ["the cat sat on the mat", "the cat ran to the mat",
              "one dog sat on one rug"]:
        ws = toks(t)
        c12.update(zip(ws, ws[1:]))
    c1, n1p_right, n1p_left = Counter(), Counter(), Counter()
    for (a, b), c in c12.items():
        c1[a] += c
        n1p_right[a] += 1
        n1p_left[b] += 1
    n_types = len(c12)

    def prob(a, b):
        pc = (n1p_left[b] if b in n1p_left else d) / n_types
        if a not in c1:
            return pc
        return (max(c12.get((a, b), 0) - d, 0.0)
                + d * n1p_right[a] * pc) / c1[a]

    def nll(t):
        ws = toks(t)
        ps = [prob(a, b) for a, b in zip(ws, ws[1:])]
        return -sum(math.log(p) for p in ps) / len(ps) if ps else 0.0

    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll"])
        for r in kn_bigram_score(tgt, kneser_ney_bigram_lm(ref)).collect()
    }
    for doc_id, text in [(10, "the cat sat"), (11, "the dog"),
                         (12, "mat zebra"), (13, "zebra quagga yak"),
                         (14, "hi")]:
        ws = toks(text)
        assert got[doc_id][0] == max(len(ws) - 1, 0)
        assert abs(got[doc_id][1] - nll(text)) < 1e-9, (doc_id, got[doc_id])
    # seen text scores strictly better than word-salad
    assert got[10][1] < got[13][1]


def test_inverted_index_positions_and_dictionary(spark):
    """Postings carry exact positions over the filtered token stream;
    dictionary df/cf roll up from postings (no second corpus pass)."""
    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        term_dictionary,
    )

    docs = spark.createDataFrame(
        [(1, "the cat and the hat"), (2, "a cat! the end")],
        ["doc_id", "text"],
    )
    # filtered tokens (len>1): doc1 = [the, cat, and, the, hat],
    # doc2 = [cat, the, end]  ("a" drops, positions re-base)
    p = {(r["term"], r["id"]): (r["tf"], list(r["positions"]))
         for r in inverted_postings(docs).collect()}
    assert p[("the", 1)] == (2, [0, 3])
    assert p[("cat", 2)] == (1, [0])
    assert p[("the", 2)] == (1, [1])
    d = {r["term"]: (r["df"], r["cf"])
         for r in term_dictionary(inverted_postings(docs)).collect()}
    assert d["the"] == (2, 3)
    assert d["cat"] == (2, 2)
    assert d["hat"] == (1, 1)


def test_phrase_match_over_inverted_index(spark):
    """Exact-phrase retrieval: consecutive positions only, repeated
    occurrences counted, filtered-token re-basing respected."""
    import pytest as _pytest

    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        phrase_match,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat and the cat sat again"),
         (2, "the dog sat while cat the watched"),   # reversed -> no match
         (3, "THE a CAT x SAT")],  # 1-char tokens drop -> phrase holds
        ["doc_id", "text"],
    )
    p = inverted_postings(docs)
    got = {r["id"]: r["n_matches"]
           for r in phrase_match(p, ["the", "cat", "sat"]).collect()}
    assert got == {1: 2, 3: 1}
    with _pytest.raises(ValueError):
        phrase_match(p, ["a", "cat"])


def test_inverted_postings_plan_single_exchange(spark):
    """The postings build is exactly ONE shuffle (the groupBy(term, id));
    the dictionary adds one more grouped rollup of postings — never a
    second corpus pass."""
    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        term_dictionary,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i}") for i in range(50)],
        ["doc_id", "text"],
    )
    p = inverted_postings(docs)
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    # dictionary: one additional exchange over the postings, corpus scan
    # appears exactly once in the combined plan
    d = term_dictionary(p)
    dplan = d._jdf.queryExecution().executedPlan().toString()
    assert dplan.count("Exchange") == 2


def test_bm25_from_index_exact_scores(spark):
    """Index-backed BM25 equals an independently computed Okapi score
    (idf = ln((N-df+.5)/(df+.5)+1), k1=1.5, b=0.75) over the index's
    len>1 token universe; docs matching no query term are absent."""
    import math

    from crawl4ai_custom_spark.operators.textstats import (
        bm25_from_index,
        inverted_postings,
        term_dictionary,
    )

    corpus = {1: "spark table query spark",
              2: "table of contents table table",
              3: "nothing relevant here"}
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    p = inverted_postings(docs)
    got = {r["id"]: (r["bm25"], r["n_terms"])
           for r in bm25_from_index(
               p, term_dictionary(p), ["spark", "table", "query"]
           ).collect()}

    toks = {i: [t for t in corpus[i].lower().split() if len(t) > 1]
            for i in corpus}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    qt = ["spark", "table", "query"]
    df = {t: sum(t in v for v in toks.values()) for t in qt}
    exp = {}
    for i, v in toks.items():
        s, m = 0.0, 0
        for t in qt:
            tf = v.count(t)
            if not tf:
                continue
            m += 1
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s += idf * tf * 2.5 / (tf + 1.5 * (0.25 + 0.75 * len(v) / avgdl))
        if m:
            exp[i] = (s, m)
    assert set(got) == set(exp) == {1, 2}
    for i in exp:
        assert got[i][1] == exp[i][1]
        assert abs(got[i][0] - exp[i][0]) < 1e-9
    with pytest.raises(ValueError):
        bm25_from_index(p, term_dictionary(p), ["a"])


def test_bm25_from_index_plan_shape(spark):
    """The query plan is index-shaped: the dictionary slice and corpus
    stats ride broadcast joins (exactly one non-broadcast join — postings
    -> doclens on the doc key), and top-k compiles to
    TakeOrderedAndProject, not a global Sort."""
    from crawl4ai_custom_spark.operators.textstats import (
        bm25_from_index,
        inverted_postings,
        term_dictionary,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} alpha") for i in range(100)],
        ["doc_id", "text"],
    )
    p = inverted_postings(docs)
    out = bm25_from_index(p, term_dictionary(p), ["alpha", "gamma"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin") >= 2
    assert plan.count("SortMergeJoin") + plan.count(
        "ShuffledHashJoin") <= 1
    topk = out.orderBy(F.desc("bm25"), "id").limit(5)
    tplan = topk._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in tplan


def test_tfidf_keywords_ranking_and_smooth_idf(spark):
    """Top-k per-doc keywords: smoothed idf keeps ubiquitous terms > 0,
    doc-frequent rare terms outrank common ones, term tiebreak is
    deterministic, k caps the per-doc rows."""
    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        term_dictionary,
        tfidf_keywords,
    )

    docs = spark.createDataFrame(
        [(1, "common rare rare common common filler"),
         (2, "common filler filler zz"),
         (3, "common solo")],
        ["doc_id", "text"],
    )
    p = inverted_postings(docs)
    out = tfidf_keywords(p, term_dictionary(p), k=2)
    rows = {(r["id"], r["rank"]): (r["term"], r["tfidf"])
            for r in out.collect()}
    # every doc emits <= k rows, ranks are 1..k
    assert set(rows) <= {(i, r) for i in (1, 2, 3) for r in (1, 2)}
    # doc1: 'rare' (tf2, df1) outranks 'common' (tf3, df3)
    assert rows[(1, 1)][0] == "rare"
    # doc3: both terms tf1; 'solo' df1 beats 'common' df3
    assert rows[(3, 1)][0] == "solo"
    # smooth idf: even the everywhere-term scores > 0
    assert all(v[1] > 0 for v in rows.values())
    with pytest.raises(ValueError):
        tfidf_keywords(p, term_dictionary(p), k=0)


def test_pmi_collocations_counts_and_direction(spark):
    """PMI pairs are ADJACENT and ORDERED (w1 then w2); min_count gates
    on the integer pair count; marginals come from the pair table."""
    import math

    from crawl4ai_custom_spark.operators.textstats import pmi_collocations

    docs = spark.createDataFrame(
        [(i, "new york is big and york new is rare") for i in range(3)],
        ["doc_id", "text"],
    )
    out = {(r["w1"], r["w2"]): r for r in
           pmi_collocations(docs, min_count=3).collect()}
    assert ("new", "york") in out and ("york", "new") in out
    r = out[("new", "york")]
    assert r["c12"] == 3          # once per doc
    assert r["c1"] == 6           # 'new' opens 2 bigrams per doc
    # pmi = ln(c12 * n / (c1 * c2)); n = 8 bigrams/doc * 3 docs
    exp = math.log(3 * 24 / (6 * r["c2"]))
    assert abs(r["pmi"] - exp) < 1e-9
    # below min_count -> absent
    assert ("is", "big") not in pmi_collocations(
        docs, min_count=10).toPandas().set_index(["w1", "w2"]).index


def test_update_index_equals_rebuild(spark):
    """One re-crawl epoch (changed + retired + brand-new docs) applied
    incrementally equals rebuilding postings AND dictionary from the
    updated corpus; terms whose df hits 0 leave the dictionary; a
    changed doc whose new text tokenizes to NOTHING still leaves; a doc
    both changed and retired is retired (retirement wins)."""
    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        term_dictionary,
        update_index,
    )

    base_corpus = {1: "alpha beta gamma", 2: "beta beta delta",
                   3: "unique_zz alpha", 5: "alpha beta old",
                   6: "beta gamma stale"}
    docs = spark.createDataFrame(
        list(base_corpus.items()), ["doc_id", "text"])
    p0 = inverted_postings(docs)
    d0 = term_dictionary(p0)
    # doc2 changes; doc3 retires (taking unique_zz's last posting with
    # it); doc4 is new; doc5's new text has NO len>1 tokens (must still
    # leave); doc6 is both changed AND retired (retirement wins)
    changed = spark.createDataFrame(
        [(2, "beta epsilon"), (4, "gamma gamma zeta"),
         (5, "a ! -"), (6, "would be kept wrongly")],
        ["doc_id", "text"])
    retired = spark.createDataFrame([(3,), (6,)], ["doc_id"])
    p1, d1 = update_index(p0, d0, changed, retired)

    new_corpus = {1: base_corpus[1], 2: "beta epsilon",
                  4: "gamma gamma zeta"}
    rebuilt = spark.createDataFrame(
        list(new_corpus.items()), ["doc_id", "text"])
    pr = inverted_postings(rebuilt)
    dr = term_dictionary(pr)

    def pset(df):
        return {(r["term"], r["id"], r["tf"], tuple(r["positions"]))
                for r in df.collect()}

    assert pset(p1) == pset(pr)
    got_d = {r["term"]: (r["df"], r["cf"]) for r in d1.collect()}
    exp_d = {r["term"]: (r["df"], r["cf"]) for r in dr.collect()}
    assert got_d == exp_d
    assert "unique_zz" not in got_d and "epsilon" in got_d


def test_merge_postings_base_never_shuffles(spark):
    """The doomed-id set rides a broadcast anti-join: the base postings
    side of the merge has no Exchange beyond its own build (the epoch
    delta must not repartition the whole index)."""
    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        merge_postings,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i}") for i in range(100)],
        ["doc_id", "text"])
    base = inverted_postings(docs)
    delta = inverted_postings(
        spark.createDataFrame([(5, "alpha new")], ["doc_id", "text"]))
    merged = merge_postings(base, delta)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # the only shuffles are the two index builds' groupBys plus the
    # delta-sized doomed-id distinct (broadcast side) — the base index
    # itself is never repartitioned by the merge
    assert plan.count("Exchange hashpartitioning") == 3


def test_skipgram_counts_window_and_plan(spark):
    """Symmetric ±w window, edge clamping, center excluded; the plan is
    join-free with exactly one shuffle (the final groupBy)."""
    from crawl4ai_custom_spark.operators.textstats import skipgram_counts

    docs = spark.createDataFrame([(1, "aa bb cc dd ee")], ["doc_id", "text"])
    out = {(r["center"], r["context"]): r["count"]
           for r in skipgram_counts(docs, window=2).collect()}
    toks = "aa bb cc dd ee".split()
    exp = {}
    for i, c in enumerate(toks):
        for j in range(max(0, i - 2), min(len(toks), i + 3)):
            if j != i:
                exp[(c, toks[j])] = exp.get((c, toks[j]), 0) + 1
    assert out == exp
    plan = skipgram_counts(docs, window=2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    with pytest.raises(ValueError):
        skipgram_counts(docs, window=0)


def test_kwic_snippets_occurrences_and_edges(spark):
    """Every occurrence emits one snippet; context clamps at both doc
    edges; only matching docs appear; 1-char tokens are out of the
    position space."""
    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        kwic_snippets,
    )

    docs = spark.createDataFrame(
        [(1, "hit aa bb cc hit dd"), (2, "no match here"),
         (3, "x hit")],  # 'x' drops -> hit at pos 0
        ["doc_id", "text"],
    )
    p = inverted_postings(docs)
    out = {(r["doc_id"], r["pos"]): r["snippet"]
           for r in kwic_snippets(docs, p, "HIT", width=2).collect()}
    assert out == {
        (1, 0): "hit aa bb",
        (1, 4): "bb cc hit dd",
        (3, 0): "hit",
    }
    with pytest.raises(ValueError):
        kwic_snippets(docs, p, "x")


def test_ql_dirichlet_exact_scores(spark):
    """Dirichlet query likelihood from the index equals the independent
    decomposition, including repeated query terms (qtf > 1) and the
    query-independent length penalty."""
    import math
    from collections import Counter

    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        ql_dirichlet_from_index,
        term_dictionary,
    )

    corpus = {1: "spark spark table", 2: "table stone", 3: "other words"}
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    p = inverted_postings(docs)
    mu = 10.0
    query = ["spark", "spark", "table"]  # qtf(spark)=2
    got = {r["id"]: (r["ql"], r["n_terms"]) for r in
           ql_dirichlet_from_index(p, term_dictionary(p), query,
                                   mu=mu).collect()}

    toks = {i: corpus[i].split() for i in corpus}
    c_total = sum(len(v) for v in toks.values())
    cf = Counter(t for v in toks.values() for t in v)
    qtf = Counter(query)
    exp = {}
    for i, v in toks.items():
        m = [t for t in qtf if v.count(t)]
        if not m:
            continue
        s = sum(qtf[t] * math.log(1 + v.count(t) / (mu * cf[t] / c_total))
                for t in m)
        s += sum(qtf.values()) * math.log(mu / (len(v) + mu))
        exp[i] = (s, len(m))
    assert set(got) == set(exp) == {1, 2}
    for i in exp:
        assert got[i][1] == exp[i][1]
        assert abs(got[i][0] - exp[i][0]) < 1e-9
    with pytest.raises(ValueError):
        ql_dirichlet_from_index(p, term_dictionary(p), ["a"])


def test_proximity_match_distances(spark):
    """Min gap + window pair count over the positional index; docs
    outside the window are absent; validation rejects 1-char/equal
    terms."""
    from crawl4ai_custom_spark.operators.textstats import (
        inverted_postings,
        proximity_match,
    )

    docs = spark.createDataFrame(
        [(1, "aa xx bb yy aa"),       # aa@0,4 bb@2 -> min 2; pairs<=3: 2
         (2, "aa " + "zz " * 10 + "bb"),  # gap 11 -> excluded at within=3
         (3, "bb only here")],
        ["doc_id", "text"],
    )
    p = inverted_postings(docs)
    got = {r["id"]: (r["min_dist"], r["n_pairs_within"])
           for r in proximity_match(p, "aa", "bb", within=3).collect()}
    assert got == {1: (2, 2)}
    # widen the window -> doc2 admits with its exact gap
    got11 = {r["id"]: r["min_dist"]
             for r in proximity_match(p, "aa", "bb", within=11).collect()}
    assert got11 == {1: 2, 2: 11}
    for bad in (("aa", "aa"), ("a", "bb")):
        with pytest.raises(ValueError):
            proximity_match(p, *bad)


def test_cc_index_records_framings_and_garbage(spark):
    """Both CC-index line framings parse (CDXJ prefix vs API JSON
    urlkey/timestamp); blank/garbage/no-JSON lines drop; numeric fields
    cast; the fetch plan keeps wanted statuses and the latest capture."""
    from crawl4ai_custom_spark.sources.ccindex import (
        cc_index_fetch_plan,
        cc_index_records,
    )

    lines = spark.createDataFrame(
        [
            # CDXJ framing: urlkey + timestamp in the prefix
            ('com,ex)/a 20240102030405 {"url": "https://ex.com/a", '
             '"status": "200", "mime": "text/html", "length": "11", '
             '"offset": "100", "filename": "seg-0.warc.gz"}',),
            # API framing: everything in the JSON; later capture, same url
            ('{"urlkey": "com,ex)/a", "timestamp": "20250102030405", '
             '"url": "https://ex.com/a", "status": "200", '
             '"mime": "text/html", "length": "12", "offset": "200", '
             '"filename": "seg-1.warc.gz"}',),
            # non-html mime and non-200 -> parsed but excluded from plan
            ('com,ex)/b 20240101000000 {"url": "https://ex.com/b", '
             '"status": "301", "mime": "text/html", "length": "9", '
             '"offset": "5", "filename": "seg-2.warc.gz"}',),
            ('com,ex)/c 20240101000000 {"url": "https://ex.com/c", '
             '"status": "200", "mime": "application/pdf", "length": "9", '
             '"offset": "5", "filename": "seg-2.warc.gz"}',),
            ("",),                      # blank
            ("not an index line",),     # no JSON object
            ("garbage {broken json",),  # unparseable JSON
        ],
        ["value"],
    )
    recs = cc_index_records(lines)
    got = {(r["urlkey"], r["timestamp_raw"]): r for r in recs.collect()}
    assert len(got) == 4
    r0 = got[("com,ex)/a", "20240102030405")]
    assert (r0["status"], r0["warc_length"], r0["warc_offset"]) \
        == (200, 11, 100)
    assert r0["capture_ts"].year == 2024
    assert got[("com,ex)/a", "20250102030405")]["warc_offset"] == 200

    plan = {r["urlkey"]: r for r in cc_index_fetch_plan(recs).collect()}
    # only com,ex)/a survives (b is 301, c is pdf), at its LATEST capture
    assert set(plan) == {"com,ex)/a"}
    p = plan["com,ex)/a"]
    assert (p["warc_filename"], p["warc_offset"], p["warc_length"]) \
        == ("seg-1.warc.gz", 200, 12)
    assert p["capture_ts"].year == 2025
    # latest_only=False keeps both captures
    assert cc_index_fetch_plan(recs, latest_only=False).count() == 2


def test_read_warc_ranges_end_to_end(spark, tmp_path):
    """The full CC ingestion contract: a synthetic segment of
    concatenated gzip members, an index plan with (offset, length) per
    member, read_warc_ranges slices exactly those bytes, and
    parse_warc_records(gz=True) recovers each record — the segment is
    never read whole."""
    import gzip

    from crawl4ai_custom_spark.sources.ccindex import read_warc_ranges
    from crawl4ai_custom_spark.sources.warc import parse_warc_records

    def member(url, body):
        rec = (f"WARC/1.0\r\nWARC-Type: response\r\n"
               f"WARC-Target-URI: {url}\r\n"
               f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
               f"Content-Length: {len(body)}\r\n\r\n").encode() \
            + body.encode()
        return gzip.compress(rec, mtime=0)

    urls = [f"https://ex.com/{i}" for i in range(5)]
    members = [member(u, f"payload-{i} " * (i + 1)) for i, u in
               enumerate(urls)]
    seg = b"".join(members)
    (tmp_path / "seg-0.warc.gz").write_bytes(seg)
    plan_rows, off = [], 0
    for u, m in zip(urls, members):
        plan_rows.append((u, "seg-0.warc.gz", off, len(m)))
        off += len(m)
    # fetch only urls 1 and 3 — proves slicing, not whole-file reads
    plan = spark.createDataFrame(
        [plan_rows[1], plan_rows[3]],
        ["url", "warc_filename", "warc_offset", "warc_length"])
    ranges = read_warc_ranges(plan, str(tmp_path))
    recs = parse_warc_records(
        ranges.withColumn("blob_id", F.xxhash64("url")),
        payload_col="payload", gz=True)
    got = {r["target_uri"]: r["payload"] for r in recs.collect()}
    assert set(got) == {urls[1], urls[3]}
    assert got[urls[3]].startswith("payload-3 payload-3")


def test_hits_known_graph(spark):
    from crawl4ai_custom_spark.operators.linkgraph import hits

    # two hubs each pointing at the same two authorities: by symmetry the
    # hubs split hub mass 0.5/0.5, authorities split auth mass 0.5/0.5,
    # and pure hubs carry zero authority (no in-edges) / pure authorities
    # zero hub (no out-edges) — the textbook bipartite HITS fixture.
    g = spark.createDataFrame(
        [("h1", "a1"), ("h1", "a2"), ("h2", "a1"), ("h2", "a2")],
        ["src", "dst"],
    )
    s = {x["node"]: (x["hub"], x["auth"]) for x in hits(g, iterations=3).collect()}
    assert abs(s["h1"][0] - 0.5) < 1e-12 and abs(s["h2"][0] - 0.5) < 1e-12
    assert abs(s["a1"][1] - 0.5) < 1e-12 and abs(s["a2"][1] - 0.5) < 1e-12
    assert s["h1"][1] == 0.0 and s["a1"][0] == 0.0

    # asymmetric: d links to everything (strongest hub); a1 also gets an
    # extra in-edge from a2's side via d -> a1 twice is impossible
    # (distinct edges), so add c -> a1: a1 must out-rank a2 in authority.
    g2 = spark.createDataFrame(
        [("d", "a1"), ("d", "a2"), ("c", "a1")], ["src", "dst"]
    )
    s2 = {x["node"]: (x["hub"], x["auth"]) for x in hits(g2, iterations=2).collect()}
    assert s2["a1"][1] > s2["a2"][1]
    assert s2["d"][0] > s2["c"][0]
    # L1 invariants: hub and auth each sum to 1
    assert abs(sum(v[0] for v in s2.values()) - 1.0) < 1e-9
    assert abs(sum(v[1] for v in s2.values()) - 1.0) < 1e-9


def test_crawl_traps_and_filter(spark):
    from crawl4ai_custom_spark.operators.urlops import (
        crawl_traps,
        filter_trapped_urls,
    )

    urls = spark.createDataFrame(
        [(f"https://cal.com/day?d=2024-01-{i}",) for i in range(40)]
        + [(f"https://cal.com/about",)]
        + [(f"https://ok.com/p/{i % 5}",) for i in range(40)]
        + [(f"https://sid.com/x?s={'%032x' % (i * 2654435761)}",) for i in range(35)],
        ["url"],
    )
    traps = crawl_traps(urls, min_urls=30, min_share=0.5)
    flagged = {(r["host"], r["template"]) for r in traps.collect() if r["is_trap"]}
    assert ("cal.com", "https://cal.com/day?d={N}-{N}-{N}") in flagged
    assert ("sid.com", "https://sid.com/x?s={H}") in flagged
    # bounded catalog: 5 distinct urls, under min_urls -> never a trap
    assert not any(h == "ok.com" for h, _ in flagged)

    kept = filter_trapped_urls(urls, traps)
    kept_urls = {r["url"] for r in kept.collect()}
    # every calendar/sid url dropped; the about page and catalog survive
    assert "https://cal.com/about" in kept_urls
    assert all("ok.com" in u or u == "https://cal.com/about" for u in kept_urls)
    assert kept.columns == ["url"]


def test_readability_scores_known_values(spark):
    from crawl4ai_custom_spark.operators.textstats import readability_scores

    docs = spark.createDataFrame(
        [
            # 4 words / 1 sentence; syllables (vowel-run): the=1 cat=1
            # sat=1 down=1 -> 4
            (1, "The cat sat down."),
            # 7 words / 2 sentences
            (2, "It is fine. Quite readable text here!"),
            (3, "   "),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in readability_scores(docs).collect()}
    r1 = out[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (4, 1, 4)
    assert abs(r1["flesch_ease"] - (206.835 - 1.015 * 4 - 84.6 * 1.0)) < 1e-9
    assert abs(r1["fk_grade"] - (0.39 * 4 + 11.8 * 1.0 - 15.59)) < 1e-9
    assert r1["readability_band"] == "easy"
    r2 = out[2]
    assert r2["n_words"] == 7 and r2["n_sentences"] == 2
    for d in (3, 4):
        r = out[d]
        assert r["n_words"] == 0 and r["n_sentences"] == 1
        assert r["n_syllables"] == 0
        assert r["flesch_ease"] == 0.0 and r["fk_grade"] == 0.0
        assert r["readability_band"] == "hard"


def test_zipf_slope_exact_fit(spark):
    import math

    from crawl4ai_custom_spark.operators.textstats import zipf_slope

    # Construct counts that are EXACTLY Zipfian: freq(rank r) = 24 / r for
    # ranks 1,2,3,4 -> ln/ln regression must recover slope -1 exactly.
    words = (["aa"] * 24) + (["bb"] * 12) + (["cc"] * 8) + (["dd"] * 6)
    docs = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    row = zipf_slope(docs).collect()[0]
    assert row["vocab_size"] == 4 and row["n_tokens"] == 50
    assert row["singleton_frac"] == 0.0
    assert abs(row["zipf_slope"] - (-1.0)) < 1e-9
    assert abs(row["zipf_intercept"] - math.log(24.0)) < 1e-9

    # singleton fraction + min_count / top_n knobs
    docs2 = spark.createDataFrame(
        [(1, "x x x y y z w")], ["doc_id", "text"])
    row2 = zipf_slope(docs2).collect()[0]
    assert row2["vocab_size"] == 4 and row2["n_tokens"] == 7
    assert abs(row2["singleton_frac"] - 0.5) < 1e-9
    row3 = zipf_slope(docs2, min_count=2).collect()[0]
    assert row3["vocab_size"] == 2 and row3["n_tokens"] == 5
    row4 = zipf_slope(docs2, top_n=2).collect()[0]
    assert row4["vocab_size"] == 2 and row4["n_tokens"] == 5


def test_change_rate_poisson_closed_form(spark):
    import math

    from crawl4ai_custom_spark.operators.recrawl import change_rate_poisson

    vis = spark.createDataFrame(
        [
            # daily visits, changes in intervals 1 and 3 -> n=3, X=2
            ("u1", 0.0, "A"), ("u1", 86400.0, "B"),
            ("u1", 172800.0, "B"), ("u1", 259200.0, "C"),
            ("u2", 0.0, "A"),                       # single visit
            ("u3", 0.0, "A"), ("u3", 86400.0, "A"),  # never changed
        ],
        ["url", "ts", "fingerprint"],
    )
    rows = {r["url"]: r
            for r in change_rate_poisson(vis, as_of=345600.0).collect()}
    r1 = rows["u1"]
    lam = math.log(3.5 / 1.5) / 86400.0
    assert (r1["n_visits"], r1["n_changes"]) == (4, 2)
    assert abs(r1["lambda_hat"] - lam) < 1e-18
    # one more mean interval elapsed: stale prob = 1 - (n-X+.5)/(n+.5)
    assert abs(r1["stale_prob"] - (1 - 1.5 / 3.5)) < 1e-12
    assert abs(r1["next_due_ts"] - (259200.0 + 1 / lam)) < 1e-6
    r2 = rows["u2"]
    assert r2["lambda_hat"] is None and r2["mean_interval_s"] is None
    assert r2["n_changes"] == 0 and r2["stale_prob"] is None
    r3 = rows["u3"]  # X=0 -> exactly zero rate, never due
    assert r3["lambda_hat"] == 0.0 and r3["next_due_ts"] is None
    assert r3["stale_prob"] == 0.0


def test_refresh_allocation_water_filling(spark):
    from crawl4ai_custom_spark.operators.recrawl import refresh_allocation

    rates = spark.createDataFrame(
        [("a", 1.0), ("b", 4.0), ("c", None), ("d", 0.0)],
        ["url", "lambda_hat"],
    )
    out = {r["url"]: r for r in refresh_allocation(rates, budget=1.0).collect()}
    # KKT: t=2, f(1) = sqrt(1)*2-1 = 1, f(4) = 0 — the HOT page is
    # abandoned (Cho & G-M's non-proportional optimum), budget sums to 1
    assert abs(out["a"]["f_opt"] - 1.0) < 1e-12
    assert abs(out["a"]["stale_frac"] - 0.5) < 1e-12
    assert out["b"]["f_opt"] == 0.0 and out["b"]["stale_frac"] == 1.0
    assert out["c"]["f_opt"] == 0.0 and out["d"]["f_opt"] == 0.0

    # zero budget -> nobody refreshes
    out0 = {r["url"]: r["f_opt"]
            for r in refresh_allocation(rates, budget=0.0).collect()}
    assert all(v == 0.0 for v in out0.values())

    # duplicate-rate bucket: two lambda=1 pages split the level evenly
    rates2 = spark.createDataFrame(
        [("a", 1.0), ("b", 1.0), ("c", 4.0)], ["url", "lambda_hat"])
    out2 = {r["url"]: r["f_opt"]
            for r in refresh_allocation(rates2, budget=2.0).collect()}
    assert abs(out2["a"] - 1.0) < 1e-12 and abs(out2["b"] - 1.0) < 1e-12
    assert out2["c"] == 0.0


def test_opic_known_graph_and_dangling(spark):
    """OPIC on a 3-node graph with one dangling node, hand-computed:
    a -> b, b -> a, c dangling. Cash conservation holds every round and
    importances sum to 1."""
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.linkgraph import opic

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c")], ["src", "dst"])
    out = {r["node"]: r for r in opic(edges, iterations=2).collect()}
    # round 0: cash 1/3 each, hist 0
    # round 1: c is dangling, D=1/3 redistributes 1/9 to everyone
    #   cash(a) = 1/3 (from b) + 1/9 = 4/9
    #   cash(b) = 1/6 (half of a's) + 1/9 = 5/18
    #   cash(c) = 1/6 + 1/9 = 5/18 ; hist = 1/3 each
    # round 2: D = 5/18 -> 5/54 each
    #   cash(a) = 5/18 + 5/54 = 20/54 ; hist(a) = 1/3 + 4/9 = 7/9
    #   cash(b) = 4/18 + 5/54 = 17/54 ; hist(b) = 1/3 + 5/18 = 11/18
    #   cash(c) = 4/18 + 5/54 = 17/54 ; hist(c) = 11/18
    assert abs(out["a"]["cash"] - 20 / 54) < 1e-12
    assert abs(out["b"]["cash"] - 17 / 54) < 1e-12
    assert abs(out["c"]["cash"] - 17 / 54) < 1e-12
    assert abs(out["a"]["history"] - 7 / 9) < 1e-12
    total_cash = sum(r["cash"] for r in out.values())
    total_imp = sum(r["importance"] for r in out.values())
    assert abs(total_cash - 1.0) < 1e-12   # cash conserved
    assert abs(total_imp - 1.0) < 1e-12    # importances normalized
    # importance = (hist + cash) / (k+1)
    assert abs(out["b"]["importance"]
               - (11 / 18 + 17 / 54) / 3) < 1e-12

    empty = opic(edges.where(F.lit(False)), iterations=2)
    assert empty.count() == 0


def test_hll_accuracy_and_merge(spark):
    """HLL estimate within 3x the published standard error at 10k
    distinct keys (p=10 -> 3.25%), and epoch-merge (register-wise max of
    two half sketches) equals the sketch of the union exactly."""
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.sketches import (
        hll_error_bound,
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    n = 10_000
    keys = spark.range(n).select(
        F.concat(F.lit("https://x"), F.col("id").cast("string"),
                 F.lit(".com/")).alias("url"))
    est = hll_estimate(hll_registers(keys, p=10), p=10).collect()[0]
    rel = abs(est["estimate"] - n) / n
    assert rel < 3 * hll_error_bound(10), (est["estimate"], rel)

    # mergeability: sketch(first half) max-merged with sketch(second half,
    # overlapping by 1000) == sketch(union), register for register
    a = keys.where(F.col("url") < "https://x5")
    b = keys.where(F.col("url") >= "https://x4")
    merged = {
        (r["register"], r["max_rho"])
        for r in hll_merge(hll_registers(a, p=8),
                           hll_registers(b, p=8)).collect()
    }
    whole = {(r["register"], r["max_rho"])
             for r in hll_registers(keys, p=8).collect()}
    assert merged == whole

    import pytest
    with pytest.raises(ValueError):
        hll_registers(keys, p=3)


def test_keyness_g2_closed_form(spark):
    """Dunning G² on a tiny two-corpus fixture, hand-computed:
    focus = 'apple apple banana' (c=3), ref = 'banana banana cherry
    cherry' (d=4)."""
    import math

    from crawl4ai_custom_spark.operators.textstats import keyness_g2

    focus = spark.createDataFrame([("apple apple banana",)], ["text"])
    ref = spark.createDataFrame([("banana banana cherry cherry",)], ["text"])
    rows = {r["term"]: r
            for r in keyness_g2(focus, ref, min_count=1).collect()}
    assert set(rows) == {"apple", "banana", "cherry"}
    b = rows["banana"]  # a=1 b=2, E1=9/7, E2=12/7
    g2 = 2 * (math.log(7 / 9) + 2 * math.log(7 / 6))
    assert (b["focus_count"], b["ref_count"]) == (1, 2)
    assert abs(b["g2"] - g2) < 1e-12
    assert abs(b["log_ratio"] - math.log2((1 / 3) / (2 / 4))) < 1e-12
    a = rows["apple"]  # focus-only: E1=6/7, b-summand drops, no log_ratio
    assert abs(a["g2"] - 4 * math.log(7 / 3)) < 1e-12
    assert a["log_ratio"] is None
    c = rows["cherry"]  # ref-only
    assert (c["focus_count"], c["ref_count"]) == (0, 2)
    assert abs(c["g2"] - 4 * math.log(7 / 4)) < 1e-12


def test_char_entropy_known_values_and_plan(spark):
    """Hand-computed entropies + shuffle-free plan (pure projection)."""
    import math

    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.textstats import char_entropy

    df = spark.createDataFrame(
        [("aab",), ("",), ("aaaa",), ("abcd",), ("héé!",)], ["text"])
    rows = {r["text"]: r["e"] for r in df.select(
        "text", char_entropy(F.col("text")).alias("e")).collect()}
    assert abs(rows["aab"]
               - -(2 / 3 * math.log2(2 / 3)
                   + 1 / 3 * math.log2(1 / 3))) < 1e-12
    assert rows[""] is None          # empty text: no distribution
    assert rows["aaaa"] == 0.0       # single symbol: zero entropy
    assert rows["abcd"] == 2.0       # uniform over 4: 2 bits
    assert rows["héé!"] == 1.5       # codepoint-level, not byte-level
    plan = df.select(char_entropy(F.col("text"))
                     )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan    # one scan pass at any corpus size


def test_cms_one_sided_and_merge(spark):
    """CMS never undercounts, is exact on a collision-free grid, and
    cell-wise merge of two half-streams equals the whole-stream sketch."""
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.sketches import (
        cms_merge,
        cms_query,
        cms_table,
    )

    # key k appears k+1 times, k in 0..49
    stream = spark.range(50).select(
        F.explode(F.sequence(F.lit(0), F.col("id"))).alias("_"),
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("key"),
    ).select("key")
    cms = cms_table(stream, "key", depth=4, width=512)
    truth = stream.groupBy("key").agg(F.count(F.lit(1)).alias("t"))
    est = {r["key"]: r["est"]
           for r in cms_query(cms, truth.select("key"), "key",
                              depth=4, width=512).collect()}
    for r in truth.collect():
        assert est[r["key"]] >= r["t"]          # one-sided
    # 50 keys into 4x512 cells: overwhelmingly collision-free -> exact
    exact = sum(1 for r in truth.collect() if est[r["key"]] == r["t"])
    assert exact >= 48

    # weighted build from the pre-aggregated table == raw-stream build
    w = cms_table(truth, "key", depth=4, width=512, weight_col="t")
    raw = {(r["row_idx"], r["col_idx"]): r["cnt"] for r in cms.collect()}
    wtd = {(r["row_idx"], r["col_idx"]): r["cnt"] for r in w.collect()}
    assert raw == wtd

    # epoch merge: two halves add cell-wise to the whole
    a = cms_table(stream.where(F.col("key") < "k3"), "key", 4, 512)
    b = cms_table(stream.where(F.col("key") >= "k3"), "key", 4, 512)
    merged = {(r["row_idx"], r["col_idx"]): r["cnt"]
              for r in cms_merge(a, b).collect()}
    assert merged == raw

    # unseen key: estimate is >= 0 and still one-sided (true count 0)
    unseen = spark.createDataFrame([("never-seen",)], ["key"])
    e = cms_query(cms, unseen, "key", depth=4, width=512).collect()[0]
    assert e["est"] >= 0


def test_heaps_fit_checkpoints_and_regression(spark):
    """Hand-built corpus: checkpoints at doc prefixes 1, 3, 7; vocabulary
    and token cumulatives known exactly; beta/lnK match a NumPy-free OLS
    recomputation."""
    import math

    from crawl4ai_custom_spark.operators.textstats import heaps_fit

    docs = spark.createDataFrame(
        [
            (0, "a b"),                    # bucket 1: V=2, n=2
            (1, "a c"), (2, "c d e"),      # bucket 2: +3 vocab, +5 tokens
            (3, "f g"), (4, "a"), (5, "h"), (6, "a b"),  # b3: +3, +6
        ],
        ["doc_id", "text"],
    )
    row = heaps_fit(docs).collect()[0]
    assert row["n_checkpoints"] == 3
    assert row["vocab_size"] == 8
    assert row["n_tokens"] == 13
    pts = [(2, 2), (7, 5), (13, 8)]  # (n, V) cumulative per checkpoint
    xs = [math.log(n) for n, _ in pts]
    ys = [math.log(v) for _, v in pts]
    mx, my = sum(xs) / 3, sum(ys) / 3
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / 3
    var = sum((x - mx) ** 2 for x in xs) / 3
    assert abs(row["heaps_beta"] - cov / var) < 1e-12
    assert abs(row["heaps_lnk"] - (my - cov / var * mx)) < 1e-12


def test_host_mirror_pairs_classes_and_containment(spark):
    """Hand-built mirror farm: full mirror (resemblance 1.0, class
    'mirror'), section mirror (strict shingle subset -> containment 1.0
    into the big host, class 'partial'), and an unrelated host (no pair).
    Shingle-set arithmetic is checked exactly."""
    from crawl4ai_custom_spark.operators.dedup import (
        host_mirror_pairs,
        shingle_table,
    )

    pages = {
        "a": "the quick brown fox jumps over the lazy dog every day",
        "b": "pack my box with five dozen liquor jugs for the party",
        "c": "sphinx of black quartz judge my vow said the editor",
    }
    rows = (
        # origin: all three pages
        [("origin.example", t) for t in pages.values()]
        # full mirror: identical three pages
        + [("full.example", t) for t in pages.values()]
        # section mirror: pages a+b only (strict shingle subset)
        + [("part.example", pages["a"]), ("part.example", pages["b"])]
        # unrelated
        + [("other.example", "completely different words appear here only")]
    )
    docs = spark.createDataFrame(rows, ["host", "text"])
    out = {
        (r["host_a"], r["host_b"]): r
        for r in host_mirror_pairs(
            docs, num_hashes=16, bands=4,
            resemblance_threshold=0.9, containment_threshold=0.95,
        ).collect()
    }
    assert ("full.example", "origin.example") in out
    m = out[("full.example", "origin.example")]
    assert m["mirror_class"] == "mirror"
    assert m["resemblance"] == 1.0

    # exact expected resemblance of the section mirror from shingle counts
    by_host = {}
    for r in shingle_table(docs, "host", "text").collect():
        by_host.setdefault(r["id"], set()).add(r["shingle_hash"])
    inter = len(by_host["origin.example"] & by_host["part.example"])
    union = len(by_host["origin.example"] | by_host["part.example"])
    p = out[("origin.example", "part.example")]
    assert p["mirror_class"] == "partial"
    assert abs(p["resemblance"] - inter / union) < 1e-12
    # part is a strict subset of origin: containment of part in origin = 1
    assert p["containment_b_in_a"] == 1.0
    assert all("other.example" not in k for k in out)


def test_dust_param_rules_evidence_semantics(spark):
    """Hand-built evidence: 'sid' varies with fixed residual and fixed
    content -> irrelevant; 'page' varies and content varies -> violation;
    a param that never varies within a residual group yields no evidence
    row at all; min_support gates single-group rules out."""
    from crawl4ai_custom_spark.operators.dust import dust_param_rules

    rows = [
        # sid: two residual groups (id=1, id=2), 2 sid values each, same text
        ("https://h.com/a?id=1&sid=x1", "alpha"),
        ("https://h.com/a?id=1&sid=x2", "alpha"),
        ("https://h.com/a?id=2&sid=y1", "beta"),
        ("https://h.com/a?id=2&sid=y2", "beta"),
        # page: varies, content varies -> violation
        ("https://h.com/b?id=1&page=1", "p one"),
        ("https://h.com/b?id=1&page=2", "p two"),
        # cb: varies in ONE group only, same text -> evidence but below
        # min_support=2 -> not irrelevant
        ("https://h.com/c?cb=111", "gamma"),
        ("https://h.com/c?cb=222", "gamma"),
        # konst: same value everywhere -> no evidence row
        ("https://h.com/d?konst=5&z=1", "delta"),
        ("https://h.com/d?konst=5&z=2", "delta"),
    ]
    out = {(r["host"], r["param"]): r for r in dust_param_rules(
        spark.createDataFrame(rows, ["url", "text"]), min_support=2
    ).collect()}
    assert out[("h.com", "sid")]["irrelevant"] is True
    assert out[("h.com", "sid")]["n_groups"] == 2
    assert out[("h.com", "sid")]["violations"] == 0
    assert out[("h.com", "page")]["irrelevant"] is False
    assert out[("h.com", "page")]["violations"] == 1
    assert out[("h.com", "cb")]["irrelevant"] is False  # support 1 < 2
    assert ("h.com", "konst") not in out
    # z: varies with same text but in a single residual group -> evidence
    # exists yet support 1 < min_support, same as cb
    assert out[("h.com", "z")]["n_groups"] == 1
    assert out[("h.com", "z")]["irrelevant"] is False


def test_apply_dust_rules_rewrites_only_learned_hosts(spark):
    """Learned rules strip only the irrelevant params of the matching
    host; param order is preserved; foreign hosts and query-free urls
    pass through byte-identical."""
    from pyspark.sql import Row

    from crawl4ai_custom_spark.operators.dust import apply_dust_rules

    rules = spark.createDataFrame(
        [("h.com", "sid", 5, 0, True), ("h.com", "page", 5, 5, False)],
        ["host", "param", "n_groups", "violations", "irrelevant"],
    )
    urls = spark.createDataFrame(
        [
            ("https://h.com/a?sid=zz&id=7&page=2",),
            ("https://h.com/plain",),
            ("https://h.com/only?sid=1",),
            ("https://other.com/a?sid=keepme",),
        ],
        ["url"],
    )
    got = {r["url"]: r["dust_url"]
           for r in apply_dust_rules(urls, rules).collect()}
    assert got["https://h.com/a?sid=zz&id=7&page=2"] == \
        "https://h.com/a?id=7&page=2"
    assert got["https://h.com/plain"] == "https://h.com/plain"
    assert got["https://h.com/only?sid=1"] == "https://h.com/only"
    assert got["https://other.com/a?sid=keepme"] == \
        "https://other.com/a?sid=keepme"


def test_moments_sketch_closed_form_and_merge(spark):
    """Moments sketch (Gan et al., VLDB 2018 shape): stats from power
    sums match a NumPy-free hand computation; merging two half sketches
    equals the whole-stream sketch cell for cell; the Cornish-Fisher
    estimate is exact for a symmetric two-point distribution and always
    clamped into [mn, mx]."""
    import math

    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.sketches import (
        cf_quantile,
        moment_merge,
        moment_stats,
        moment_sums,
    )

    vals = [1.0, 2.0, 2.0, 3.0, 10.0]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    st = moment_stats(moment_sums(df, "v")).collect()[0]
    n = len(vals)
    mean = sum(vals) / n
    m2 = sum((x - mean) ** 2 for x in vals) / n
    m3 = sum((x - mean) ** 3 for x in vals) / n
    m4 = sum((x - mean) ** 4 for x in vals) / n
    assert st["n"] == n and st["mn"] == 1.0 and st["mx"] == 10.0
    assert abs(st["mean"] - mean) < 1e-12
    assert abs(st["std"] - math.sqrt(m2)) < 1e-12
    assert abs(st["skewness"] - m3 / m2 ** 1.5) < 1e-10
    assert abs(st["kurtosis"] - (m4 / m2 ** 2 - 3)) < 1e-10

    # degenerate group: std 0 -> skew/kurt null, estimate clamps to value
    one = spark.createDataFrame([(7.0,), (7.0,)], ["v"])
    s1 = cf_quantile(moment_stats(moment_sums(one, "v")), 0.95,
                     1.6448536269514722).collect()[0]
    assert s1["skewness"] is None and s1["kurtosis"] is None
    assert s1["q_est"] == 7.0

    # merge: two halves fold to exactly the whole-stream sums
    a = moment_sums(df.where(F.col("v") < 2.5), "v")
    b = moment_sums(df.where(F.col("v") >= 2.5), "v")
    merged = moment_merge(a, b).collect()[0]
    whole = moment_sums(df, "v").collect()[0]
    for c in ("n", "s1", "s2", "s3", "s4", "mn", "mx"):
        assert merged[c] == whole[c], c

    # symmetric two-point distribution: g1=0, g2=-2, CF p95 before the
    # clamp is mean + std*(z - (z^3-3z)/12); hand-check the algebra
    z = 1.6448536269514722
    two = spark.createDataFrame([(0.0,), (4.0,)], ["v"])
    r = cf_quantile(moment_stats(moment_sums(two, "v")), 0.95, z)
    row = r.collect()[0]
    raw = 2.0 + 2.0 * (z + (z * z * z - 3 * z) * (-2.0) / 24)
    assert abs(row["q_est"] - min(max(raw, 0.0), 4.0)) < 1e-12
    assert 0.0 <= row["q_est"] <= 4.0

    # grouped: per-group rows survive with independent ranges
    g = spark.createDataFrame(
        [("a", 1.0), ("a", 5.0), ("b", 100.0)], ["k", "v"])
    rows = {r["k"]: r for r in moment_stats(
        moment_sums(g, "v", ["k"])).collect()}
    assert rows["a"]["mx"] == 5.0 and rows["b"]["n"] == 1
    assert rows["b"]["mn"] == 100.0


def test_kmv_sketch_exact_merge_and_setops(spark):
    """KMV bottom-k: exact when k >= n; merge(A,B) == sketch(A ∪ B) row
    for row; estimator within 3/sqrt(k) of truth at 4k distinct keys;
    set-op estimates exact on small sets; prefilter leaves the sketch
    identical while >= k survivors remain."""
    import math

    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.sketches import (
        kmv_estimate,
        kmv_merge,
        kmv_setops,
        kmv_sketch,
    )

    def urls(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("https://x.com/"),
                     F.col("id").cast("string")).alias("url"))

    # exact regime: k >= n -> the sketch IS the distinct set
    small = urls(0, 100)
    sk = kmv_sketch(small, "url", k=256)
    assert sk.count() == 100
    est = kmv_estimate(sk, k=256).collect()[0]
    assert est["n_sample"] == 100 and est["estimate"] == 100.0

    # estimator regime: 4000 distinct, k=256 -> relative error < 3/sqrt(k)
    big = urls(0, 4000)
    e = kmv_estimate(kmv_sketch(big, "url", k=256), k=256).collect()[0]
    assert abs(e["estimate"] - 4000) / 4000 < 3 / math.sqrt(256)

    # merge == sketch of the union, exactly
    a, b = urls(0, 2500), urls(1500, 4000)
    merged = {r["h"] for r in kmv_merge(
        kmv_sketch(a, "url", k=64), kmv_sketch(b, "url", k=64),
        k=64).collect()}
    whole = {r["h"] for r in kmv_sketch(big, "url", k=64).collect()}
    assert merged == whole

    # set ops exact when |A ∪ B| <= k: A=0..59, B=40..99
    sa = kmv_sketch(urls(0, 60), "url", k=256)
    sb = kmv_sketch(urls(40, 100), "url", k=256)
    ops = kmv_setops(sa, sb, k=256).collect()[0]
    assert ops["union_est"] == 100.0
    assert abs(ops["jaccard"] - 20 / 100) < 1e-12
    assert abs(ops["intersection_est"] - 20.0) < 1e-9

    # prefilter determinism: generous threshold -> identical rows
    pre = {r["h"] for r in kmv_sketch(
        big, "url", k=64, prefilter_frac=0.5).collect()}
    assert pre == whole

    # grouped sketches keep groups independent
    g = urls(0, 300).withColumn(
        "side", (F.length("url") % 2).cast("string"))
    rows = kmv_estimate(
        kmv_sketch(g, "url", k=512, group_cols=["side"]),
        k=512, group_cols=["side"]).collect()
    assert sum(r["n_sample"] for r in rows) == 300

    import pytest
    with pytest.raises(ValueError):
        kmv_sketch(small, "url", k=1)


def test_degree_powerlaw_closed_form(spark):
    """Hand-built degree multiset {1,1,4,4,8,16}: tail at x_min=4 is
    {4,4,8,16}; alpha and se match the closed form; empty tail -> null;
    out-direction counts src degrees; bad direction raises."""
    import math

    from crawl4ai_custom_spark.operators.linkgraph import degree_powerlaw

    # node n_k receives deg_k edges
    degs = {"a": 1, "b": 1, "c": 4, "d": 4, "e": 8, "f": 16}
    rows = [(f"s{n}_{i}", n) for n, d in degs.items() for i in range(d)]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    r = degree_powerlaw(edges, x_min=4, direction="in").collect()[0]
    s = sum(math.log(d / 3.5) for d in (4, 4, 8, 16))
    assert (r["n_nodes"], r["n_tail"], r["max_degree"]) == (6, 4, 16)
    assert abs(r["alpha"] - (1 + 4 / s)) < 1e-12
    assert abs(r["alpha_se"] - (4 / s) / 2.0) < 1e-12

    # all degrees below x_min: alpha null, counts still honest
    low = degree_powerlaw(edges, x_min=100).collect()[0]
    assert low["n_tail"] == 0 and low["alpha"] is None
    assert low["alpha_se"] is None

    # out-direction: every src here has out-degree 1
    out = degree_powerlaw(edges, x_min=1, direction="out").collect()[0]
    assert out["n_nodes"] == 34 and out["max_degree"] == 1

    import pytest
    with pytest.raises(ValueError):
        degree_powerlaw(edges, direction="sideways")


def test_weighted_sample_exact_race_and_grouping(spark):
    """E-S sample: priorities match the hand-computed -ln(u)/w race;
    the global top-n is the n smallest priorities; grouped draws are
    per-group; zero/null weights never qualify; heavier weights win
    overwhelmingly more often across disjoint key universes."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.corpusmix import weighted_sample

    def prio(key, w):
        h = int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16)
        return -math.log((h + 1) / float(1 << 60)) / w

    rows = [(i, float(1 + i % 7)) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = weighted_sample(df, "w", 5, key_col="doc_id").collect()
    expect = sorted(rows, key=lambda r: (prio(r[0], r[1]), r[0]))[:5]
    assert [(r["doc_id"], r["w"]) for r in got] == expect
    for r in got:
        assert abs(r["priority"] - prio(r["doc_id"], r["w"])) < 1e-12

    # grouped: n per group, groups independent
    g = spark.createDataFrame(
        [(i, "g" + str(i % 3), 1.0 + (i % 5)) for i in range(60)],
        ["doc_id", "grp", "w"])
    per = weighted_sample(g, "w", 4, key_col="doc_id",
                          group_cols=["grp"]).groupBy("grp").count().collect()
    assert {r["grp"]: r["count"] for r in per} == {
        "g0": 4, "g1": 4, "g2": 4}

    # zero / null weights excluded even when n exceeds survivors
    z = spark.createDataFrame(
        [(1, 0.0), (2, None), (3, 2.0)], ["doc_id", "w"])
    kept = weighted_sample(z, "w", 10).collect()
    assert [r["doc_id"] for r in kept] == [3]

    # weight-proportionality: ids 0..999 at weight 1 vs 1000..1999 at
    # weight 20 -> the heavy half dominates a 100-draw sample
    mix = spark.createDataFrame(
        [(i, 1.0 if i < 1000 else 20.0) for i in range(2000)],
        ["doc_id", "w"])
    heavy = sum(1 for r in weighted_sample(mix, "w", 100).collect()
                if r["w"] == 20.0)
    assert heavy > 80

    import pytest
    with pytest.raises(ValueError):
        weighted_sample(df, "w", 0)


def test_spam_mass_farm_vs_core(spark):
    """A good core (g0->g1->g2 cycle, seeded) plus a link farm
    (f1<->f2, unreachable from the core): farm nodes carry spam mass
    ~1 after clamping, core nodes low; core_rank equals trustrank
    scaled by n_seed/n exactly (linearity)."""
    from crawl4ai_custom_spark.operators.linkgraph import (
        spam_mass,
        trustrank,
    )

    edges = spark.createDataFrame(
        [("g0", "g1"), ("g1", "g2"), ("g2", "g0"),
         ("f1", "f2"), ("f2", "f1")], ["src", "dst"])
    seeds = spark.createDataFrame([("g0",)], ["node"])
    out = {r["node"]: r for r in
           spam_mass(edges, seeds, iterations=3).collect()}
    assert set(out) == {"g0", "g1", "g2", "f1", "f2"}
    for f in ("f1", "f2"):   # zero trust reaches the farm
        assert out[f]["core_rank"] == 0.0
        assert out[f]["spam_mass"] == 1.0
    for g in ("g0", "g1", "g2"):
        assert out[g]["core_rank"] > 0.0
        assert out[g]["spam_mass"] < 1.0
    # linearity check: core = trustrank * n_seed/n (1/5 here)
    tr = {r["node"]: r["rank"]
          for r in trustrank(edges, seeds, iterations=3).collect()}
    for n, r in out.items():
        assert abs(r["core_rank"] - tr[n] / 5.0) < 1e-12
    # mass in [0,1] always
    assert all(0.0 <= r["spam_mass"] <= 1.0 for r in out.values())

    empty = spam_mass(edges.where(F.lit(False)), seeds)
    assert empty.count() == 0


def test_ucb_host_allocation_explore_exploit(spark):
    """UCB1: never-fetched hosts rank first (by name); among explored
    arms the score is mean + sqrt(2 ln N / n) exactly; a rarely-pulled
    arm outranks a heavily-pulled one of equal mean; k caps the output."""
    import math

    from crawl4ai_custom_spark.operators.recrawl import ucb_host_allocation

    hist = spark.createDataFrame(
        [("often", 90, 45.0),     # mean .5, tiny bonus
         ("rare", 10, 5.0),       # mean .5, big bonus
         ("bad", 100, 1.0),       # mean .01
         ("fresh", None, None)],
        ["host", "n_fetches", "reward_sum"])
    got = ucb_host_allocation(hist, k=4, c=1.0).collect()
    assert [r["host"] for r in got][:1] == ["fresh"]
    assert got[0]["explored"] is False and got[0]["ucb_score"] is None
    order = [r["host"] for r in got]
    assert order.index("rare") < order.index("often")
    n_total = 200.0
    rare = next(r for r in got if r["host"] == "rare")
    assert abs(rare["ucb_score"]
               - (0.5 + math.sqrt(2 * math.log(n_total) / 10))) < 1e-12

    top2 = ucb_host_allocation(hist, k=2, c=1.0).collect()
    assert [r["host"] for r in top2] == ["fresh", "rare"]

    # all-unexplored: deterministic name order, N floors at 1
    cold = spark.createDataFrame(
        [("b", None, None), ("a", None, None)],
        "host string, n_fetches bigint, reward_sum double")
    assert [r["host"] for r in
            ucb_host_allocation(cold, k=2).collect()] == ["a", "b"]

    import pytest
    with pytest.raises(ValueError):
        ucb_host_allocation(hist, k=0)


def test_graph_shape_closed_form(spark):
    """Hand-built graphs: a 2-cycle (reciprocity 1), a directed 3-cycle
    (reciprocity 0, constant degrees -> null assortativity), and a mixed
    graph whose assortativity matches a hand Pearson computation."""
    import math

    from crawl4ai_custom_spark.operators.linkgraph import graph_shape

    two = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    r = graph_shape(two).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["reciprocity"]) == (2, 2, 1.0)
    assert r["assortativity"] is None     # all degrees 1 -> zero variance

    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"])
    r = graph_shape(cyc).collect()[0]
    assert r["reciprocity"] == 0.0 and r["assortativity"] is None

    # star + tail: edges (h,a) (h,b) (a,h). out-deg h=2,a=1; in-deg
    # a=1,b=1,h=1. per-edge (x,y): (2,1) (2,1) (1,1)
    mixed = spark.createDataFrame(
        [("h", "a"), ("h", "b"), ("a", "h")], ["src", "dst"])
    r = graph_shape(mixed).collect()[0]
    # (h,a) and (a,h) each see their reverse; (h,b) doesn't -> 2/3
    assert abs(r["reciprocity"] - 2 / 3) < 1e-12
    assert r["assortativity"] is None              # y constant
    # add (b,h),(h,h-dup?) no: extend so both vary:
    # edges (h,a),(h,b),(a,h),(b,b2): out h=2,a=1,b=1; in a=1,b=1,h=1,b2=1
    ext = spark.createDataFrame(
        [("h", "a"), ("h", "b"), ("a", "h"), ("b", "a")], ["src", "dst"])
    r = graph_shape(ext).collect()[0]
    xs, ys = [2.0, 2.0, 1.0, 1.0], [2.0, 1.0, 1.0, 2.0]
    n = 4
    sx, sy = sum(xs), sum(ys)
    sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    expect = (n * sxy - sx * sy) / math.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy))
    assert abs(r["assortativity"] - expect) < 1e-12

    # self-loops and duplicate edges are ignored
    noisy = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("a", "b"), ("b", "a")], ["src", "dst"])
    r = graph_shape(noisy).collect()[0]
    assert (r["n_edges"], r["reciprocity"]) == (2, 1.0)


def test_good_turing_saturation_exact(spark):
    """Counts {a:3, b:1, c:1} -> N=5, V=3, f1=2, unseen 0.4; grouped
    fixture keeps groups independent; saturated group -> unseen 0."""
    from crawl4ai_custom_spark.operators.recrawl import good_turing_saturation

    obs = spark.createDataFrame(
        [("g1", k) for k in ["a", "a", "a", "b", "c"]]
        + [("g2", k) for k in ["x", "x", "y", "y"]],
        ["grp", "key"])
    rows = {r["grp"]: r for r in good_turing_saturation(
        obs, "key", group_cols=["grp"]).collect()}
    g1 = rows["g1"]
    assert (g1["n_obs"], g1["n_distinct"], g1["f1"]) == (5, 3, 2)
    assert abs(g1["unseen_mass"] - 0.4) < 1e-12
    assert abs(g1["coverage"] - 0.6) < 1e-12
    g2 = rows["g2"]   # every key repeated: nothing unseen
    assert g2["f1"] == 0 and g2["unseen_mass"] == 0.0

    # ungrouped: one row over everything
    tot = good_turing_saturation(obs, "key").collect()
    assert len(tot) == 1 and tot[0]["n_obs"] == 9


def test_prefix_filter_join_exactness_and_pruning(spark):
    """Prefix-filtering join returns EXACTLY the brute-force pairs at
    every threshold tried (the lemma's zero-false-negative guarantee),
    and its prefix table is strictly smaller than the full shingle
    table (the point of the algorithm); threshold validation raises."""
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.dedup import (
        ngram_jaccard_dedup,
        prefix_filter_dedup,
        shingle_table,
    )

    base = ("the quick brown fox jumps over the lazy dog near the "
            "riverbank while searching for food in the early morning")
    words = base.split()
    rows = []
    for i in range(30):
        w = list(words)
        # mutate i%7 words deterministically -> a spread of Jaccards
        for j in range(i % 7):
            w[(j * 5 + i) % len(w)] = f"tok{i}_{j}"
        rows.append((i, " ".join(w)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    for t in (0.3, 0.5, 0.8):
        exact = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
                 for r in ngram_jaccard_dedup(docs, threshold=t).collect()}
        fast = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
                for r in prefix_filter_dedup(docs, threshold=t).collect()}
        assert fast == exact, f"t={t}"
    assert exact, "fixture produced no similar pairs at t=0.8"

    # the prefix table really is a strict subset of the shingle table
    sh = shingle_table(docs)
    n_all = sh.count()
    t = 0.8
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    n_prefix = (
        sizes.select(
            (F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1).alias("p"))
        .agg(F.sum("p")).collect()[0][0]
    )
    assert n_prefix < n_all / 3   # t=0.8 exposes < a third of shingles

    import pytest
    with pytest.raises(ValueError):
        prefix_filter_dedup(docs, threshold=0.0)


def test_lsh_plan_stats_predicts_band_join_exactly(spark):
    """The planner's pred_candidate_rows equals the ACTUAL pre-distinct
    row count of the band self-join it models, for every config; the
    S-curve threshold and shape columns are right; non-divisor band
    counts raise."""
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.dedup import (
        banded_signatures,
        lsh_plan_stats,
        minhash_signatures,
        shingle_table,
    )

    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lam mu nu xi omicron pi rho sigma tau upsilon").split()
    rows = []
    for i in range(24):
        w = list(words)
        for j in range(i % 5):
            w[(j * 3 + i) % len(w)] = f"tok{i}_{j}"
        rows.append((i, " ".join(w)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(shingle_table(docs), 16, 1)

    plan = {r["bands"]: r for r in
            lsh_plan_stats(sigs, [2, 4, 8, 16], num_hashes=16).collect()}
    assert set(plan) == {2, 4, 8, 16}
    for b, row in plan.items():
        assert row["rows_per_band"] == 16 // b
        assert abs(row["threshold_jaccard"]
                   - (1.0 / b) ** (b / 16.0)) < 1e-12
        banded = banded_signatures(sigs, b, 16)
        a = banded.select(F.col("id").alias("id_a"), "band_hash")
        bb = banded.select(F.col("id").alias("id_b"), "band_hash")
        actual = (a.join(bb, "band_hash")
                  .where(F.col("id_a") < F.col("id_b")).count())
        assert row["pred_candidate_rows"] == actual, f"bands={b}"
        assert row["max_bucket"] >= 2  # planted near-dups collide
    # more bands -> lower threshold (the S-curve moves left)
    thrs = [plan[b]["threshold_jaccard"] for b in (2, 4, 8, 16)]
    assert thrs == sorted(thrs, reverse=True)

    import pytest
    with pytest.raises(ValueError):
        lsh_plan_stats(sigs, [3], num_hashes=16)


def test_textrank_keywords_ranks_hub_tokens(spark):
    """Hub tokens of the co-occurrence graph outrank peripheral ones; an
    isolated single-token doc keeps exactly the teleport mass; docs with
    no candidate tokens are absent; a connected graph conserves rank mass
    (sum = 1); rn is a contiguous 1..k ranking ordered by rank desc."""
    import pytest

    from crawl4ai_custom_spark.operators.textstats import textrank_keywords

    rows = [
        (1, "graph rank graph rank walk graph rank node walk node"),
        (2, "solo"),
        (3, "to ab cd"),  # nothing >= min_len
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = textrank_keywords(docs, window=2, iterations=3, top_k=10).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append(r)
    assert set(by_doc) == {1, 2}

    d2 = by_doc[2]
    assert [r["token"] for r in d2] == ["solo"]
    assert abs(d2[0]["rank"] - 0.15) < 1e-9  # (1-d)/n with n=1, no edges

    d1 = sorted(by_doc[1], key=lambda r: r["rn"])
    assert [r["rn"] for r in d1] == list(range(1, len(d1) + 1))
    ranks = [r["rank"] for r in d1]
    assert ranks == sorted(ranks, reverse=True)
    assert d1[0]["token"] in {"graph", "rank"}  # the two hubs
    assert {r["token"] for r in d1} == {"graph", "rank", "walk", "node"}
    assert abs(sum(ranks) - 1.0) < 1e-6  # connected graph conserves mass

    # top_k truncates
    top2 = textrank_keywords(docs, window=2, iterations=3, top_k=2)
    assert top2.where(F.col("id") == 1).count() == 2

    with pytest.raises(ValueError):
        textrank_keywords(docs, window=0)
    with pytest.raises(ValueError):
        textrank_keywords(docs, iterations=0)
    with pytest.raises(ValueError):
        textrank_keywords(docs, damping=1.0)


def test_textrank_sentences_extracts_central_sentences(spark):
    """Sentences sharing vocabulary with the rest of the document outrank
    a lexical outlier; positions survive so the summary re-emits in doc
    order; sentences below min_tokens and docs with no qualifying
    sentences are absent; validation raises."""
    import pytest

    from crawl4ai_custom_spark.operators.textstats import textrank_sentences

    rows = [
        (1, "The crawler fetches pages from the web. "
            "The crawler parses pages into markdown text. "
            "The crawler ranks pages by their link score. "
            "Bananas taste like yellow fruit!"),
        (2, "Hi. Ok. No."),  # every sentence below min_tokens
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = textrank_sentences(docs, iterations=3, top_k=3).collect()
    assert {r["id"] for r in out} == {1}

    d1 = sorted(out, key=lambda r: r["rn"])
    assert [r["rn"] for r in d1] == [1, 2, 3]
    ranks = [r["rank"] for r in d1]
    assert ranks == sorted(ranks, reverse=True)
    # the banana outlier shares no vocabulary -> never in the top 3 of 4
    assert {r["sidx"] for r in d1} == {0, 1, 2}
    assert all(r["sentence"].startswith("The crawler") for r in d1)

    with pytest.raises(ValueError):
        textrank_sentences(docs, min_tokens=1)
    with pytest.raises(ValueError):
        textrank_sentences(docs, iterations=0)


def test_blocklist_scan_word_boundaries_and_phrases(spark):
    """Whole-word semantics (no substring hits), multi-word phrases,
    longest-first overlap preference, case-insensitivity, occurrence
    counting — and the whole scan is a shuffle-free projection."""
    import pytest

    from crawl4ai_custom_spark.operators.textstats import blocklist_scan

    rows = [
        (1, "We vectorize the loop."),            # substring only -> clean
        (2, "A Vector and a vector again."),      # 2 hits, case-folded
        (3, "the hash join beats hash joins"),    # phrase + its prefix
        (4, "totally clean text"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           blocklist_scan(docs, ["hash join", "vector", "hash"]).collect()}
    assert out[1]["blocklist_keep"] and out[1]["blocklist_hits"] == []
    assert out[2]["n_blocklist_hits"] == 2
    assert out[2]["blocklist_hits"] == ["vector"]
    # "hash join" wins over "hash" at the overlap; second "hash" (of
    # "hash joins") still matches the shorter term
    assert out[3]["blocklist_hits"] == ["hash", "hash join"]
    assert out[3]["n_blocklist_hits"] == 2
    assert not out[3]["blocklist_keep"]
    assert out[4]["blocklist_keep"]

    plan = blocklist_scan(docs, ["vector"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan  # pure codegen projection

    with pytest.raises(ValueError):
        blocklist_scan(docs, [])
    with pytest.raises(ValueError):
        blocklist_scan(docs, ["bad|regex"])


def test_blocklist_scan_join_matches_regex_path(spark):
    """The broadcast-dictionary path agrees with the alternation-regex
    path wherever their boundary conventions coincide (single-spaced
    text): same hits, counts, keeps — including greedy longest-first
    overlap resolution — on a randomized corpus with overlapping terms."""
    import random

    from crawl4ai_custom_spark.operators.textstats import (
        blocklist_scan, blocklist_scan_join)

    vocab = ["alpha", "beta", "gamma", "delta", "x9", "clean"]
    terms = ["alpha beta", "beta gamma", "beta", "gamma delta x9", "delta"]
    rng = random.Random(42)
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
        for i in range(40)
    ] + [(40, ""), (41, "ALPHA Beta beta GAMMA delta X9")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    rx = {r["doc_id"]: r for r in blocklist_scan(docs, terms).collect()}
    jn = {r["doc_id"]: r for r in blocklist_scan_join(docs, terms).collect()}
    assert set(rx) == set(jn)
    for i in rx:
        assert jn[i]["blocklist_hits"] == rx[i]["blocklist_hits"], (i, rows[i])
        assert jn[i]["n_blocklist_hits"] == rx[i]["n_blocklist_hits"], i
        assert jn[i]["blocklist_keep"] == rx[i]["blocklist_keep"], i


def test_blocklist_scan_join_token_semantics_and_plan(spark):
    """Token-level robustness the surface regex lacks (phrases match
    across newlines / runs of whitespace / underscores), greedy overlap
    resolution, validation, and the broadcast-dictionary plan shape."""
    import pytest

    from crawl4ai_custom_spark.operators.textstats import blocklist_scan_join

    rows = [
        (1, "hash\n  join here"),         # phrase across newline+spaces
        (2, "a_vector_b"),                # underscore is a boundary here
        (3, "aa bb cc"),                  # overlap: "aa bb" beats "bb cc"
        (4, "vectorize nothing"),         # substring only -> clean
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in blocklist_scan_join(
        docs, ["hash join", "vector", "aa bb", "bb cc", "bb"]).collect()}
    assert out[1]["blocklist_hits"] == ["hash join"]
    assert out[2]["blocklist_hits"] == ["vector"]
    assert out[3]["blocklist_hits"] == ["aa bb"]
    assert out[3]["n_blocklist_hits"] == 1
    assert out[4]["blocklist_keep"]

    plan = blocklist_scan_join(docs, ["hash join"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the dictionary ships, docs stay

    with pytest.raises(ValueError):
        blocklist_scan_join(docs, [])
    with pytest.raises(ValueError):
        blocklist_scan_join(docs, ["don't"])


def test_winnow_fingerprints_guarantee_and_density(spark):
    """Winnowing invariants: case/punctuation-insensitive (identical
    squashed text -> identical fingerprints); the w+k-1 guarantee (a
    shared substring of that length always yields a shared fingerprint);
    density ~2/(w+1); short/empty texts degrade gracefully; parameter
    validation."""
    from crawl4ai_custom_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_matches,
    )

    shared = "zqvxkjwpbfmg"          # rare 12-char block (w+k-1 = 8+5-1)
    docs = spark.createDataFrame([
        (1, "The quick brown fox jumps over the lazy dog!"),
        (2, "the QUICK, brown fox JUMPS over the lazy dog"),
        (3, f"alpha beta {shared} gamma delta unrelated tail one"),
        (4, f"totally other words {shared} and different everything"),
        (5, "no overlap with anything else whatsoever in here"),
        (6, "ab"),                   # shorter than k -> no fingerprints
        (7, ""),                     # empty
        (8, "abcdefg"),              # 3 grams < window -> one window
    ], ["doc_id", "text"])
    fp = winnow_fingerprints(docs, k=5, window=4)
    by = {}
    for r in fp.collect():
        by.setdefault(r["id"], set()).add((r["fp_hash"], r["pos"]))

    assert by[1] == by[2]                      # squash-identical
    assert 6 not in by and 7 not in by         # too short / empty
    assert len(by[8]) == 1                     # single short window

    # guarantee: docs 3 and 4 share a >= w+k-1 char substring (after
    # squashing) -> at least one common fingerprint HASH
    h3 = {h for h, _ in by[3]}
    h4 = {h for h, _ in by[4]}
    assert h3 & h4, "shared-substring guarantee violated"
    h5 = {h for h, _ in by[5]}
    assert not (h3 & h5)                       # unrelated docs don't

    # density: ~2/(w+1) of grams, loosely bounded
    import re
    n_grams = len(re.sub(r"[^a-z0-9]", "",
                         docs.collect()[0]["text"].lower())) - 4
    assert n_grams * 0.15 <= len(by[1]) <= n_grams * 0.75

    m = {(r["id_a"], r["id_b"]): r["n_shared"]
         for r in winnow_matches(fp, min_shared=1).collect()}
    assert m[(1, 2)] == len({h for h, _ in by[1]})   # all fps shared
    assert (3, 4) in m and (1, 5) not in m

    import pytest
    with pytest.raises(ValueError):
        winnow_fingerprints(docs, k=1)
    with pytest.raises(ValueError):
        winnow_fingerprints(docs, window=0)


def test_winnow_matches_equal_set_intersection(spark):
    """On 513 docs the fingerprint join gives the pairs a plain set
    intersection gives. Docs 2j and 2j+1 share two fingerprints, the four
    docs of a quad share one."""
    from crawl4ai_custom_spark.operators.dedup import winnow_matches

    rows = [(d, h) for d in range(513)
            for h in (10_000 + d, 20_000 + d // 2, 30_000 + d // 4)]
    fp = spark.createDataFrame(rows, "id long, fp_hash long")
    by = {}
    for d, h in rows:
        by.setdefault(d, set()).add(h)
    for min_shared in (1, 2):
        want = sorted(
            (a, b, len(by[a] & by[b]))
            for a in by for b in by
            if a < b and len(by[a] & by[b]) >= min_shared)
        got = winnow_matches(fp, min_shared=min_shared)
        assert sorted(map(tuple, got.collect())) == want


def test_fuzzy_term_pairs_exact_vs_bruteforce(spark):
    """Deletion-neighborhood fuzzy join equals brute-force Levenshtein<=1
    on a fixture covering substitution/insertion/deletion/identity/
    distance-2 rejects; min_len excludes short terms."""
    import itertools

    from crawl4ai_custom_spark.operators.textstats import fuzzy_term_pairs

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    vocab = ["crawl", "crawls", "craal", "trawl", "crwl", "totally",
             "spider", "spiter", "spidery", "ab", "abc", "abd",
             "mirror", "mirrors", "mirrro"]
    terms = spark.createDataFrame([(t,) for t in vocab], ["term"])
    got = sorted((r["term_a"], r["term_b"])
                 for r in fuzzy_term_pairs(terms, min_len=3).collect())
    keep = [t for t in vocab if len(t) >= 3]
    expect = sorted((a, b) for a, b in
                    itertools.combinations(sorted(set(keep)), 2)
                    if lev(a, b) <= 1)
    assert got == expect
    assert ("abc", "abd") in got          # substitution
    assert ("crawl", "crawls") in got     # insertion
    assert ("craal", "crwl") not in got   # distance 2 rejected
    assert all("ab" not in p for p in got)  # min_len enforced


def test_ddsketch_guarantee_merge_and_sentinels(spark):
    """DDSketch: (a) every quantile answer is within alpha relative error
    of the exact rank item; (b) sketch(A++B) == merge(sketch(A),
    sketch(B)) row-for-row; (c) zeros/negatives land in sentinel buckets
    and reconstruct as 0.0 / NULL; (d) collapse keeps upper quantiles."""
    import random

    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.sketches import (
        _DD_NEG_BUCKET,
        _DD_ZERO_BUCKET,
        ddsketch,
        ddsketch_collapse,
        ddsketch_merge,
        ddsketch_quantiles,
    )

    rng = random.Random(7)
    vals = [rng.lognormvariate(5.0, 2.0) for _ in range(4000)]
    alpha = 0.02
    df = spark.createDataFrame([(v,) for v in vals], "x double").coalesce(4)

    sk = ddsketch(df, "x", alpha=alpha)
    qs = [0.01, 0.25, 0.5, 0.75, 0.9, 0.99]
    out = {r["q"]: r for r in ddsketch_quantiles(sk, qs, alpha=alpha).collect()}
    s = sorted(vals)
    n = len(s)
    for q in qs:
        exact = s[int(1 + q * (n - 1)) - 1]
        est = out[q]["est"]
        assert out[q]["n_total"] == n
        assert abs(est - exact) / exact <= alpha + 1e-9, (q, est, exact)

    # (b) merge equivalence, exact
    a = spark.createDataFrame([(v,) for v in vals[:2500]], "x double")
    b = spark.createDataFrame([(v,) for v in vals[2500:]], "x double")
    merged = ddsketch_merge(ddsketch(a, "x", alpha=alpha),
                            ddsketch(b, "x", alpha=alpha))
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, sk.collect()))

    # (c) sentinels: zeros -> 0.0, negatives -> NULL, nothing dropped
    mixed = spark.createDataFrame(
        [(-5.0,), (-1.0,), (0.0,), (0.0,), (0.0,), (2.0,), (8.0,)],
        "x double")
    msk = ddsketch(mixed, "x", alpha=alpha)
    rows = {r["bucket"]: r["cnt"] for r in msk.collect()}
    assert rows[_DD_NEG_BUCKET] == 2 and rows[_DD_ZERO_BUCKET] == 3
    assert sum(rows.values()) == 7
    mq = {r["q"]: r for r in
          ddsketch_quantiles(msk, [0.05, 0.5, 0.95, 1.0], alpha=alpha).collect()}
    assert mq[0.05]["est"] is None            # rank 1 -> negative bucket
    assert mq[0.5]["est"] == 0.0              # rank 4 -> zero bucket
    assert abs(mq[0.95]["est"] - 2.0) / 2.0 <= alpha   # rank 6 of 7 -> 2.0
    assert abs(mq[1.0]["est"] - 8.0) / 8.0 <= alpha    # rank 7 -> the max

    # (d) collapse: tail folds, upper quantiles keep the guarantee
    coll = ddsketch_collapse(sk, max_buckets=128)
    n_buckets = coll.count()
    assert n_buckets <= 128
    cq = {r["q"]: r["est"] for r in
          ddsketch_quantiles(coll, [0.9, 0.99], alpha=alpha).collect()}
    for q in (0.9, 0.99):
        exact = s[int(1 + q * (n - 1)) - 1]
        assert abs(cq[q] - exact) / exact <= alpha + 1e-9

    # grouped path: per-group totals independent
    g = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 101)]
        + [("b", float(1000 + i)) for i in range(1, 11)],
        "grp string, x double")
    gq = ddsketch_quantiles(ddsketch(g, "x", alpha=alpha, group_cols=["grp"]),
                            [0.5], alpha=alpha, group_cols=["grp"])
    got = {r["grp"]: r for r in gq.collect()}
    assert got["a"]["n_total"] == 100 and got["b"]["n_total"] == 10
    assert abs(got["a"]["est"] - 50.0) / 50.0 <= alpha
    assert abs(got["b"]["est"] - 1005.0) / 1005.0 <= alpha


def test_triangle_stats_and_k_core_closed_form(spark):
    """Triangles: K4 + pendant — clique nodes have 3 triangles each
    (clustering 1.0 at degree 3, 0.5 at the degree-4 attachment), the
    pendant has none; direction/duplicate edges don't change counts.
    k-core: the 3-core of K4 + a tail is exactly the K4; a too-deep core
    is empty; peeling cascades down the tail for k=2."""
    from crawl4ai_custom_spark.operators.linkgraph import k_core, triangle_stats

    k4 = [(a, b) for a in "pqrs" for b in "pqrs" if a < b]
    # pendant chain s - t - u, plus a reversed duplicate edge (noise)
    edges = spark.createDataFrame(
        k4 + [("s", "t"), ("t", "u"), ("q", "p")],
        "src string, dst string")

    tri = {r["node"]: r for r in triangle_stats(edges).collect()}
    for n in "pqr":
        assert tri[n]["degree"] == 3 and tri[n]["triangles"] == 3
        assert abs(tri[n]["clustering"] - 1.0) < 1e-12
    assert tri["s"]["degree"] == 4 and tri["s"]["triangles"] == 3
    assert abs(tri["s"]["clustering"] - 0.5) < 1e-12
    assert tri["t"]["triangles"] == 0 and tri["t"]["clustering"] == 0.0
    assert tri["u"]["degree"] == 1 and tri["u"]["clustering"] == 0.0
    assert sum(r["triangles"] for r in tri.values()) == 3 * 4  # 4 triangles

    core3 = {r["node"]: r["core_degree"] for r in
             k_core(edges, k=3).collect()}
    assert core3 == {"p": 3, "q": 3, "r": 3, "s": 3}
    assert k_core(edges, k=4).count() == 0
    core2 = {r["node"] for r in k_core(edges, k=2).collect()}
    assert core2 == {"p", "q", "r", "s"}  # the tail peels off in cascade


def test_psi_drift_closed_form_and_identity(spark):
    """PSI of an epoch against itself is 0 on every bucket; a planted
    shift produces exactly the hand-computed smoothed terms."""
    import math

    from crawl4ai_custom_spark.operators.textstats import psi_drift

    a = spark.createDataFrame([(10.0,), (10.0,), (50.0,), (90.0,)], "v double")
    # identity: identical epochs -> every psi/kl term exactly 0
    same = psi_drift(a, a, "v", [25.0, 75.0]).collect()
    assert all(r["psi_term"] == 0.0 and r["kl_term"] == 0.0 for r in same)
    total = [r for r in same if r["bucket"] == -1]
    assert len(total) == 1 and total[0]["n_a"] == 4

    # planted shift: b moves the two low docs into the top bucket
    b = spark.createDataFrame([(80.0,), (80.0,), (50.0,), (90.0,)], "v double")
    rows = {r["bucket"]: r for r in psi_drift(a, b, "v", [25.0, 75.0]).collect()}
    # buckets: a -> {0:2, 1:1, 2:1}; b -> {0:0, 1:1, 2:3}; smoothing .5, B=3
    def p(n, tot):
        return (n + 0.5) / (tot + 1.5)
    for bk, (na, nb) in {0: (2, 0), 1: (1, 1), 2: (1, 3)}.items():
        pa, pb = p(na, 4), p(nb, 4)
        assert rows[bk]["n_a"] == na and rows[bk]["n_b"] == nb
        assert abs(rows[bk]["psi_term"] - (pa - pb) * math.log(pa / pb)) < 1e-12
        assert abs(rows[bk]["kl_term"] - pa * math.log(pa / pb)) < 1e-12
    assert rows[-1]["psi_term"] > 0  # drift detected
    assert abs(rows[-1]["psi_term"]
               - sum(rows[k]["psi_term"] for k in (0, 1, 2))) < 1e-12


def test_cluster_pairs_star_matches_propagation(spark, tmp_path,
                                                force_distributed):
    """Large-star/small-star CC equals min-label propagation on a graph
    mixing a mega-hub (skew), a long chain (diameter >> rounds), and
    isolated pairs — and roots map to themselves."""
    import random

    from crawl4ai_custom_spark.operators.dedup import (
        cluster_pairs,
        cluster_pairs_star,
    )

    rng = random.Random(7)
    pairs = []
    pairs += [(1000, 1000 + i) for i in range(1, 60)]      # hub star
    pairs += [(2000 + i, 2000 + i + 1) for i in range(40)]  # 41-node chain
    pairs += [(3000 + 2 * i, 3001 + 2 * i) for i in range(10)]  # couples
    pairs += [(rng.randrange(4000, 4040), rng.randrange(4000, 4040))
              for _ in range(30)]                          # random blob
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")

    star = {(r["id"], r["cluster_id"]) for r in cluster_pairs_star(
        df, checkpoint_dir=str(tmp_path / "star")).collect()}
    with force_distributed():
        prop_df = cluster_pairs(df, max_iters=60,
                                checkpoint_dir=str(tmp_path / "prop"))
    prop = {(r["id"], r["cluster_id"]) for r in prop_df.collect()}
    assert star == prop
    roots = {c for _, c in star}
    assert all((c, c) in star for c in roots)  # roots self-labelled
    # chain collapses to its minimum despite diameter 40
    assert all((2000 + i, 2000) in star for i in range(41))


def test_poisson_bootstrap_determinism_and_ci(spark):
    """Replicate weights are mean~1 Poisson draws: totals hover around
    the full-data total; the CI brackets the true mean, is deterministic
    across calls, and exact-selection ranks match a local replay."""
    from crawl4ai_custom_spark.operators.sketches import (
        POISSON1_CUM_T60,
        bootstrap_mean_ci,
        bootstrap_replicate_stats,
    )

    rows = [(i, 100 + (i * 37) % 50) for i in range(400)]
    df = spark.createDataFrame(rows, "id bigint, x bigint")
    reps = bootstrap_replicate_stats(df, "x", "id", n_reps=16).collect()
    assert len(reps) == 16
    true_total = sum(x for _, x in rows)
    for r in reps:
        assert 0.75 * 400 < r["n_eff"] < 1.25 * 400      # Poisson(1) mass
        assert 0.75 * true_total < r["total"] < 1.25 * true_total
        assert abs(r["mean"] - r["total"] / r["n_eff"]) < 1e-12
    # deterministic: a second run returns identical replicate sums
    again = bootstrap_replicate_stats(df, "x", "id", n_reps=16).collect()
    assert sorted((r["rep"], r["total"]) for r in reps) == \
        sorted((r["rep"], r["total"]) for r in again)
    # local replay of the weight rule reproduces replicate 3 exactly
    import hashlib
    rep3_n = rep3_t = 0
    for i, x in rows:
        u = int(hashlib.md5(f"{i}:3:boot".encode()).hexdigest()[:15], 16)
        w = sum(u >= t for t in POISSON1_CUM_T60)
        rep3_n += w
        rep3_t += w * x
    got3 = next(r for r in reps if r["rep"] == 3)
    assert (got3["n_eff"], got3["total"]) == (rep3_n, rep3_t)

    ci = bootstrap_mean_ci(df, "x", "id", n_reps=16).collect()[0]
    true_mean = true_total / 400
    assert ci["n"] == 400 and abs(ci["mean"] - true_mean) < 1e-9
    assert ci["ci_lo"] <= ci["mean"] <= ci["ci_hi"]
    means = sorted(r["mean"] for r in reps)
    assert ci["ci_lo"] == means[int(0.025 * 15)]
    assert ci["ci_hi"] == means[int(0.975 * 15)]


def test_script_profile_detection_and_tiebreak(spark):
    from crawl4ai_custom_spark.operators.textstats import script_profile

    docs = spark.createDataFrame(
        [(0, "hello world"),            # pure latin
         (1, "привет мир"),             # pure cyrillic
         (2, "中文 content here"),       # mixed, latin majority
         (3, "!!! 123 ..."),            # no scripted letters at all
         (4, "ab вг")],                 # exact tie latin/cyrillic -> cyrillic
        "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in script_profile(docs).collect()}
    assert out[0]["dominant_script"] == "latin" and out[0]["script_frac"] == 1.0
    assert out[1]["dominant_script"] == "cyrillic"
    assert out[2]["dominant_script"] == "latin" and out[2]["n_cjk"] == 2
    assert out[3]["dominant_script"] is None and out[3]["script_frac"] is None
    assert out[4]["dominant_script"] == "cyrillic"  # alphabetical tie-break
    assert out[4]["script_frac"] == 0.5


def test_bbit_minhash_pack_roundtrip_and_estimate(spark):
    """Packing is lossless for the low b bits; identical docs estimate
    J=1, unrelated docs estimate near the collision baseline; accuracy
    tracks exact Jaccard on planted overlaps."""
    from crawl4ai_custom_spark.operators.dedup import (
        bbit_agreement,
        bbit_pack_signatures,
        minhash_signatures,
        shingle_table,
    )

    base = " ".join(f"w{i}" for i in range(60))
    half = " ".join(f"w{i}" for i in range(30)) + " " + \
        " ".join(f"x{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, half), (3, "totally different words "
          + " ".join(f"z{i}" for i in range(50)))],
        "doc_id bigint, text string")
    sigs = minhash_signatures(shingle_table(docs), num_hashes=32)
    bs = bbit_pack_signatures(sigs, b=2, num_hashes=32)
    # 32 hashes x 2 bits -> 2 packed longs (30 per group), all within 60 bits
    row = bs.where(F.col("id") == 0).collect()[0]
    assert len(row["bsig"]) == 2
    assert all(0 <= v < (1 << 60) for v in row["bsig"])
    # unpack equals direct low bits of the raw signature
    raw = sigs.where(F.col("id") == 0).collect()[0]["sig"]
    unpacked = [(row["bsig"][i // 30] >> ((i % 30) * 2)) & 3
                for i in range(32)]
    assert unpacked == [h & 3 for h in raw]

    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "id_a bigint, id_b bigint")
    got = {(r["id_a"], r["id_b"]): r
           for r in bbit_agreement(pairs, bs, b=2, num_hashes=32).collect()}
    assert got[(0, 1)]["n_match"] == 32 and got[(0, 1)]["est_jaccard"] == 1.0
    assert got[(0, 2)]["est_jaccard"] > got[(0, 3)]["est_jaccard"]
    assert got[(0, 3)]["match_frac"] < 0.6  # near the 0.25 baseline + noise


def test_dedup_keepers_quality_policy(spark, tmp_path):
    """Highest-quality member survives (tie -> min id); isolated docs are
    their own keeper; null quality loses; cluster_id stays min-id."""
    from crawl4ai_custom_spark.operators.dedup import dedup_keepers

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, None), (9, 0.1)],
        "doc_id bigint, quality double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a bigint, id_b bigint")
    out = {r["doc_id"]: r for r in dedup_keepers(
        docs, pairs, quality_col="quality",
        checkpoint_dir=str(tmp_path)).collect()}
    assert all(out[i]["cluster_id"] == 1 for i in (1, 2, 3, 4))
    assert [i for i in (1, 2, 3, 4) if out[i]["is_keeper"]] == [2]
    assert out[9]["is_keeper"] and out[9]["cluster_id"] == 9
    # default policy unchanged: min id wins
    out2 = {r["doc_id"]: r["is_keeper"] for r in dedup_keepers(
        docs, pairs, checkpoint_dir=str(tmp_path / "d")).collect()}
    assert out2 == {1: True, 2: False, 3: False, 4: False, 9: True}


def test_calibration_report_perfect_and_miscalibrated(spark):
    from crawl4ai_custom_spark.operators.corpusmix import calibration_report

    # perfectly calibrated: in each bin, frac_pos == avg_score exactly
    rows = []
    for b in range(4):
        s = b / 4 + 0.125                  # bin centers at 2 bins/..
        pos = int(s * 8)
        rows += [(s, True)] * pos + [(s, False)] * (8 - pos)
    df = spark.createDataFrame(rows, "s double, y boolean")
    out = {r["bin"]: r for r in
           calibration_report(df, "s", "y", n_bins=4).collect()}
    for b in range(4):
        assert abs(out[b]["gap"]) < 1e-12
    assert abs(out[-1]["gap"]) < 1e-12     # ECE == 0
    assert out[-1]["n"] == 32

    # overconfident: scores 0.9, but only 25% positive -> ECE = 0.65
    df2 = spark.createDataFrame(
        [(0.9, i % 4 == 0) for i in range(20)], "s double, y boolean")
    out2 = {r["bin"]: r for r in
            calibration_report(df2, "s", "y", n_bins=10).collect()}
    assert out2[9]["n"] == 20
    assert abs(out2[-1]["gap"] - 0.65) < 1e-9
    # clamping: out-of-range scores land in edge bins
    df3 = spark.createDataFrame([(-0.2, False), (1.7, True)],
                                "s double, y boolean")
    out3 = {r["bin"]: r["n"] for r in
            calibration_report(df3, "s", "y", n_bins=10).collect()
            if r["bin"] >= 0}
    assert out3 == {0: 1, 9: 1}


def test_share_gini_and_diversity_closed_form(spark):
    import math

    from crawl4ai_custom_spark.operators.linkgraph import (
        share_diversity,
        share_gini,
    )

    # perfectly equal: gini 0; max diversity: effective == n_groups
    eq = spark.createDataFrame([(f"h{i % 4}",) for i in range(40)],
                               "host string")
    g = share_gini(eq, "host").collect()[0]
    assert g["n_groups"] == 4 and abs(g["gini"]) < 1e-12
    dv = share_diversity(eq, "host").collect()[0]
    assert abs(dv["shannon"] - math.log(4)) < 1e-12
    assert abs(dv["effective_groups"] - 4.0) < 1e-9
    assert abs(dv["simpson"] - 0.25) < 1e-12

    # total concentration: one host has everything but epsilon
    sk = spark.createDataFrame([("big",)] * 97 + [("a",), ("b",), ("c",)],
                               "host string")
    gs = share_gini(sk, "host").collect()[0]
    # hand Gini: x asc = [1,1,1,97], n=4, sum=100
    hand = sum((2 * i - 4 - 1) * x
               for i, x in enumerate([1, 1, 1, 97], start=1)) / (4 * 100)
    assert abs(gs["gini"] - hand) < 1e-12
    dvs = share_diversity(sk, "host").collect()[0]
    assert dvs["effective_groups"] < 1.3  # behaves like ~1 source

    # weighted path equals pre-aggregated counts
    wdf = spark.createDataFrame(
        [("x", 10), ("x", 30), ("y", 60)], "host string, w bigint")
    gw = share_gini(wdf, "host", weight_col="w").collect()[0]
    hand_w = sum((2 * i - 2 - 1) * x
                 for i, x in enumerate([40, 60], start=1)) / (2 * 100)
    assert abs(gw["gini"] - hand_w) < 1e-12


def test_decontaminate_bloom_equals_broadcast_path(spark, tmp_path):
    """The bloom-prefiltered path is exact: identical output to the
    broadcast path even with a deliberately tiny, collision-prone bloom
    (false positives must die in the verify join)."""
    from crawl4ai_custom_spark.operators.decontam import (
        decontaminate,
        decontaminate_bloom,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} delta epsilon zeta eta theta")
         for i in range(60)] +
        [(100, "totally clean words nowhere near any benchmark")],
        "doc_id bigint, text string")
    bench = spark.createDataFrame(
        [(0, "gamma doc7 delta epsilon"), (1, "beta gamma doc13")],
        "doc_id bigint, text string")
    a = {(r["doc_id"], r["n_contaminated_grams"], r["contaminated"])
         for r in decontaminate(docs, bench, n=3).collect()}
    b = {(r["doc_id"], r["n_contaminated_grams"], r["contaminated"])
         for r in decontaminate_bloom(
             docs, bench, n=3, bloom_partitions=2,
             capacity_per_partition=32,   # saturated -> high fp pressure
             fp_rate=0.2, state_dir=str(tmp_path)).collect()}
    assert a == b
    assert any(c for _, _, c in a)          # something was contaminated
    assert (100, 0, False) in a             # and the clean doc is clean


def test_lpa_communities_two_cliques(spark, tmp_path):
    """Two 4-cliques joined by one bridge edge: after a few rounds every
    clique member carries its clique's minimum label; determinism: two
    runs agree."""
    from itertools import combinations

    from crawl4ai_custom_spark.operators.linkgraph import lpa_communities

    c1 = list(combinations([0, 1, 2, 3], 2))
    c2 = list(combinations([10, 11, 12, 13], 2))
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)],
                                  "src bigint, dst bigint")
    out = {r["node"]: r["label"] for r in lpa_communities(
        edges, rounds=4, checkpoint_dir=str(tmp_path / "a")).collect()}
    assert len(out) == 8
    # clique 1 converges to label 0 everywhere; clique 2 to 10 (the
    # bridge may pull node 3/10, but core members are stable)
    assert out[0] == out[1] == out[2] == 0
    assert out[11] == out[12] == out[13] == 10
    again = {r["node"]: r["label"] for r in lpa_communities(
        edges, rounds=4, checkpoint_dir=str(tmp_path / "b")).collect()}
    assert out == again


def test_capture_timeline_collapses_runs_exactly(spark):
    """CDX digest dedup: runs of identical consecutive digests collapse
    to one version row; a digest RECURRING after a change starts a new
    version (it is run-length collapse, not distinct-digest dedup); null
    digests participate as empty string; ts ties break by digest."""
    import datetime as dt

    from crawl4ai_custom_spark.operators.recrawl import capture_timeline

    t0 = dt.datetime(2024, 1, 1)
    day = dt.timedelta(days=1)
    rows = [
        # url a: A A B B A  -> versions A(2), B(2), A(1)
        ("a", t0 + 0 * day, "A"), ("a", t0 + 1 * day, "A"),
        ("a", t0 + 2 * day, "B"), ("a", t0 + 3 * day, "B"),
        ("a", t0 + 4 * day, "A"),
        # url b: single capture, null digest -> one version, digest ""
        ("b", t0, None),
        # url c: tie at same ts, digests differ -> ordered X then Y
        ("c", t0, "Y"), ("c", t0, "X"),
    ]
    out = capture_timeline(
        spark.createDataFrame(rows, "url string, ts timestamp, digest string")
    ).orderBy("url", "version").collect()
    a = [r for r in out if r["url"] == "a"]
    assert [(r["version"], r["digest"], r["n_captures"]) for r in a] == [
        (1, "A", 2), (2, "B", 2), (3, "A", 1)]
    assert a[0]["valid_from"] == t0 and a[0]["last_seen"] == t0 + day
    b = [r for r in out if r["url"] == "b"]
    assert [(r["version"], r["digest"]) for r in b] == [(1, "")]
    c = [r for r in out if r["url"] == "c"]
    assert [(r["version"], r["digest"]) for r in c] == [(1, "X"), (2, "Y")]


def test_cdc_chunks_reassemble_and_survive_edits(spark):
    """CDC invariants: chunks tile the text exactly (contiguous,
    lossless); a local edit changes only the chunks around the edit
    point (the storage-dedup property fixed-size blocks lack); max_len
    splits oversized anchor gaps; empty text yields no row."""
    from crawl4ai_custom_spark.operators.dedup import (
        cdc_chunks, cdc_dedup_stats)

    base = " ".join(f"word{i % 97} token{i % 31}" for i in range(400))
    edited = base[:900] + "XYZZY" + base[900:]   # one insertion mid-text
    docs = spark.createDataFrame(
        [(1, base), (2, edited), (3, "short"), (4, "")],
        "doc_id long, text string")
    ch = cdc_chunks(docs, w=16, mask_bits=5).persist()

    # lossless tiling: per doc, spans are contiguous from 1 to len and
    # lengths sum to len
    import pyspark.sql.functions as SF
    spans = ch.groupBy("id").agg(
        SF.min("chunk_start").alias("mn"),
        SF.sum("chunk_len").alias("total"),
        SF.max(SF.col("chunk_start") + SF.col("chunk_len") - 1).alias("mx"),
        SF.count(SF.lit(1)).alias("n"))
    got = {r["id"]: r for r in spans.collect()}
    assert got[1]["mn"] == 1 and got[1]["total"] == len(base) \
        and got[1]["mx"] == len(base)
    assert got[2]["total"] == len(edited)
    assert got[3]["n"] == 1 and got[3]["total"] == 5   # < w: one chunk
    assert 4 not in got                                # empty: no row
    assert got[1]["n"] > 5                             # actually chunked

    # edit locality: the overwhelming majority of chunk hashes survive
    h1 = {r["chunk_hash"] for r in ch.where("id = 1").collect()}
    h2 = {r["chunk_hash"] for r in ch.where("id = 2").collect()}
    shared = len(h1 & h2)
    assert shared / len(h1) >= 0.8, (shared, len(h1), len(h2))

    # dedup accounting: identical docs dedup ~2x
    twins = spark.createDataFrame(
        [(1, base), (2, base)], "doc_id long, text string")
    st = cdc_dedup_stats(cdc_chunks(twins, w=16, mask_bits=5)).first()
    # identical twin docs dedup at least 2x (slightly more: the periodic
    # fixture also repeats a few chunks WITHIN each doc)
    assert 2 * st["n_distinct"] <= st["n_chunks"]
    assert st["dedup_ratio"] >= 2.0
    ch.unpersist()


def test_cdc_max_len_bound(spark):
    """A run with no anchors (repeated byte) is bounded by max_len."""
    from crawl4ai_custom_spark.operators.dedup import cdc_chunks

    import pyspark.sql.functions as SF
    docs = spark.createDataFrame([(1, "a" * 500)], "doc_id long, text string")
    unsplit = cdc_chunks(docs, w=16, mask_bits=5)
    split = cdc_chunks(docs, w=16, mask_bits=5, max_len=64)
    mx_un = unsplit.agg(SF.max("chunk_len")).first()[0]
    mx_sp = split.agg(SF.max("chunk_len")).first()[0]
    tot = split.agg(SF.sum("chunk_len")).first()[0]
    assert mx_sp <= 64 and tot == 500
    assert mx_un > 64   # the pathological case max_len exists for


def _brute_coreness(pairs):
    """Reference peeling (Batagelj-Zaversnik order): process vertices in
    increasing current degree; core[v] = running max of deg at removal."""
    from collections import defaultdict

    g = defaultdict(set)
    for a, b in pairs:
        if a != b:
            g[a].add(b)
            g[b].add(a)
    deg = {v: len(ns) for v, ns in g.items()}
    remaining = set(g)
    core, k = {}, 0
    while remaining:
        v = min(remaining, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        remaining.discard(v)
        for u in g[v]:
            if u in remaining:
                deg[u] -= 1
    return core


def test_coreness_matches_peeling_and_kcore(spark, tmp_path,
                                            force_distributed):
    """h-index iteration converges to exact coreness (vs a driver peeling
    reference) on a clique+chain+random mix; consistency with k_core:
    {coreness >= k} == k-core membership."""
    from itertools import combinations

    from crawl4ai_custom_spark.operators.linkgraph import coreness, k_core

    pairs = list(combinations([0, 1, 2, 3, 4], 2))          # 5-clique: core 4
    pairs += [(4, 10), (10, 11), (11, 12)]                  # chain: core 1
    pairs += [(i, (i * 7 + 3) % 20 + 100) for i in range(30)]  # organic
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "src bigint, dst bigint")

    want = _brute_coreness(pairs)
    # the parquet-rounds and localCheckpoint distributed paths and the
    # driver twin
    with force_distributed():
        runs = [coreness(edges, checkpoint_dir=str(tmp_path / "c")),
                coreness(edges)]
    runs.append(coreness(edges))
    for run in runs:
        assert {r["node"]: r["coreness"] for r in run.collect()} == want

    kc = {r["node"] for r in k_core(edges, k=4).collect()}
    assert kc == {v for v, c in want.items() if c >= 4} == {0, 1, 2, 3, 4}


def test_colink_similarity_modes_and_fanout_guard(spark):
    """Co-citation pairs come from shared sources, coupling from shared
    targets; salton normalizes by the relevant degree; a mega-fanout hub
    is excluded from pair generation but still normalizes."""
    from crawl4ai_custom_spark.operators.linkgraph import colink_similarity

    edges = [("s1", "a"), ("s1", "b"), ("s2", "a"), ("s2", "b"),
             ("s3", "a"), ("a", "t"), ("b", "t"), ("a", "u"), ("b", "u")]
    # hub: links to everything -> must not mint co-citation pairs
    hub = [("hub", x) for x in ("a", "b", "c", "d", "e")]
    df = spark.createDataFrame(edges + hub, "src string, dst string")

    co = {(r["host_a"], r["host_b"]): r for r in colink_similarity(
        df, mode="cocitation", min_common=2, max_fanout=4).collect()}
    # (a,b) co-cited by s1,s2; (t,u) co-cited by a,b — both real
    assert set(co) == {("a", "b"), ("t", "u")}
    r = co[("a", "b")]
    # common = s1, s2 (hub excluded by max_fanout=4 < 5)
    assert r["common"] == 2
    # in-degrees INCLUDE the hub edge: d_a = 4 (s1,s2,s3,hub), d_b = 3
    import math
    assert abs(r["salton"] - round(2 / math.sqrt(4 * 3) + 1e-9, 6)) < 1e-9

    cp = {(r["host_a"], r["host_b"]): r["common"] for r in colink_similarity(
        df, mode="coupling", min_common=2).collect()}
    # a,b both link to {t,u}; s1,s2 (and hub) all link to {a,b}
    assert cp == {("a", "b"): 2, ("s1", "s2"): 2,
                  ("hub", "s1"): 2, ("hub", "s2"): 2}

    with __import__("pytest").raises(ValueError):
        colink_similarity(df, mode="nope")


def test_minhash_driver_path_matches_distributed(spark, force_distributed):
    """The size-gated driver twins of minhash_lsh_dedup / lsh_plan_stats
    must be bit-identical to the dataflow (integer M31/md5 arithmetic +
    one final division), compared row for row on the same input."""
    from crawl4ai_custom_spark.operators.dedup import (
        lsh_plan_stats,
        minhash_lsh_dedup,
        minhash_signatures,
        shingle_table,
    )

    rows = [(i, f"tok{i % 7} common words here repeated tok{i % 3} "
                f"plus tail {i % 5} and some more filler text ok")
            for i in range(40)] + [(99, None), (100, "")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(shingle_table(docs), 16, 1)
    fast = minhash_lsh_dedup(docs, num_hashes=16, bands=4,
                             jaccard_threshold=0.3)
    fast_plan = lsh_plan_stats(sigs, [2, 4, 8], num_hashes=16)
    # the distributed pipeline with and without its cached shingles
    with force_distributed():
        slow = [minhash_lsh_dedup(docs, num_hashes=16, bands=4,
                                  jaccard_threshold=0.3,
                                  persist_shingles=persist)
                for persist in (False, True)]
        slow_plan = lsh_plan_stats(sigs, [2, 4, 8], num_hashes=16)
    fast_rows = sorted(map(tuple, fast.collect()))
    assert fast_rows
    for run in slow:
        assert fast_rows == sorted(map(tuple, run.collect()))
    assert fast_plan.dtypes == slow_plan.dtypes
    plan_rows = sorted(map(tuple, fast_plan.collect()))
    assert len(plan_rows) == 3
    assert plan_rows == sorted(map(tuple, slow_plan.collect()))


def test_coreness_driver_path_matches_distributed(spark, tmp_path,
                                                  force_distributed):
    """The integer h-index driver twin must equal the distributed
    iteration exactly."""
    from crawl4ai_custom_spark.operators.linkgraph import coreness

    rows = [(i, (i * 7 + 3) % 40) for i in range(200)] + \
           [(i, i + 1) for i in range(40)] + [(0, 2), (2, 4), (0, 4)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in rows if a != b], ["src", "dst"])
    fast = coreness(edges)
    with force_distributed():
        slow = coreness(edges, checkpoint_dir=str(tmp_path / "core"))
    assert sorted(map(tuple, fast.collect())) == \
        sorted(map(tuple, slow.collect()))


def _assert_ranks_close(fast, slow, cols):
    """Same nodes, and every rank column within a relative 1e-12 — the
    _local_ranks contract (a reordered sum of positive terms),
    which no rounding boundary can flip."""
    import math

    a = {r["node"]: [r[c] for c in cols] for r in fast.collect()}
    b = {r["node"]: [r[c] for c in cols] for r in slow.collect()}
    assert a and a.keys() == b.keys()
    for node, vals in a.items():
        for c, x, y in zip(cols, vals, b[node]):
            assert math.isclose(x, y, rel_tol=1e-12), (node, c, x, y)


def _seeded_graph(spark, seed):
    """A tiny random directed graph (duplicate edges and self-loops kept:
    both paths count them) and a seed set with one off-graph id."""
    import random

    rng = random.Random(seed)
    n = rng.randrange(5, 40)
    edges = [(rng.randrange(n), rng.randrange(n))
             for _ in range(rng.randrange(n, 4 * n))]
    seeds = sorted(rng.sample(range(n), rng.randrange(1, 4))) + [10_000]
    return (spark.createDataFrame(edges, "src bigint, dst bigint"),
            spark.createDataFrame([(x,) for x in seeds], "node bigint"))


def test_pagerank_family_driver_path_matches_distributed(
        spark, tmp_path, force_distributed):
    """pagerank/trustrank/spam_mass driver twins vs the distributed
    chains on the same graphs: every rank within a relative 1e-12."""
    from crawl4ai_custom_spark.operators.linkgraph import (
        pagerank, spam_mass, trustrank)

    fixture = spark.createDataFrame(
        [(i, (i * 7 + 1) % 150) for i in range(150)]
        + [(i, (i * 13 + 2) % 150) for i in range(150)],
        ["src", "dst"]).where("src != dst").distinct()
    graphs = [(fixture, spark.range(0, 150, 40).selectExpr("id as node"))]
    graphs += [_seeded_graph(spark, seed) for seed in (1, 2, 3)]
    for g, (edges, seeds) in enumerate(graphs):
        runs = {
            "pr": lambda ckpt=None: pagerank(edges, 3, checkpoint_dir=ckpt),
            "tr": lambda ckpt=None: trustrank(edges, seeds, 3,
                                              checkpoint_dir=ckpt),
            "sm": lambda ckpt=None: spam_mass(edges, seeds, 2,
                                              checkpoint_dir=ckpt),
        }
        fast = {name: run() for name, run in runs.items()}
        # the distributed chains in memory and materialized each round
        with force_distributed():
            slow = [{name: run(ckpt) for name, run in runs.items()}
                    for ckpt in (None, str(tmp_path / f"g{g}"))]
        for dist in slow:
            _assert_ranks_close(fast["pr"], dist["pr"], ["rank"])
            _assert_ranks_close(fast["tr"], dist["tr"], ["rank"])
            _assert_ranks_close(fast["sm"], dist["sm"],
                                ["pagerank", "core_rank"])


def _seed_gate_graph(spark):
    return spark.createDataFrame(
        [(i, (i * 7 + 1) % 60) for i in range(60)], ["src", "dst"]
    ).where("src != dst")


def test_trustrank_seeds_past_gate_run_distributed(spark, monkeypatch,
                                                   force_distributed):
    """With the edges under the driver gate but more distinct seeds than
    it allows, the seed table is never collected whole: trustrank and
    spam_mass run the distributed chain (the driver twin never runs) and
    equal the default gate's driver result."""
    import crawl4ai_custom_spark.operators.linkgraph as lg

    edges = _seed_gate_graph(spark)  # 59 edges
    seeds = spark.range(0, 100).selectExpr("id as node")  # 40 off-graph
    want_tr = lg.trustrank(edges, seeds, 2)
    want_sm = lg.spam_mass(edges, seeds, 1)

    def no_twin(*args, **kwargs):
        raise AssertionError("driver twin ran")

    monkeypatch.setattr(lg, "_local_ranks", no_twin)
    with force_distributed(max_rows=80):
        got_tr = lg.trustrank(edges, seeds, 2)
        got_sm = lg.spam_mass(edges, seeds, 1)
    _assert_ranks_close(want_tr, got_tr, ["rank"])
    _assert_ranks_close(want_sm, got_sm, ["pagerank", "core_rank"])


def test_trustrank_duplicate_seed_rows_count_once_at_gate(
        spark, monkeypatch, force_distributed):
    """The seed gate counts DISTINCT seeds: 200 rows of 10 seeds stay on
    the driver under an 80-row gate and equal the distributed chain."""
    import crawl4ai_custom_spark.operators.linkgraph as lg

    edges = _seed_gate_graph(spark)
    seeds = spark.range(0, 200).selectExpr("(id % 10) * 5 as node")
    with force_distributed():
        want = lg.trustrank(edges, seeds, 2)
    calls = []
    twin = lg._local_ranks

    def counting_twin(*args, **kwargs):
        calls.append(1)
        return twin(*args, **kwargs)

    monkeypatch.setattr(lg, "_local_ranks", counting_twin)
    with force_distributed(max_rows=80):
        got = lg.trustrank(edges, seeds, 2)
    assert calls == [1]
    _assert_ranks_close(got, want, ["rank"])


def test_exact_jaccard_driver_path_matches_distributed(spark,
                                                      force_distributed):
    """prefix_filter_dedup / ngram_jaccard_dedup: the shared driver twin
    equals each distributed pipeline on the same 300 docs."""
    import crawl4ai_custom_spark.operators.dedup as dd

    rows = [(i, f"alpha beta gamma {i % 9} delta epsilon {i % 4} zeta "
                f"eta theta common suffix words here")
            for i in range(300)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for op in (dd.prefix_filter_dedup, dd.ngram_jaccard_dedup):
        twin = sorted(map(tuple, op(docs, threshold=0.6).collect()))
        with force_distributed():
            dist = op(docs, threshold=0.6)
        assert twin and twin == sorted(map(tuple, dist.collect()))
