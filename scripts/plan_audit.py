"""Physical-plan audit: prove the plans are the ones we designed.

Builds each scale-critical plan at fixture size, asserts the markers that
matter at 100 TB (column pruning into the scan, predicate pushdown,
broadcast for small dims, single shuffle for the politeness window),
and writes the annotated excerpts to PLANS.md. Exits non-zero if any
expectation fails.

Usage: python scripts/plan_audit.py
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> None:
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.extraction import extract_pages
    from crawl4ai_custom_spark.operators.politeness import (
        PolitenessConfig,
        admit,
        empty_host_state,
    )
    from crawl4ai_custom_spark.operators.robots import robots_gate
    from crawl4ai_custom_spark.session import get_spark
    from crawl4ai_custom_spark.sources.datagen import write_dataset

    spark = get_spark("plan_audit", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    site = os.path.join(ROOT, ".bench_cache", "site_500")
    if not os.path.exists(os.path.join(site, "pages.parquet")):
        write_dataset(site, n_pages=500, n_domains=12, with_text=False)
    pages = spark.read.parquet(os.path.join(site, "pages.parquet"))
    robots = spark.read.parquet(os.path.join(site, "robots.parquet"))

    sections: list[tuple[str, str, list[tuple[str, str]]]] = []
    failures: list[str] = []

    def audit(title: str, df, expects: list[tuple[str, str]]) -> None:
        """expects: (regex, why-it-matters). Records excerpt + verdicts."""
        p = plan_of(df)
        checks = []
        for pat, why in expects:
            ok = re.search(pat, p) is not None
            checks.append((("PASS" if ok else "FAIL") + f"  `{pat}`", why))
            if not ok:
                failures.append(f"{title}: missing /{pat}/")
        sections.append((title, p, checks))

    # 1. extraction scan: only (url, html) reach the parquet reader
    audit(
        "Extraction stage — column pruning into the scan",
        extract_pages(pages.select("url", "html")),
        [
            (r"ReadSchema: struct<url:string,html:binary>",
             "the scan reads 2 of 5 columns; text/lang/warc_ts never leave parquet"),
            (r"MapInPandas", "one Arrow-batched python stage, no per-row UDF"),
        ],
    )

    # 2. predicate pushdown through the latest-capture view
    audit(
        "Filter pushdown — lang predicate reaches the parquet scan",
        pages.where(F.col("lang") == "en").select("url"),
        [
            (r"PushedFilters: \[.*EqualTo\(lang,en\)",
             "partition/row-group pruning happens in the reader, not in Spark"),
        ],
    )

    # 3. politeness admission: ONE exchange (domain window), host_state broadcast
    fr = pages.select(
        F.col("url").alias("url_canon"),
        F.regexp_extract("url", r"https?://([^/]+)", 1).alias("registrable_domain"),
        F.lit(1).alias("depth"), F.rand(7).alias("score"),
    )
    # a non-empty host_state: Catalyst folds a provably-empty relation and
    # ELIMINATES the join outright, hiding the production join shape
    from crawl4ai_custom_spark.session import local_df
    host_state = local_df(
        spark, [("a.com", 2.0, 0)],
        "registrable_domain string, current_delay double, fail_count int",
    )
    admitted = admit(fr, host_state,
                     PolitenessConfig(wave_seconds=6.0), global_budget=50)
    audit(
        "Politeness admission — broadcast host_state, windowed top-k, global top-k",
        admitted,
        [
            (r"BroadcastHashJoin|BroadcastNestedLoopJoin",
             "host_state (hosts << urls) ships to executors, never shuffles the frontier"),
            (r"RunningWindowFunction|Window", "per-domain budget = window row_number"),
            (r"TakeOrderedAndProject",
             "global budget = distributed top-k (partial per partition), NOT a global sort"),
        ],
    )

    # 4. robots gate: broadcast join on host
    audit(
        "Robots gate — broadcast join",
        robots_gate(fr, robots),
        [(r"BroadcastHashJoin", "robots table is tiny; frontier side never moves")],
    )

    # 5. the crawl wave's real fetch frame: raw captures ⋈ admitted, then
    # the latest capture per admitted url (FrontierEngine._fetch on a wave
    # admitted the engine's way — one partition, ordered by row_number)
    from pyspark.sql import Window

    from crawl4ai_custom_spark.operators.frontier import CrawlConfig, FrontierEngine

    eng = FrontierEngine(spark, pages, robots, CrawlConfig(),
                         checkpoint_dir=tempfile.mkdtemp(prefix="audit_ck_"),
                         out_dir=tempfile.mkdtemp(prefix="audit_out_"))
    seeds = [r["url"] for r in
             spark.read.parquet(os.path.join(site, "seeds.parquet")).collect()]
    wave = eng._admit_wave(eng._seed_frontier(seeds), host_state, 100).withColumn(
        "order_in_wave", F.row_number().over(Window.orderBy(*eng._admission_order())))

    def fetch_audit(title: str, check_html: bool) -> None:
        """Walks the physical plan: the nodes between the latest-capture
        Window and the fetch join, and every shuffle's output columns."""
        df = eng._fetch(wave)
        plan = df._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()

        def kids(n):
            c = n.children()
            return [c.apply(i) for i in range(c.size())]

        node, between = plan, []
        while node.nodeName() != "Window":
            node = kids(node)[0]
        while "Join" not in node.nodeName():
            node = kids(node)[0]
            between.append(node.nodeName())
        shuffles_html, stack = False, [plan]
        while stack:
            n = stack.pop()
            stack.extend(kids(n))
            out = n.output()
            shuffles_html |= n.nodeName() == "Exchange" and any(
                out.apply(i).name() == "html" for i in range(out.size()))
        checks = [(not any("Exchange" in b for b in between),
                   "no Exchange between fetch join and latest-capture Window",
                   "the window keys on url_canon, which the join's output "
                   "already satisfies (one partition when the captures are "
                   f"broadcast, hash(url_canon) when sort-merge): {between}")]
        if check_html:
            checks.append((not shuffles_html, "html side never shuffled",
                           "the captures side is broadcast and the one-partition "
                           "wave is streamed; no shuffle carries html"))
        rows = []
        for ok, label, why in checks:
            rows.append((("PASS  " if ok else "FAIL  ") + label, why))
            if not ok:
                failures.append(f"{title}: {label}")
        sections.append((title, plan_of(df), rows))

    fetch_audit("Crawl wave fetch — captures broadcast, latest capture without "
                "a shuffle", check_html=True)

    # 5a. wave n+1 admits and fetches over the lazy backoff fold of wave n's
    # outcomes into host_state. Over wave 0's empty host_state the fold must
    # be provably empty to the optimizer: an opaque empty relation keeps a
    # keyless full outer join (BroadcastNestedLoopJoin, plus a broadcast job
    # of its own) in every later wave's plan
    from crawl4ai_custom_spark.operators.politeness import fold_wave_outcomes

    outcomes = pages.select(
        F.regexp_extract("url", r"https?://([^/]+)", 1).alias("registrable_domain"),
        F.lit(200).alias("status_code"),
    )
    host_state_1 = fold_wave_outcomes(empty_host_state(spark), outcomes,
                                      eng.cfg.politeness)
    wave_1 = eng._admit_wave(eng._seed_frontier(seeds), host_state_1,
                             100).withColumn(
        "order_in_wave",
        F.row_number().over(Window.orderBy(*eng._admission_order())))
    p = plan_of(eng._fetch(wave_1))
    ok = "BroadcastNestedLoopJoin" not in p
    checks = [(("PASS  " if ok else "FAIL  ") + "no BroadcastNestedLoopJoin",
               "empty_host_state is an empty LocalRelation to Catalyst: wave "
               "0's fold is the outcome aggregate alone, joined to the next "
               "frontier by domain")]
    if not ok:
        failures.append("wave n+1 admission: BroadcastNestedLoopJoin")
    sections.append(("Crawl wave n+1 admission and fetch — over the fold of "
                     "an empty host_state", p, checks))

    # every plan below is audited with automatic broadcast off: a broadcast
    # the plans rely on must come from an explicit hint
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    # 5b. the same fetch once the captures are past the broadcast threshold:
    # the join is sort-merge (the html side shuffles — ROADMAP item 2) and
    # the latest-capture window still adds no Exchange of its own
    fetch_audit("Crawl wave fetch — sort-merge join, latest capture without "
                "a shuffle", check_html=False)

    # 6. salted mega-host admission: two-stage top-k (north rule's explicit
    # skew splitting) — stage 1 windows on (domain, salt) so no single task
    # ever holds a whole mega-host's frontier
    fr = spark.range(2000).select(
        F.concat(F.lit("https://mega.com/p"), F.col("id")).alias("url_canon"),
        F.lit("mega.com").alias("registrable_domain"),
        F.lit(1).alias("depth"),
        (F.col("id") % 97).cast("double").alias("score"),
    )
    audit(
        "Politeness admission — salted two-stage top-k (mega-host skew split)",
        admit(fr, empty_host_state(spark),
              PolitenessConfig(wave_seconds=20.0, salt_partitions=8)),
        [
            (r"pmod\(xxhash64", "salt key = pmod(xxhash64(url)) — stage 1 "
             "partitions each domain 8 ways before the exact pass"),
            (r"(?s)Window.*Window", "two Window operators: salted local "
             "top-k, then the exact per-domain top-k on the pruned rows"),
        ],
    )

    # 7. PII redaction: a pure codegen projection — NO shuffle, NO Python
    from crawl4ai_custom_spark.operators.pii import redact_pii

    docs_small = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text of doc "), F.col("id")).alias("text"),
    )
    p = plan_of(redact_pii(docs_small))
    checks = []
    for ok, label, why in [
        (p.count("Exchange") == 0, "zero Exchange",
         "redaction is a map over the scan — at 100 TB it costs one pass, "
         "no shuffle"),
        ("Python" not in p and "MapInPandas" not in p, "no Python stage",
         "regexp chain runs JVM-side inside whole-stage codegen"),
    ]:
        checks.append((("PASS  " if ok else "FAIL  ") + label, why))
        if not ok:
            failures.append(f"pii redaction: {label}")
    sections.append(("PII redaction — shuffle-free codegen projection", p, checks))

    # 8. decontamination: benchmark grams BROADCAST; corpus side only
    # shuffles for the per-doc overlap count
    from crawl4ai_custom_spark.operators.decontam import decontaminate

    bench_small = docs_small.where(F.col("doc_id") % 50 == 0)
    audit(
        "Decontamination — broadcast benchmark n-gram set",
        decontaminate(docs_small, bench_small, n=3),
        [
            (r"BroadcastHashJoin",
             "benchmark grams (small) ship to executors; the 100 TB corpus "
             "side is never shuffled by the semi-join"),
        ],
    )

    # 9. stratified sampling: a pure scan-level filter — no shuffle, no RNG
    from crawl4ai_custom_spark.operators.textstats import (
        lm_quality_score,
        stratified_sample,
        unigram_lm,
    )

    strat_in = docs_small.withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de")
    )
    p = plan_of(stratified_sample(strat_in, {"en": 0.5, "de": 0.25}))
    checks = []
    ok = p.count("Exchange") == 0
    checks.append((("PASS  " if ok else "FAIL  ") + "zero Exchange",
                   "mixture sampling evaluates at the scan; 100 TB costs "
                   "one filtered pass"))
    if not ok:
        failures.append("stratified sample: zero Exchange")
    sections.append(("Stratified sampling — scan-level hash filter", p, checks))

    # 10. LM scoring: the model ships BROADCAST; the corpus tokens only
    # shuffle once for the per-doc aggregate
    audit(
        "LM quality score — broadcast model join",
        lm_quality_score(docs_small, unigram_lm(bench_small)),
        [
            (r"BroadcastHashJoin|BroadcastNestedLoopJoin",
             "the vocab-sized LM ships to executors; corpus tokens are "
             "never shuffled by the join"),
        ],
    )

    # 11. embedding coverage gaps: the handful of query variations is
    # BROADCAST against the KB scan; per-query max-sim folds through a
    # partial aggregation so the KB (the big side) never shuffles pre-agg
    from crawl4ai_custom_spark.operators.adaptive_embedding import (
        coverage_gaps,
    )

    emb = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.array(*[(F.col("id") % (i + 3)).cast("double")
                  for i in range(8)]).alias("embedding"),
    )
    queries_small = spark.range(6).select(
        F.col("id").alias("query_id"),
        F.array(*[(F.col("id") % (i + 2)).cast("double")
                  for i in range(8)]).alias("embedding"),
    )
    audit(
        "Embedding coverage gaps — broadcast queries, partial max-sim agg",
        coverage_gaps(queries_small, emb),
        [
            (r"BroadcastNestedLoopJoin|BroadcastHashJoin",
             "query variations (~10 rows) ship to executors; the KB scan "
             "is the streamed side"),
            (r"partial_max|HashAggregate.*keys=\[query_id",
             "best-cosine folds map-side before the tiny per-query shuffle"),
        ],
    )

    # 12. fused wave extraction: meta passthrough through ONE python stage —
    # no meta⋈extracted rejoin in the plan
    from crawl4ai_custom_spark.operators.extraction import (
        extract_pages_with_meta,
    )

    fused_in = spark.range(100).select(
        F.concat(F.lit("https://x.com/"), F.col("id")).alias("url"),
        F.encode(F.lit("<p>x</p>"), "utf-8").alias("html"),
        F.lit(True).alias("_do_extract"),
        F.col("id").alias("depth"),
        (F.col("id") % 7).cast("double").alias("score"),
    )
    p = plan_of(extract_pages_with_meta(fused_in))
    checks = []
    for ok, label, why in [
        (p.count("MapInPandas") == 1, "one MapInPandas",
         "admission+fetch+extract+meta is a single Arrow stage per wave"),
        ("SortMergeJoin" not in p and "ShuffledHashJoin" not in p,
         "no meta rejoin",
         "metadata rides through the python stage — the old per-wave "
         "meta⋈extracted url equi-join is gone"),
    ]:
        checks.append((("PASS  " if ok else "FAIL  ") + label, why))
        if not ok:
            failures.append(f"fused extraction: {label}")
    sections.append(
        ("Fused wave extraction — metadata passthrough, no rejoin", p, checks)
    )

    # 13. document-quality rule packs: shuffle-free projections — Gopher +
    # C4 run at scan speed (the only shuffling cleaner is the separate
    # corpus-global line_dedup)
    from crawl4ai_custom_spark.operators.textstats import (
        c4_quality_filter,
        gopher_quality_filter,
    )

    for name, op, why in [
        ("Gopher rule pack", gopher_quality_filter,
         "all 7 Gopher rules fold in one codegen projection over the scan"),
        ("C4 cleaning rules", c4_quality_filter,
         "line filters + page flags are one projection per document"),
    ]:
        p = plan_of(op(docs_small))
        ok = "Exchange" not in p
        checks = [(("PASS  " if ok else "FAIL  ") + "zero Exchange", why)]
        if not ok:
            failures.append(f"{name}: unexpected Exchange")
        sections.append((f"{name} — shuffle-free projection", p, checks))

    # 13a2. readability is a pure projection; the Zipf fit's only sort is a
    # top-k over the Heaps-bounded vocabulary, never a token-scale sort
    from crawl4ai_custom_spark.operators.textstats import (
        readability_scores,
        zipf_slope,
    )

    p = plan_of(readability_scores(docs_small))
    ok = "Exchange" not in p
    checks = [(("PASS  " if ok else "FAIL  ") + "zero Exchange",
               "Flesch/FK = one split + two array folds per row, all "
               "codegen over the scan — readability costs one pass at "
               "100 TB")]
    if not ok:
        failures.append("readability_scores: unexpected Exchange")
    sections.append(("Readability scores — shuffle-free projection", p,
                     checks))

    audit(
        "Zipf fit (top_n) — vocabulary top-k is TakeOrderedAndProject",
        zipf_slope(docs_small, top_n=1000),
        [
            (r"TakeOrderedAndProject",
             "the rank ordering materializes as a distributed top-k over "
             "terms (partial per partition), not a global token sort"),
        ],
    )

    # 13a3. freshness scheduling: the Poisson rate estimator is ONE
    # partial-agg groupBy (history arrays bounded by epoch count) with no
    # window over the visit stream; refresh allocation's window runs over
    # the lambda-bucket table only and the one-row water level broadcasts
    # back to the corpus
    from crawl4ai_custom_spark.operators.recrawl import (
        change_rate_poisson,
        refresh_allocation,
    )

    visits_syn = spark.range(2000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 500).cast("string"),
                 F.lit(".com/p")).alias("url"),
        (F.lit(1.7e9) + (F.col("id") % 4) * 3600.0).alias("ts"),
        ((F.col("id") % 4) / (1 + F.col("id") % 3)).cast("int")
        .cast("string").alias("fingerprint"),
    )
    p = plan_of(change_rate_poisson(visits_syn))
    n_ex = p.count("Exchange")
    checks = []
    for ok, label, why in [
        (n_ex == 1, f"exactly one Exchange (got {n_ex})",
         "the visit log shuffles ONCE on url for the history collect; the "
         "estimator itself is array folds in the final aggregate"),
        ("Window" not in p, "no Window",
         "per-URL histories are epoch-bounded arrays, never a window over "
         "the corpus-scale visit stream"),
    ]:
        checks.append((("PASS  " if ok else "FAIL  ") + label, why))
        if not ok:
            failures.append(f"change_rate_poisson: {label}")
    sections.append(
        ("Poisson change-rate estimator — single shuffle, array-fold "
         "estimator", p, checks))

    rates_syn = spark.range(5000).select(
        F.col("id").alias("url"),
        ((F.col("id") % 97 + 1) / 10.0).alias("lambda_hat"),
    )
    audit(
        "Refresh allocation — bucket-table water solve, broadcast level "
        "join back",
        refresh_allocation(rates_syn, budget=100.0),
        [
            (r"Window", "the cumulative prefix solve runs over the TINY "
             "lambda-bucket table (distinct rounded rates), never over "
             "the corpus"),
            (r"BroadcastNestedLoopJoin",
             "the one-row water level broadcasts back; the corpus never "
             "repartitions for the join"),
        ],
    )

    # 13a4. OPIC (one round, unmaterialized): the dangling cash must enter
    # as a broadcast one-row aggregate, never as a driver collect or a
    # repartitioning cartesian
    from crawl4ai_custom_spark.operators.linkgraph import opic

    edges_syn = spark.range(2000).select(
        (F.col("id") % 500).alias("src"),
        ((F.col("id") * 7 + 1) % 500).alias("dst"),
    ).where((F.col("src") != F.col("dst")) & (F.col("src") % 50 != 0))
    p = plan_of(opic(edges_syn, iterations=1))
    checks = []
    for ok, label, why in [
        ("BroadcastNestedLoopJoin" in p,
         "dangling scalar is a broadcast join",
         "the round's dangling cash stays in the dataflow as a one-row "
         "broadcast — no per-round driver collect, no convergence scalar "
         "leaving the executors"),
        ("CartesianProduct" not in p, "no CartesianProduct",
         "cash routing is the keyed edges join + groupBy(dst); the only "
         "cross join is the one-row broadcast"),
        ("Window" not in p, "no Window",
         "importance accumulates as plain column arithmetic on the node "
         "table, never a rank window over the graph"),
    ]:
        checks.append((("PASS  " if ok else "FAIL  ") + label, why))
        if not ok:
            failures.append(f"opic: {label}")
    sections.append(
        ("OPIC page importance — broadcast dangling cash, keyed routing",
         p, checks))

    # 13a4b. char entropy is a pure projection (single fold over the
    # sorted char array — the frequency table never materializes); keyness
    # joins the two Heaps-bounded TERM tables and broadcasts the one-row
    # totals, never windowing or cross-joining the corpora
    from crawl4ai_custom_spark.operators.textstats import (
        char_entropy,
        keyness_g2,
    )

    p = plan_of(docs_small.select(char_entropy(F.col("text"))))
    ok = "Exchange" not in p
    checks = [(("PASS  " if ok else "FAIL  ") + "zero Exchange",
               "entropy = log2(n) - fold(c*log2 c)/n over the sorted "
               "char array — gibberish detection costs one scan pass")]
    if not ok:
        failures.append("char_entropy: unexpected Exchange")
    sections.append(("Char entropy — shuffle-free projection", p, checks))

    p = plan_of(keyness_g2(
        docs_small.where(F.col("doc_id") % 2 == 0),
        docs_small.where(F.col("doc_id") % 2 == 1)))
    checks = []
    for ok, label, why in [
        ("BroadcastNestedLoopJoin" in p, "totals ride one broadcast",
         "the two one-row corpus totals broadcast to the term join — the "
         "vocabulary table never repartitions for them"),
        ("Window" not in p, "no Window",
         "G2 is closed-form column math on the joined term counts"),
        ("SortMergeJoin" in p or "ShuffledHashJoin" in p
         or "BroadcastHashJoin" in p,
         "term join is an equi-join",
         "focus and reference vocabularies meet on the term key, "
         "Heaps-bounded — never a token-stream join"),
    ]:
        checks.append((("PASS  " if ok else "FAIL  ") + label, why))
        if not ok:
            failures.append(f"keyness_g2: {label}")
    sections.append(
        ("Keyness G2 — vocabulary equi-join, broadcast totals", p, checks))

    # 13a5. HLL registers: one partial-agg groupBy(register) — map-side
    # max reduces every partition to <= m rows before the only Exchange,
    # so the shuffle moves O(m * partitions) bytes at any corpus size
    from crawl4ai_custom_spark.operators.sketches import hll_registers

    keys_syn = spark.range(5000).select(
        F.concat(F.lit("https://k"), F.col("id").cast("string"),
                 F.lit(".com/")).alias("url"))
    p = plan_of(hll_registers(keys_syn, p=8))
    n_ex = p.count("Exchange")
    checks = []
    for ok, label, why in [
        (n_ex == 1, f"exactly one Exchange (got {n_ex})",
         "registers shuffle once, post-partial-agg: the exchange carries "
         "at most m rows per map partition regardless of key count"),
        ("partial_max" in p or "HashAggregate" in p,
         "map-side partial max present",
         "the register max combines before the shuffle — the whole "
         "corpus folds to 2^p rows per partition first"),
        ("Window" not in p, "no Window",
         "rho is scan-level bitwise arithmetic, never a ranking pass"),
    ]:
        checks.append((("PASS  " if ok else "FAIL  ") + label, why))
        if not ok:
            failures.append(f"hll_registers: {label}")
    sections.append(
        ("HLL registers — single partial-agg exchange", p, checks))

    from crawl4ai_custom_spark.operators.sketches import cms_table

    p = plan_of(cms_table(keys_syn, "url", depth=4, width=1024))
    n_ex = p.count("Exchange")
    checks = []
    for ok, label, why in [
        (n_ex == 1, f"exactly one Exchange (got {n_ex})",
         "the 4-fold depth explode stays on the scan; cells combine "
         "map-side to <= d*w rows per partition before the shuffle"),
        ("Window" not in p, "no Window",
         "cell addressing is scan-level hash arithmetic"),
    ]:
        checks.append((("PASS  " if ok else "FAIL  ") + label, why))
        if not ok:
            failures.append(f"cms_table: {label}")
    sections.append(
        ("Count-min sketch — single partial-agg exchange", p, checks))

    # 13a6. LSH band planner: predicts the band join's candidate count
    # WITHOUT executing any join — the plan must contain aggregates and a
    # union only, never a Join node (that would be running the thing it
    # exists to avoid) and never a Window
    from crawl4ai_custom_spark.operators.dedup import (
        lsh_plan_stats,
        minhash_signatures,
        shingle_table,
    )

    sigs_syn = minhash_signatures(shingle_table(docs_small), 16, 1)
    p = plan_of(lsh_plan_stats(sigs_syn, [2, 4, 8], num_hashes=16))
    checks = []
    for ok, label, why in [
        ("Join" not in p and "CartesianProduct" not in p, "no Join",
         "the whole point: cost prediction from the bucket histogram, "
         "one groupBy per config — the band self-join never runs"),
        ("Window" not in p, "no Window",
         "sum n(n-1)/2 is closed-form aggregation over bucket counts"),
        ("Union" in p, "per-config aggregates union",
         "each band config is an independent two-level aggregate over "
         "the signature table; rows meet only at the final 1-row-each "
         "union"),
    ]:
        checks.append((("PASS  " if ok else "FAIL  ") + label, why))
        if not ok:
            failures.append(f"lsh_plan_stats: {label}")
    sections.append(
        ("LSH band planner — histogram aggregates, zero joins", p, checks))

    # 13b. round-5 webtext additions: mojibake repair must stay a pure
    # projection; the host-scoped cleaners must never grow a Window; the
    # graph/allocation ops must never fall into a non-broadcast cartesian
    from crawl4ai_custom_spark.operators.corpusmix import domain_doc_cap
    from crawl4ai_custom_spark.operators.dedup import host_boilerplate_strip
    from crawl4ai_custom_spark.operators.headpeek import soft404_detect
    from crawl4ai_custom_spark.operators.linkgraph import reciprocal_link_spam
    from crawl4ai_custom_spark.operators.politeness import allocate_crawl_budget
    from crawl4ai_custom_spark.operators.textstats import fix_mojibake

    pages_small = spark.range(1000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 37).cast("string"),
                 F.lit(".com/p/"), F.col("id")).alias("url"),
        F.concat(F.lit("line one\ntext of page "), F.col("id")).alias("text"),
    )
    links_small = pages_small.select(
        "url",
        F.concat(F.lit("https://h"),
                 ((F.regexp_extract("url", r"https://h(\d+)\.com", 1)
                   .cast("long") + 1) % 37).cast("string"),
                 F.lit(".com/")).alias("href"))

    p = plan_of(fix_mojibake(docs_small))
    ok = p.count("Exchange") == 0
    checks = [(("PASS  " if ok else "FAIL  ") + "zero Exchange",
               "the 21-entry repair table folds into one codegen "
               "projection — encoding repair costs one scan pass at 100 TB")]
    if not ok:
        failures.append("fix_mojibake: unexpected Exchange")
    sections.append(("Mojibake repair — shuffle-free projection", p, checks))

    for name, df, no_window in [
        ("host_boilerplate_strip",
         host_boilerplate_strip(pages_small), True),
        ("soft404_detect", soft404_detect(pages_small), True),
        ("reciprocal_link_spam", reciprocal_link_spam(links_small), True),
        ("domain_doc_cap",
         domain_doc_cap(pages_small.withColumn(
             "host", F.regexp_extract("url", "https://([^/]+)/", 1))
             .withColumn("doc_id", F.monotonically_increasing_id()),
             cap=5, domain_col="host"), False),
        ("allocate_crawl_budget",
         allocate_crawl_budget(
             pages_small.select(F.col("url").alias("host"),
                                F.lit(1.0).alias("weight")), 100), False),
    ]:
        p = plan_of(df)
        checks = []
        exp = [("CartesianProduct" not in p, "no CartesianProduct",
                "every join is keyed or a broadcast of a scalar/host table "
                "— nothing quadratic hides in the plan")]
        if no_window:
            exp.append(("Window" not in p, "no Window operator",
                        "per-host rollups are aggregates with map-side "
                        "partials, not rank windows"))
        else:
            # count real Window operators ("Window ["), not substrings like
            # WindowGroupLimit — which is the map-side top-k pushdown we WANT
            exp.append((len(re.findall(r"\bWindow \[", p)) <= 2,
                        "<= 2 Window operators",
                        "the only windows are the documented per-domain / "
                        "remainder-rank ones over the (small) keyed table; "
                        "WindowGroupLimit partials are the rank pushdown"))
        for ok, label, why in exp:
            checks.append((("PASS  " if ok else "FAIL  ") + label, why))
            if not ok:
                failures.append(f"{name}: {label}")
        sections.append((f"{name} — round-5 webtext op", p, checks))

    # 14. global span dedup: span keys are built at the ARRAY level and the
    # keeper pick is an aggregate — no Window operator anywhere (a per-doc
    # or per-span window would sort-shuffle the whole exploded span table)
    from crawl4ai_custom_spark.operators.dedup import span_dedup

    p = plan_of(span_dedup(docs_small))
    checks = []
    for ok, label, why in [
        ("Window" not in p, "no Window operator",
         "span keys fold at the array level; keeper = partial map-side "
         "min(struct) aggregate, not a rank window over exploded spans"),
        ("partial_min" in p or "HashAggregate" in p, "partial aggregate",
         "the duplicate-span count+keeper combine map-side before the "
         "single span_key shuffle"),
    ]:
        checks.append((("PASS  " if ok else "FAIL  ") + label, why))
        if not ok:
            failures.append(f"span dedup: {label}")
    sections.append(
        ("Global span dedup — array-level spans, no windows", p, checks)
    )

    # 15. corpus assembly: classifier scoring joins a bounded-size model by
    # BROADCAST; temperature mixture never shuffles the docs (tiny counts
    # agg + broadcast rates + scan filter); shuffle_shards costs exactly
    # one exchange on the shard key (the writer's layout), no global sort
    from crawl4ai_custom_spark.operators.corpusmix import (
        classifier_quality_score,
        shuffle_shards,
        temperature_mixture,
        train_quality_classifier,
    )

    labeled_small = docs_small.select(
        (F.col("doc_id") % 2 == 0).alias("label"), "text"
    )
    model = train_quality_classifier(labeled_small, num_buckets=1024)
    audit(
        "Classifier quality score — broadcast model join",
        classifier_quality_score(docs_small, model, num_buckets=1024),
        [
            (r"BroadcastHashJoin",
             "the <=num_buckets-row model ships to executors; the exploded "
             "feature table is never shuffled by the join"),
        ],
    )

    p = plan_of(
        temperature_mixture(
            docs_small.withColumn("lang", (F.col("doc_id") % 3).cast("string"))
        )
    )
    checks = []
    for ok, label, why in [
        ("BroadcastHashJoin" in p, "broadcast rates join",
         "per-stratum thresholds (|strata| rows) ship to executors"),
        ("SortMergeJoin" not in p and "ShuffledHashJoin" not in p,
         "docs never shuffle",
         "the only exchange feeds the tiny stratum-counts aggregate; the "
         "documents reach the output through a scan-level hash filter"),
    ]:
        checks.append((("PASS  " if ok else "FAIL  ") + label, why))
        if not ok:
            failures.append(f"temperature mixture: {label}")
    sections.append(
        ("Temperature mixture — broadcast rates, scan-level filter", p,
         checks)
    )

    p = plan_of(shuffle_shards(docs_small.select("doc_id"), n_shards=8))
    checks = []
    for ok, label, why in [
        (len(re.findall(r"Exchange hashpartitioning\(shard", p)) == 1
         and p.count("Exchange") == 1, "one exchange, on shard",
         "the training-shuffle costs exactly the writer's own layout "
         "(repartition by shard + intra-partition sort)"),
        ("rangepartitioning" not in p, "no global sort",
         "within-shard order is a per-partition sort under the window, "
         "never a whole-corpus range partition"),
    ]:
        checks.append((("PASS  " if ok else "FAIL  ") + label, why))
        if not ok:
            failures.append(f"shuffle shards: {label}")
    sections.append(
        ("Shuffle shards — single exchange, writer-shaped layout", p, checks)
    )

    # incremental ingest dedup: the corpus store participates ONLY as its
    # stored (id, sig) parquet — re-shingling 10^10 docs of corpus text per
    # ingest batch would be the scale-killer this operator exists to avoid
    from crawl4ai_custom_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
        shingle_table,
    )

    from crawl4ai_custom_spark.operators.dedup import banded_signatures

    store_root = tempfile.mkdtemp(prefix="plan_store_")
    store_dir = os.path.join(store_root, "sigs")
    bands_dir = os.path.join(store_root, "bands")
    store_build = minhash_signatures(
        shingle_table(docs_small.limit(50)), num_hashes=16
    )
    store_build.write.mode("overwrite").parquet(store_dir)
    store_sigs = spark.read.parquet(store_dir)
    # the materialized band index, exactly as SignatureStore.append writes it
    banded_signatures(store_sigs, 4, 16).write.mode("overwrite").parquet(bands_dir)
    store_bands = spark.read.parquet(bands_dir)
    batch = docs_small.where(F.col("doc_id") >= 50).limit(50)
    # production shape (streaming.ingest.ingest_batch): the caller owns the
    # batch-signature persist and hands the STORED band index in
    batch_sigs = minhash_signatures(shingle_table(batch), 16).persist()
    p = plan_of(
        incremental_minhash_dedup(
            batch, store_sigs, num_hashes=16, bands=4,
            new_sigs=batch_sigs, corpus_bands=store_bands,
        )
    )
    batch_sigs.unpersist()
    n_sig_scans = len(re.findall(r"ReadSchema: struct<id:bigint,sig:array<bigint>>", p))
    n_band_scans = len(re.findall(r"ReadSchema: struct<id:bigint,band_hash:bigint>", p))
    n_posex = len(re.findall(r"Generate posexplode", p))
    n_cached = p.count("InMemoryTableScan")
    checks = []
    for ok, label, why in [
        (n_sig_scans >= 1, "store consumed as stored signatures",
         "the corpus side is a parquet scan of (id, sig) — its text is "
         "never read, let alone re-shingled"),
        (n_band_scans >= 1, "store band index consumed MATERIALIZED",
         "the corpus side of the band join is a plain scan of the stored "
         "(id, band_hash) table — round 5 removed the per-batch re-explode "
         "of the whole store (8x|store| generated rows per ingest batch)"),
        (n_posex <= 3, "banding explodes the BATCH side only",
         "3 batch-band branches; zero Generate nodes on the store side "
         "(the index is storage; with band_table= it is additionally an "
         "exchange-free bucketed probe — plan-asserted in "
         "tests/test_streaming_and_modes.py)"),
        (n_cached >= 3, "batch signatures persisted across branches",
         "the five consumers of the delta's signatures hit the caller's "
         "cache (ingest_batch owns persist/unpersist per epoch), not five "
         "recomputations of the shingle chain"),
        ("band_hash" in p, "LSH band-bucket join",
         "candidates come from equality joins on band_hash — never an "
         "all-pairs comparison against the store"),
    ]:
        checks.append((("PASS  " if ok else "FAIL  ") + label, why))
        if not ok:
            failures.append(f"incremental dedup: {label}")
    sections.append(
        ("Incremental ingest dedup — store never re-shingled, stored band "
         "index probed, banded joins", p, checks)
    )

    # ---- round-5 additions ------------------------------------------------
    from crawl4ai_custom_spark.operators.corpusmix import token_budget_select
    from crawl4ai_custom_spark.operators.decontam import semantic_decontaminate
    from crawl4ai_custom_spark.operators.dedup import exact_substring_dedup
    from crawl4ai_custom_spark.operators.filters import url_blocklist_flags
    from crawl4ai_custom_spark.operators.linkgraph import mirror_hosts
    from crawl4ai_custom_spark.operators.similarity import knn_classify

    docs_syn = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 97 / 97.0).alias("quality"),
        (F.lit(50) + F.col("id") % 40).alias("n_tokens"),
        F.concat(F.lit("tok"), (F.col("id") % 13).cast("string"),
                 F.lit(" alpha beta gamma delta epsilon zeta")).alias("text"),
    )
    audit(
        "Token-budget selection — one corpus exchange, broadcast threshold "
        "join back",
        token_budget_select(docs_syn, budget_tokens=10_000),
        [
            (r"BroadcastHashJoin", "the 1000-row bucket threshold table "
             "ships to the corpus; the corpus never repartitions for the "
             "join"),
            (r"Window", "the cumulative sum runs over the TINY bucket "
             "table (<=1000 rows), never over docs"),
        ],
    )
    emb_syn = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 17 / 17.0) for i in range(8)])
        .alias("embedding"),
    )
    labeled_syn = emb_syn.where(F.col("vec_id") < 30).withColumn(
        "label", (F.col("vec_id") % 3).cast("string"))
    audit(
        "k-NN label propagation — broadcast seed set, per-doc top-k window",
        knn_classify(emb_syn.where(F.col("vec_id") >= 30), labeled_syn, k=5),
        [
            (r"BroadcastNestedLoopJoin|BroadcastHashJoin",
             "the labeled seed set broadcasts into the cosine scoring — "
             "the corpus side never shuffles for the join"),
        ],
    )
    urls_syn = docs_syn.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 50).cast("string"),
                 F.lit(".com/p/"), F.col("doc_id")).alias("url_canon"),
        F.concat(F.lit("h"), (F.col("doc_id") % 50).cast("string"),
                 F.lit(".com")).alias("registrable_domain"),
    )
    bl_syn = spark.createDataFrame([("h1.com",), ("h2.com",)], ["domain"])
    audit(
        "URL blocklist curation — broadcast blocklist, frontier stays put",
        url_blocklist_flags(urls_syn, bl_syn, keywords=["casino"]),
        [
            (r"BroadcastHashJoin", "the blocked-domain TABLE ships; "
             "flagging is a projection over the unshuffled frontier"),
        ],
    )
    audit(
        "Exact-substring removal — window-free keeper pick",
        exact_substring_dedup(docs_syn.select("doc_id", "text"), k=4),
        [
            (r"(?s)^(?!.*\bWindow\b)", "the duplicate count + keeper pick "
             "is ONE groupBy(window_hash) partial agg — no window function "
             "ever sees the corpus (same invariant as span_dedup)"),
        ],
    )
    pages_syn = docs_syn.select(
        F.concat(F.lit("https://m"), (F.col("doc_id") % 40).cast("string"),
                 F.lit(".com/"), F.col("doc_id")).alias("url"),
        F.col("text").alias("html"),
    )
    audit(
        "Mirror-host detection — within-group pairs, never an all-pairs "
        "host join",
        mirror_hosts(pages_syn, min_shared=2),
        [
            (r"(?s)^(?!.*CartesianProduct)", "host pairs come from "
             "exploding per-fingerprint host arrays (capped fan-out) — "
             "no cross join anywhere"),
        ],
    )
    audit(
        "Semantic decontamination — broadcast benchmark vectors",
        semantic_decontaminate(emb_syn.where(F.col("vec_id") >= 100),
                               emb_syn.where(F.col("vec_id") < 20),
                               id_col="vec_id"),
        [
            (r"BroadcastNestedLoopJoin", "the benchmark set broadcasts; "
             "the corpus's only shuffle is the per-doc max/count agg"),
        ],
    )

    # ---- round-5 retrieval family ----------------------------------------
    from crawl4ai_custom_spark.operators.textstats import (
        bm25_from_index,
        inverted_postings,
        merge_postings,
        skipgram_counts,
        term_dictionary,
    )

    postings_syn = inverted_postings(docs_syn.select("doc_id", "text"))
    dict_syn = term_dictionary(postings_syn)
    topk = (
        bm25_from_index(postings_syn, dict_syn, ["alpha", "tok3"])
        .orderBy(F.desc("bm25"), "id").limit(10)
    )
    audit(
        "Index-backed BM25 top-k — broadcast dictionary + corpus stats, "
        "TakeOrderedAndProject",
        topk,
        [
            (r"BroadcastHashJoin", "the query-term dictionary slice ships "
             "broadcast; the postings side never repartitions for it"),
            (r"TakeOrderedAndProject", "top-k is a per-partition heap + "
             "driver merge of k rows — never a global sort of all scores"),
        ],
    )
    audit(
        "Skip-gram co-occurrence — join-free, one exchange",
        skipgram_counts(docs_syn.select("doc_id", "text"), window=3),
        [
            (r"(?s)^(?!.*Join)", "the ±w window is a per-row array slice "
             "next to the posexplode — no positions self-join, no per-doc "
             "cartesian"),
            (r"(?s)^(?!.*\bWindow\b)", "no window function either — cost "
             "is linear in tokens × window"),
        ],
    )
    delta_syn = inverted_postings(
        docs_syn.where(F.col("doc_id") < 5).select("doc_id", "text"))
    audit(
        "Incremental index merge — epoch ids broadcast, base never "
        "repartitioned",
        merge_postings(postings_syn, delta_syn),
        [
            (r"BroadcastHashJoin.*LeftAnti|LeftAnti.*BroadcastHashJoin",
             "the doomed-id set (one re-crawl epoch) rides a broadcast "
             "anti-join against the 10^10-row base index"),
        ],
    )

    # ---- round-5 sketch / sampling / scheduling plans ---------------------
    from crawl4ai_custom_spark.operators.corpusmix import weighted_sample
    from crawl4ai_custom_spark.operators.linkgraph import graph_shape
    from crawl4ai_custom_spark.operators.recrawl import (
        good_turing_saturation,
        ucb_host_allocation,
    )
    from crawl4ai_custom_spark.operators.sketches import (
        kmv_sketch,
        moment_sums,
    )

    audit(
        "Moments sketch — one partial-agg exchange, nothing else",
        moment_sums(
            docs_syn.select("doc_id",
                            (F.length("text") / 1000.0).alias("kb")),
            "kb", ["doc_id"]),
        [
            (r"(?s)^(?!.*Exchange.*Exchange)", "exactly one exchange: "
             "map-side partial power sums reduce every partition to one "
             "row per group before any shuffle"),
            (r"(?s)^(?!.*\bWindow\b)(?!.*Join)", "no window, no join — "
             "per-wave latency/size profiles cost one scan at any corpus "
             "size"),
        ],
    )
    audit(
        "KMV bottom-k sketch — distinct + per-group top-k, no joins",
        kmv_sketch(docs_syn.selectExpr("cast(doc_id as string) as url"),
                   "url", k=64, prefilter_frac=0.25),
        [
            (r"(?s)^(?!.*Join)", "the sketch is distinct-then-rank over "
             "(group, hash) rows; set operations happen later over O(k) "
             "rows, never here"),
            (r"Filter", "the deterministic hash prefilter drops ~3/4 of "
             "rows before the distinct exchange (one-shot sketches of "
             "10^10-key tables pass ~8k/est_n)"),
        ],
    )
    audit(
        "Weighted sample (ungrouped) — TakeOrderedAndProject, no exchange",
        weighted_sample(
            docs_syn.select("doc_id", F.length("text").alias("w")),
            "w", 10, key_col="doc_id"),
        [
            (r"TakeOrderedAndProject", "exact-size top-n by race time is "
             "a per-partition heap + driver merge of n rows — no global "
             "sort of the corpus"),
            (r"(?s)^(?!.*Exchange)", "zero shuffles: the race key is a "
             "scan-level projection"),
        ],
    )
    ucb_hist = docs_syn.groupBy(
        (F.col("doc_id") % 7).cast("string").alias("host")).agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.sum(F.length("text")).alias("reward_sum"))
    audit(
        "UCB1 host allocation — broadcast total, top-k heap",
        ucb_host_allocation(ucb_hist, k=3),
        [
            (r"BroadcastNestedLoopJoin|BroadcastExchange", "the one-row "
             "fetch total broadcasts back; the host table never "
             "repartitions for it"),
            (r"TakeOrderedAndProject", "the k chosen hosts come off a "
             "per-partition heap, not a global sort of 10^8 hosts"),
        ],
    )
    audit(
        "Good-Turing saturation — two partial aggs, no window/join",
        good_turing_saturation(
            docs_syn.select(
                (F.col("doc_id") % 3).cast("string").alias("source"),
                (F.col("doc_id") % 50).alias("key")),
            "key", group_cols=["source"]),
        [
            (r"(?s)^(?!.*\bWindow\b)(?!.*Join)", "both levels are keyed "
             "groupBys with map-side combine — the singleton census never "
             "materializes per-key state beyond the aggregates"),
        ],
    )
    audit(
        "Graph shape — degree joins + one power-sum fold, no window",
        graph_shape(docs_syn.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 7 + 1) % 50).alias("dst"))),
        [
            (r"(?s)^(?!.*\bWindow\b)", "reciprocity and assortativity "
             "fold in ONE global aggregate over per-edge degree pairs — "
             "the Pearson sums are the moments-sketch trick"),
        ],
    )

    # 13a9. round-5 session additions: monitoring + compression operators
    from crawl4ai_custom_spark.operators.textstats import (
        psi_drift,
        script_profile,
    )

    p = plan_of(script_profile(docs_small))
    ok = "Exchange" not in p
    checks = [(("PASS  " if ok else "FAIL  ") + "zero Exchange",
               "six regexp counts + tie-break CASE are one codegen "
               "projection — script routing costs the scan itself")]
    if not ok:
        failures.append("script_profile: unexpected Exchange")
    sections.append(("Script profile — shuffle-free projection", p, checks))

    p = plan_of(psi_drift(
        docs_small.select(F.length("text").cast("double").alias("v")),
        docs_small.select((F.length("text") + 7).cast("double").alias("v")),
        "v", [300.0, 900.0]))
    n_mem = p.count("InMemoryTableScan")
    checks = []
    for ok, label, why in [
        (n_mem >= 3, f"joined histogram cached ({n_mem} cache reads)",
         "the <= B+1-row bucket table is persisted and all three "
         "consumers (totals, terms, rollup) read the cache — each epoch "
         "is SCANNED once at runtime, not once per plan branch (the "
         "printed plan re-renders the cached subtree; the "
         "InMemoryTableScans are what executes)"),
        ("Window" not in p, "no Window",
         "PSI/KL is closed-form algebra on the bucket table"),
    ]:
        checks.append((("PASS  " if ok else "FAIL  ") + label, why))
        if not ok:
            failures.append(f"psi_drift: {label}")
    sections.append(("PSI drift — bounded bucket algebra", p, checks))

    from crawl4ai_custom_spark.operators.dedup import (
        bbit_pack_signatures,
        minhash_signatures,
        shingle_table,
    )

    sigs_syn = minhash_signatures(
        shingle_table(docs_small.limit(50)), num_hashes=16)
    p = plan_of(bbit_pack_signatures(sigs_syn, b=2, num_hashes=16))
    sig_ex = plan_of(sigs_syn).count("Exchange")
    pack_ex = p.count("Exchange")
    ok = pack_ex == sig_ex
    checks = [(("PASS  " if ok else "FAIL  ")
               + f"packing adds zero Exchange ({sig_ex} -> {pack_ex})",
               "b-bit compression is mask+shift+sum column algebra on "
               "the signature rows — the ~16x store shrink is free")]
    if not ok:
        failures.append("bbit_pack_signatures: added an Exchange")
    sections.append(("b-bit minhash packing — projection only", p, checks))

    from crawl4ai_custom_spark.operators.sketches import (
        bootstrap_replicate_stats,
    )

    p = plan_of(bootstrap_replicate_stats(
        docs_small.select("doc_id", F.length("text").alias("n_chars")),
        "n_chars", "doc_id", n_reps=8))
    checks = []
    for ok, label, why in [
        ("Generate" not in p.split("HashAggregate")[-1] and
         p.count("HashAggregate") >= 1, "replicates as sibling aggregates",
         "all r resamples ride one partial aggregation — no explode "
         "before the agg, no r-times data"),
        ("Window" not in p, "no Window",
         "replicate sums are plain partial aggs"),
    ]:
        checks.append((("PASS  " if ok else "FAIL  ") + label, why))
        if not ok:
            failures.append(f"bootstrap_replicate_stats: {label}")
    sections.append(
        ("Poisson bootstrap — one-pass sibling sums", p, checks))

    # ---- round-5 graph-ANN / compression / archive plans ------------------
    from crawl4ai_custom_spark.operators.dedup import cdc_chunks
    from crawl4ai_custom_spark.operators.nndescent import nn_descent_round
    from crawl4ai_custom_spark.operators.recrawl import capture_timeline
    from crawl4ai_custom_spark.operators.similarity import (
        feature_hash_projection,
    )

    emb_small = emb_syn.where(F.col("vec_id") < 60)
    seed_graph = emb_small.select(
        F.col("vec_id").alias("id"),
        ((F.col("vec_id") + 1) % 60).alias("nbr"))
    vecs = emb_small.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("vec"))
    audit(
        "NN-Descent round — equi-joins only, never a corpus product",
        nn_descent_round(seed_graph, vecs, k=4),
        [
            (r"(?s)^(?!.*CartesianProduct)",
             "the local join is U x U through the shared node — candidate "
             "count n*(2k)^2, linear in the corpus; a Cartesian product "
             "here would be the O(n^2) the operator exists to avoid"),
            (r"(?s)^(?!.*BroadcastNestedLoopJoin)",
             "same: every join keyed (via, id, nbr)"),
        ],
    )
    audit(
        "Feature-hash projection — one partial agg, dense rebuild",
        feature_hash_projection(emb_small, d_out=8),
        [
            (r"Generate explode|Generate posexplode",
             "one generator over the vector dims"),
            (r"(?s)^(?!.*Window)",
             "no window anywhere — bucket sums are partial aggs, the "
             "dense array rebuild is a map lookup per output dim"),
        ],
    )
    audit(
        "Capture timeline — windows keyed by url only",
        capture_timeline(
            pages_syn.select(
                "url",
                F.to_timestamp(F.lit("2024-01-01")).alias("ts"),
                F.md5(F.col("html").cast("string")).alias("digest"))),
        [
            (r"Window.*url",
             "lag + running change count partition by url — per-url "
             "capture counts are bounded by crawl cadence, the url "
             "dimension distributes; never a global window"),
        ],
    )
    audit(
        "CDC chunking — shuffle-free per-document projection",
        cdc_chunks(docs_small.select("doc_id", "text"), w=16, mask_bits=5),
        [
            (r"(?s)^(?!.*Exchange)",
             "anchors, spans and chunk hashes are array expressions over "
             "the row itself — zero shuffles until the caller aggregates"),
        ],
    )

    # ---- source gate: no unbounded driver-side collect -------------------
    # Every .collect() in the package must be a scalar aggregate, a bounded
    # limit, or an explicitly allowlisted bounded context (query-term lists,
    # tiny coverage rows). Unbounded column collects are the classic
    # driver-OOM at 100 TB (round-1 verdict, adaptive_session term set).
    allow = {
        "operators/adaptive.py",   # coverage rows: <= |query terms|; avg scalar
        "operators/adaptive_session.py",  # query-variation ids: ~10 by contract
        "operators/filters.py",    # stats rows: one per filter in the chain
        "operators/textstats.py",  # bounded query-term list
        "operators/bpe.py",    # merge table / piece vocab: n_merges
                               # rows by construction
        "state/backend.py",  # catalog probe + snapshot tags: O(waves) rows
    }
    collect_viol = []
    pkg = os.path.join(ROOT, "crawl4ai_custom_spark")
    for dirpath, _, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, pkg)
            with open(path) as fh:
                src_lines = fh.readlines()
            for ln, line in enumerate(src_lines, 1):
                if ".collect()" not in line:
                    continue
                ctx = "".join(src_lines[max(0, ln - 6):ln])  # stmt may wrap
                bounded = (".agg(" in ctx or ".limit(" in ctx
                           or "first()" in ctx)
                if not bounded and rel not in allow:
                    collect_viol.append(f"{rel}:{ln}: {line.strip()}")
    if collect_viol:
        failures.extend("unbounded collect? " + v for v in collect_viol)

    # ---- write PLANS.md --------------------------------------------------
    lines = [
        "# PLANS — physical-plan audit of the scale-critical operators",
        "",
        "Generated by `python scripts/plan_audit.py` (re-run after plan-affecting",
        "changes; exits non-zero when an expectation regresses).",
        "",
    ]
    for title, p, checks in sections:
        lines += [f"## {title}", ""]
        for verdict, why in checks:
            lines += [f"- {verdict} — {why}"]
        excerpt = "\n".join(p.splitlines()[:28])
        lines += ["", "```", excerpt, "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))

    print(f"{len(sections)} plans audited; {len(failures)} failures")
    for f_ in failures:
        print("FAIL:", f_)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
