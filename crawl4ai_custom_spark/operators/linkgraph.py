"""Link-graph analytics: host graph construction + PageRank.

The reference scores domains with a static heuristic
(DomainAuthorityScorer, deep_crawling/scorers.py); at corpus scale the
principled version of "domain authority" is PageRank over the host graph —
the classic web-scale iterative dataflow. Implemented the way the engine
runs all its iterative ops (frontier waves, cluster_pairs): each power
iteration is one join + one groupBy, with optional parquet materialization
per round so the plan never grows with iteration count.

Semantics (simplified PageRank, the common formulation):
  rank_0(v)   = 1/N
  rank_i+1(v) = (1-d)/N + d * sum over in-edges (u,v) of rank_i(u)/deg(u)
Dangling-node mass is dropped (not redistributed) — both the operator and
the DuckDB oracle (`q_pagerank`) implement exactly this, so results match
to fixed rounding.

Scale shape: edges shuffle once per iteration keyed by src then dst — the
standard PageRank-on-MapReduce pattern; ranks and degrees are (node, value)
tables that co-partition with the join keys. No driver-side state beyond
the node count scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def host_edges(links: DataFrame, src_url: str = "url",
               dst_url: str = "href") -> DataFrame:
    """(page url, link href) -> distinct (src_host, dst_host) edges,
    self-loops dropped — the host-graph input to pagerank."""
    host = lambda c: F.lower(F.regexp_extract(F.col(c), r"https?://([^/:]+)", 1))  # noqa: E731
    return (
        links.select(host(src_url).alias("src"), host(dst_url).alias("dst"))
        .where((F.col("src") != "") & (F.col("dst") != "")
               & (F.col("src") != F.col("dst")))
        .distinct()
    )


def _small_graph(edges: DataFrame, seeds: DataFrame | None = None):
    """(edge rows, node set, seed ids in the graph) when the edges — and
    the distinct ids of the seed table's first column, when given — pass
    the linear small-input gate, else None (the caller then runs
    distributed). Edge rows keep duplicates: out-degree counts rows."""
    from ..session import LINEAR_MAX_ROWS, collect_if_small

    rows = collect_if_small(edges.select("src", "dst"), LINEAR_MAX_ROWS)
    if rows is None:
        return None
    nodes = {s for s, _ in rows} | {d for _, d in rows}
    if seeds is None:
        return rows, nodes, set()
    seed_rows = collect_if_small(seeds.select(seeds.columns[0]).distinct(),
                                 LINEAR_MAX_ROWS)
    if seed_rows is None:
        return None
    return rows, nodes, {r[0] for r in seed_rows} & nodes


def _local_ranks(rows, nodes: set, iterations: int, damping: float,
                 seeds: set | None = None) -> dict:
    """Driver twin of the pagerank chain, or with ``seeds`` of the
    trustrank chain: per-contribution rank/out_deg, then base + damping *
    sum, with the dataflow's own base expressions.

    Contract: every rank equals the distributed chain's within a relative
    1e-12 (``math.isclose(rel_tol=1e-12)``), not bit for bit. Both paths
    add the same positive contributions, only in another order (edge-row
    order here, shuffle order there); two orders of a sum of d positive
    doubles differ by at most (d-1)·2^-52 relative, and a power step
    mixes positive terms only, so the gap grows by at most that much per
    iteration — under 1e-12 while iterations x max in-degree stays below
    ~4000. The gates' +1e-12 round-8 (the DuckDB oracle's comparison)
    absorbs the same reordering."""
    if seeds is None:
        n = len(nodes)
        base = {x: (1.0 - damping) / n for x in nodes}
        rank = {x: 1.0 / n for x in nodes}
    else:
        rank = {x: (1.0 / len(seeds) if x in seeds else 0.0) for x in nodes}
        base = {x: (1.0 - damping) * t for x, t in rank.items()}
    deg: dict = {}
    for s, _d in rows:
        deg[s] = deg.get(s, 0) + 1
    for _ in range(iterations):
        sums: dict = {}
        for s, d in rows:
            sums[d] = sums.get(d, 0.0) + rank[s] / deg[s]
        rank = {x: base[x] + damping * sums.get(x, 0.0) for x in rank}
    return rank


def pagerank(edges: DataFrame, iterations: int = 3, damping: float = 0.85,
             checkpoint_dir: str | None = None) -> DataFrame:
    """(src, dst) edges -> (node, rank) after `iterations` power steps.

    Pass checkpoint_dir to materialize ranks each round (mandatory for
    double-digit iteration counts: truncates lineage like cluster_pairs).
    Graphs that pass the small-input gate (see _small_graph) iterate on
    the driver instead of iterations x (join + groupBy) jobs."""
    import os

    spark = edges.sparkSession
    small = _small_graph(edges)
    if small is not None:
        from ..session import local_df

        rows, nodes, _ = small
        rank = _local_ranks(rows, nodes, iterations, damping)
        idt = edges.schema["src"].dataType.simpleString()
        return local_df(spark, sorted(rank.items()), f"node {idt}, rank double")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for it in range(iterations):
        contribs = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .select(F.col("dst").alias("node"),
                    (F.col("rank") / F.col("out_deg")).alias("c"))
        )
        sums = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = nodes.join(sums, "node", "left").select(
            "node",
            (F.lit(base) + F.lit(damping) * F.coalesce("s", F.lit(0.0)))
            .alias("rank"),
        )
        if checkpoint_dir is not None:
            out = os.path.join(checkpoint_dir, f"ranks_{it % 2}")
            ranks.write.mode("overwrite").parquet(out)
            ranks = spark.read.parquet(out)
    return ranks


def trustrank(edges: DataFrame, seeds: DataFrame, iterations: int = 3,
              damping: float = 0.85,
              checkpoint_dir: str | None = None) -> DataFrame:
    """Personalized PageRank with the teleport mass pinned to a TRUSTED
    seed set (TrustRank, Gyöngyi et al. 2004, public paper): rank flows
    out from hand-vetted hosts, so link farms that inflate plain PageRank
    through dense mutual linking stay near zero — the standard spam-
    demotion signal for crawl prioritization and corpus weighting.

    seeds: (node) — the trusted hosts; teleport is uniform over seeds
    instead of over all nodes. Returns (node, rank); unreachable nodes
    rank 0. Same materialized-rounds shape as :func:`pagerank` (each
    power step is one join + one groupBy; checkpoint_dir truncates
    lineage). The ranks compose with :func:`pagerank_authority` unchanged
    to feed `CrawlConfig.domain_authority`. Small graphs with small seed
    sets iterate on the driver (pagerank's gate)."""
    import os

    spark = edges.sparkSession
    small = _small_graph(edges, seeds)
    if small is not None:
        from ..session import local_df

        rows, nodes, seed_set = small
        rank = _local_ranks(rows, nodes, iterations, damping, seed_set)
        idt = edges.schema["src"].dataType.simpleString()
        return local_df(spark, sorted(rank.items()), f"node {idt}, rank double")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seed = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    seed_in_graph = nodes.join(seed, "node", "left_semi")
    n_seed = seed_in_graph.count()
    if n_seed == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    teleport = nodes.join(
        seed_in_graph.withColumn("_t", F.lit(1.0 / n_seed)), "node", "left"
    ).select("node", F.coalesce("_t", F.lit(0.0)).alias("t"))
    ranks = teleport.select("node", F.col("t").alias("rank"))
    for it in range(iterations):
        contribs = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .select(F.col("dst").alias("node"),
                    (F.col("rank") / F.col("out_deg")).alias("c"))
        )
        sums = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = teleport.join(sums, "node", "left").select(
            "node",
            (F.lit(1.0 - damping) * F.col("t")
             + F.lit(damping) * F.coalesce("s", F.lit(0.0))).alias("rank"),
        )
        if checkpoint_dir is not None:
            out = os.path.join(checkpoint_dir, f"tranks_{it % 2}")
            ranks.write.mode("overwrite").parquet(out)
            ranks = spark.read.parquet(out)
    return ranks


def pagerank_authority(ranks: DataFrame, top_n: int = 1000,
                       floor: float = 0.1) -> dict[str, float]:
    """Top-N hosts by rank -> {host: weight in [floor, 1]}, max-normalized —
    plugs straight into `CrawlConfig.domain_authority` /
    `scorers.domain_authority_score`, replacing the reference's hand-tuned
    static map with measured link authority.

    Bounded collect (top_n rows after a distributed top-k) — the production
    shape: a small broadcastable authority map refreshed per crawl epoch."""
    top = ranks.orderBy(F.col("rank").desc(), F.col("node")).limit(top_n).collect()
    if not top:
        return {}
    mx = max(r["rank"] for r in top) or 1.0
    return {r["node"]: max(floor, r["rank"] / mx) for r in top}


def anchor_text_stats(links: DataFrame, href_col: str = "href",
                      text_col: str = "text", top_n: int = 3) -> DataFrame:
    """Per-target anchor-text aggregation — the classic incoming-link
    relevance signal (how the web describes a page): for every link target,
    the number of incoming links, distinct anchor texts, and the top-N
    anchors by count (count desc, text asc), joined as one string.

    Shape: two keyed groupBys + one window over the (already aggregated)
    per-(href, text) counts — never over raw links.
    """
    per = (
        links.select(F.col(href_col).alias("href"),
                     F.trim(F.col(text_col)).alias("anchor"))
        .where(F.col("anchor") != "")
        .groupBy("href", "anchor")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("href").orderBy(F.desc("n"), F.asc("anchor"))
    top = (
        per.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= top_n)
        .groupBy("href")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_rn", "anchor"))),
                    lambda s: s["anchor"],
                ),
                "|",
            ).alias("top_anchors")
        )
    )
    totals = per.groupBy("href").agg(
        F.sum("n").alias("n_incoming"),
        F.count(F.lit(1)).alias("n_unique_anchors"),
    )
    return totals.join(top, "href")


def mirror_hosts(
    pages: DataFrame,
    url_col: str = "url",
    content_col: str = "html",
    min_shared: int = 3,
    min_frac: float = 0.5,
    max_hosts_per_fp: int = 20,
) -> DataFrame:
    """Mirror-site detection: host pairs serving many byte-identical
    documents — the classic Common-Crawl mirror-collapse pass (a site and
    its CDN/alias/proxy copies would otherwise flood dedup downstream and
    waste crawl budget upstream). A pair is a mirror candidate when the
    hosts share >= ``min_shared`` content fingerprints AND the overlap
    covers >= ``min_frac`` of the SMALLER host's distinct pages
    (containment, not Jaccard — a small full mirror of a big site should
    flag).

    Returns (host_a, host_b, shared, frac), host_a < host_b.

    Scale shape: one distinct over (host, fingerprint), one
    groupBy(fingerprint) building within-group host pairs — never an
    all-pairs host join. Fingerprints served by more than
    ``max_hosts_per_fp`` hosts are dropped FIRST (shared 404 templates /
    empty pages / framework boilerplate would otherwise make every host
    pair with every other; real mirrors still share plenty of sub-cap
    fingerprints), which bounds the per-group pair fan-out quadratically
    in a constant — the same cap trick as LSH banding."""
    host = F.lower(F.regexp_extract(F.col(url_col), r"https?://([^/:]+)", 1))
    c = F.col(content_col)
    fp = F.md5(F.when(c.isNull(), F.lit("")).otherwise(c.cast("string")))
    hf = (
        pages.select(host.alias("host"), fp.alias("fp"))
        .where(F.col("host") != "")
        .distinct()
    )
    sizes = hf.groupBy("host").agg(F.count(F.lit(1)).alias("n_pages"))
    grouped = hf.groupBy("fp").agg(F.collect_list("host").alias("hosts"))
    capped = grouped.where(F.size("hosts") <= max_hosts_per_fp).where(
        F.size("hosts") >= 2
    )
    # within-group ordered pairs at the ARRAY level (sorted, a < b)
    pairs = capped.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.array_sort("hosts"),
                        lambda a: F.transform(
                            F.array_sort("hosts"),
                            lambda b: F.struct(a.alias("host_a"),
                                               b.alias("host_b")),
                        ),
                    )
                ),
                lambda p: p["host_a"] < p["host_b"],
            )
        ).alias("p")
    ).select("p.host_a", "p.host_b")
    shared = pairs.groupBy("host_a", "host_b").agg(
        F.count(F.lit(1)).alias("shared")
    )
    sa = sizes.select(F.col("host").alias("host_a"),
                      F.col("n_pages").alias("_na"))
    sb = sizes.select(F.col("host").alias("host_b"),
                      F.col("n_pages").alias("_nb"))
    return (
        shared.join(sa, "host_a").join(sb, "host_b")
        .withColumn(
            "frac",
            F.round(
                F.col("shared") / F.least("_na", "_nb") + 1e-9, 6
            ),
        )
        .where((F.col("shared") >= min_shared)
               & (F.col("frac") >= min_frac))
        .select("host_a", "host_b", "shared", "frac")
    )


def host_outdegree_stats(links: DataFrame, src_url: str = "url",
                         dst_url: str = "href") -> DataFrame:
    """Per-source-host outlink profile: total outlinks, distinct target
    hosts, external fraction — the classic link-farm/spam signal (a host
    spraying links at thousands of distinct external hosts is not a
    content site). One groupBy on the source host."""
    host = lambda c: F.lower(F.regexp_extract(F.col(c), r"https?://([^/:]+)", 1))  # noqa: E731
    e = links.select(host(src_url).alias("src_host"),
                     host(dst_url).alias("dst_host"))
    e = e.where((F.col("src_host") != "") & (F.col("dst_host") != ""))
    return e.groupBy("src_host").agg(
        F.count(F.lit(1)).alias("n_outlinks"),
        F.countDistinct("dst_host").alias("n_distinct_hosts"),
        F.round(
            F.avg((F.col("dst_host") != F.col("src_host")).cast("double"))
            + 1e-9, 6,
        ).alias("external_frac"),
    )


def hits(edges: DataFrame, iterations: int = 2,
         checkpoint_dir: str | None = None) -> DataFrame:
    """(src, dst) edges -> (node, hub, auth) after `iterations`
    mutual-reinforcement steps (HITS, Kleinberg 1999, public paper) —
    the hub/authority complement to :func:`pagerank` for seed curation:
    high-authority hosts seed the frontier, high-hub hosts are the
    directory pages worth re-crawling for link discovery (the reference
    hand-tunes both roles into one static map,
    deep_crawling/scorers.py DomainAuthorityScorer).

    Semantics (L1-normalized power iteration, deterministic):
      auth_i+1(v) = sum over in-edges (u,v) of hub_i(u),  then / sum
      hub_i+1(u)  = sum over out-edges (u,v) of auth_i+1(v), then / sum
    Nodes with no in-edges get auth 0; no out-edges -> hub 0. The DuckDB
    oracle (`q_hits`) unrolls the identical iterations, so results match
    to fixed rounding.

    Scale shape: each half-step is one join keyed on src (or dst) + one
    groupBy + a one-row scalar agg broadcast back — the same
    materialized-rounds pattern as pagerank; checkpoint_dir truncates
    lineage for double-digit iteration counts. No driver-side state."""
    import os

    spark = edges.sparkSession
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    scores = nodes.select("node", F.lit(1.0).alias("hub"),
                          F.lit(1.0).alias("auth"))
    for it in range(iterations):
        a_raw = (
            edges.join(scores.select(F.col("node").alias("src"), "hub"),
                       "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("r"))
        )
        a_z = a_raw.agg(F.sum("r").alias("z"))
        auth = (
            nodes.join(a_raw, "node", "left")
            .crossJoin(F.broadcast(a_z))
            .select("node",
                    (F.coalesce("r", F.lit(0.0)) / F.col("z")).alias("auth"))
        )
        h_raw = (
            edges.join(auth.select(F.col("node").alias("dst"), "auth"),
                       "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("r"))
        )
        h_z = h_raw.agg(F.sum("r").alias("z"))
        hub = (
            nodes.join(h_raw, "node", "left")
            .crossJoin(F.broadcast(h_z))
            .select("node",
                    (F.coalesce("r", F.lit(0.0)) / F.col("z")).alias("hub"))
        )
        scores = hub.join(auth, "node")
        if checkpoint_dir is not None:
            out = os.path.join(checkpoint_dir, f"hits_{it % 2}")
            scores.write.mode("overwrite").parquet(out)
            scores = spark.read.parquet(out)
    return scores.select("node", "hub", "auth")


def reciprocal_link_spam(links: DataFrame, src_url: str = "url",
                         dst_url: str = "href", min_out: int = 3,
                         min_reciprocity: float = 0.5) -> DataFrame:
    """Link-exchange / link-farm detection via reciprocity: for each source
    host, the fraction of its distinct outgoing host-edges that are
    reciprocated (the target links straight back). Organic hosts cite
    mostly without backlinks; link farms trade edges, so their reciprocity
    approaches 1. Flags hosts with >= ``min_out`` distinct targets AND
    reciprocity >= ``min_reciprocity`` — the classic TrustRank-era spam
    signal (Gyongyi et al. 2004, public paper), complementing
    :func:`host_outdegree_stats` (volume) and :func:`trustrank` (seed
    propagation).

    Returns one row per source host: n_out_hosts, n_reciprocal,
    reciprocity, is_link_farm.

    Scale shape: distinct host-edge table once, then ONE self equi-join on
    the reversed key (dst,src)=(src,dst) — keyed shuffle, no cross
    product; per-host rollup is a single groupBy with map-side partials.
    Self-edges are excluded (trivially "reciprocal")."""
    from .urlops import url_host

    e = (
        links.select(url_host(F.col(src_url)).alias("src"),
                     url_host(F.col(dst_url)).alias("dst"))
        .where((F.col("src") != "") & (F.col("dst") != "")
               & (F.col("src") != F.col("dst")))
        .distinct()
    )
    back = e.select(F.col("src").alias("dst"), F.col("dst").alias("src"),
                    F.lit(True).alias("_rec"))
    marked = e.join(back, ["src", "dst"], "left")
    return (
        marked.groupBy(F.col("src").alias("src_host"))
        .agg(
            F.count(F.lit(1)).alias("n_out_hosts"),
            F.sum(F.col("_rec").cast("long")).alias("n_reciprocal"),
        )
        .withColumn("n_reciprocal", F.coalesce("n_reciprocal", F.lit(0)))
        .withColumn(
            "reciprocity",
            F.round(F.col("n_reciprocal") / F.col("n_out_hosts") + 1e-9, 6),
        )
        .withColumn(
            "is_link_farm",
            (F.col("n_out_hosts") >= min_out)
            & (F.col("n_reciprocal") / F.col("n_out_hosts")
               >= min_reciprocity),
        )
    )


def opic(edges: DataFrame, iterations: int = 3,
         checkpoint_dir: str | None = None) -> DataFrame:
    """On-line Page Importance Computation (Abiteboul, Preda & Cobéna
    2003, "Adaptive On-Line Page Importance Computation") — the published
    crawl-ordering alternative to PageRank that needs NO damping factor
    and works on the partially-seen graph a crawler actually has
    (reference parity: the greedy score in deep_crawling/bff_strategy.py
    chooses what to fetch next; OPIC is the principled importance it
    approximates).

    Batch-synchronous variant: every node starts with cash 1/N and empty
    history. Each round, every node banks its cash into its history and
    distributes it equally along its out-edges; DANGLING nodes hand their
    cash to the virtual node, which redistributes it uniformly to all N
    nodes in the same round (the paper's virtual-page trick — total cash
    is conserved at exactly 1.0 per round):

        H_{i+1}(v) = H_i(v) + C_i(v)
        C_{i+1}(v) = sum_{(u,v) in E} C_i(u)/deg(u)  +  D_i / N
        importance(v) = (H_k(v) + C_k(v)) / (k + 1)

    where D_i is the round's dangling cash. Importances sum to 1.

    Returns (node, cash, history, importance). Same scale shape as
    :func:`pagerank`: one join + one groupBy per round, and the round's
    dangling cash stays IN the dataflow as a broadcast one-row aggregate
    (no driver collect per round — unlike the other iterative ops there
    is no convergence test to make, so no scalar ever needs to leave the
    executors); optional per-round parquet materialization keeps the plan
    from growing with the iteration count. Composes with
    :func:`pagerank_authority` unchanged for `CrawlConfig` scoring."""
    import os

    spark = edges.sparkSession
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("cash"), F.lit(0.0).alias("history"),
            F.lit(0.0).alias("importance"))
    state = nodes.select(
        "node", F.lit(1.0 / n).alias("cash"), F.lit(0.0).alias("history"))
    for it in range(iterations):
        dangling = (
            state.join(deg, state.node == deg.src, "left")
            .where(F.col("out_deg").isNull())
            .agg(F.coalesce(F.sum("cash"), F.lit(0.0)).alias("_dc"))
        )
        contribs = (
            edges.join(state, edges.src == state.node)
            .join(deg, "src")
            .select(F.col("dst").alias("node"),
                    (F.col("cash") / F.col("out_deg")).alias("c"))
        )
        sums = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        state = (
            state.join(sums, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (F.coalesce("s", F.lit(0.0)) + F.col("_dc") / F.lit(float(n)))
                .alias("cash"),
                (F.col("history") + F.col("cash")).alias("history"),
            )
        )
        # Truncate lineage between rounds: state feeds BOTH next-round
        # branches (dangling agg + contribs) and carries cumulative
        # history, so an unmaterialized chain re-evaluates combinatorially
        # with iteration count (pagerank escapes this because its new
        # ranks derive from `sums` alone). Parquet rounds when a
        # checkpoint_dir is given (cluster-safe, survives executor loss);
        # eager localCheckpoint otherwise (one small job per round). The
        # LAST round stays untruncated — the caller consumes it once, and
        # the open plan is what scripts/plan_audit.py asserts on.
        if it < iterations - 1:
            if checkpoint_dir is not None:
                out = os.path.join(checkpoint_dir, f"opic_{it % 2}")
                state.write.mode("overwrite").parquet(out)
                state = spark.read.parquet(out)
            else:
                state = state.localCheckpoint(eager=True)
    return state.select(
        "node", "cash", "history",
        ((F.col("history") + F.col("cash")) / F.lit(float(iterations + 1)))
        .alias("importance"),
    )


def degree_powerlaw(edges: DataFrame, x_min: int = 2,
                    direction: str = "in") -> DataFrame:
    """Power-law tail fit of the link-graph degree distribution — the
    scale-free-ness check every crawl-graph paper starts with (Broder et
    al. 2000 report alpha ≈ 2.1 for web in-degree). Hill/MLE estimator
    with the discrete correction (Clauset, Shalizi & Newman 2009, eq.
    3.7): over nodes with degree >= x_min,

        alpha = 1 + n_tail / sum(ln(deg / (x_min - 0.5)))
        se    = (alpha - 1) / sqrt(n_tail)

    A sane alpha (2-3) with small se says the crawl is sampling the web's
    natural topology; alpha drifting low says mega-hubs are eating the
    frontier (tighten per-host caps), a bent tail says a link farm is
    inflating mid-degrees. Shape: one groupBy for degrees, one global
    fold over the (already aggregated) per-node rows — two exchanges
    regardless of edge count. Returns one row: (direction, x_min,
    n_nodes, n_tail, max_degree, alpha, alpha_se); alpha is null when the
    tail is empty or degenerate (all tail degrees == x_min with the
    correction still > 0, so degenerate only means n_tail == 0 here)."""
    if direction not in ("in", "out"):
        raise ValueError(f"direction must be 'in' or 'out', got {direction!r}")
    key = "dst" if direction == "in" else "src"
    deg = edges.groupBy(F.col(key).alias("node")).agg(
        F.count(F.lit(1)).alias("deg"))
    tail_log = F.when(
        F.col("deg") >= x_min,
        F.log(F.col("deg").cast("double") / F.lit(x_min - 0.5)),
    )
    agg = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.count(tail_log).alias("n_tail"),
        F.sum(tail_log).alias("_s"),
        F.max("deg").alias("max_degree"),
    )
    alpha = F.when(
        (F.col("n_tail") > 0) & (F.col("_s") > 0),
        1.0 + F.col("n_tail").cast("double") / F.col("_s"),
    )
    return agg.select(
        F.lit(direction).alias("direction"),
        F.lit(x_min).alias("x_min"),
        "n_nodes", "n_tail", "max_degree",
        alpha.alias("alpha"),
        F.when(alpha.isNotNull(),
               (alpha - 1.0) / F.sqrt(F.col("n_tail").cast("double")))
        .alias("alpha_se"),
    )


def spam_mass(edges: DataFrame, good_seeds: DataFrame,
              iterations: int = 3, damping: float = 0.85,
              checkpoint_dir: str | None = None) -> DataFrame:
    """Relative spam mass (Gyöngyi, Garcia-Molina & Pedersen 2006, "Link
    spam detection based on mass estimation", public paper): the fraction
    of a node's PageRank that does NOT flow from a trusted good core,

        mass = (pr - core) / pr

    where ``pr`` is plain PageRank and ``core`` is the good-core rank —
    personalized PageRank whose teleport vector keeps the GLOBAL scale
    1/n on the good nodes and 0 elsewhere. mass near 1 means essentially
    all of the node's rank arrives from outside the vetted web (the link-
    farm signature); near 0 means trust accounts for it. The demotion
    signal that composes with :func:`trustrank` (ranking) the way the
    paper pairs them.

    Implementation notes: personalized PageRank is LINEAR in the
    teleport vector (the iteration r <- (1-d)t + dMr is affine and
    r0 = t), so core = trustrank * (n_seed / n) exactly; and both chains
    walk the SAME edges with the same degrees, so the power iteration
    carries the two rank columns through ONE join + ONE groupBy per
    round instead of two parallel chains — half the shuffles of calling
    :func:`pagerank` and :func:`trustrank` separately, same numbers.
    pr >= (1-d)/n > 0 for every node, so the ratio is always defined.
    Returns (node, pagerank, core_rank, spam_mass); spam_mass is clamped
    to [0, 1] (tiny negatives can appear when the core over-covers a
    node at small iteration counts). Small graphs with small seed sets
    iterate on the driver (pagerank's gate)."""
    import os

    spark = edges.sparkSession
    small = _small_graph(edges, good_seeds)
    if small is not None:
        from ..session import local_df

        rows, nodes, seed_set = small
        pr = _local_ranks(rows, nodes, iterations, damping)
        tr = _local_ranks(rows, nodes, iterations, damping, seed_set)
        scale = len(seed_set) / max(len(nodes), 1)
        out = []
        for x in sorted(nodes):
            core = tr[x] * scale
            mass = min(max((pr[x] - core) / pr[x], 0.0), 1.0)
            out.append((x, pr[x], core, mass))
        idt = edges.schema["src"].dataType.simpleString()
        return local_df(spark, out, f"node {idt}, pagerank double, "
                        "core_rank double, spam_mass double")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("pagerank"),
            F.lit(0.0).alias("core_rank"), F.lit(0.0).alias("spam_mass"))
    seed = good_seeds.select(
        F.col(good_seeds.columns[0]).alias("node")).distinct()
    seed_in_graph = nodes.join(seed, "node", "left_semi")
    n_seed = seed_in_graph.count()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    teleport = nodes.join(
        seed_in_graph.withColumn(
            "_t", F.lit(1.0 / n_seed if n_seed else 0.0)), "node", "left"
    ).select("node", F.coalesce("_t", F.lit(0.0)).alias("t"))
    state = teleport.select(
        "node", F.lit(1.0 / n).alias("pr"), F.col("t").alias("tr"))
    base = (1.0 - damping) / n
    for it in range(iterations):
        contribs = (
            edges.join(state, edges.src == state.node)
            .join(deg, "src")
            .select(F.col("dst").alias("node"),
                    (F.col("pr") / F.col("out_deg")).alias("cp"),
                    (F.col("tr") / F.col("out_deg")).alias("ct"))
        )
        sums = contribs.groupBy("node").agg(
            F.sum("cp").alias("sp"), F.sum("ct").alias("st"))
        state = teleport.join(sums, "node", "left").select(
            "node",
            (F.lit(base) + F.lit(damping) * F.coalesce("sp", F.lit(0.0)))
            .alias("pr"),
            (F.lit(1.0 - damping) * F.col("t")
             + F.lit(damping) * F.coalesce("st", F.lit(0.0))).alias("tr"),
        )
        if checkpoint_dir is not None:
            out = os.path.join(checkpoint_dir, f"mass_{it % 2}")
            state.write.mode("overwrite").parquet(out)
            state = spark.read.parquet(out)
    scale = n_seed / n
    core = F.col("tr") * F.lit(scale)
    return state.select(
        F.col("node"),
        F.col("pr").alias("pagerank"),
        core.alias("core_rank"),
        F.least(F.greatest(
            (F.col("pr") - core) / F.col("pr"),
            F.lit(0.0)), F.lit(1.0)).alias("spam_mass"),
    )


def graph_shape(edges: DataFrame) -> DataFrame:
    """One-row structural profile of the link graph: reciprocity (what
    fraction of edges have their reverse — mutual-link density, the
    macro version of the reciprocal-spam pair signal) and directed
    degree assortativity (Newman 2002/2003: the Pearson correlation,
    taken over EDGES, between the source's out-degree and the target's
    in-degree — positive means hubs link to hubs, strongly negative is
    the star/link-farm signature; the web's natural value is mildly
    negative).

    Shape: degree tables are two partial-agg groupBys; the per-edge
    degree pairs are two broadcast-or-shuffle equi-joins back to edges;
    everything folds in ONE global agg (sums/sum-of-squares — the same
    power-sum trick as the moments sketch), so no window and no
    per-node state beyond the degree tables. assortativity is null when
    either degree sequence is constant (zero variance)."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")) \
             .distinct()
    back = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                    F.lit(1).alias("_rev"))
    rec = e.join(back, ["src", "dst"], "left")
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("x"))
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("y"))
    pairs = (
        rec.join(outdeg, "src").join(indeg, "dst")
        .select(F.col("_rev").isNotNull().cast("int").alias("rev"),
                F.col("x").cast("double").alias("x"),
                F.col("y").cast("double").alias("y"))
    )
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum("rev").alias("_nrev"),
        F.sum("x").alias("_sx"), F.sum("y").alias("_sy"),
        F.sum(F.col("x") * F.col("x")).alias("_sxx"),
        F.sum(F.col("y") * F.col("y")).alias("_syy"),
        F.sum(F.col("x") * F.col("y")).alias("_sxy"),
    )
    n = F.col("n_edges").cast("double")
    vx = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vy = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    cov = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct().agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return agg.crossJoin(F.broadcast(nodes)).select(
        "n_nodes", "n_edges",
        (F.col("_nrev").cast("double") / n).alias("reciprocity"),
        F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
        .alias("assortativity"),
    )


def _undirected(edges: DataFrame) -> DataFrame:
    """Distinct unordered pairs (a < b), self-loops dropped — the
    undirected view the triangle/core ops work on."""
    return (
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def triangle_stats(edges: DataFrame,
                   checkpoint_dir: str | None = None) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    UNDIRECTED host graph — the link-farm/community micro-signal the
    reciprocity macro number (:func:`graph_shape`) can't see: a farm is a
    near-clique, so its nodes sit in far more triangles than organic hosts
    of the same degree (the reference has no graph analytics at all; this
    family replaces its static DomainAuthorityScorer at corpus scale).

    Returns (node, degree, triangles, clustering) with clustering =
    2*triangles / (degree*(degree-1)) (0 when degree < 2 — defined, not
    NULL, matching the usual convention).

    Scale shape — the degree-ordered orientation (Schank & Wagner 2005
    "compact-forward"; the MapReduce variant in Suri & Vassilvitskii,
    WWW 2011): orient every undirected edge from the LOWER (degree, node)
    endpoint to the higher, so each node's oriented out-degree is
    O(sqrt(m)) no matter how big a hub it is; wedges come from ONE
    self-join of the oriented list on its source and close against the
    oriented edge set with ONE more join. Mega-hub safety is structural
    (a 10^6-degree portal contributes zero wedges from its own fan-out),
    not a sampling cap. The oracle (`q_triangles`) counts triangles by an
    independent brute-force three-way join — same numbers, different
    algorithm, which is the point.

    The oriented list feeds THREE plan branches (both wedge sides + the
    closing probe) and the undirected list two more (degrees, keying) —
    pass checkpoint_dir to materialize each ONCE as parquet so no branch
    re-shuffles the raw edge table (at 10^10 edges that recompute is 5
    full scans; materialized, each branch reads a compact sorted table).
    Without it the op stays a pure recompute dataflow — fine for small
    graphs, measured 6x slower at gate scale purely from plan/stage
    overhead."""
    import os

    spark = edges.sparkSession
    und = _undirected(edges)
    if checkpoint_dir is not None:
        p = os.path.join(checkpoint_dir, "tri_und")
        und.write.mode("overwrite").parquet(p)
        und = spark.read.parquet(p)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("_db"))
    keyed = und.join(da, "a").join(db, "b")
    fwd = F.struct(F.col("_da"), F.col("a")) < F.struct(F.col("_db"), F.col("b"))
    oriented = keyed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )
    if checkpoint_dir is not None:
        p = os.path.join(checkpoint_dir, "tri_oriented")
        oriented.write.mode("overwrite").parquet(p)
        oriented = spark.read.parquet(p)
    w1 = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    w2 = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("w"))
    wedges = w1.join(w2, "u").where(F.col("v") < F.col("w"))
    closing = oriented.select(
        F.least("lo", "hi").alias("v"), F.greatest("lo", "hi").alias("w"))
    tris = wedges.join(closing, ["v", "w"])
    per_node = (
        tris.select(F.col("u").alias("node"))
        .unionByName(tris.select(F.col("v").alias("node")))
        .unionByName(tris.select(F.col("w").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))
    )
    d2 = F.col("degree").cast("double")
    return deg.join(per_node, "node", "left").select(
        "node", "degree",
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
        F.when(F.col("degree") < 2, F.lit(0.0))
        .otherwise(2.0 * F.coalesce("triangles", F.lit(0)) / (d2 * (d2 - 1.0)))
        .alias("clustering"),
    )


def k_core(edges: DataFrame, k: int, max_rounds: int = 30,
           checkpoint_dir: str | None = None) -> DataFrame:
    """The k-core of the undirected host graph: the maximal subgraph in
    which every node keeps degree >= k (Seidman 1983), by synchronous
    peeling — drop all nodes below k, recompute degrees, repeat to
    fixpoint. Spam cores and template farms live in deep cores; organic
    long-tail hosts fall out in the first rounds, so "k-core membership +
    spam_mass" is a standard promotion/demotion pair.

    Returns (node, core_degree) for surviving nodes (empty when the
    graph has no k-core). Each round is one groupBy + one semi-join —
    the same materialized-rounds shape as :func:`pagerank`; the per-round
    survivor count is the loop's only driver scalar (the same budget as
    the engine's other iterative fixpoints). Rounds are bounded by
    max_rounds; peeling converges in O(peel depth) rounds in practice
    (each round removes at least one node or stops)."""
    import os

    spark = edges.sparkSession
    cur = _undirected(edges)
    prev_n = None
    for it in range(max_rounds):
        deg = (
            cur.select(F.col("a").alias("node"))
            .unionByName(cur.select(F.col("b").alias("node")))
            .groupBy("node").agg(F.count(F.lit(1)).alias("core_degree"))
        )
        keep = deg.where(F.col("core_degree") >= k)
        n_keep = keep.count()
        if n_keep == 0:
            return keep
        if prev_n is not None and n_keep == prev_n:
            return keep
        prev_n = n_keep
        cur = (
            cur.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
        )
        # cur_{n+1} references cur_n FIVE times (the survivor edge set
        # plus two semi-joins whose keep side reads the degrees, which
        # union cur twice) — an unmaterialized chain grows the logical
        # plan 5^rounds and stalls the analyzer long before the data
        # costs anything. Same remedy as opic: parquet rounds when a
        # checkpoint_dir is given (cluster-safe), eager localCheckpoint
        # otherwise.
        if checkpoint_dir is not None:
            out = os.path.join(checkpoint_dir, f"core_{it % 2}")
            cur.write.mode("overwrite").parquet(out)
            cur = spark.read.parquet(out)
        else:
            cur = cur.localCheckpoint(eager=True)
    # max_rounds exhausted: one final degree pass decides whether the last
    # join happened to reach the fixpoint (peeling is monotone, so an
    # unchanged survivor count means an unchanged set). If it is still
    # shrinking, the result is a SUPERSET of the true k-core with
    # possibly-inflated core_degree values — warn loudly (same contract
    # as cluster_pairs / cluster_pairs_star) instead of silently
    # returning a non-k-core.
    deg = (
        cur.select(F.col("a").alias("node"))
        .unionByName(cur.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("core_degree"))
    )
    keep = deg.where(F.col("core_degree") >= k)
    if prev_n is not None and keep.count() != prev_n:
        import warnings

        warnings.warn(
            f"k_core did not converge within max_rounds={max_rounds} "
            f"(peel depth exceeds the round budget, e.g. a long chain); "
            f"the returned set is a superset of the true {k}-core — "
            f"raise max_rounds",
            RuntimeWarning,
            stacklevel=2,
        )
    return keep


def colink_similarity(
    edges: DataFrame,
    mode: str = "cocitation",
    min_common: int = 2,
    max_fanout: int = 1000,
) -> DataFrame:
    """Co-link similarity between hosts (Small 1973 co-citation; Kessler
    1963 bibliographic coupling — the classic "related pages" signals,
    used on the web since Dean & Henzinger, WWW 1999):

      cocitation : a and b are similar when the same third host links to
                   BOTH (join on the shared SOURCE) — how the web
                   describes them.
      coupling   : a and b are similar when they link to the same third
                   host (join on the shared TARGET) — how they describe
                   themselves.

    Returns (host_a, host_b, common, salton) with host_a < host_b,
    common >= min_common; ``salton`` = common / sqrt(d_a * d_b) is the
    cosine normalization over the relevant degree (in-degree for
    co-citation, out-degree for coupling), so mega-hosts don't dominate
    by volume.

    ``max_fanout`` is the skew guard the self-join NEEDS at web scale: a
    directory page with 10^5 outlinks would alone emit 10^10 co-citation
    pairs. Sources (resp. targets) above the cap are dropped from pair
    GENERATION — exactly the standard practice in co-citation analysis
    (hub pages carry no discriminative signal; they co-cite everything) —
    but still count toward the normalizing degrees, so the score stays a
    property of the graph, not of the cap. Shape: one self-join on the
    shared endpoint over capped adjacency + one (a, b) partial-agg count."""
    if mode not in ("cocitation", "coupling"):
        raise ValueError(f"mode must be cocitation|coupling, got {mode!r}")
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")) \
        .distinct()
    if mode == "cocitation":
        key, item = "src", "dst"     # shared source, paired targets
    else:
        key, item = "dst", "src"     # shared target, paired sources
    deg = e.groupBy(item).agg(F.count(F.lit(1)).alias("d"))
    fan = e.groupBy(key).agg(F.count(F.lit(1)).alias("fan"))
    capped = e.join(
        fan.where(F.col("fan") <= max_fanout).select(key), key)
    a = capped.select(F.col(key).alias("k"), F.col(item).alias("host_a"))
    b = capped.select(F.col(key).alias("k"), F.col(item).alias("host_b"))
    pairs = (
        a.join(b, "k")
        .where(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= min_common)
    )
    return (
        pairs
        .join(deg.select(F.col(item).alias("host_a"),
                         F.col("d").alias("d_a")), "host_a")
        .join(deg.select(F.col(item).alias("host_b"),
                         F.col("d").alias("d_b")), "host_b")
        .select(
            "host_a", "host_b", "common",
            F.round(F.col("common")
                    / F.sqrt(F.col("d_a") * F.col("d_b")) + 1e-9, 6)
            .alias("salton"),
        )
    )


def coreness(edges: DataFrame, max_rounds: int = 30,
             checkpoint_dir: str | None = None) -> DataFrame:
    """Full core decomposition — every node's coreness number in ONE run,
    where :func:`k_core` answers a single membership question. Uses the
    h-index iteration (Lü, Zhou, Zhang & Stanley, Nature Comms 2016;
    the distributed formulation of Montresor, De Pellegrini & Miorandi,
    IEEE TPDS 2013): start from est = degree and repeatedly set each
    node's estimate to the H-operator of its neighbors' estimates — the
    largest h such that at least h neighbors have est >= h. The sequence
    is monotonically non-increasing and converges EXACTLY to coreness.

    Returns (node, coreness). Warns (k_core's contract) when max_rounds
    is exhausted before the fixpoint — the returned estimates are then a
    node-wise UPPER BOUND on true coreness, still monotone.

    Scale shape per round: one neighbor equi-join, then the h-index is
    computed from the (node, est)-HISTOGRAM — the per-node window sorts
    distinct estimate values (bounded by the estimate range), not degree
    rows, so a 10^7-degree hub contributes its distinct neighbor
    estimates, not 10^7 sort rows. h = max(min(est, cum_count)) over the
    descending histogram — exact (the optimum of min(v, count_ge(v)) is
    always attained at a present value v). Fixpoint = zero changed
    estimates, a one-scalar driver check per round."""
    import os

    spark = edges.sparkSession
    und = _undirected(edges)
    # small-graph driver twin (the cluster_pairs convention): the h-index
    # recurrence is pure integer arithmetic, so an edge set that passes
    # the linear small-input gate runs the identical iteration locally
    # instead of rounds x (join + two aggs + window + checkpoint) jobs
    from ..session import LINEAR_MAX_ROWS, collect_if_small

    sample = collect_if_small(und, LINEAR_MAX_ROWS)
    if sample is not None:
        from ..session import local_df

        nbrs: dict = {}
        for a, b in sample:
            nbrs.setdefault(a, []).append(b)
            nbrs.setdefault(b, []).append(a)
        est = {n: len(v) for n, v in nbrs.items()}
        for _ in range(max_rounds):
            new: dict = {}
            for n, nv in nbrs.items():
                hist: dict = {}
                for x in nv:
                    v = est[x]
                    hist[v] = hist.get(v, 0) + 1
                cum, h = 0, 0
                for v in sorted(hist, reverse=True):
                    cum += hist[v]
                    m = v if v < cum else cum
                    if m > h:
                        h = m
                new[n] = h
            if new == est:
                break
            est = new
        else:
            _warn_coreness_unconverged(max_rounds)
        idt = edges.select(F.col("src")).schema[0].dataType.simpleString()
        return local_df(
            spark, sorted(est.items()),
            f"node {idt}, coreness bigint")
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")) \
        .unionByName(
            und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    est = adj.groupBy("node").agg(F.count(F.lit(1)).alias("est"))
    w = (
        Window.partitionBy("node").orderBy(F.desc("est"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    converged = False
    prev_sum = None  # degree sum is computed lazily on the first round's
    # materialized output; None just means "round 0 cannot prove
    # convergence by sum" — a fixpoint-at-init graph converges one round
    # later than the old join-count did, with identical results
    for it in range(max_rounds):
        nbr_est = adj.join(
            est.select(F.col("node").alias("nbr"), F.col("est")), "nbr"
        ).select("node", "est")
        hist = nbr_est.groupBy("node", "est").agg(
            F.count(F.lit(1)).alias("cnt"))
        new_est = (
            hist.withColumn("cum", F.sum("cnt").over(w))
            .groupBy("node")
            .agg(F.max(F.least(F.col("est"), F.col("cum"))).alias("est"))
        )
        if checkpoint_dir is not None:
            out = os.path.join(checkpoint_dir, f"coreness_{it % 2}")
            new_est.write.mode("overwrite").parquet(out)
            new_est = spark.read.parquet(out)
        else:
            new_est = new_est.localCheckpoint(eager=True)
        # convergence via the estimate SUM: the h-index iteration is
        # pointwise non-increasing over a fixed node set (Lü et al.), so
        # "no node changed" == "sum unchanged" — one cheap aggregate over
        # the just-materialized round instead of the old est⋈new_est
        # join + count (two extra shuffles per round)
        new_sum = new_est.agg(F.sum("est")).collect()[0][0]
        changed = 1 if (prev_sum is None or new_sum != prev_sum) else 0
        prev_sum = new_sum
        est = new_est
        if changed == 0:
            converged = True
            break
    if not converged:
        _warn_coreness_unconverged(max_rounds)
    return est.select("node", F.col("est").alias("coreness"))


def _warn_coreness_unconverged(max_rounds: int) -> None:
    import warnings

    warnings.warn(
        f"coreness did not converge within max_rounds={max_rounds}; "
        "estimates are a node-wise upper bound on true coreness — "
        "raise max_rounds",
        RuntimeWarning,
        stacklevel=3,
    )


def share_gini(
    df: DataFrame,
    group_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Gini coefficient of per-group share (fetches per host, tokens per
    domain, docs per source): ONE row (n_groups, total, gini). 0 = every
    group equal, ->1 = one group hogs everything — the crawl-fairness /
    corpus-concentration number a scheduler dashboard tracks per wave.
    G = sum_i (2i - n - 1) x_(i) / (n * sum x), x ascending, ties broken
    by group id so the rank assignment is deterministic.

    Scale shape: the corpus pays one partial-agg groupBy down to the
    GROUP table (hosts/domains — bounded, orders of magnitude below
    pages); the rank window and the final fold run over that table only.
    The one sort is over groups, never rows (the corpus_report
    convention for rollup-style monitors)."""
    from pyspark.sql import Window as W

    w = (F.sum(F.col(weight_col)) if weight_col
         else F.count(F.lit(1))).alias("x")
    per = df.groupBy(F.col(group_col).alias("g")).agg(w)
    rn = F.row_number().over(
        W.orderBy(F.col("x").asc(), F.col("g").asc()))
    ranked = per.select("x", rn.alias("i"))
    sizes = per.agg(F.count(F.lit(1)).alias("n_groups"),
                    F.sum("x").alias("tot"))
    return ranked.crossJoin(F.broadcast(sizes)).agg(
        F.max("n_groups").alias("n_groups"),
        F.max("tot").cast("double").alias("total"),
        F.sum((2 * F.col("i") - F.col("n_groups") - 1) * F.col("x"))
        .cast("double").alias("_num"),
    ).select(
        "n_groups", "total",
        F.when(F.col("total") > 0,
               F.col("_num") / (F.col("n_groups") * F.col("total")))
        .alias("gini"),
    )


def share_diversity(
    df: DataFrame,
    group_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Diversity profile of a composition column (source, language,
    domain): one row (n_groups, total, shannon, effective_groups,
    simpson). shannon = -sum p ln p; effective_groups = exp(shannon)
    (Hill number q=1 — "the corpus behaves like N equal sources");
    simpson = sum p^2 (collision probability; 1/simpson is Hill q=2).
    The mixture-monitoring twin of :func:`share_gini`: Gini says how
    UNEQUAL, diversity says how MANY effective parts.

    Same scale shape: one groupBy to the bounded group table, algebra on
    that table, one-row output."""
    w = (F.sum(F.col(weight_col)) if weight_col
         else F.count(F.lit(1))).alias("x")
    per = df.groupBy(F.col(group_col).alias("g")).agg(w)
    tot = per.agg(F.sum("x").alias("t"))
    p = F.col("x").cast("double") / F.col("t")
    terms = per.crossJoin(F.broadcast(tot)).select(
        (-p * F.log(p)).alias("h"), (p * p).alias("s"),
        F.col("t").cast("double").alias("total"))
    return terms.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.max("total").alias("total"),
        F.sum("h").alias("shannon"),
        F.exp(F.sum("h")).alias("effective_groups"),
        F.sum("s").alias("simpson"),
    ).select("n_groups", "total", "shannon", "effective_groups", "simpson")


def lpa_communities(
    edges: DataFrame,
    rounds: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al. 2007)
    over an edge table (src, dst), treated undirected: each round every
    node adopts the most frequent label among its neighbors, ties to the
    SMALLEST label — the deterministic argmax that makes a fixed round
    count reproducible across engines (plain LPA's random tie-break is
    famously unstable). Returns (node, label) after ``rounds`` sync
    updates; label space = node ids, so communities are named by a
    member. Link farms and template networks show up as communities far
    denser than their size predicts (pairs with spam_mass / k_core).

    Scale shape: per round = one equi-join (labels onto the bidirectional
    edge view) + one (node, label) groupBy + one per-node argmax as a
    min(struct) partial agg — no windows over edges; labels materialize
    to parquet each round (materialized-rounds convention, lineage never
    grows)."""
    import os
    import tempfile

    spark = edges.sparkSession
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="lpa_")
    bidir = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    ep = os.path.join(ckpt, "edges")
    bidir.write.mode("overwrite").parquet(ep)
    bidir = spark.read.parquet(ep)
    labels = bidir.select(F.col("u").alias("node")).distinct() \
        .withColumn("label", F.col("node"))
    for it in range(rounds):
        msgs = bidir.join(
            labels.withColumnRenamed("node", "v"), "v"
        ).select(F.col("u").alias("node"), "label")
        counts = msgs.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("c"))
        new = counts.groupBy("node").agg(
            F.min(F.struct((-F.col("c")).alias("nc"),
                           F.col("label").alias("l"))).alias("b")
        ).select("node", F.col("b.l").alias("label"))
        out = os.path.join(ckpt, f"labels_{it % 2}")
        new.write.mode("overwrite").parquet(out)
        labels = spark.read.parquet(out)
    return labels.select("node", "label")
