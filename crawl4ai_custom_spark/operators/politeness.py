"""Per-host politeness: admission budgets + exponential backoff, in logical time.

Capability parity with the reference's RateLimiter + MemoryAdaptiveDispatcher
(/root/reference/crawl4ai/async_dispatcher.py:28-85,374-527) re-expressed for
a batch engine: wall-clock sleeps become per-WAVE admission budgets, and the
backoff state machine becomes a pure fold over (domain, status) outcomes
MERGEd into a ``host_state`` table each wave — no in-flight shared mutation.

host_state(registrable_domain, current_delay double, fail_count int)
  - backoff: delay <- min(max_delay, delay * 2) on any {429,503} in the wave
  - decay:   delay <- max(base_delay, delay * 0.75) on an all-success wave
  (deterministic: the reference's +-25% jitter is dropped — jitter would
  break the reproducible-ordering contract; documented deviation)
  - per-wave budget per domain: max(1, floor(wave_seconds / current_delay))

Admission = per-domain Window top-k by (-score, depth, url) then a global
ordered limit — this IS the politeness schedule as a window operator
(SURVEY.md §2.5). Skew: the window shuffles on registrable_domain; mega-hosts
produce one hot partition each, which AQE skew-split handles for the shuffle,
and the per-domain row_number cap bounds the output regardless. For the
pathological single-domain 10^9-url frontier the pre-limit ``salted_topk``
below cuts each domain to its budget in two stages (salt -> local top-k ->
exact top-k) so no single task ever sees more than frontier/salt rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

HOST_STATE_DDL = "registrable_domain string, current_delay double, fail_count int"

RETRY_STATUSES = (429, 503)


@dataclass
class PolitenessConfig:
    base_delay: float = 2.0      # seconds per request (ref: U(1,3) midpoint)
    max_delay: float = 60.0
    wave_seconds: float = 30.0   # logical wall-clock per wave
    max_retries: int = 3
    salt_partitions: int = 0     # >0 enables two-stage salted top-k


def empty_host_state(spark: SparkSession) -> DataFrame:
    # provably empty to the optimizer: wave 0's backoff fold and the next
    # admission's host_state join plan without a join or broadcast
    from ..session import local_df

    return local_df(spark, [], HOST_STATE_DDL)


def domain_budget_col(cfg: PolitenessConfig,
                      use_crawl_delay: bool = False) -> F.Column:
    delay = F.coalesce(F.col("current_delay"), F.lit(cfg.base_delay))
    if use_crawl_delay:
        # robots Crawl-delay can only SLOW a host, never speed it past the
        # adaptive delay, and is clamped by max_delay like backoff is
        delay = F.greatest(
            delay,
            F.least(
                F.coalesce(F.col("crawl_delay"), F.lit(cfg.base_delay)),
                F.lit(cfg.max_delay),
            ),
        )
    return F.greatest(
        F.lit(1), F.floor(F.lit(cfg.wave_seconds) / delay).cast("int")
    )


def admit_order() -> list:
    """Deterministic admission ordering: (score DESC, depth ASC, url ASC)."""
    return [F.desc("score"), F.asc("depth"), F.asc("url_canon")]


def admit(
    frontier: DataFrame,
    host_state: DataFrame,
    cfg: PolitenessConfig,
    global_budget: int | None = None,
    crawl_delays: DataFrame | None = None,
) -> DataFrame:
    """Politeness admission: per-domain budgeted top-k, then global ordered
    limit. frontier needs (url_canon, registrable_domain, score, depth).
    host_state is broadcast (hosts << urls, always). Pass ``crawl_delays``
    (registrable_domain, crawl_delay — :func:`robots.robots_crawl_delays`)
    to honor robots-declared Crawl-delay: the effective per-domain delay
    becomes max(adaptive, declared) clamped by max_delay, so a declared
    delay only ever shrinks a host's wave budget."""
    fr = frontier.join(F.broadcast(host_state), "registrable_domain", "left")
    drop_extra: list[str] = []
    if crawl_delays is not None:
        fr = fr.join(
            F.broadcast(
                crawl_delays.select("registrable_domain", "crawl_delay")
            ),
            "registrable_domain", "left",
        )
        drop_extra = ["crawl_delay"]
    fr = fr.withColumn(
        "_budget", domain_budget_col(cfg, use_crawl_delay=bool(drop_extra))
    )

    order = admit_order()
    if cfg.salt_partitions > 1:
        # stage 1: within (domain, salt) keep top budget rows — bounds any
        # single task to ~|domain frontier|/salt rows before the exact pass.
        salt = F.pmod(F.xxhash64("url_canon"), F.lit(cfg.salt_partitions))
        w1 = Window.partitionBy("registrable_domain", salt).orderBy(*order)
        fr = fr.withColumn("_rs", F.row_number().over(w1)).where(
            F.col("_rs") <= F.col("_budget")
        ).drop("_rs")

    w = Window.partitionBy("registrable_domain").orderBy(*order)
    admitted = (
        fr.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.col("_budget"))
        .drop("_rn", "_budget", "current_delay", "fail_count", *drop_extra)
    )
    if global_budget is not None:
        # deterministic global truncation, same order as the reference's
        # score-sorted capacity trim (bfs_strategy.py:130-137)
        admitted = admitted.orderBy(*order).limit(int(global_budget))
    return admitted


def fold_wave_outcomes(
    host_state: DataFrame,
    wave_results: DataFrame,
    cfg: PolitenessConfig,
) -> DataFrame:
    """New host_state from this wave's (registrable_domain, status_code) rows.
    Pure fold; returns a small DF (one row per touched domain + carryover)."""
    outcomes = wave_results.groupBy("registrable_domain").agg(
        F.sum(
            F.when(F.col("status_code").isin(*RETRY_STATUSES), 1).otherwise(0)
        ).alias("_fails"),
        F.count(F.lit(1)).alias("_n"),
    )
    merged = host_state.join(outcomes, "registrable_domain", "full")
    delay = F.coalesce(F.col("current_delay"), F.lit(cfg.base_delay))
    new_delay = (
        F.when(F.col("_fails") > 0, F.least(F.lit(cfg.max_delay), delay * 2.0))
        .when(F.col("_n") > 0, F.greatest(F.lit(cfg.base_delay), delay * 0.75))
        .otherwise(delay)
    )
    new_fails = F.coalesce(F.col("fail_count"), F.lit(0)) + F.coalesce(
        F.col("_fails"), F.lit(0)
    ).cast("int")
    return merged.select(
        "registrable_domain",
        new_delay.cast("double").alias("current_delay"),
        new_fails.cast("int").alias("fail_count"),
    )


def aged_score(score: F.Column, wait_waves: F.Column,
               fairness_waves: int) -> F.Column:
    """The same aging in the frontier's score-DESC admission order: a row
    waiting beyond the fairness horizon outranks every un-aged row, longer
    waits first (reference _get_priority_score, async_dispatcher.py:217-226,
    where aged priority = -wait_time in an ascending queue)."""
    w = wait_waves.cast("double")
    return F.when(w > fairness_waves, F.lit(1e9) + w).otherwise(score)


def queue_wait_stats(admitted_log: DataFrame) -> DataFrame:
    """Per-wave queue statistics — dispatcher parity
    (/root/reference/crawl4ai/async_dispatcher.py:508-520: total queued,
    max wait, avg wait). Wait is measured in waves: the gap between a url's
    discovery wave and the wave that finally admitted it (0 = admitted the
    wave after discovery). One conditional aggregation over the admitted
    log — O(rows), no shuffle beyond the groupBy."""
    wait = (F.col("wave") - F.col("discovered_wave")).cast("long")
    return (
        admitted_log.groupBy("wave")
        .agg(
            F.count(F.lit(1)).alias("admitted"),
            F.max(wait).alias("max_wait_waves"),
            F.round(F.avg(wait), 4).alias("avg_wait_waves"),
        )
        .orderBy("wave")
    )


def admit_dfs_prefix(
    frontier: DataFrame,
    host_state: DataFrame,
    cfg: PolitenessConfig,
    order: list,
    cap: int,
    crawl_delays: DataFrame | None = None,
) -> DataFrame:
    """Longest politeness-admissible PREFIX of the DFS stack, pop order
    preserved (dfs_strategy.py LIFO semantics, batched): walk the stack in
    ``order``; each row consumes one unit of its host's wave budget; the
    first row whose host budget is exhausted ends the wave — admitting
    anything past it would reorder pops relative to sequential DFS.

    One plan, no extra action: global stack position + per-host running
    count via windows, cutoff = min stack position of any over-budget row
    (an unpartitioned min window over the already-single-partition stack
    ordering — DFS is the documented sequential-semantics mode, so the
    global window is the point, not an accident)."""
    fr = frontier.join(F.broadcast(host_state), "registrable_domain", "left")
    if crawl_delays is not None:
        fr = fr.join(
            F.broadcast(
                crawl_delays.select("registrable_domain", "crawl_delay")
            ),
            "registrable_domain", "left",
        )
    fr = fr.withColumn(
        "_budget",
        domain_budget_col(cfg, use_crawl_delay=crawl_delays is not None),
    )
    w_stack = Window.orderBy(*order)
    w_host = Window.partitionBy("registrable_domain").orderBy(*order)
    ranked = (
        fr.withColumn("_pos", F.row_number().over(w_stack))
        .withColumn("_hpos", F.row_number().over(w_host))
    )
    cutoff = F.min(
        F.when(F.col("_hpos") > F.col("_budget"), F.col("_pos"))
    ).over(w_stack.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing))
    return (
        ranked.withColumn("_cut", cutoff)
        .where(
            (F.col("_pos") < F.coalesce(F.col("_cut"), F.lit(1 << 31)))
            & (F.col("_pos") <= int(cap))
        )
        .drop("_pos", "_hpos", "_cut", "_budget", "current_delay",
              "fail_count", "crawl_delay")
    )


def allocate_crawl_budget(host_weights: DataFrame, total_budget: int,
                          host_col: str = "host",
                          weight_col: str = "weight") -> DataFrame:
    """Proportional-fair crawl budget allocation (largest-remainder /
    Hamilton method): split a global page budget across hosts in
    proportion to a quality/priority weight, exactly — the planning step
    a 100-TB recrawl runs before :func:`admit_frontier` enforces the
    per-host quotas. floor(total * w / W) per host, then the leftover
    pages go one each to the hosts with the largest fractional parts
    (ties: host asc), so — provided at least one host has positive
    weight — sum(quota) == total_budget exactly and the result is
    deterministic.

    Returns (host, weight, quota). Non-positive weights get quota 0 and
    never receive remainder pages; when NO host has positive weight the
    budget is unallocatable and every quota is 0 (sum 0, not
    total_budget — the one documented exception to the exact-sum rule).

    Scale shape: one scalar agg broadcast back (sum of weights), one
    global window ordered by (frac desc, host) for remainder ranking —
    a single ordered shuffle over the HOST table (orders of magnitude
    smaller than the url table), no driver loop."""
    hw = host_weights.select(F.col(host_col).alias("host"),
                             F.col(weight_col).cast("double").alias("weight"))
    w = F.when(F.col("weight") > 0, F.col("weight")).otherwise(F.lit(0.0))
    tot = hw.agg(F.sum(w).alias("_w_sum"))
    exact = (
        hw.crossJoin(F.broadcast(tot))
        .withColumn("_exact",
                    F.when((F.col("weight") > 0) & (F.col("_w_sum") > 0),
                           F.lit(float(total_budget)) * F.col("weight")
                           / F.col("_w_sum")).otherwise(F.lit(0.0)))
        .withColumn("_floor", F.floor("_exact"))
        .withColumn("_frac", F.round(F.col("_exact") - F.col("_floor"), 9))
    )
    floor_sum = exact.agg(F.sum("_floor").alias("_f_sum"))
    # zero-weight hosts sit at frac 0.0 and must not occupy remainder
    # ranks that a positive-weight integer-exact host deserves
    win = Window.orderBy(F.col("_frac").desc(),
                         (F.col("weight") > 0).desc(), F.col("host").asc())
    return (
        exact.crossJoin(F.broadcast(floor_sum))
        .withColumn("_rank", F.row_number().over(win))
        .withColumn(
            "quota",
            (F.col("_floor")
             + F.when((F.col("weight") > 0)
                      & (F.col("_rank")
                         <= F.lit(total_budget) - F.col("_f_sum")),
                      F.lit(1)).otherwise(F.lit(0))).cast("long"),
        )
        .select("host", "weight", "quota")
    )
