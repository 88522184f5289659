"""Politeness / priority scheduling as window functions.

Reference analog: the worker dispatches serially with randomized
sleeps (`/root/reference/Worker/main.py:51-68`) and the coordinator
shards work by ``int(key[-4:]) % total_batches``
(`/root/reference/Coordinator/main.py:74-75`). The engine replaces
wall-clock pacing with a *per-host per-epoch budget*: at most
``max_per_epoch`` URLs per canonical host are selected each epoch,
chosen by (priority, depth, discovered_ts, key) — the north_rule
priority queue expressed as ``row_number`` over host partitions.

Skew: a few Zipf-hot hosts would put an entire host's candidates in
one window partition. We run a *semantics-preserving two-phase top-K*:
phase 1 computes row_number within (host, salt) — salt only for hosts
whose candidate count exceeds ``hot_host_threshold`` — and keeps the
per-salt top-B superset; phase 2 re-ranks the (now ≤ B·n_salt per
host) survivors within plain host partitions. The selected set is
identical to a single global window, but no task ever sorts more than
B·n_salt rows of a hot host.

Phase 1 is computed once per epoch. ``rank_phase1`` tags every row
with its phase-1 rank; ``rank_finish`` turns that into ``host_rank``:
one projection when no host is salted, and otherwise two branches over
the same phase-1 rows (hot-host survivors re-ranked, every other row
projected), which the epoch loop reads from a localCheckpoint so the
politeness join and the phase-1 window do not run once per branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from .config import CrawlConfig

ORDER_COLS = ("priority", "depth", "discovered_ts", "key")


def _order():
    return [F.col(c).asc() for c in ORDER_COLS]


def hot_hosts_of(frontier: DataFrame, cfg: CrawlConfig) -> list[str]:
    """Hosts whose frontier candidate count exceeds the salting
    threshold. The frontier is static per crawl, so this is computed
    once at crawl start, not per epoch — salting is a physical choice;
    phase 2 re-ranks exactly regardless of which hosts are salted."""
    return [
        r["canonical_host"]
        for r in frontier.groupBy("canonical_host")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > cfg.hot_host_threshold)
        .collect()
    ]


def rank_phase1(candidates: DataFrame, politeness: DataFrame,
                cfg: CrawlConfig, hot_hosts: list[str]) -> DataFrame:
    """Phase 1 of the rank, over ALL candidate rows: the politeness
    join, the salt, and ``_r1`` = row_number within (host, salt).

    ``politeness``: (canonical_host, max_per_epoch, ...) small dim →
    broadcast join. ``hot_hosts``: the salting list, computed once per
    crawl by ``hot_hosts_of``. The per-salt top-B (``_r1 <=
    max_per_epoch``) is a superset of the true per-host top-B; rows
    beyond it are certain losers. For every non-hot host ``_salt`` is
    the constant 0, so ``_r1`` already IS the exact host rank.
    """
    withb = candidates.join(
        F.broadcast(politeness.select("canonical_host", "max_per_epoch")),
        "canonical_host",
        "left",
    ).withColumn(
        "max_per_epoch",
        F.coalesce(F.col("max_per_epoch"), F.lit(cfg.default_budget_per_host)),
    )

    # Hot-host salting (explicit salting of hot hosts, north_rule).
    withb = withb.withColumn(
        "_hot",
        F.when(F.col("canonical_host").isin(*hot_hosts), F.lit(True))
        if hot_hosts else F.lit(None).cast("boolean"),
    )
    salted = withb.withColumn(
        "_salt",
        F.when(
            F.col("_hot").isNotNull(),
            F.pmod(F.xxhash64(F.col("key"), F.lit("salt")), F.lit(cfg.n_salt)),
        ).otherwise(F.lit(0)),
    )
    w1 = W.partitionBy("canonical_host", "_salt").orderBy(*_order())
    return salted.withColumn("_r1", F.row_number().over(w1))


def rank_finish(tagged: DataFrame, hot_hosts: list[str]) -> DataFrame:
    """Phase 2 of the rank over ``rank_phase1`` output: ``host_rank``
    for every row (null for budget losers), phase-1 columns dropped.

    Without hot hosts the finish is one projection of ``_r1`` — no
    union, so the plan holds phase 1 once. With hot hosts, the exact
    per-host re-rank is needed ONLY where salting split a host across
    partitions: the hot-host survivors (≤ n_salt·B per hot host) take
    a second ``row_number`` over plain host partitions, and every other
    row keeps ``_r1`` (or null). ``tagged`` is read by both branches,
    so the caller pins it first (``run_epoch_incremental``
    localCheckpoints it) or phase 1 runs twice.
    """
    survivor = F.col("_r1") <= F.col("max_per_epoch")
    hot_survivor = survivor & F.col("_hot").isNotNull()
    phase1_cols = ("_r1", "_salt", "_hot")
    rest = (tagged.filter(~hot_survivor) if hot_hosts else tagged).withColumn(
        "host_rank", F.when(survivor, F.col("_r1"))).drop(*phase1_cols)
    if not hot_hosts:
        return rest
    w2 = W.partitionBy("canonical_host").orderBy(*_order())
    hot_ranked = (
        tagged.filter(hot_survivor)
        .drop(*phase1_cols)
        .withColumn("host_rank", F.row_number().over(w2))
    )
    return rest.unionByName(hot_ranked)


def rank_per_host(candidates: DataFrame, politeness: DataFrame,
                  cfg: CrawlConfig, hot_hosts: list[str]) -> DataFrame:
    """Rank every candidate within its host's politeness budget WITHOUT
    dropping the losers: returns all input rows plus ``host_rank``
    (null for rows that can't be in the host's top-B) and
    ``max_per_epoch``. ``host_rank <= max_per_epoch`` (null-false) is
    the selection predicate; the complement is exactly the rows that
    stay pending — which lets the epoch loop maintain the live frontier
    incrementally instead of re-running a seen-set join every epoch.

    ``rank_finish`` over ``rank_phase1``; with hot hosts the plan reads
    phase 1 twice, which the epoch loop avoids by pinning phase 1
    between the two steps.
    """
    return rank_finish(rank_phase1(candidates, politeness, cfg, hot_hosts),
                       hot_hosts)


def is_selected():
    """Selection predicate over rank_per_host output (null-safe)."""
    return F.col("host_rank").isNotNull() & (
        F.col("host_rank") <= F.col("max_per_epoch")
    )


def select_per_host_budget(candidates: DataFrame, politeness: DataFrame,
                           cfg: CrawlConfig) -> DataFrame:
    """Top-``max_per_epoch`` candidates per host this epoch — the
    filtered view of ``rank_per_host`` (identical selected set), with
    the candidates' own hot hosts salted."""
    return (
        rank_per_host(candidates, politeness, cfg,
                      hot_hosts_of(candidates, cfg))
        .filter(is_selected())
        .drop("max_per_epoch")
    )


def crawl_shuffle_order(selected: DataFrame, cfg: CrawlConfig, epoch: int) -> DataFrame:
    """Assign the epoch fetch order.

    The reference does ``random.shuffle`` (Coordinator/main.py:58-59) to
    mix vendors; we define the engine semantics as seeded-hash order —
    deterministic, reproducible by the simulator, still host-mixing.
    Adds ``shuffle_rank``; the epoch crawl order IS
    ``ORDER BY shuffle_rank, key`` — no global row_number (which would
    funnel the epoch through one task) is materialized in the hot path.
    """
    suffix = f":{cfg.shuffle_salt}:{epoch}"
    return selected.withColumn(
        "shuffle_rank", F.xxhash64(F.concat(F.col("key"), F.lit(suffix)))
    )


def with_global_pos(df: DataFrame, order_cols: list[str], out_col: str = "pos") -> DataFrame:
    """Dense 0-based global position under ``order_cols`` — scalable.

    Range-partition by the order and sort within partitions; the
    partition id comes from ``spark_partition_id()`` (guaranteed API)
    and the within-partition index from ``monotonically_increasing_id``
    relative to its per-partition minimum — which relies only on the
    documented "monotonically increasing within a partition" contract
    plus consecutiveness, NOT on the ``pid << 33 | row`` bit layout the
    round-1 code decoded (an implementation detail that would break
    silently if it changed; pinned by a test instead). No window over
    the data at all: per-partition offsets are a count-prefix-sum over
    the tiny pid dim (≤ one row per partition), broadcast back. The
    data pays exactly one shuffle (the range exchange, reused across
    the two branches by AQE exchange reuse); the only single-partition
    window runs over the offsets frame, never over data. Equal keys
    land in the same range partition, so ordinals under ties match a
    global-window ``row_number`` up to tie order.
    """
    cols = [F.col(c) for c in order_cols]
    base = (
        df.repartitionByRange(*cols)
        .sortWithinPartitions(*cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.spark_partition_id())
    )
    offsets = (
        base.groupBy("_pid")
        .agg(F.count("*").alias("_n"), F.min("_mid").alias("_min_mid"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_n").over(
                    W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_off", "_min_mid")
    )
    return (
        base.join(F.broadcast(offsets), "_pid")
        .withColumn(
            out_col,
            (F.col("_off") + F.col("_mid") - F.col("_min_mid")).cast("long"),
        )
        .drop("_pid", "_mid", "_off", "_min_mid")
    )

