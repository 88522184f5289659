"""Crawl job configuration.

Reference analog: live JSON config (/root/reference/config.py:7-30 and
Worker config, /root/reference/Worker/main.py:10-16) — `max-retry`,
`delay-target`, `stage-size`, batch counts. Here it is a static
dataclass shipped with the job (spark-submit --py-files), never fetched
at runtime.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class CrawlConfig:
    seed: int = 42
    date_str: str = "20260816"  # key prefix, reference Coordinator/main.py:28-31
    n_urls: int = 10_000
    n_hosts: int = 50
    zipf_a: float = 1.3  # host popularity skew (hot hosts exercise salting)
    n_buckets: int = 32  # frontier bucketing: hash(canonical_host) % n_buckets

    # Politeness / scheduling (north_rule: budgets drive a window-function
    # priority queue; reference analog Worker/main.py:51-68 pacing).
    default_budget_per_host: int = 64  # max fetches per host per epoch
    hot_host_threshold: int = 512  # candidate count above which a host is salted
    n_salt: int = 8

    # Retry / forfeit (reference config.py:20 LIMIT_RETRY + Coordinator
    # main.py:21-23 forfeit rule).
    max_retry: int = 3
    fail_pct: int = 10  # deterministic synthetic failure rate, percent

    max_epochs: int = 64

    # Frontier maintenance between epochs (identical results, different
    # physical plans — equivalence is asserted in tests):
    #   "incremental": the live pending set is carried exactly across
    #     epochs (unselected ∪ retryable errors) — ZERO joins in the
    #     steady-state loop; the seen-set membership test runs once per
    #     (re)entry, where membership is actually unknown (resume and
    #     ingested frontier rows), as the exact state join: a filter
    #     probed once would cost more than the shuffle it saves.
    #   "regenerate": reference mechanics (Coordinator/main.py:65-68
    #     rebuilds the todo list from the seen scan every tick) — the
    #     full pending set re-joins the compacted seen state every
    #     epoch, Bloom-prefiltered once the state reaches
    #     bloom_min_items.
    frontier_mode: str = "incremental"

    # Seen-set Bloom gating, regenerate mode only (the one mode that
    # keeps a filter current per epoch and probes it every epoch;
    # incremental re-entry always takes the exact join). The prefilter
    # pays for itself only once the attempted-key set is large enough
    # that shuffling it into the state join dominates the build+probe
    # cost. Below the threshold the exact join runs alone (same results
    # either way — tests force the Bloom path with bloom_min_items=0).
    # Below ~1M attempted keys the state side still broadcast-joins
    # (tens of MB), so the exact join wins outright; beyond it the
    # Bloom gates the shuffled join down to maybe-hits only.
    bloom_min_items: int = 1_000_000

    # Bloom backend of regenerate mode's per-epoch gate (incremental
    # mode builds no filter): "driver" holds one bitset on the driver
    # and broadcasts it per epoch — right for any filter that fits a
    # broadcast. "sharded" keys the filter by xxhash64(key) % n_shards
    # and tests membership via a cogrouped applyInPandas, so a task
    # only ever holds its shard's bits (total/n_shards) — the 10^10-key
    # layout where the full filter (~12 GB at 1% fpp) can never be
    # broadcast. Identical results (tests assert).
    bloom_backend: str = "driver"
    bloom_shards: int = 64

    # Largest seen-state (rows) the epoch join will broadcast. Below it
    # the state ships to executors once (no shuffle of either side);
    # above it the join shuffles both sides — still cheap and, unlike a
    # broadcast (a serial driver collect), it scales with executors.
    state_broadcast_max: int = 100_000

    # Durable seen-state compaction cadence: the in-memory state is
    # localCheckpoint'ed every epoch; the parquet snapshot (resume
    # fast-path) is rewritten every K epochs. Resume after a crash
    # between snapshots rebuilds state from the append-only fetch_log.
    state_compact_every: int = 4

    # fetch_log small-file compaction cadence (0 = off): every K epochs
    # the log's per-epoch snapshots are rewritten into one (see
    # catalog.Table.compact). At 10^3+ epochs this bounds manifest
    # growth and file-open fan-in; results are provably unchanged
    # (equivalence asserted in tests/test_crawl_e2e.py). Default ON at
    # 50: a 10^3-epoch crawl carries ≤50 live snapshots instead of 10^3,
    # while short crawls (< 50 epochs, incl. the bench) never pay the
    # rewrite; measured cost at cadence 3 in BASELINE.md.
    log_compact_every: int = 50

    # Mid-crawl link discovery (north_rule: the priority queue orders by
    # "priority, depth, discovery-time" — with discovery on, depth and
    # discovered_ts are real frontier DYNAMICS, not static seed
    # metadata). A successful fetch deterministically yields
    # 0..discovery_fanout child URLs (synth.child_ids — the sandbox's
    # stand-in for href extraction; reference analog: the Coordinator
    # folding freshly generated URL lists into the next tick's todo,
    # Coordinator/main.py:34-61). Children enter the frontier at the
    # END of the epoch that fetched their first parent, with
    # depth = 1 + min(parent depth) over that epoch's discovering
    # parents; parents at depth >= discovery_max_depth yield nothing.
    # n_seed_urls caps the SEED frontier to a prefix of the id space so
    # discovery has novel ids to find (the images table always covers
    # all n_urls ids); None seeds the whole space. fanout 0 = off —
    # the default, so seed-only crawls are byte-identical to before.
    discovery_fanout: int = 0
    discovery_max_depth: int = 3
    n_seed_urls: int | None = None
    # Discovered rows APPEND to the frontier table in batches of K
    # epochs (1 = every epoch). Novel rows are localCheckpoint-pinned
    # the epoch they surface — the batch only defers the durable write,
    # and the crash window costs nothing because the fetch_log (committed
    # every epoch) is the source of truth: rebuild_discovered_frontier
    # re-derives ANY number of lost discovery appends on resume. Each
    # deferred append is one fewer fixed-cost driver job per epoch —
    # the term that erodes N→4N scaling efficiency when epochs are
    # data-light.
    discovery_flush_every: int = 8

    # Robots: hosts whose path prefix is disallowed are excluded at
    # frontier build (north_rule robots budget).
    robots_disallow: tuple[str, ...] = ("/private/",)

    # Per-epoch per-host lineage counters: below this host count they
    # collect to the driver and append as one tiny parquet (no Spark
    # write job — cheapest for the sandbox's 10^4 hosts); above it the
    # counters stay distributed and append through a regular Spark
    # write, because a 10^8-host collect would be a driver OOM.
    counter_collect_max: int = 100_000

    extra: dict = field(default_factory=dict, compare=False)

    @property
    def shuffle_salt(self) -> str:
        return f"shuffle-{self.seed}"

    @property
    def seed_urls(self) -> int:
        """Rows in the SEED frontier (ids [0, seed_urls)); the rest of
        the id space [seed_urls, n_urls) is reachable only by
        discovery."""
        return self.n_urls if self.n_seed_urls is None else min(
            self.n_seed_urls, self.n_urls
        )


def fail_roll(key: str, attempt: int, cfg: CrawlConfig) -> bool:
    """Deterministic synthetic fetch failure: True = this attempt errors.

    Pure function of (key, attempt, seed) so the Spark engine and the
    pure-Python simulator agree exactly. Replaces the reference's real
    network failures (Worker/node_handler.js timeout → `_ERR.pp`).
    """
    from .hashing import xxh64_str

    return xxh64_str(f"fail:{key}:{attempt}:{cfg.seed}") % 100 < cfg.fail_pct
