"""Crawl job configuration.

Reference analog: live JSON config (/root/reference/config.py:7-30 and
Worker config, /root/reference/Worker/main.py:10-16) — `max-retry`,
`delay-target`, `stage-size`, batch counts. Here it is a static
dataclass shipped with the job (spark-submit --py-files), never fetched
at runtime.

The engine has one frontier mode (pipeline.py): the live pending set is
carried exactly across epochs, and the URL-seen test is one exact
state join per (re)entry, so no knob here picks a mode or a filter.
The engine's own bookkeeping cadences (``pipeline.LOG_COMPACT_EVERY``,
``pipeline.DISCOVERY_FLUSH_EVERY``) are constants, not fields: a field
here describes the crawl, not a choice between implementations of it.
"""

from __future__ import annotations

from dataclasses import dataclass


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

    # No effect: the seen-set test is the exact entry join, which
    # builds no Bloom. Kept only because perfbench/workloads.py still
    # passes it.
    bloom_min_items: int = 1_000_000

    # Largest seen-state (rows) the entry join will broadcast. Below it
    # the state ships to executors once (no shuffle of either side);
    # above it the join shuffles both sides — still cheap and, unlike a
    # broadcast (a serial driver collect), it scales with executors.
    state_broadcast_max: int = 100_000

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

    # Robots: hosts whose path prefix is disallowed are excluded at
    # frontier build (north_rule robots budget).
    robots_disallow: tuple[str, ...] = ("/private/",)

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
