"""Mid-crawl link discovery: with discovery_fanout > 0 a successful
fetch deterministically yields child URLs that enter the frontier at
epoch end with depth = 1 + min(parent depth) — the north_rule's
"priority, depth, discovery-time" ordering over a frontier that GROWS
mid-crawl. Crawl order + seen set must still match the pure-Python
simulator exactly, across resume, and after a frontier-append loss
healed from the fetch_log."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sim.reference_sim import simulate
from ycrawl_spark import synth
from ycrawl_spark.catalog import Catalog
from ycrawl_spark.config import CrawlConfig
from ycrawl_spark.pipeline import (
    crawl_order, rebuild_discovered_frontier, run_crawl, seen_sets,
)

CFG = CrawlConfig(
    n_urls=600,
    n_seed_urls=150,
    discovery_fanout=3,
    discovery_max_depth=5,
    n_hosts=10,
    default_budget_per_host=12,
    hot_host_threshold=60,
    n_salt=4,
    max_retry=2,
    fail_pct=12,
    max_epochs=40,
)


def _cfg(**kw) -> CrawlConfig:
    return CrawlConfig(**{**CFG.__dict__, **kw})


@pytest.fixture(scope="module")
def disc_run(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("disc"))
    stats = run_crawl(spark, CFG, wd)
    return wd, stats


def test_discovery_order_and_seen_match_simulator(spark, disc_run):
    wd, stats = disc_run
    sim = simulate(CFG)
    # discovery actually happened (the fixture is not vacuously seed-only)
    assert sum(e["discovered"] for e in sim.per_epoch) > 0
    assert crawl_order(spark, wd) == sim.order
    done, forfeit = seen_sets(spark, wd, CFG)
    assert done == sim.done
    assert forfeit == sim.forfeit
    engine_epochs = [(s.epoch, s.n_selected, s.n_ok, s.n_err, s.n_discovered)
                     for s in stats if s.n_selected > 0]
    sim_epochs = [(e["epoch"], e["selected"], e["ok"], e["err"], e["discovered"])
                  for e in sim.per_epoch]
    assert engine_epochs == sim_epochs


def test_discovered_frontier_rows_carry_dynamics(spark, disc_run):
    wd, _ = disc_run
    frontier = Catalog(wd).table("frontier").read(spark)
    disc = frontier.filter(F.col("epoch_added") > 0)
    n_disc = disc.count()
    assert n_disc > 0
    # only non-seed ids are ever appended, exactly once each
    assert disc.filter(
        F.col("image_id") < synth.image_id_for(CFG.seed_urls)
    ).count() == 0
    assert disc.groupBy("key").count().filter("count > 1").count() == 0
    # discovered_ts sits past the whole seed range (discovery-time order)
    seed_max_ts = frontier.filter(F.col("epoch_added") == 0).agg(
        F.max("discovered_ts")
    ).collect()[0][0]
    assert disc.agg(F.min("discovered_ts")).collect()[0][0] > seed_max_ts
    # depth is a real dynamic: 1 + min parent depth, never above the cap
    assert disc.filter(
        (F.col("depth") < 1) | (F.col("depth") > CFG.discovery_max_depth)
    ).count() == 0


def test_discovery_resume_determinism(spark, tmp_path_factory, disc_run):
    wd_full, _ = disc_run
    wd = str(tmp_path_factory.mktemp("disc_resume"))
    run_crawl(spark, _cfg(max_epochs=3), wd)
    run_crawl(spark, CFG, wd, resume=True)
    assert crawl_order(spark, wd) == crawl_order(spark, wd_full)
    assert seen_sets(spark, wd, CFG) == seen_sets(spark, wd_full, CFG)


def test_heal_recovers_lost_frontier_appends(spark, tmp_path_factory, disc_run):
    """Crash window: fetch_log committed, discovery's frontier append
    lost. Discovered rows are a pure function of the log, so the resume
    heal must re-derive them exactly — content-identical to the rows the
    live path appended (same keys, depths, epoch_added cohorts)."""
    wd_full, _ = disc_run
    wd = str(tmp_path_factory.mktemp("disc_heal"))
    run_crawl(spark, _cfg(max_epochs=3), wd)
    frontier_t = Catalog(wd).table("frontier")
    before = frontier_t.read(spark).filter(F.col("epoch_added") > 0)
    lost = [(r["key"], r["depth"], r["epoch_added"])
            for r in before.select("key", "depth", "epoch_added").collect()]
    assert lost  # the partial run discovered something
    for snap in frontier_t.snapshots():
        if snap.epoch and snap.epoch > 0:
            frontier_t.rollback(snap.snapshot_id)
    assert frontier_t.read(spark).filter(F.col("epoch_added") > 0).count() == 0
    healed_n = rebuild_discovered_frontier(spark, Catalog(wd), CFG)
    assert healed_n == len(lost)
    after = frontier_t.read(spark).filter(F.col("epoch_added") > 0)
    got = {(r["key"], r["depth"], r["epoch_added"])
           for r in after.select("key", "depth", "epoch_added").collect()}
    assert got == set(lost)
    # and the healed workdir resumes to the exact full-run crawl
    run_crawl(spark, CFG, wd, resume=True)
    assert crawl_order(spark, wd) == crawl_order(spark, wd_full)


def test_discovered_frontier_rows_match_simulator_per_epoch(spark, disc_run):
    """Every discovery batch reaches the frontier table — buffered ones
    included, flushed at the cadence or at crawl end — exactly once:
    the frontier's rows per epoch_added > 0 equal the simulator's
    per-epoch discovered counts."""
    wd, _ = disc_run
    sim = simulate(CFG)
    frontier = Catalog(wd).table("frontier").read(spark)
    got = {r["epoch_added"]: r["count"] for r in
           frontier.filter(F.col("epoch_added") > 0)
           .groupBy("epoch_added").count().collect()}
    want = {e["epoch"]: e["discovered"] for e in sim.per_epoch
            if e["discovered"]}
    assert got == want


def test_child_key_column_matches_row_builder(spark):
    """The discovery anti-join's broadcast build side derives child
    keys as a pure column expression (format_string %04d); it must
    match synth.frontier_row's f-string exactly — including ids whose
    decimal form outgrows the 4-digit pad (both pad-never-truncate)."""
    ids = [0, 1, 9, 999, 9999, 123456, 99999999]
    want = [synth.frontier_row(i, CFG)["key"] for i in ids]
    got = (
        spark.createDataFrame([(i,) for i in ids], "id long")
        .select(F.format_string(
            CFG.date_str + "_H%04d", F.col("id") + 1).alias("key"))
        .collect()
    )
    assert [r["key"] for r in got] == want


def test_discovery_off_keeps_seed_only_behavior(spark, tmp_path_factory):
    """fanout=0 must be byte-identical to the pre-discovery engine:
    same order as a seed-only simulator run, no frontier growth."""
    cfg = _cfg(discovery_fanout=0, n_seed_urls=None, n_urls=200,
               max_epochs=20)
    wd = str(tmp_path_factory.mktemp("disc_off"))
    run_crawl(spark, cfg, wd)
    sim = simulate(cfg)
    assert crawl_order(spark, wd) == sim.order
    frontier = Catalog(wd).table("frontier").read(spark)
    assert frontier.count() == cfg.n_urls
    assert frontier.filter(F.col("epoch_added") > 0).count() == 0
