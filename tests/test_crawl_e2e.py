"""End-to-end crawl equivalence vs the pure-Python reference simulator
(SURVEY.md §5.2): crawl order + URL-seen set must match EXACTLY, plus
resume determinism and per-row payload invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sim.reference_sim import simulate
from ycrawl_spark.config import CrawlConfig
from ycrawl_spark.pipeline import crawl_order, read_parsed, run_crawl, seen_sets

CFG = CrawlConfig(
    n_urls=800,
    n_hosts=12,
    default_budget_per_host=16,
    hot_host_threshold=60,
    n_salt=4,
    max_retry=2,
    fail_pct=15,
    max_epochs=40,
)


@pytest.fixture(scope="module")
def crawl_run(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("crawl"))
    stats = run_crawl(spark, CFG, wd)
    return wd, stats


def test_crawl_order_and_seen_set_match_simulator(spark, crawl_run):
    wd, stats = crawl_run
    sim = simulate(CFG)
    assert crawl_order(spark, wd) == sim.order
    done, forfeit = seen_sets(spark, wd, CFG)
    assert done == sim.done
    assert forfeit == sim.forfeit
    # per-epoch counters match too
    engine_epochs = [(s.epoch, s.n_selected, s.n_ok, s.n_err)
                     for s in stats if s.n_selected > 0]
    sim_epochs = [(e["epoch"], e["selected"], e["ok"], e["err"])
                  for e in sim.per_epoch]
    assert engine_epochs == sim_epochs


def test_payload_invariants(spark, crawl_run):
    wd, _ = crawl_run
    parsed = read_parsed(spark, wd)
    n = parsed.count()
    assert n > 0
    assert parsed.filter(~F.col("valid")).count() == 0
    assert parsed.filter((F.col("fmt") == "lossy") & (F.col("psnr") < 40.0)).count() == 0
    # every fetched-ok key parsed exactly once per (key, epoch)
    assert parsed.groupBy("key", "epoch").count().filter("count > 1").count() == 0


def _forbid_bloom(monkeypatch):
    """Make every Bloom build and probe raise: an incremental re-entry
    must test membership with the exact state join alone."""
    from ycrawl_spark import seen

    def forbidden(*args, **kwargs):
        raise AssertionError("incremental re-entry touched a Bloom filter")

    for name in ("add_keys_to_bloom", "build_sharded_bloom",
                 "sharded_maybe_tag"):
        monkeypatch.setattr(seen, name, forbidden)


def test_resume_determinism(spark, tmp_path_factory, crawl_run, monkeypatch):
    wd_full, _ = crawl_run
    wd = str(tmp_path_factory.mktemp("crawl_resume"))
    # run only 2 epochs, then resume to completion in two re-entries,
    # neither of which may touch a Bloom filter
    partial_cfg = CrawlConfig(**{**CFG.__dict__, "max_epochs": 2})
    run_crawl(spark, partial_cfg, wd)
    _forbid_bloom(monkeypatch)
    for max_epochs in (4, CFG.max_epochs):
        cfg = CrawlConfig(**{**CFG.__dict__, "max_epochs": max_epochs})
        run_crawl(spark, cfg, wd, resume=True)
    assert crawl_order(spark, wd) == crawl_order(spark, wd_full)
    assert seen_sets(spark, wd, CFG) == seen_sets(spark, wd_full, CFG)


def _assert_counters_match_log(spark, wd):
    """The ``checkpoint`` table's per-(epoch, host) counters equal the
    fetch_log's own per-(epoch, host) counts."""
    from ycrawl_spark.catalog import Catalog

    cat = Catalog(wd)
    got = cat.table("checkpoint").read(spark)
    assert got.columns == ["canonical_host", "fetched", "ok", "err", "epoch"]
    want = cat.table("fetch_log").read(spark).groupBy(
        "epoch", "canonical_host"
    ).agg(
        F.count("*").alias("fetched"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok"),
        F.sum(F.when(F.col("status") == "ERR", 1).otherwise(0)).alias("err"),
    )

    def rows(df):
        return sorted(
            (r["canonical_host"], r["epoch"], r["fetched"], r["ok"], r["err"])
            for r in df.collect()
        )

    assert rows(got) == rows(want)


def test_distributed_counter_sink_identical(spark, crawl_run):
    """The per-epoch, per-host lineage counters append through a
    distributed write into the ``checkpoint`` table; its rows must equal
    the fetch_log's own per-(epoch, host) counts."""
    wd, _ = crawl_run
    _assert_counters_match_log(spark, wd)


def test_log_compaction_mode_identical(spark, tmp_path_factory, crawl_run,
                                       monkeypatch):
    """Crawling with per-3-epoch compaction of fetch_log and the
    checkpoint counters yields the exact same crawl order + seen sets,
    keeps the counters equal to the log's, keeps resume idempotent
    (selects 0 on a finished workdir), and actually compacts both tables
    (few live snapshots). The crawl also leaves the session's AQE and
    shuffle settings alone, inside every epoch and after it, and every
    steady-state epoch runs at most the Spark jobs the pipeline module
    docstring lists."""
    import uuid

    from ycrawl_spark import pipeline
    from ycrawl_spark.catalog import Catalog

    conf_keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    sc = spark.sparkContext

    def session_conf():
        return tuple(spark.conf.get(k) for k in conf_keys)

    in_epoch = []
    groups = []  # (job group, stats) per epoch
    run_epoch = pipeline.run_epoch_incremental

    def recording_run_epoch(*args, **kwargs):
        in_epoch.append(session_conf())
        group = f"epoch-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "crawl epoch")
        try:
            st, pending = run_epoch(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        groups.append((group, st))
        return st, pending

    wd_full, _ = crawl_run
    wd = str(tmp_path_factory.mktemp("crawl_compact"))
    monkeypatch.setattr(pipeline, "LOG_COMPACT_EVERY", 3)
    monkeypatch.setattr(pipeline, "run_epoch_incremental", recording_run_epoch)
    before = session_conf()
    stats = run_crawl(spark, CFG, wd)
    assert session_conf() == before
    assert in_epoch and set(in_epoch) == {before}
    assert crawl_order(spark, wd) == crawl_order(spark, wd_full)
    assert seen_sets(spark, wd, CFG) == seen_sets(spark, wd_full, CFG)
    n_epochs = len([s for s in stats if s.n_selected > 0])
    for name in ("fetch_log", "checkpoint"):  # compaction really ran
        assert len(Catalog(wd).table(name).snapshots()) < n_epochs, name
    _assert_counters_match_log(spark, wd)

    # Steady state: not the entry epoch (its one-time joins and cache
    # fill) and not the last one, which selects nothing. With hot hosts
    # salted, as here, the docstring lists 9 jobs.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    steady = [len(sc.statusTracker().getJobIdsForGroup(g))
              for g, st in groups[1:] if st.n_selected > 0]
    assert steady and max(steady) <= 9, steady

    again = run_crawl(spark, CFG, wd, resume=True)
    assert sum(s.n_selected for s in again) == 0


def test_frontier_ingestion_crawls_only_delta(spark, tmp_path_factory,
                                              monkeypatch):
    """Mid-crawl URL discovery: ingest_frontier + resume schedules
    exactly the novel URLs — no refetch of attempted keys, no frontier
    rewrite; the entry seen-state join does the filtering, exactly and
    without a Bloom filter, on each of two successive re-entries."""
    import pandas as pd

    from ycrawl_spark import codecs, synth
    from ycrawl_spark.catalog import Catalog
    from ycrawl_spark.pipeline import ingest_frontier

    cfg = CrawlConfig(**{**CFG.__dict__, "n_urls": 300, "max_epochs": 30})
    wd = str(tmp_path_factory.mktemp("crawl_ingest"))
    run_crawl(spark, cfg, wd)
    log_before = Catalog(wd).table("fetch_log").read(spark).count()
    done0, forf0 = seen_sets(spark, wd, cfg)

    _forbid_bloom(monkeypatch)
    new_keys: set = set()
    for lo, hi in ((300, 340), (340, 380)):
        new_urls = spark.createDataFrame(
            synth.frontier_pdf(cfg, lo, hi), schema=synth.FRONTIER_SCHEMA)
        new_images = spark.createDataFrame(
            pd.DataFrame([codecs.make_image_row(synth.image_id_for(i))
                          for i in range(lo, hi)]),
            schema=synth.IMAGES_SCHEMA)
        assert ingest_frontier(spark, wd, new_urls, new_images) == hi - lo
        run_crawl(spark, cfg, wd, resume=True)

        done1, forf1 = seen_sets(spark, wd, cfg)
        new_keys |= {r["key"]
                     for r in new_urls.filter("robots_ok").select("key").collect()}
        assert done0 <= done1 and forf0 <= forf1
        assert (done1 | forf1) - (done0 | forf0) == new_keys
    log = Catalog(wd).table("fetch_log").read(spark)
    assert log.filter(~F.col("key").isin(list(new_keys))).count() == log_before


def test_frontier_bucket_spec_prunes_host_scan(spark, crawl_run):
    """north_rule layout: run_crawl creates the frontier under a hidden
    bucket(N, canonical_host) partition spec, so a host-scoped scan
    prunes to that host's bucket directory (PartitionFilters in the
    plan) and matches a full-scan row filter exactly; the pipeline's
    own read() path never sees the derived column."""
    from ycrawl_spark.catalog import Catalog

    wd, _ = crawl_run
    t = Catalog(wd).table("frontier")
    assert t.partition_spec() == [("bucket", CFG.n_buckets, "canonical_host")]
    host = "host003.example.com"
    scan = t.scan(spark, eq={"canonical_host": host})
    plan = scan._sc._jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted")
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert f"_p_bucket{CFG.n_buckets}_canonical_host" in pf
    expect = t.read(spark).filter(F.col("canonical_host") == host)
    assert sorted(r["key"] for r in scan.collect()) == \
        sorted(r["key"] for r in expect.collect())
    assert scan.count() > 0
    assert "_p_bucket" not in str(t.read(spark).columns)
