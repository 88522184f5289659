from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from ycrawl_spark.config import CrawlConfig
from ycrawl_spark.scheduler import (
    ORDER_COLS,
    select_per_host_budget,
    with_global_pos,
)
from ycrawl_spark.synth import frontier_pdf, politeness_pdf


def _setup(spark, cfg):
    cand = spark.createDataFrame(frontier_pdf(cfg)).filter("robots_ok")
    pol = spark.createDataFrame(politeness_pdf(cfg))
    return cand, pol


def test_budget_never_exceeded_and_matches_naive_window(spark):
    cfg = CrawlConfig(n_urls=3000, n_hosts=10, default_budget_per_host=20,
                      hot_host_threshold=100, n_salt=4)
    cand, pol = _setup(spark, cfg)
    sel = select_per_host_budget(cand, pol, cfg)

    # invariant: per-host count ≤ budget
    budgets = {r["canonical_host"]: r["max_per_epoch"] for r in pol.collect()}
    counts = {r["canonical_host"]: r["n"] for r in
              sel.groupBy("canonical_host").agg(F.count("*").alias("n")).collect()}
    for h, n in counts.items():
        assert n <= budgets[h], h

    # equivalence with the naive single-window top-K
    w = W.partitionBy("canonical_host").orderBy(*[F.col(c).asc() for c in ORDER_COLS])
    naive = (
        cand.join(F.broadcast(pol.select("canonical_host", "max_per_epoch")),
                  "canonical_host")
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= F.col("max_per_epoch"))
    )
    assert {r["key"] for r in sel.collect()} == {r["key"] for r in naive.collect()}


def test_global_pos_dense_and_ordered(spark):
    df = spark.createDataFrame([(f"k{i:05d}", (i * 37) % 1000) for i in range(1000)],
                               "key string, v int")
    out = with_global_pos(df, ["v", "key"]).collect()
    by_pos = sorted(out, key=lambda r: r["pos"])
    assert [r["pos"] for r in by_pos] == list(range(1000))
    vals = [(r["v"], r["key"]) for r in by_pos]
    assert vals == sorted(vals)


def test_mid_consecutive_within_partition(spark):
    """Pin the one remaining assumption behind with_global_pos: within a
    partition, monotonically_increasing_id values are CONSECUTIVE (so
    _mid - min(_mid) is the local row index). The documented contract
    only promises increasing+unique; if the implementation ever changes,
    this fails loudly instead of producing wrong ordinals."""
    df = spark.createDataFrame([(i,) for i in range(5000)], "v int")
    parts = (
        df.repartitionByRange(8, "v").sortWithinPartitions("v")
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count("*").alias("n"),
             (F.max("_mid") - F.min("_mid") + 1).alias("span"))
        .collect()
    )
    assert parts and all(r["n"] == r["span"] for r in parts)

