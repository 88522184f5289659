"""Seen-set (partitioned Bloom) scale probe: the north_rule's 10^10-URL
layout keeps the URL-seen filter as 64 independently-sized Bloom shards
(one row each) and answers membership by co-grouping candidates with
their own shard row — no broadcast of the filter, ever.  This probe
measures the three production operations (seen.build_sharded_bloom,
seen.sharded_maybe_tag, seen.update_sharded_bloom) at N = 1M / 4M / 16M
keys and records wall time + shuffle bytes per phase, plus the two
correctness invariants the crawl relies on: zero false negatives over
the N seen keys, and the measured false-positive rate over N novel keys
staying at the 1% design point.

Usage: PYTHONPATH=/root/repo python scripts/probe_seen_scale.py [n_keys]
Prints one JSON line; numbers land in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_SHARDS = 64


def _rest(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def shuffle_totals(ui: str) -> tuple[int, int]:
    app = _rest(f"{ui}/api/v1/applications")[0]["id"]
    stages = _rest(f"{ui}/api/v1/applications/{app}/stages?status=complete")
    rd = sum(s.get("shuffleReadBytes", 0) for s in stages)
    wr = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    return rd, wr


def keys_df(spark, lo: int, hi: int):
    from pyspark.sql import functions as F

    return spark.range(lo, hi, numPartitions=32).select(
        F.format_string("img-%012d", "id").alias("key"))


def main() -> None:
    n_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    from pyspark.sql import functions as F

    from ycrawl_spark import seen
    from ycrawl_spark.session import get_spark

    spark = get_spark(app_name="probe_seen_scale",
                      extra_conf={"spark.ui.enabled": "true"})
    ui = "http://localhost:4040"
    try:
        rd0, wr0 = shuffle_totals(ui)
        t0 = time.time()
        shards = seen.build_sharded_bloom(
            keys_df(spark, 0, n_keys), n_items_hint=n_keys,
            n_shards=N_SHARDS, fpp=0.01).localCheckpoint(eager=True)
        bits_mb = (shards.agg(F.sum(F.length("bits"))).first()[0] or 0) / 2**20
        t_build = round(time.time() - t0, 2)
        rd1, wr1 = shuffle_totals(ui)

        # membership over 2N candidates: ids [0, N) are seen, [N, 2N) novel
        t1 = time.time()
        tagged = seen.sharded_maybe_tag(
            keys_df(spark, 0, 2 * n_keys).withColumn(
                "novel", F.expr(f"CAST(substring(key, 5) AS BIGINT) >= {n_keys}")),
            shards, N_SHARDS)
        counts = {r["novel"]: (r["n"], r["n_maybe"]) for r in tagged.groupBy(
            "novel").agg(F.count("*").alias("n"),
                         F.sum(F.col("_maybe").cast("long")).alias("n_maybe"))
            .collect()}
        t_tag = round(time.time() - t1, 2)
        rd2, wr2 = shuffle_totals(ui)
        seen_n, seen_maybe = counts[False]
        novel_n, novel_maybe = counts[True]

        # epoch delta: N/10 new keys OR-ed in (dirty-shard rewrite)
        t2 = time.time()
        delta = keys_df(spark, 2 * n_keys, 2 * n_keys + n_keys // 10)
        shards2 = seen.update_sharded_bloom(
            shards, delta, N_SHARDS).localCheckpoint(eager=True)
        delta_tagged = seen.sharded_maybe_tag(delta, shards2, N_SHARDS)
        delta_maybe = delta_tagged.filter("_maybe").count()
        t_update = round(time.time() - t2, 2)
        rd3, wr3 = shuffle_totals(ui)

        print(json.dumps({
            "n_keys": n_keys, "n_shards": N_SHARDS,
            "filter_mb": round(bits_mb, 1),
            "build": {"sec": t_build,
                      "shuffle_read_mb": round((rd1 - rd0) / 2**20, 1),
                      "shuffle_write_mb": round((wr1 - wr0) / 2**20, 1)},
            "membership_2n": {
                "sec": t_tag,
                "false_negatives": seen_n - seen_maybe,   # MUST be 0
                "fp_permille": round(1000 * novel_maybe / novel_n, 2),
                "shuffle_read_mb": round((rd2 - rd1) / 2**20, 1),
                "shuffle_write_mb": round((wr2 - wr1) / 2**20, 1)},
            "delta_update_n10": {
                "sec": t_update,
                "delta_false_negatives": n_keys // 10 - delta_maybe,  # 0
                "shuffle_read_mb": round((rd3 - rd2) / 2**20, 1),
                "shuffle_write_mb": round((wr3 - wr2) / 2**20, 1)},
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
