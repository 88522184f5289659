#!/usr/bin/env python
"""Crawl job entry point for ``spark-submit --py-files``.

The cluster form (north_rule ship vehicle):

    spark-submit --master <cluster> \
        --py-files ycrawl_spark.zip \
        scripts/submit_crawl.py --workdir <dir> --n-urls 400000

``scripts/submit.sh`` packages the library zip and runs the local[N]
equivalent. The session comes from spark-submit's conf (master, cores,
memory); this script only sets the engine-required SQL conf knobs.
Prints ONE JSON line with epoch stats + throughput.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--n-urls", type=int, default=10_000)
    ap.add_argument("--n-hosts", type=int, default=None)
    ap.add_argument("--budget", type=int, default=64)
    ap.add_argument("--max-retry", type=int, default=3)
    ap.add_argument("--resume", action="store_true")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("ycrawl_spark_submit")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    # imports resolved from --py-files zip on executors and driver
    from ycrawl_spark.config import CrawlConfig
    from ycrawl_spark.pipeline import run_crawl, seen_sets

    cfg = CrawlConfig(
        n_urls=args.n_urls,
        n_hosts=args.n_hosts or max(8, args.n_urls // 200),
        default_budget_per_host=args.budget,
        max_retry=args.max_retry,
    )
    t0 = time.time()
    stats = run_crawl(spark, cfg, args.workdir, resume=args.resume)
    elapsed = time.time() - t0
    done, forfeit = seen_sets(spark, args.workdir, cfg)
    n_fetched = sum(s.n_selected for s in stats)
    print(json.dumps({
        "epochs": len(stats),
        "urls_fetched": n_fetched,
        "done": len(done),
        "forfeit": len(forfeit),
        "sec": round(elapsed, 2),
        "urls_per_sec": round(n_fetched / elapsed, 2) if elapsed else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
