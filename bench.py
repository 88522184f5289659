#!/usr/bin/env python
"""Benchmark harness (driver contract, repo root).

Default mode: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus one crawl-
pipeline throughput run (URLs fetched+validated/sec — the BASELINE.json
north-star metric), then print ONE JSON line:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "crawl": {"urls_per_sec": ..., "urls": ..., "sec": ...}}

Modes:
  --crawl-only --cores N   run just the crawl bench at local[N], print
                           a small JSON line (used by --scaling).
  --scaling                run the crawl bench at two parallelism
                           levels (2 and 8 cores by default) in
                           separate subprocesses (fresh JVM each) and
                           print throughput at both + scaling
                           efficiency — the sandbox evidence for the
                           north_rule's N→4N ≥0.8 criterion.

Env:
  BENCH_RAMDISK=1          put shuffle files + crawl workdirs on
                           /dev/shm (tmpfs). Use for scaling runs at
                           8M+ URLs: the shared VM disk's writeback
                           throttling collapses 34x under 8 concurrent
                           writers (scripts/probe_io_scaling.py),
                           taxing the high-core leg in a way a real
                           multi-node cluster's per-node disks never
                           see — BASELINE.md "8M with the disk
                           artifact removed" quantifies it (0.680
                           shared-disk vs 0.852 RAM-backed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline queries: one per operator family (SURVEY.md §2), fast enough
# at sf0.1 to keep the per-round bench under a few minutes.
HEADLINE = [
    "q1_pricing_summary",      # hash-agg scan
    "dedupe_latest_order",     # window argmax
    "fx_enrich_orders",        # broadcast dim join + derivation
    "weekly_best_order",       # week-trunc group min (flagship)
    "daily_drift",             # outer-join day compare
    "top3_orders_per_customer",# per-group top-k window
    "customers_without_orders",# anti join (seen-set shape)
    "union_live_history",      # union-all + partition-pruned scan
    "sessionize_users",        # lag + cumulative session windows
    "exact_dedup_prefix",      # exact duplicate groups on documents
    "minhash_lsh_candidates",  # minhash/LSH near-dup candidates
    "simhash_near_dups",       # simhash hamming near-dups
    "doc_token_stats",         # tokenize/quality text analysis
    "cosine_topk",             # brute-force ANN top-k
    "ann_lsh_topk",            # LSH-bucketed ANN
    "pq_ann_topk",             # product-quantization ANN (ADC scan)
    "multimodal_image_features",  # binary payload decode plumbing
    "image_phash_near_dups",   # image near-dup via phash block LSH
    "training_data_prep",      # end-to-end corpus prep composition
    "near_dup_components",     # pair graph → connected components
    "crossmodal_dup_audit",    # joint-modality cluster disagreement
    "ivf_md5_ann_topk",        # deterministic IVF cell-probe ANN
    "video_frame_dedup",       # Y4M decode → frame phash → LSH
    "export_shard_assignment", # prefix-sum shard routing
    "pq_md5_ann_topk",         # deterministic PQ/ADC ANN (r04)
    "merge_upsert_reconcile",  # catalog row-level MERGE (r04)
    "semantic_dedup_cells",    # SemDeDup cell-bucketed dedup (r04)
    "boilerplate_span_removal",# ExactSubstr rewrite accounting (r04)
    "link_katz_priority",      # integer Katz frontier priority (r04)
]

# Longitudinal anchor (VERDICT r03 #8): the suite grows every round
# (16 → 20 → 24 → 26 queries), so the full-suite total stopped being
# round-comparable. CORE16 is frozen to the round-1 headline set —
# never append here; new queries join HEADLINE only — and bench output
# carries BOTH totals (queries_total_core16 / queries_total_full).
CORE16 = [
    "q1_pricing_summary", "dedupe_latest_order", "fx_enrich_orders",
    "weekly_best_order", "daily_drift", "top3_orders_per_customer",
    "customers_without_orders", "union_live_history", "sessionize_users",
    "exact_dedup_prefix", "minhash_lsh_candidates", "simhash_near_dups",
    "doc_token_stats", "cosine_topk", "ann_lsh_topk",
    "multimodal_image_features",
]


def _force(df) -> int:
    """Execute the plan fully; return row count (cheap for our results)."""
    return df.count()


def bench_queries(spark, sf_dir: str, reps: int = 2) -> dict[str, float]:
    from ycrawl_spark.queries import QUERIES

    # Warm the JVM/codegen/parquet-reader path once so the first query's
    # number is the query, not session warmup.
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    # min-of-N per query: this VM shows 1.5-2× run-to-run hypervisor
    # noise (quantified Spark-free in BASELINE.md); a single draw
    # benchmarks the noise, not the engine.
    times: dict[str, float] = {}
    for _ in range(reps):
        for name in HEADLINE:
            fn = QUERIES.get(name)
            if fn is None:
                continue
            t0 = time.time()
            _force(fn(spark, sf_dir))
            t = round(time.time() - t0, 3)
            times[name] = min(times.get(name, t), t)
    return times


def _bench_cfg(n_urls: int, discovery: bool = False):
    from ycrawl_spark.config import CrawlConfig

    # Fat epochs: politeness budget 512/host/epoch with hosts scaled to
    # ~200 URLs/host drains the frontier in a handful of epochs — the
    # regime a 10^10-URL crawl actually runs in (millions of URLs per
    # coordination round), so per-epoch coordination cost is amortized
    # as it would be at scale, not magnified by a toy frontier.
    base = dict(n_urls=n_urls, n_hosts=max(50, n_urls // 200),
                default_budget_per_host=512)
    if discovery:
        # Mid-crawl link discovery: seed a quarter of the id space and
        # let ok fetches grow the frontier (depth/discovery-time become
        # real dynamics) — measures the per-epoch discovery tax
        # (children explode → anti-join vs entered keys → append).
        return CrawlConfig(**base, n_seed_urls=n_urls // 4,
                           discovery_fanout=3, discovery_max_depth=5)
    return CrawlConfig(**base)


def ensure_input(n_urls: int, discovery: bool = False) -> str:
    """Materialize the deterministic input (frontier + image table) ONCE
    into a cache dir and reuse it across reps and parallelism levels —
    it is the crawl's *input* (BASELINE input_hint), not work the
    crawler performs, so it is generated at full machine parallelism
    regardless of the measured level.

    Concurrency: an O_EXCL lock file elects exactly one generator;
    losers wait for the _READY marker instead of regenerating in place
    (which could yank files out from under a crawl that symlinked the
    cache). An atomic tmp-dir rename can't be used here: the catalog
    manifests embed absolute data paths, so the dir must be built at
    its final location."""
    base = os.environ.get("BENCH_INPUT_CACHE", tempfile.gettempdir())
    os.makedirs(base, exist_ok=True)
    suffix = "_disc" if discovery else ""
    d = os.path.join(base, f"ycrawl_bench_input_{n_urls}{suffix}")
    marker = os.path.join(d, "_READY")
    lock = d + ".lock"
    if os.path.exists(marker):
        return d
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)
    except FileExistsError:
        # another process is generating — wait for its marker (stale
        # locks from a crashed generator are broken after 10 min)
        deadline = time.time() + 600
        while time.time() < deadline:
            if os.path.exists(marker):
                return d
            if not os.path.exists(lock):
                return ensure_input(n_urls, discovery)
            time.sleep(2)
        os.unlink(lock)
        return ensure_input(n_urls, discovery)

    from pyspark.sql import SparkSession

    from ycrawl_spark import synth
    from ycrawl_spark.catalog import Catalog
    from ycrawl_spark.session import get_spark

    cfg = _bench_cfg(n_urls, discovery)
    # Reuse the caller's live session if there is one — get_spark's
    # getOrCreate would return that same singleton, and stopping it
    # here would kill the caller's SparkContext mid-bench.
    own_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="bench_setup")  # cores: SPARK_GRAFT_CPUS or nproc
    try:
        shutil.rmtree(d, ignore_errors=True)
        cat = Catalog(d)
        cat.table("frontier").append(synth.frontier_df(spark, cfg), epoch=0)
        cat.table("images").append(
            synth.images_df(spark, cfg, with_bytes=False), epoch=0)
        with open(marker, "w") as f:
            f.write("ok")
        return d
    finally:
        if own_session:
            spark.stop()
        if os.path.exists(lock):
            os.unlink(lock)


def bench_crawl(spark, n_urls: int, input_dir: str | None = None,
                discovery: bool = False) -> dict:
    """One full crawl to quiescence on a fresh synthetic frontier;
    throughput = fetch attempts (fetched+validated rows) / wall sec.

    ``discovery=True`` runs the mid-crawl link-discovery mode (seed =
    n/4 of the id space, fanout 3): the frontier table is COPIED into
    the workdir instead of symlinked because discovery APPENDS novel
    rows to it — a symlink would mutate the shared input cache. The
    copy is seed-frontier-sized (n/4 thin rows), far below the crawl's
    own write volume, and new snapshots land in the workdir.
    """
    from ycrawl_spark.catalog import Catalog
    from ycrawl_spark.pipeline import run_crawl

    cfg = _bench_cfg(n_urls, discovery)
    workdir = tempfile.mkdtemp(prefix="ycrawl_bench_")
    try:
        if input_dir is None:
            input_dir = ensure_input(n_urls, discovery)
        if discovery:
            shutil.copytree(os.path.join(input_dir, "frontier"),
                            os.path.join(workdir, "frontier"))
        else:
            os.symlink(os.path.join(input_dir, "frontier"),
                       os.path.join(workdir, "frontier"))
        os.symlink(os.path.join(input_dir, "images"),
                   os.path.join(workdir, "images"))
        t0 = time.time()
        stats = run_crawl(spark, cfg, workdir)
        elapsed = time.time() - t0
        log = Catalog(workdir).table("fetch_log").read(spark)
        n_fetched = log.count() if log is not None else 0
        out = {
            "urls": n_fetched,
            "sec": round(elapsed, 3),
            "urls_per_sec": round(n_fetched / elapsed, 2),
            "epochs": len(stats),
        }
        if discovery:
            out["seed_urls"] = cfg.seed_urls
            out["discovered"] = sum(s.n_discovered for s in stats)
        return out
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def run_scaling(n_urls: int, low: int, high: int,
                discovery: bool = False) -> dict:
    """Same job, same input, two parallelism levels; each level runs
    ``BENCH_SCALING_REPS`` times (fresh JVM each) and the best rep is
    kept — the sandbox VM shows 1.5-2× run-to-run noise from outside
    interference, and min-of-N is the standard way to bench under it."""
    reps = int(os.environ.get("BENCH_SCALING_REPS", "2"))
    input_dir = ensure_input(n_urls, discovery)
    out = {}
    for cores in (low, high):
        best = None
        for _ in range(reps):
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--crawl-only",
                 "--cores", str(cores), "--n-urls", str(n_urls),
                 "--input-dir", input_dir]
                + (["--discovery"] if discovery else []),
                capture_output=True, text=True, check=True,
                cwd=os.path.dirname(os.path.abspath(__file__)),
            )
            line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
            res = json.loads(line)
            if best is None or res["urls_per_sec"] > best["urls_per_sec"]:
                best = res
        out[f"local[{cores}]"] = best
    t_low = out[f"local[{low}]"]["urls_per_sec"]
    t_high = out[f"local[{high}]"]["urls_per_sec"]
    out["scaling_efficiency"] = round((t_high / t_low) / (high / low), 3)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--crawl-only", action="store_true")
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--n-urls", type=int,
                    default=int(os.environ.get("BENCH_CRAWL_URLS", "2000000")))
    ap.add_argument("--input-dir", type=str, default=None)
    # N → 4N on this box: 2 → 8. The VM scales CPU-bound work nearly
    # linearly to ~8 workers and degrades beyond (hypervisor
    # contention, measured with plain multiprocessing — see
    # BASELINE.md); a real cluster adds whole machines per executor, so
    # the uncontended region is the faithful substitute. 8 → 32 can be
    # requested explicitly and is reported alongside in BASELINE.md.
    ap.add_argument("--scale-low", type=int, default=2)
    ap.add_argument("--scale-high", type=int, default=8)
    ap.add_argument("--discovery", action="store_true",
                    help="run the crawl in mid-crawl link-discovery mode "
                         "(seed n/4, fanout 3) for --crawl-only/--scaling")
    args = ap.parse_args()

    if args.scaling:
        res = run_scaling(args.n_urls, args.scale_low, args.scale_high,
                          discovery=args.discovery)
        print(json.dumps(res))
        return

    from ycrawl_spark.session import default_cores, get_spark

    cores = args.cores or default_cores()
    extra_conf = None
    if os.environ.get("BENCH_RAMDISK", "") not in ("", "0"):
        # RAM-backed write path (BASELINE.md 8M forensics): shuffle
        # files and crawl workdirs land on tmpfs so concurrent writers
        # stop sharing one writeback-throttled VM disk — the write
        # topology a real N→4N executor cluster has (disks scale with
        # nodes). Scaling runs inherit this env into every leg.
        ram = "/dev/shm/ycrawl_bench_local"
        os.makedirs(ram, exist_ok=True)
        tempfile.tempdir = ram
        extra_conf = {"spark.local.dir": ram}
    spark = get_spark(cores=cores, shuffle_partitions=max(cores, 32),
                      app_name="ycrawl_bench", extra_conf=extra_conf)
    try:
        if args.crawl_only:
            crawl = bench_crawl(spark, args.n_urls, input_dir=args.input_dir,
                                discovery=args.discovery)
            crawl["cores"] = cores
            print(json.dumps(crawl))
            return

        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        try:
            sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
        except ValueError:
            sf = 0.1

        t0 = time.time()
        reps = int(os.environ.get("BENCH_HEADLINE_REPS", "2"))
        qtimes = bench_queries(spark, sf_dir, reps=reps)
        # Crawl headline is best-of-N inside one invocation for the same
        # reason (VERDICT r02 #4): the driver's single draw previously
        # recorded whichever point of the 1.5-2× noise band it landed
        # on.  ≥3 draws with min/median/max summary (VERDICT r04 #7) so
        # the recorded JSON carries the band, not one lottery ticket.
        crawl_reps = max(3, int(os.environ.get("BENCH_CRAWL_REPS", "3")))
        draws = [bench_crawl(spark, args.n_urls) for _ in range(crawl_reps)]
        rates = sorted(d["urls_per_sec"] for d in draws)
        crawl = max(draws, key=lambda d: d["urls_per_sec"])
        crawl = dict(crawl, draws=[d["urls_per_sec"] for d in draws],
                     draws_min=rates[0], draws_median=rates[len(rates) // 2],
                     draws_max=rates[-1])
        # Discovery-mode crawl (north_rule depth/discovery-time dynamics):
        # one draw at a smaller frontier — reported separately, never
        # mixed into the longitudinal seed-only headline number.
        disc_urls = int(os.environ.get("BENCH_DISCOVERY_URLS", "1000000"))
        crawl_disc = (bench_crawl(spark, disc_urls, discovery=True)
                      if disc_urls else None)
        total = round(time.time() - t0, 3)
        print(json.dumps({
            "metric": "headline query suite + crawl pipeline wall time "
                      "(crawl.urls_per_sec = URLs fetched+validated/sec, "
                      "BASELINE.json north-star)",
            "value": total,
            "unit": "sec",
            "queries": qtimes,
            "queries_total_core16": round(
                sum(t for n, t in qtimes.items() if n in CORE16), 3),
            "queries_total_full": round(sum(qtimes.values()), 3),
            "sf": sf,
            "crawl": crawl,
            "crawl_discovery": crawl_disc,
            "cores": cores,
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
