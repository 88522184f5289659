"""The crawl pipeline: epoch loop over frontier → schedule → fetch →
parse/validate → commit, with checkpoint/resume.

Reference lifecycle (SURVEY.md §3): hourly cron epochs
(/root/reference/cron.yaml:2-4), coordinator anti-join per tick
(/root/reference/Coordinator/main.py:65-77), worker stage barriers
(/root/reference/Worker/main.py:61-64), completion manifest
(/root/reference/Frontend/functions.py:17-35).

Engine: one driver loop; each epoch is a lazy DataFrame plan committed
as catalog appends. **All crawl state derives from the append-only
``fetch_log`` table** — seen set = keys with an 'ok' row, error counts
= count of 'ERR' rows, forfeits = err_count ≥ max_retry — so resume
after a kill is trivially deterministic: re-read fetch_log, recompute
state, continue with the next epoch. That is the checkpoint/lineage
story the north_rule asks for; the ``checkpoint`` table additionally
records per-epoch, per-host counters for observability.

One frontier mode. The URL-seen membership test runs once per
(re)entry, where membership is actually unknown (resume, ingested
frontier rows): the exact left join of the frontier against the
fetch_log-derived state (``apply_seen_state``). From there the live
pending set is carried exactly across epochs (budget losers ∪
retryable errors ∪ discovered children), so the steady-state loop runs
no seen-set join and builds no filter.

The loop runs under the session's AQE, where every shuffle map stage
and every broadcast is its own Spark job. A steady-state epoch without
discovery is 9 jobs with hot hosts salted (7 without), none of them
O(frontier) after epoch 1; the list is read off the event log of a
traced resume-recrawl run (seed 1, epochs 2–3):
  1. broadcast of the persisted politeness dim, joined once under the
     phase-1 window (``scheduler.rank_phase1``);
  2. the phase-1 window's shuffle map stage;
  3. phase-1 localCheckpoint (hot hosts only): both branches of the
     finish (``scheduler.rank_finish``) read the pinned rows, so the
     politeness join and the phase-1 window run once per epoch;
  4. the phase-2 (hot-host re-rank) shuffle map stage (hot hosts only;
     it moves hot-host survivors alone);
  5. rank localCheckpoint: both the selected set and the budget losers
     are cheap filters of it, and its row count rides an
     ``Observation``;
  6. the shuffle-order exchange's map stage;
  7. fused fetch+parse+validate (Arrow stage) → single wide
     ``fetch_log`` append. Epoch totals ride the same job via
     ``Observation``; validation needs no join — expected metadata
     rides the frontier (fetch.REF_COLS, joined from the images table
     once at crawl start);
  8–9. per-host lineage counters: partial aggregation of the
      read-back snapshot (a shuffle map stage) → distributed
      ``checkpoint`` append. The read-back takes the schema the
      snapshot recorded, so it infers nothing from parquet footers.
The next pending set (budget losers ∪ retryable errors, frontier
columns echoed on ERR rows — fetch.ECHO_COLS — so the retry path is a
projection of the epoch delta, not a join) stays lazy: the next rank
checkpoint materializes it. Epoch 1 of a (re)entry adds the cache fill
of the politeness dim and the broadcast builds of its one-time joins
(12 jobs), and the last epoch, which selects nothing, runs jobs 1–2
only: the traced run averages 8.0 jobs per epoch over 4 epochs.
Outside the epochs, the entry state count rides its checkpoint and the
ingest count rides its append, so neither is a job of its own. With
discovery on, the novel-rows checkpoint adds its own jobs
(``_discover``).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import fetch as fetch_mod
from . import scheduler, seen as seen_mod, synth
from .catalog import Catalog
from .config import CrawlConfig

PARSED_COLS = ["key", "image_id", "epoch", "w", "h", "fmt", "phash", "psnr",
               "caption_scraped", "valid"]

# Frontier-shaped columns a pending row carries (frontier ∪ REF_COLS).
PENDING_COLS = [
    "key", "url", "canonical_host", "host_bucket", "priority", "depth",
    "discovered_ts", "image_id", "epoch_added", "robots_ok",
    "w_ref", "h_ref", "fmt_ref", "caption_ref", "phash_ref",
]

# Small-file compaction cadence: every K epochs the per-epoch snapshots
# of fetch_log and of the checkpoint counters are rewritten into one
# each (catalog.Table.compact). A 10^3-epoch crawl carries ≤50 live
# snapshots per table instead of 10^3, while short crawls (< 50 epochs,
# incl. the bench) never pay the rewrite; measured cost at cadence 3 in
# BASELINE.md.
LOG_COMPACT_EVERY = 50

# Discovered rows append to the frontier table in batches of K epochs
# (see DiscoveryBuffer for why deferring the append is crash-safe).
DISCOVERY_FLUSH_EVERY = 8


class _phase:
    """Per-phase wall-clock trace, on when YCRAWL_EPOCH_TRACE is set —
    the measurement behind the fixed-cost-per-epoch numbers in
    BASELINE.md (scaling efficiency erodes exactly as fast as the
    core-count-independent slice of an epoch grows)."""

    on = os.environ.get("YCRAWL_EPOCH_TRACE", "") not in ("", "0")

    def __init__(self, epoch: int, name: str):
        self.epoch, self.name = epoch, name

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        if self.on:
            print(f"[epoch-trace] e{self.epoch:03d} {self.name} "
                  f"{time.perf_counter() - self.t0:.3f}s", flush=True)
        return False


@dataclass
class EpochStats:
    epoch: int
    n_candidates: int
    n_selected: int
    n_ok: int
    n_err: int
    n_discovered: int = 0


def _agg_from_log(log: DataFrame) -> DataFrame:
    """(key, done, err_count) derived from the append-only fetch_log —
    the ground-truth derivation of the crawl state."""
    return log.groupBy("key").agg(
        F.max(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("done"),
        F.sum(F.when(F.col("status") == "ERR", 1).otherwise(0)).alias("err_count"),
    )


def load_seen_agg(spark: SparkSession, cat: Catalog) -> DataFrame | None:
    """Crawl state derived from fetch_log, the single source of truth;
    None before the first commit. Nothing persists it: the caller
    localCheckpoints it once per (re)entry, so resume stays
    deterministic."""
    log_t = cat.table("fetch_log")
    if log_t.latest_epoch() is None:
        return None
    return _agg_from_log(log_t.read(spark))


def apply_seen_state(pending: DataFrame, seen_agg: DataFrame | None,
                     cfg: CrawlConfig, n_seen_hint: int) -> DataFrame:
    """THE URL-seen membership test: attach crawl state to frontier rows
    and drop done/forfeited ones, by one exact left join against the
    state (broadcast-hinted up to cfg.state_broadcast_max). It runs once
    per (re)entry, so a Bloom gate would cost an O(seen) build plus a
    Python-UDF pass over every frontier row to save only the shuffle of
    the definitely-new rows."""
    if seen_agg is None:
        return pending.withColumn("err_count", F.lit(0).cast("long"))
    out = seen_mod.join_seen_state(
        pending, seen_agg, "key",
        broadcast_state=n_seen_hint <= cfg.state_broadcast_max,
    )
    return out.filter(
        (F.col("done") == 0) & (F.col("err_count") < cfg.max_retry)
    ).drop("done")


def _fetch_commit(spark: SparkSession, cat: Catalog, cfg: CrawlConfig,
                  selected: DataFrame, epoch: int, n_cand: int):
    """Epoch tail: fused fetch → single wide append (totals via
    Observation) → delta read-back → per-host lineage counters.
    Returns (stats, delta_df | None)."""
    ordered = scheduler.crawl_shuffle_order(selected, cfg, epoch)
    n_parts = max(1, min(n_cand // 3000 + 1,
                         4 * spark.sparkContext.defaultParallelism))
    fp = fetch_mod.fetch_parse_stage(ordered, cfg, epoch, n_parts=n_parts)
    # fetched / ok / err: the epoch totals and, per host, the counters.
    totals = [
        F.count(F.lit(1)).alias("fetched"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok"),
        F.sum(F.when(F.col("status") == "ERR", 1).otherwise(0)).alias("err"),
    ]
    obs = Observation(f"epoch_{epoch}")
    fp = fp.observe(obs, *totals)
    with _phase(epoch, "fetch_append"):
        snap_id = cat.table("fetch_log").append(fp, epoch=epoch)
        m = obs.get
    n_selected = int(m["fetched"] or 0)
    if n_selected == 0:
        # Un-commit the empty snapshot: the Observation only reports
        # after the append's action ran, and a zero-row commit would
        # advance latest_epoch (shifting resume numbering) and leave a
        # part-file-less dir in every later multi-path read.
        cat.table("fetch_log").rollback(snap_id)
        return EpochStats(epoch, n_cand, 0, 0, 0), None
    stats = EpochStats(epoch, n_cand, n_selected,
                       int(m["ok"] or 0), int(m["err"] or 0))

    delta = cat.table("fetch_log").read_snapshot(spark, snap_id)
    # Counters stay on the executors (partial aggregation, then a
    # distributed append): a driver collect of 10^8 hosts would be an OOM.
    counters = delta.groupBy("canonical_host").agg(*totals)
    with _phase(epoch, "counters"):
        cat.table("checkpoint").append(
            counters.withColumn("epoch", F.lit(epoch).cast("long")),
            epoch=epoch,
        )
    return stats, delta


def _explode_children(parents: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """ok-parent rows (image_id, depth[, epoch]) → exploded child
    candidates (id, depth=parent+1[, epoch]) via the shared pure link
    function (synth.child_ids) — the same derivation the simulator
    runs, so crawl-order parity extends to discovered URLs."""
    has_epoch = "epoch" in parents.columns

    def gen(batches):
        for b in batches:
            out = []
            eps = b["epoch"].tolist() if has_epoch else None
            for i, (img, d) in enumerate(zip(b["image_id"], b["depth"])):
                for cid in synth.child_ids(img, cfg):
                    out.append((int(cid), int(d) + 1,
                                int(eps[i]) if eps is not None else 0))
            yield pd.DataFrame(out, columns=["id", "depth", "epoch"])

    return parents.mapInPandas(gen, schema="id long, depth int, epoch int")


def _child_rows(kids: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """(id, depth, epoch_added) → full frontier-schema rows — the same
    mapInPandas build path as the seed frontier (synth.frontier_df),
    with the discovery dynamics overriding the static derivation."""
    cols = ["key", "url", "canonical_host", "host_bucket", "priority",
            "depth", "discovered_ts", "image_id", "epoch_added", "robots_ok"]

    def gen(batches):
        for b in batches:
            yield pd.DataFrame(
                [synth.discovered_row(int(i), int(d), int(e), cfg)
                 for i, d, e in zip(b["id"], b["depth"], b["epoch_added"])],
                columns=cols,
            )

    return kids.mapInPandas(gen, schema=synth.FRONTIER_SCHEMA)


class DiscoveryBuffer:
    """Novel frontier rows accumulated across epochs, appended to the
    frontier table every ``DISCOVERY_FLUSH_EVERY`` epochs instead of
    every epoch. Rows are already localCheckpoint-pinned when they arrive (the same
    materialization the pending set needs anyway), so deferring the
    append removes one fixed-cost driver job per epoch without losing
    anything on a crash: the fetch_log commits every epoch and
    ``rebuild_discovered_frontier`` re-derives any number of missing
    discovery appends from it on resume. Unflushed keys still count as
    "entered" for novelty tests via ``extra_entered``."""

    def __init__(self):
        self.parts: list[DataFrame] = []

    def add(self, rows: DataFrame) -> None:
        self.parts.append(rows)

    def extra_entered(self) -> list[DataFrame]:
        return self.parts

    def flush(self, cat: Catalog, epoch: int, force: bool = False) -> None:
        if not self.parts or not (force or epoch % DISCOVERY_FLUSH_EVERY == 0):
            return
        df = self.parts[0]
        for p in self.parts[1:]:
            df = df.unionByName(p)
        with _phase(epoch, "frontier_flush"):
            cat.table("frontier").append(df, epoch=epoch)
        self.parts = []


def _novel_against_frontier(spark: SparkSession, cat: Catalog,
                            cfg: CrawlConfig, rows: DataFrame,
                            n_rows: int, kid_keys: DataFrame | None = None,
                            extra: list[DataFrame] | None = None) -> DataFrame:
    """Drop child rows whose key ever entered the frontier (seed rows,
    earlier discoveries — robots-blocked ones included, so they are
    never re-derived). Scale shape: children are delta-sized; the huge
    side (every frontier key, 10^10 at target scale) is only SCANNED
    with the read pruned to the key column, never shuffled — membership
    resolves as two broadcast passes (hits = frontier ⋉ bc(children);
    novel = children ▷ bc(hits)) while the children fit a broadcast,
    falling back to a plain anti-join past that. ``kid_keys`` is a
    cheap column-only derivation of the children's keys for the
    broadcast build side, so the full row builder (mapInPandas) runs
    once, on the probe side only. ``extra`` holds checkpointed
    not-yet-flushed discovery batches — their keys are "entered" too."""
    entered = cat.table("frontier").read(spark).select("key")
    for p in extra or []:
        entered = entered.unionByName(p.select("key"))
    if n_rows <= cfg.state_broadcast_max:
        build = kid_keys if kid_keys is not None else rows.select("key")
        hits = entered.join(F.broadcast(build), "key", "inner")
        return rows.join(F.broadcast(hits), "key", "left_anti")
    return rows.join(entered, "key", "left_anti")


def _discover(spark: SparkSession, cat: Catalog, cfg: CrawlConfig,
              delta: DataFrame, images_ref: DataFrame, epoch: int,
              n_ok: int, buffer: DiscoveryBuffer,
              ) -> tuple[DataFrame | None, int]:
    """Mid-crawl link discovery over this epoch's delta: each ok fetch
    below discovery_max_depth yields deterministic children; novel ones
    (never in the frontier before, including not-yet-flushed batches in
    ``buffer``) are localCheckpoint-pinned, handed to the buffer for a
    batched frontier append, and returned as pending rows with
    depth = 1 + min(parent depth among this epoch's discoverers).
    Returns (pending_rows | None, n_novel).

    Per-epoch cost is ONE job (fixed driver cost is what erodes N→4N
    scaling efficiency): the novel-rows checkpoint, whose count rides
    an Observation. The anti-join's broadcast strategy is sized from
    the known ok count (n_kids ≤ n_ok · fanout), its broadcast build
    side derives child keys as a pure column expression (the pandas
    row builder runs once, probe side), and the durable frontier
    append amortizes to 1/DISCOVERY_FLUSH_EVERY per epoch via the
    buffer."""
    if n_ok == 0:
        return None, 0
    parents = delta.filter(
        (F.col("status") == "ok") & F.col("depth").isNotNull()
        & (F.col("depth") < cfg.discovery_max_depth)
    ).select("image_id", "depth")
    kids = (
        _explode_children(parents, cfg)
        .groupBy("id").agg(F.min("depth").alias("depth"))
        .withColumn("epoch_added", F.lit(int(epoch)))
    )
    rows = _child_rows(kids, cfg)
    # key = f"{date_str}_H{id+1:04d}" (synth.frontier_row) as a column
    # expression — java.util.Formatter %04d pads-never-truncates, same
    # as Python's :04d, so parity holds past 4 digits.
    kid_keys = kids.select(
        F.format_string(cfg.date_str + "_H%04d", F.col("id") + 1).alias("key")
    )
    n_hint = n_ok * cfg.discovery_fanout
    novel = _novel_against_frontier(
        spark, cat, cfg, rows, n_hint, kid_keys, buffer.extra_entered()
    )
    obs = Observation(f"discover_{epoch}")
    with _phase(epoch, "discover"):
        novel = novel.observe(obs,
                              F.count(F.lit(1)).alias("n")).localCheckpoint()
        n_novel = int(obs.get["n"] or 0)
    if n_novel == 0:
        return None, 0
    buffer.add(novel)
    pending = (
        novel.filter(F.col("robots_ok"))
        .join(images_ref, "image_id", "left")
        .select(*PENDING_COLS)
        .withColumn("err_count", F.lit(0).cast("long"))
    )
    return pending, n_novel


def rebuild_discovered_frontier(spark: SparkSession, cat: Catalog,
                                cfg: CrawlConfig) -> int:
    """Resume self-heal: discovered frontier rows are a PURE function of
    the fetch_log (children of ok rows, first-discovering-epoch cohort,
    min parent depth within it), so a crash in the window between the
    fetch_log append and the frontier append loses nothing — re-derive
    every discovered row from the log and append the ones the frontier
    table is missing. Idempotent; returns the number healed."""
    log_t = cat.table("fetch_log")
    if not cfg.discovery_fanout or log_t.is_empty():
        return 0
    ok = log_t.read(spark).filter(
        (F.col("status") == "ok") & F.col("depth").isNotNull()
        & (F.col("depth") < cfg.discovery_max_depth)
    ).select("image_id", "depth", "epoch")
    kids = _explode_children(ok, cfg)
    first = kids.groupBy("id").agg(F.min("epoch").alias("e0"))
    cohort = (
        kids.join(first, "id")
        .filter(F.col("epoch") == F.col("e0"))
        .groupBy("id", "e0").agg(F.min("depth").alias("depth"))
        .select("id", "depth", F.col("e0").alias("epoch_added"))
    )
    rows = _child_rows(cohort, cfg).localCheckpoint()
    n_rows = rows.count()
    if n_rows == 0:
        return 0
    missing = _novel_against_frontier(spark, cat, cfg, rows, n_rows)
    missing = missing.localCheckpoint()
    n_missing = missing.count()
    if n_missing:
        cat.table("frontier").append(
            missing, epoch=cat.table("fetch_log").latest_epoch() or 0
        )
    return n_missing


def run_epoch_incremental(spark: SparkSession, cat: Catalog, cfg: CrawlConfig,
                          pending: DataFrame, politeness: DataFrame,
                          epoch: int, hot_hosts: list[str],
                          images_ref: DataFrame | None = None,
                          buffer: DiscoveryBuffer | None = None,
                          ) -> tuple[EpochStats, DataFrame]:
    """One epoch (see module docstring). ``pending`` carries exact
    state: every row is live (not done, not forfeited) with its true
    ``err_count``."""
    with_attempt = pending.withColumn(
        "attempt", (F.col("err_count") + 1).cast("int")
    )
    rank_obs = Observation(f"rank_{epoch}")
    with _phase(epoch, "rank"):
        tagged = scheduler.rank_phase1(with_attempt, politeness, cfg, hot_hosts)
        if hot_hosts:
            # Both branches of the hot-host finish read phase 1: pinned,
            # its politeness join and window run once, not once per branch.
            tagged = tagged.localCheckpoint()
        ranked = scheduler.rank_finish(tagged, hot_hosts).observe(
            rank_obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
        n_cand = int(rank_obs.get["n"] or 0)
    if n_cand == 0:
        return EpochStats(epoch, 0, 0, 0, 0), pending

    sel_pred = scheduler.is_selected()
    selected = ranked.filter(sel_pred).drop("max_per_epoch", "err_count")
    stats, delta = _fetch_commit(spark, cat, cfg, selected, epoch, n_cand)
    if delta is None:
        return stats, pending

    # Next pending = budget losers (state unchanged) ∪ retryable errors
    # (err_count = the attempt that just failed; frontier columns come
    # from the ERR echo — a projection, not a join) ∪ novel discovered
    # children (when discovery is on).
    losers = ranked.filter(~sel_pred).select(*PENDING_COLS, "err_count")
    retry = (
        delta.filter(
            (F.col("status") == "ERR") & (F.col("attempt") < cfg.max_retry)
        )
        .withColumn("robots_ok", F.lit(True))
        .withColumn("err_count", F.col("attempt").cast("long"))
        .select(*PENDING_COLS, "err_count")
    )
    # The union stays LAZY: losers project a checkpointed frame, retry
    # re-reads a written parquet snapshot, novel is checkpointed inside
    # _discover — lineage is one epoch deep either way, and the next
    # epoch's rank checkpoint is the materialization point. A pending
    # checkpoint here would be a redundant fixed-cost job per epoch.
    new_pending = losers.unionByName(retry)
    if cfg.discovery_fanout and images_ref is not None and buffer is not None:
        novel, n_novel = _discover(spark, cat, cfg, delta, images_ref, epoch,
                                   stats.n_ok, buffer)
        if novel is not None:
            new_pending = new_pending.unionByName(novel)
            stats.n_discovered = n_novel
    return stats, new_pending


def run_crawl(spark: SparkSession, cfg: CrawlConfig, workdir: str,
              use_bloom: bool = True, resume: bool = False) -> list[EpochStats]:
    """Full crawl to quiescence (or cfg.max_epochs). Resumable: with
    ``resume=True`` continues after the last committed epoch.
    ``use_bloom`` has no effect (the one membership test per entry is
    always the exact join); it stays only because perfbench/workloads.py
    still passes it.

    The loop runs under the session's own settings and changes none of
    them: AQE coalesces the generic shuffles (tail retry epochs of a few
    dozen rows need no full-width window shuffle) and splits skewed
    joins. The partitioning the crawl does choose itself stays explicit:
    hot-host salting, the host-bucketed frontier, broadcast hints and
    the fetch stage's partition count (``_fetch_commit``).
    """
    cat = Catalog(workdir)
    frontier_t = cat.table("frontier")
    if frontier_t.is_empty():
        # north_rule layout: the frontier lives bucketed by
        # canonicalized-host hash — a hidden bucket(N, canonical_host)
        # partition spec, so host-scoped reads (per-host audits, retry
        # sweeps, politeness forensics) prune to one bucket directory
        # instead of scanning 10^10 rows (catalog.Table.scan projects
        # host-equality through the spec; pruning pinned in
        # tests/test_catalog.py / test_crawl_e2e.py).
        if cfg.n_buckets and not frontier_t.partition_spec():
            frontier_t.set_partition_spec(
                [("bucket", cfg.n_buckets, "canonical_host")])
        frontier_t.append(synth.frontier_df(spark, cfg), epoch=0)
    if resume and cfg.discovery_fanout:
        # Heal the frontier before reading it: a crash between the
        # fetch_log append and the frontier append would otherwise lose
        # that epoch's discoveries (they are re-derivable from the log).
        rebuild_discovered_frontier(spark, cat, cfg)
    # Persisted: hot_hosts_of (the first action) fills the cache that
    # epoch 1's pending set reads again (measured: without it a resume
    # re-entry costs about 1.1 s more on 4 cores).
    frontier = frontier_t.read(spark).filter(F.col("robots_ok")).persist()

    images_t = cat.table("images")
    if images_t.is_empty():
        images_t.append(synth.images_df(spark, cfg), epoch=0)
    # Expected metadata joins onto the frontier ONCE here (bytes pruned
    # at the parquet scan; phash as string — see fetch.REF_COLS) and
    # rides every epoch's pending set, so per-row validation inside the
    # fetch stage needs no join at all. At cluster scale both tables
    # bucket by image_id, making this single join co-located too.
    images_ref = images_t.read(spark).select(
        F.col("image_id"),
        F.col("w").alias("w_ref"),
        F.col("h").alias("h_ref"),
        F.col("fmt").alias("fmt_ref"),
        F.col("caption").alias("caption_ref"),
        F.col("phash").cast("string").alias("phash_ref"),
    )
    pending = frontier.join(images_ref, "image_id", "left").select(*PENDING_COLS)

    politeness = spark.createDataFrame(synth.politeness_pdf(cfg)).persist()

    start_epoch = 1
    if resume:
        last = cat.table("fetch_log").latest_epoch()
        if last is not None:
            start_epoch = last + 1

    # Existing state is honoured whether or not resume renumbers epochs:
    # a second run on a finished workdir selects 0 (idempotent).
    seen_agg = load_seen_agg(spark, cat)
    n_seen = 0
    if seen_agg is not None:
        seen_obs = Observation("seen_agg")
        seen_agg = seen_agg.observe(
            seen_obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
        n_seen = int(seen_obs.get["n"] or 0)

    # The URL-seen membership test at the frontier boundary: it runs
    # here exactly once per (re)entry, as the exact state join — fresh
    # crawls skip it (state empty), and nothing later probes a filter,
    # so none is built (see apply_seen_state).
    pending = apply_seen_state(pending, seen_agg, cfg, n_seen)

    hot_hosts = scheduler.hot_hosts_of(frontier, cfg)

    stats: list[EpochStats] = []
    disc_buffer = DiscoveryBuffer()
    last_epoch = start_epoch
    for epoch in range(start_epoch, cfg.max_epochs + 1):
        last_epoch = epoch
        st, pending = run_epoch_incremental(
            spark, cat, cfg, pending, politeness, epoch, hot_hosts,
            images_ref, disc_buffer,
        )
        stats.append(st)
        if st.n_selected == 0:
            break
        disc_buffer.flush(cat, epoch)
        # Small-file compaction: the epoch-per-snapshot appends of
        # fetch_log and of the per-host checkpoint counters are
        # rewritten into one snapshot each every LOG_COMPACT_EVERY
        # epochs — bounded manifest/file-count at 10^3+-epoch crawls,
        # content provably unchanged (latest_epoch preserved for resume).
        if epoch % LOG_COMPACT_EVERY == 0:
            # pending's retry branch is a LAZY projection of this
            # epoch's fetch_log snapshot; compaction rewrites those
            # files, so pin pending first. Costs one job only on the
            # compaction cadence — every other epoch pending stays lazy
            # (the next rank checkpoint is its materialization point).
            pending = pending.localCheckpoint()
            for name in ("fetch_log", "checkpoint"):
                cat.table(name).compact(spark)
    # Any discovery batch still buffered becomes durable here — after
    # this point the frontier table is complete (readers outside the
    # loop, resume without heal, final-state tests all rely on it).
    disc_buffer.flush(cat, last_epoch, force=True)
    frontier.unpersist()
    politeness.unpersist()
    return stats


def ingest_frontier(spark: SparkSession, workdir: str, urls: DataFrame,
                    images: DataFrame | None = None,
                    epoch_added: int | None = None) -> int:
    """Ingest newly discovered URLs (and their expected-image metadata)
    into an existing crawl's frontier — the between-runs discovery path
    (reference analog: the Coordinator regenerating its todo list from
    fresh cross-products each tick, Coordinator/main.py:34-61).

    Appends a frontier snapshot stamped with ``epoch_added`` (defaults
    to the log's latest epoch so provenance survives); the next
    ``run_crawl(..., resume=True)`` re-enters, and the entry-point
    seen-state join — the ONE place membership is unknown — filters
    already-attempted keys, so exactly the novel URLs are scheduled.
    That join is exact and unfiltered: it runs once, so a Bloom would
    cost more to build and probe than the shuffle it saves. No rewrite
    of the existing frontier, no state rebuild beyond the entry join the
    resume pays anyway.

    Returns the number of ingested rows.
    """
    cat = Catalog(workdir)
    if epoch_added is None:
        epoch_added = cat.table("fetch_log").latest_epoch() or 0
    obs = Observation("ingest")
    urls = urls.withColumn("epoch_added", F.lit(int(epoch_added))).observe(
        obs, F.count(F.lit(1)).alias("n"))
    cat.table("frontier").append(urls, epoch=epoch_added)
    if images is not None:
        cat.table("images").append(images, epoch=epoch_added)
    return int(obs.get["n"] or 0)


def read_parsed(spark: SparkSession, workdir: str) -> DataFrame:
    """The parsed/validated view over the wide fetch_log: ok rows with
    their decode features + per-row ``valid`` verdict. A narrow
    projection — parquet column pruning keeps it as cheap as the
    separate table it replaced (one write per epoch instead of two)."""
    log = Catalog(workdir).table("fetch_log").read(spark)
    return log.filter(F.col("status") == "ok").select(*PARSED_COLS)


def crawl_order(spark: SparkSession, workdir: str) -> list[str]:
    """The engine's total crawl order: fetch_log keys ordered by
    (epoch, shuffle_rank, key) — compared verbatim with the simulator."""
    log = Catalog(workdir).table("fetch_log").read(spark)
    rows = log.select("epoch", "shuffle_rank", "key").orderBy(
        "epoch", "shuffle_rank", "key"
    ).collect()
    return [r["key"] for r in rows]


def seen_sets(spark: SparkSession, workdir: str, cfg: CrawlConfig) -> tuple[set, set]:
    """(done_keys, forfeit_keys) from fetch_log."""
    agg = _agg_from_log(Catalog(workdir).table("fetch_log").read(spark))
    done = {r["key"] for r in agg.filter("done = 1").select("key").collect()}
    forfeit = {
        r["key"]
        for r in agg.filter(
            (F.col("done") == 0) & (F.col("err_count") >= cfg.max_retry)
        ).select("key").collect()
    }
    return done, forfeit
