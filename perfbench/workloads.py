"""The benchmark's workloads.

Each workload has the same life cycle, driven by ``run.py``:

  inputs_ready()  whether the cached inputs exist (needs no session)
  build_inputs()  inputs cached in the checkout (not timed, not setup)
  warmup()        a small op before timing starts (part of setup_s)
  prepare(i)      per-op set-up, e.g. a fresh workdir (part of setup_s)
  op(state)       the timed operation, repeated for --seconds and at
                  least ``min_ops`` times
  op_seconds(...) the run's op_s from its timed ops
  check(state)    the correctness gate, outside the timed interval
  layers(...)     per-layer metrics of a traced run

``resume-recrawl`` drives ``pipeline.ingest_frontier`` and
``pipeline.run_crawl`` through their public API on inputs built by
``synth``; ``analytics`` runs a query set from ``queries.QUERIES``.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import random
import shutil
import statistics
import time

import tracing as tr

# One query per operator family and engine module the registry calls:
# hash aggregate, anti join (the seen-set shape), session windows,
# regex date window (one of the two corpus-scaled forced broadcasts),
# textops MinHash/LSH, vectors top-k, multimodal image decode. Sized so
# that the session start, a cold pass and a warm pass fit one run.
QUERY_SET = [
    "q1_pricing_summary", "customers_without_orders", "sessionize_users",
    "regex_date_window_min", "minhash_lsh_candidates", "cosine_topk",
    "multimodal_image_features",
]

QUERY_SF = 0.01
DATA_SEED = 42  # analytics tables are fixed; the run seed orders the queries


def _ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_READY"))


def _mark_ready(path: str, meta: dict | None = None) -> None:
    with open(os.path.join(path, "_READY"), "w") as f:
        json.dump(meta or {}, f)


def _read_ready(path: str) -> dict:
    with open(os.path.join(path, "_READY")) as f:
        return json.load(f)


def clone_tables(src: str, dst: str, tables: list[str]) -> None:
    """Copy catalog tables from workdir ``src`` to ``dst``: data files are
    hard links (the engine never rewrites a data file in place), manifests
    are rewritten to point at the copy's own data directories."""
    src, dst = os.path.abspath(src), os.path.abspath(dst)

    def link_or_copy(a, b):
        if f"{os.sep}data{os.sep}" in a:
            os.link(a, b)
        else:
            shutil.copy2(a, b)

    for t in tables:
        shutil.copytree(os.path.join(src, t), os.path.join(dst, t),
                        copy_function=link_or_copy)
        man = os.path.join(dst, t, "manifest.json")
        with open(man) as f:
            snaps = json.load(f)
        for s in snaps:
            s["files"] = [p.replace(src, dst, 1) for p in s["files"]]
        with open(man, "w") as f:
            json.dump(snaps, f)


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, not following symlinks."""
    n_bytes = n_files = 0
    for root, dirs, files in os.walk(path):
        for fn in files:
            p = os.path.join(root, fn)
            if not os.path.islink(p):
                n_bytes += os.path.getsize(p)
                n_files += 1
    return n_bytes, n_files


# ───────────────────────────── crawl ─────────────────────────────

EPOCH = "pipeline.run_epoch_incremental"


class ResumeRecrawl:
    """Re-entry into a finished crawl: ingest a seeded mix of already
    attempted and novel URLs, then resume until no work is left.

    The finished base crawl is engine output, built by the code under
    test with a fixed CrawlConfig.seed and cached under the digest of the
    engine sources, so no other commit's base is ever re-entered; the
    run seed picks which ids are ingested. The op pays the whole
    re-entry: the ``seen_agg`` rebuild from the base's fetch_log, the
    driver Bloom build, the Bloom-gated state join, and the fetch epochs
    of the novel URLs."""

    name = "resume-recrawl"
    ops_per_op = 1  # one crawl re-entry
    min_ops = 1
    BASE_SEED = 42
    N_BASE = 30_000
    N_INGEST = 4_000  # half already attempted, half novel
    N_WARM = 1_000  # base size of the warm-up's miniature re-entry

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        rng = random.Random(ctx.seed)
        self.cfg = self.make_cfg(self.N_BASE)
        self.ingest_ids = self.sample(rng, self.N_INGEST)
        self.seen_calls: list[tuple] = []

    def sample(self, rng: random.Random, n: int) -> list[int]:
        """``n`` ids to ingest: half already attempted, half novel."""
        half = n // 2
        return sorted(rng.sample(range(self.N_BASE), half)
                      + rng.sample(range(self.N_BASE, self.cfg.n_urls), half))

    @classmethod
    def make_cfg(cls, n_base: int):
        from ycrawl_spark.config import CrawlConfig

        n = n_base + n_base // 10
        # Thresholds scaled with the crawl, so a 30k-key seen set takes the
        # paths a >1M-key one takes at the defaults: driver Bloom build,
        # Bloom-gated, shuffled (not broadcast) state join.
        return CrawlConfig(seed=cls.BASE_SEED, n_urls=n,
                           n_hosts=max(50, n // 200),
                           default_budget_per_host=512, n_seed_urls=n_base,
                           bloom_min_items=n_base // 2,
                           state_broadcast_max=n_base // 4)

    # -- inputs --------------------------------------------------------

    def build_base(self, cfg) -> str:
        """A finished crawl of ``cfg``'s seed frontier (ids below
        n_seed_urls), with image metadata for the whole id space, in
        bench.ensure_input's layout; plus the simulator's final
        done/forfeit sets over the whole id space."""
        from sim.reference_sim import simulate
        from ycrawl_spark import synth
        from ycrawl_spark.catalog import Catalog
        from ycrawl_spark.pipeline import run_crawl

        d = self.base_dir(cfg)
        if not _ready(d):
            shutil.rmtree(d, ignore_errors=True)
            cat = Catalog(d)
            front = cat.table("frontier")
            front.set_partition_spec([("bucket", cfg.n_buckets, "canonical_host")])
            front.append(synth.frontier_df(self.spark, cfg), epoch=0)
            cat.table("images").append(
                synth.images_df(self.spark, cfg, with_bytes=False), epoch=0)
            stats = run_crawl(self.spark, cfg, d, use_bloom=True)
            sim = simulate(dataclasses.replace(cfg, n_seed_urls=None))
            with open(os.path.join(d, "sim.json"), "w") as f:
                json.dump({"done": sorted(sim.done),
                           "forfeit": sorted(sim.forfeit)}, f)
            _mark_ready(d, {
                "last_epoch": cat.table("fetch_log").latest_epoch(),
                "attempts": sum(s.n_selected for s in stats),
                "epochs": len(stats)})
        return d

    def base_dir(self, cfg) -> str:
        return os.path.join(self.ctx.cache, f"{self.name}_base_{cfg.n_seed_urls}"
                                            f"_seed{cfg.seed}_{self.ctx.engine}")

    def inputs_ready(self) -> bool:
        """The base crawls are built; the URL files need no session."""
        return all(_ready(self.base_dir(c))
                   for c in (self.cfg, self.make_cfg(self.N_WARM)))

    def build_inputs(self) -> None:
        self.base = self.build_base(self.cfg)
        self.base_meta = _read_ready(self.base)
        self.ingest = self.url_file(self.cfg, self.ingest_ids, f"seed{self.ctx.seed}")
        warm = self.make_cfg(self.N_WARM)
        self.warm_base = self.build_base(warm)
        self.warm_ingest = self.url_file(
            warm, list(range(0, self.N_WARM, 20))
            + list(range(self.N_WARM, warm.n_urls, 2)), "warmup")

    def url_file(self, cfg, ids: list[int], tag: str) -> str:
        """The frontier rows of ``ids`` as a parquet URL list, the form a
        crawl's newly found URLs arrive in."""
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        from ycrawl_spark import synth

        path = os.path.join(self.ctx.cache,
                            f"{self.name}_urls_{cfg.n_seed_urls}_{len(ids)}"
                            f"_{tag}_{self.ctx.engine}.parquet")
        if not os.path.exists(path):
            pdf = pd.DataFrame([synth.frontier_row(i, cfg) for i in ids])
            for c in ("host_bucket", "priority", "depth", "epoch_added"):
                pdf[c] = pdf[c].astype("int32")
            pdf["discovered_ts"] = pdf["discovered_ts"].astype("datetime64[us]")
            tmp = f"{path}.{os.getpid()}.tmp"
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
            os.replace(tmp, path)
        return path

    def workdir(self, base: str, tag: str) -> str:
        """A private copy of a finished base crawl to re-enter."""
        wd = os.path.join(self.ctx.run_dir, tag)
        shutil.rmtree(wd, ignore_errors=True)
        os.makedirs(wd)
        clone_tables(base, wd, ["frontier", "fetch_log", "checkpoint"])
        os.symlink(os.path.join(base, "images"), os.path.join(wd, "images"))
        return wd

    # -- per-op --------------------------------------------------------

    def warmup(self) -> None:
        """The same re-entry into a 1k-URL base crawl: starts the Python
        workers and compiles the ingest, seen-state and epoch plans."""
        from ycrawl_spark.pipeline import ingest_frontier, run_crawl

        wd = self.workdir(self.warm_base, "warmup")
        ingest_frontier(self.spark, wd, self.spark.read.parquet(self.warm_ingest))
        run_crawl(self.spark, self.make_cfg(self.N_WARM), wd, use_bloom=True,
                  resume=True)
        shutil.rmtree(wd, ignore_errors=True)

    def prepare(self, i: int) -> dict:
        return {"wd": self.workdir(self.base, f"op{i}")}

    def op(self, state: dict) -> None:
        from ycrawl_spark.pipeline import ingest_frontier, run_crawl

        before = dir_usage(state["wd"])
        with self.tracer.span("op") as rec:
            ingest_frontier(self.spark, state["wd"],
                            self.spark.read.parquet(self.ingest))
            state["stats"] = run_crawl(self.spark, self.cfg, state["wd"],
                                       use_bloom=True, resume=True)
        state["span"] = rec
        after = dir_usage(state["wd"])
        state["stored"] = (after[0] - before[0], after[1] - before[1])

    def op_seconds(self, states: list[dict], times: list[float]) -> float:
        return statistics.median(times)

    def work(self, state: dict) -> int:
        """Fetch attempts the op committed to fetch_log."""
        return sum(s.n_selected for s in state["stats"])

    def check(self, state: dict) -> list[str]:
        """One entry per failed operation (here at most one, the crawl):
        final done/forfeit sets equal the simulator's over the ids the
        crawl knows, every ok row passed validation, and re-entry
        attempted exactly the novel robots-allowed ids: nothing done or
        forfeited before re-entry is fetched again. Reads the committed
        fetch_log snapshots with pyarrow, so the gate adds no Spark jobs."""
        import pyarrow.dataset as ds
        from ycrawl_spark import synth
        from ycrawl_spark.catalog import Catalog

        with open(os.path.join(self.base, "sim.json")) as f:
            sim = json.load(f)
        sim_done, sim_forfeit = set(sim["done"]), set(sim["forfeit"])
        key = lambda i: synth.frontier_row(i, self.cfg)["key"]  # noqa: E731
        novel = {key(i) for i in self.ingest_ids if i >= self.N_BASE}
        known = {key(i) for i in range(self.N_BASE)} | novel
        dirs = [p for s in Catalog(state["wd"]).table("fetch_log").snapshots()
                for p in s.files]
        log = ds.dataset([ds.dataset(d, format="parquet") for d in dirs]).to_table(
            columns=["key", "status", "epoch", "valid"]).to_pandas()
        ok = log[log["status"] == "ok"]
        errs_per_key = log[log["status"] == "ERR"].groupby("key").size()
        done = set(ok["key"])
        forfeit = set(errs_per_key[errs_per_key >= self.cfg.max_retry].index) - done
        errs = []
        if done != sim_done & known or forfeit != sim_forfeit & known:
            errs.append("final done/forfeit sets differ from the simulator")
        again = set(log.loc[log["epoch"] > self.base_meta["last_epoch"], "key"])
        settled = (sim_done | sim_forfeit) & novel
        if again != settled:
            errs.append(f"re-entry attempted {len(again)} keys, expected the "
                        f"{len(settled)} novel robots-allowed ones")
        bad = int((ok["valid"] != True).sum())  # noqa: E712 (nullable)
        if bad:
            errs.append(f"{bad} ok rows failed validation")
        return ["; ".join(errs)] if errs else []

    def cleanup(self, state: dict) -> None:
        shutil.rmtree(state["wd"], ignore_errors=True)

    def summary(self, states: list[dict], op_s: float) -> dict:
        attempts = statistics.median(self.work(s) for s in states)
        stored = statistics.median(s["stored"][0] for s in states)
        return {"urls_per_s": attempts / op_s, "attempts": attempts,
                "epochs": statistics.median(len(s["stats"]) for s in states),
                "stored_bytes_per_url": stored / max(attempts, 1)}

    # -- tracing -------------------------------------------------------

    def install_trace(self) -> None:
        from ycrawl_spark import catalog, fetch, pipeline, scheduler, seen

        t = self.tracer
        t.wrap(scheduler, "rank_per_host", "scheduler.rank_per_host")
        t.wrap(scheduler, "hot_hosts_of", "scheduler.hot_hosts_of")
        t.wrap(fetch, "fetch_parse_stage", "fetch.fetch_parse_stage")

        def bloom_bytes(rec, args, kwargs, out):
            rec["bytes"] = int(args[0].words.nbytes)

        t.wrap(seen, "add_keys_to_bloom", "seen.add_keys_to_bloom", bloom_bytes)
        for m in ("append", "read", "read_snapshot", "append_pdf", "replace",
                  "rollback"):
            t.wrap(catalog.Table, m, f"catalog.{m}")
        t.wrap(pipeline, "load_seen_agg", "pipeline.load_seen_agg")

        def keep_seen(rec, args, kwargs, out):
            # membership actually tested, inside a timed op
            if args[1] is not None and t.stack[:1] == ["op"]:
                self.seen_calls.append((args[0], out))

        t.wrap(pipeline, "apply_seen_state", "pipeline.apply_seen_state", keep_seen)
        t.wrap(pipeline, "run_epoch_incremental", EPOCH)
        t.wrap(pipeline.DiscoveryBuffer, "flush", "pipeline.DiscoveryBuffer.flush")
        t.wrap(pipeline, "ingest_frontier", "pipeline.ingest_frontier")

    def trace_counts(self) -> None:
        """Row counts the layer metrics need from Spark, taken after the
        ops (outside the timed interval) while the session is up: the
        frontier rows that took the seen-state test and those it kept."""
        self.seen_rows = (sum(p.count() for p, _ in self.seen_calls),
                          sum(o.count() for _, o in self.seen_calls))

    def layers(self, states: list[dict], stages: list[dict]) -> dict:
        return crawl_layers(self, states, stages)


def crawl_layers(wl: ResumeRecrawl, states: list[dict], stages: list[dict]) -> dict:
    """Per-layer metrics of the traced crawl ops, per op.

    Spark runs a layer's plan in a later action, so the Spark stages of
    each op are attributed by the span that launched their job and the
    operators they ran: inside an epoch, the fetch_log append's Python
    stage is ``fetch`` (its share of the stage's executor time; the rest
    is the parquet write, ``catalog``) and the shuffle feeding it is the
    scheduler's shuffle-order; the epoch's own job is the rank
    checkpoint (``scheduler``), except that in an op's first epoch the
    stages before the Window are the seen-state join (``seen``)."""
    t = wl.tracer
    n_ops = len(states)

    def in_ops(name: str) -> list[dict]:
        """Spans of ``name`` inside the timed ops (not the warm-up's)."""
        return [s for st in states for s in t.of(name, st["span"])]

    op_stages = [s for s in stages if s["desc"].startswith("op")]
    acc = {k: 0.0 for k in ("fetch_wall", "fetch_py", "arrow_in", "arrow_out",
                            "rank", "shuffle_s", "shuffle_b", "write", "apply")}
    durations: list[float] = []
    # (op start, end of the op's first epoch): the seen-state join runs
    # in the first epoch of each re-entry.
    first_epochs = []
    for st in states:
        ep = t.of(EPOCH, st["span"])
        if ep and wl.seen_calls:
            first_epochs.append((st["span"]["t0"], min(e["t1"] for e in ep)))
    rank_jobs = {s["job"] for s in op_stages
                 if s["has_window"] and s["desc"].endswith(EPOCH)}
    for s in op_stages:
        p = s["desc"]
        if p.endswith(EPOCH + "/catalog.append"):
            if s["has_python"] and s["has_write"]:
                run_s = s["tasks"]["run_ms"] / 1000.0
                frac = min(1.0, s["python_s"] / run_s) if run_s > 0 else 0.0
                acc["fetch_wall"] += s["wall"] * frac
                acc["write"] += s["wall"] * (1.0 - frac)
                acc["fetch_py"] += s["python_s"]
                acc["arrow_in"] += s["arrow_in"]
                acc["arrow_out"] += s["arrow_out"]
                durations.extend(s["tasks"]["durations"])
            elif s["tasks"]["shuffle_write"] > 0:
                acc["shuffle_s"] += s["wall"]
                acc["shuffle_b"] += s["tasks"]["shuffle_write"]
            else:
                acc["write"] += s["wall"]
        elif p.endswith(EPOCH) and s["job"] in rank_jobs:
            first = any(a <= s["t0"] < end for a, end in first_epochs)
            acc["apply" if first and not s["has_window"] else "rank"] += s["wall"]

    out: dict[str, float] = {}
    stats = [x for st in states for x in st["stats"]]
    n_sel = sum(x.n_selected for x in stats)
    n_ok = sum(x.n_ok for x in stats)
    n_cand = sum(x.n_candidates for x in stats)
    out["fetch.python_s"] = acc["fetch_py"] / n_ops
    out["fetch.us_per_url"] = acc["fetch_py"] * 1e6 / max(n_sel, 1)
    out["fetch.arrow_in_bytes"] = acc["arrow_in"] / n_ops
    out["fetch.arrow_out_bytes"] = acc["arrow_out"] / n_ops
    out["fetch.task_skew"] = tr.skew(durations)
    out["fetch.rows"] = n_sel / n_ops
    out["fetch.ok_ratio"] = n_ok / max(n_sel, 1)
    out["codecs.us_per_image"] = codec_probe(
        [i for i in wl.ingest_ids if i >= wl.N_BASE])
    out["scheduler.rank_s"] = acc["rank"] / n_ops
    out["scheduler.order_shuffle_s"] = acc["shuffle_s"] / n_ops
    out["scheduler.order_shuffle_bytes"] = acc["shuffle_b"] / n_ops
    out["scheduler.candidates"] = n_cand / n_ops
    out["scheduler.selected"] = n_sel / n_ops
    out["scheduler.select_ratio"] = n_sel / max(n_cand, 1)

    epochs = in_ops(EPOCH)
    jobs = tr.job_intervals(op_stages)
    idle, n_jobs = 0.0, 0
    for e in epochs:
        inside = [(max(a, e["t0"]), min(b, e["t1"])) for a, b, d in jobs.values()
                  if d.startswith(e["path"]) and b > e["t0"] and a < e["t1"]]
        n_jobs += len(inside)
        idle += (e["t1"] - e["t0"]) - tr.union_len(inside)
    out["pipeline.epochs"] = len(stats) / n_ops
    out["pipeline.epoch_s"] = (statistics.median(e["t1"] - e["t0"] for e in epochs)
                               if epochs else 0.0)
    out["pipeline.spark_jobs_per_epoch"] = n_jobs / max(len(epochs), 1)
    out["pipeline.driver_idle_s"] = idle / n_ops
    out["pipeline.ingest_s"] = tr.total(in_ops("pipeline.ingest_frontier")) / n_ops

    out["seen.load_s"] = tr.total(in_ops("pipeline.load_seen_agg")) / n_ops
    blooms = in_ops("seen.add_keys_to_bloom")
    out["seen.bloom_s"] = tr.total(blooms) / n_ops
    out["seen.apply_s"] = acc["apply"] / n_ops
    rows_in, rows_out = wl.seen_rows
    out["seen.rows_in"] = rows_in / n_ops
    out["seen.rows_out"] = rows_out / n_ops
    out["seen.pass_ratio"] = rows_out / rows_in if rows_in else 0.0
    out["seen.driver_bytes"] = max((b.get("bytes", 0) for b in blooms), default=0)

    appends = [s for s in in_ops("catalog.append")
               if EPOCH in s["path"] or "ingest_frontier" in s["path"]]
    writes = appends + in_ops("catalog.replace") + in_ops("catalog.append_pdf")
    in_writes = [(a, b) for a, b, d in jobs.values()
                 if "catalog.append" in d or "catalog.replace" in d]
    out["catalog.append_s"] = max(0.0, tr.total(appends) - acc["fetch_wall"]
                                  - acc["shuffle_s"]) / n_ops
    out["catalog.write_s"] = acc["write"] / n_ops
    out["catalog.commit_s"] = max(
        0.0, tr.total(writes) - tr.union_len(in_writes)) / n_ops
    out["catalog.bytes_written"] = sum(s["stored"][0] for s in states) / n_ops
    out["catalog.files_written"] = sum(s["stored"][1] for s in states) / n_ops
    n_snap = (len(in_ops("catalog.append")) + len(in_ops("catalog.append_pdf"))
              + len(in_ops("catalog.replace")) - len(in_ops("catalog.rollback")))
    out["catalog.snapshots"] = n_snap / n_ops
    out["catalog.read_s"] = (tr.total(in_ops("catalog.read"))
                             + tr.total(in_ops("catalog.read_snapshot"))) / n_ops
    out["catalog.replace_s"] = tr.total(in_ops("catalog.replace")) / n_ops
    out["crawl.stored_bytes_per_url"] = (
        sum(s["stored"][0] for s in states) / max(n_sel, 1))
    out.update({k: v / n_ops for k, v in tr.spark_totals(op_stages).items()})
    return out


def codec_probe(ids: list[int], n: int = 300) -> float:
    """No-JVM floor under fetch.us_per_url: the fused stage's codec calls
    (gen, encode, decode, psnr, phash, caption) on the first ``n`` of the
    workload's image ids, in microseconds per image."""
    import numpy as np
    from ycrawl_spark import codecs, synth

    image_ids = [synth.image_id_for(i) for i in ids[:n]]
    t0 = time.perf_counter()
    for image_id in image_ids:
        w, h = codecs.gen_dims(image_id)
        fmt = codecs.gen_fmt(image_id)
        truth = codecs.gen_pixels(image_id, w, h)
        px = codecs.decode(codecs.encode(truth, fmt))
        if fmt == "lossy" or not np.array_equal(truth, px):
            codecs.psnr(truth, px)
        codecs.phash64(px)
        codecs.gen_caption(image_id)
    return (time.perf_counter() - t0) * 1e6 / max(len(image_ids), 1)


# ─────────────────────────── analytics ───────────────────────────

def frame_digest(pdf) -> str:
    """Order-insensitive digest of a result frame: columns and rows
    sorted, floats to 9 significant digits."""
    from scripts.check_oracle import normalize

    df = normalize(pdf)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].map(lambda v: f"{v:.9g}")
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


class Analytics:
    """QUERY_SET over generated sf0.01 tables, each query fully
    materialised through a ``noop`` sink. The run seed sets the query
    order."""

    name = "analytics"
    # Each query's median needs three samples; a pass is 6-7 s here.
    min_ops = 3
    EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "expected_digests.json")

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.order = list(QUERY_SET)
        random.Random(ctx.seed).shuffle(self.order)
        self.ops_per_op = len(self.order)  # one pass runs every query
        self.bad: set[str] = set()

    def inputs_ready(self) -> bool:
        return _ready(self.data_dir())

    def data_dir(self) -> str:
        return os.path.join(self.ctx.cache, f"analytics_sf{QUERY_SF}_seed{DATA_SEED}")

    def build_inputs(self) -> None:
        import datagen

        d = self.data_dir()
        if not _ready(d):
            shutil.rmtree(d, ignore_errors=True)
            datagen.write(d, QUERY_SF, DATA_SEED)
            _mark_ready(d)
        self.data = d

    def install_trace(self) -> None:
        pass

    def trace_counts(self) -> None:
        pass

    def warmup(self) -> None:
        """One pass collecting every result, which doubles as the
        correctness gate; the oracle comparison itself is not setup."""
        import duckdb

        from ycrawl_spark.queries import ORACLES, QUERIES
        from scripts.check_oracle import compare

        with open(self.EXPECTED) as f:
            expected = json.load(f)
        con = duckdb.connect()
        import datagen

        for t in datagen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data}/{t}.parquet')")
        self.check_s = 0.0
        for name in self.order:
            try:
                pdf = QUERIES[name](self.spark, self.data).toPandas()
            except Exception as e:  # a failing query is a failed op
                self.bad.add(name)
                print(f"[analytics] {name} raised {type(e).__name__}: {e}")
                continue
            t0 = time.perf_counter()
            if name in ORACLES:
                diff = compare(pdf, con.sql(ORACLES[name]).df())
            else:
                got = [len(pdf), frame_digest(pdf)]
                diff = None if got == expected.get(name) else (
                    f"rows/digest {got} vs recorded {expected.get(name)}")
            if diff:
                self.bad.add(name)
                print(f"[analytics] {name} mismatch: {diff}")
            self.check_s += time.perf_counter() - t0
        con.close()

    def prepare(self, i: int) -> dict:
        return {}

    def op(self, state: dict) -> None:
        from ycrawl_spark.queries import QUERIES

        state["times"], state["raised"] = {}, set()
        with self.tracer.span("op") as rec:
            for name in self.order:
                with self.tracer.span(f"queries.{name}"):
                    t0 = time.perf_counter()
                    try:
                        (QUERIES[name](self.spark, self.data).write
                         .format("noop").mode("overwrite").save())
                    except Exception as e:
                        state["raised"].add(name)
                        print(f"[analytics] {name} raised {type(e).__name__}: {e}")
                    state["times"][name] = time.perf_counter() - t0
        state["span"] = rec

    def op_seconds(self, states: list[dict], times: list[float]) -> float:
        """One pass, as the sum of each query's median over the run's
        passes: a stall in one query of one pass does not move it."""
        return sum(self.query_medians(states).values())

    def query_medians(self, states: list[dict]) -> dict[str, float]:
        return {n: statistics.median(s["times"][n] for s in states)
                for n in QUERY_SET}

    def check(self, state: dict) -> list[str]:
        """The queries that failed: a mismatch in the gate pass or an
        error in the timed pass."""
        return sorted(self.bad | state["raised"])

    def cleanup(self, state: dict) -> None:
        pass

    def summary(self, states: list[dict], op_s: float) -> dict:
        return {"query_set_s": op_s, "queries": len(self.order),
                **{f"{n}_s": v for n, v in self.query_medians(states).items()}}

    def layers(self, states: list[dict], stages: list[dict]) -> dict:
        out = {f"queries.{n}_s": v for n, v in self.query_medians(states).items()}
        op_stages = [s for s in stages if s["desc"].startswith("op")]
        out["queries.shuffle_bytes"] = sum(
            s["tasks"]["shuffle_write"] for s in op_stages) / len(states)
        out.update({k: v / len(states)
                    for k, v in tr.spark_totals(op_stages).items()})
        return out


WORKLOADS = {w.name: w for w in (ResumeRecrawl, Analytics)}
