"""Structured Streaming façade over the engine's append-only tables.

The reference is micro-batch (hourly cron epochs, stage-barrier
uploads — /root/reference/cron.yaml:2-4, /root/reference/Worker/
main.py:61-64); the engine's batch loop mirrors that. This module adds
the streaming read-side a long-running deployment would run next to
the crawl: a file-source stream over a table's parquet snapshots with
watermarked windowed aggregation, session windows, and
Trigger.AvailableNow catch-up processing (the modern replacement for
the reference's "poll until all files present" loop).

Everything here is the built-in engine surface — no custom sinks, no
per-row Python; late/duplicate tolerance comes from watermarks plus
the idempotent append-only table layout.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

FETCH_LOG_SCHEMA = (
    "key string, canonical_host string, epoch int, attempt int, "
    "shuffle_rank long, status string, exetime double"
)


def stream_source(spark: SparkSession, path: str, schema: str,
                  per_trigger_files: int = 8) -> DataFrame:
    """File-source stream over a directory of parquet parts.

    ``maxFilesPerTrigger`` bounds micro-batch size — the streaming
    analog of the reference's stage-size batching.
    """
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", per_trigger_files)
        .parquet(path)
    )


def windowed_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "30 minutes",
                    slide: str | None = None,
                    key: str = "event_type") -> DataFrame:
    """Watermarked window counts per key — tumbling by default, SLIDING
    when ``slide`` < ``window`` (each event lands in window/slide
    overlapping windows; Spark expands in-row before the stateful agg).
    The tumbling form is the streaming daily drift snapshot
    (/root/reference/DataProcessor/drift.py:17-22); the sliding form is
    the live per-host rate monitor."""
    win = (F.window("ts", window, slide) if slide
           else F.window("ts", window))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), key)
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            key, "n",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """Native session windows (gap-based), the streaming equivalent of
    the batch lag-gap sessionization in queries.sessionize_users."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            "n_events",
        )
    )


SEEN_OUT_SCHEMA = (
    "key string, canonical_host string, epoch int, attempt int, "
    "shuffle_rank long, status string, exetime double"
)
SEEN_STATE_SCHEMA = "seen array<string>"


def stateful_seen_filter(fetch_log: DataFrame, n_buckets: int = 32) -> DataFrame:
    """Streaming URL-seen dedup: emit only the FIRST occurrence of each
    key across all micro-batches — the crawl's seen-set
    (/root/reference/Coordinator/main.py:68 anti-join semantics) as a
    custom stateful operator (``applyInPandasWithState``).

    State is sharded by ``xxhash64(key) % n_buckets`` rather than keyed
    per-URL: per-key state groups at 10^10 keys would mean 10^10 state
    rows and a shuffle to match; per-bucket groups keep state rows
    bounded by ``n_buckets`` per executor and the shuffle fan-in fixed.
    At real frontier scale the in-state set per bucket becomes a Bloom
    shard (ycrawl_spark.seen) — the plumbing is identical.
    """
    import pandas as pd

    def dedup(bucket_key, pdfs, state):
        seen = set(state.get[0]) if state.exists else set()
        outs = []
        for pdf in pdfs:
            fresh = pdf[~pdf["key"].isin(seen) & ~pdf["key"].duplicated()]
            seen.update(fresh["key"].tolist())
            outs.append(fresh)
        state.update((list(seen),))
        out = pd.concat(outs) if outs else pd.DataFrame()
        yield out[["key", "canonical_host", "epoch", "attempt",
                   "shuffle_rank", "status", "exetime"]]

    bucketed = fetch_log.withColumn(
        "bucket", F.pmod(F.xxhash64("key"), F.lit(n_buckets))
    )
    return bucketed.groupBy("bucket").applyInPandasWithState(
        dedup,
        outputStructType=SEEN_OUT_SCHEMA,
        stateStructType=SEEN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


SEEN_RANK_STATE_SCHEMA = "keys array<string>, ranks array<long>"


def stateful_first_by_rank(fetch_log: DataFrame, n_buckets: int = 32) -> DataFrame:
    """Streaming first-occurrence-by-PRIORITY seen-set: for every key,
    emit the row with the minimum ``shuffle_rank`` seen so far, with
    cross-micro-batch state carrying each key's best rank.

    This is the arrival-order-INSENSITIVE reformulation of
    ``stateful_seen_filter`` (round-3 VERDICT #3): that operator keeps
    the first row in ARRIVAL order, which is only deterministic when
    every state bucket's rows reach the operator in one monotone
    stream — a protocol that caps the checkable input at one parquet
    split (shuffle fetch order across mappers is not contractual, so
    even per-bucket sorted files don't survive file splitting). Here
    each micro-batch reduces to a per-key min by rank (a pandas
    groupby — no order assumption), the state merge keeps the smaller
    rank, and ONLY improvements are emitted; the global winner per key
    is therefore present in the output under ANY split policy,
    parallelism, or fetch interleaving, and a final per-key min-rank
    selection recovers it deterministically. Strict inequality on the
    merge keeps the earlier batch's row on rank ties.

    State is bucket-sharded like ``stateful_seen_filter``: bounded
    state-row count, fixed shuffle fan-in; per bucket the state is two
    parallel arrays (keys, best ranks)."""
    import pandas as pd

    cols = ["key", "canonical_host", "epoch", "attempt",
            "shuffle_rank", "status", "exetime"]

    def upd(bucket_key, pdfs, state):
        if state.exists:
            ks, rs = state.get
            best = dict(zip(ks, rs))
        else:
            best = {}
        outs = []
        for pdf in pdfs:
            # order-insensitive per-batch reduction: min rank per key
            # (rank first; remaining columns only break exact-rank ties)
            m = (pdf.sort_values(["shuffle_rank", "status",
                                  "canonical_host", "epoch", "attempt"])
                 .groupby("key", as_index=False).first())
            mask = [best.get(k) is None or r < best[k]
                    for k, r in zip(m["key"], m["shuffle_rank"])]
            improved = m[pd.Series(mask, index=m.index)]
            for k, r in zip(improved["key"], improved["shuffle_rank"]):
                best[k] = int(r)
            outs.append(improved)
        state.update((list(best.keys()), list(best.values())))
        out = pd.concat(outs) if outs else pd.DataFrame(columns=cols)
        yield out[cols]

    bucketed = fetch_log.withColumn(
        "bucket", F.pmod(F.xxhash64("key"), F.lit(n_buckets))
    )
    return bucketed.groupBy("bucket").applyInPandasWithState(
        upd,
        outputStructType=SEEN_OUT_SCHEMA,
        stateStructType=SEEN_RANK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_merge_into(stream_df: DataFrame, table, key: str | list,
                      checkpoint_dir: str) -> None:
    """Streaming upsert sink: every micro-batch row-level-MERGEs into a
    manifest-catalog table (``Table.merge_upsert`` — update matched
    keys, insert new ones) via ``foreachBatch`` — the streaming write
    side of the catalog, i.e. a continuously-maintained dimension/state
    table fed by a stream (the crawl's live seen-agg / fx-rate shape).

    Exactly-once without a transactional sink: the MERGE is idempotent
    (re-merging a replayed batch reproduces the same table state), so
    checkpoint replay after a crash converges — the standard
    foreachBatch-upsert recipe. The CAS abort can only fire if an
    EXTERNAL writer races the stream; that is a real conflict and
    raises rather than silently dropping the batch."""
    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if table.merge_upsert(batch_df.sparkSession, batch_df,
                              key=key) is None:
            raise RuntimeError(
                f"stream_merge_into: CAS conflict on batch {batch_id} — "
                "an external writer committed between read and merge")

    q = (
        stream_df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now(stream_df: DataFrame, checkpoint_dir: str,
                      out_mode: str = "append",
                      table_name: str | None = None) -> str:
    """Drain everything currently available (Trigger.AvailableNow) into
    an in-memory table; returns the table name to query.

    This is the engine's catch-up path: identical results to the batch
    plan over the same files, which the tests assert.
    """
    name = table_name or f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(out_mode)
        .option("checkpointLocation", os.path.join(checkpoint_dir, name))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return name
