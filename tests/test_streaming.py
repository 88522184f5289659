"""Streaming façade: AvailableNow catch-up must equal the batch plan
over the same files; incremental files are picked up on a second
drain (late/duplicate tolerance = idempotent append layout)."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from ycrawl_spark import streaming

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_dir(tmp_path):
    """Events split into several parquet part-files in a watched dir."""
    src = f"{SF}/events.parquet"
    d = str(tmp_path / "events_stream")
    os.makedirs(d)
    shutil.copy(src, os.path.join(d, "part-000.parquet"))
    return d


def test_windowed_counts_match_batch(spark, events_dir, tmp_path):
    stream = streaming.stream_source(spark, events_dir, streaming.EVENTS_SCHEMA)
    agg = streaming.windowed_counts(stream, window="1 day", watermark="1 hour")
    # append mode emits only watermark-closed windows; the AvailableNow
    # complete-mode drain is covered by test_incremental_files_complete_mode.
    name = streaming.run_available_now(agg, str(tmp_path / "ckpt"), out_mode="append")
    got = spark.table(name)

    batch = spark.read.parquet(events_dir)
    expect = (
        batch.groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )
    # all but the newest (unclosed) window must be emitted and identical
    maxstart = expect.agg(F.max("win_start")).first()[0]
    closed = expect.filter(F.col("win_start") < maxstart)
    joined = closed.join(
        got.select("win_start", "event_type", F.col("n").alias("n_stream")),
        ["win_start", "event_type"], "left",
    )
    assert joined.filter(F.col("n_stream").isNull()).count() == 0
    assert joined.filter(F.col("n") != F.col("n_stream")).count() == 0


def test_session_counts_total_matches_batch_sessionize(spark, events_dir, tmp_path):
    stream = streaming.stream_source(spark, events_dir, streaming.EVENTS_SCHEMA)
    sess = streaming.session_counts(stream, gap="30 minutes", watermark="10 days")
    # complete mode emits open sessions too → exact batch equivalence
    name = streaming.run_available_now(sess, str(tmp_path / "ckpt"),
                                       out_mode="complete")
    got = spark.table(name)
    # every event lands in exactly one session
    n_events = spark.read.parquet(events_dir).count()
    assert got.agg(F.sum("n_events")).first()[0] == n_events
    # sessions per user == the batch lag-gap sessionizer (closed sessions)
    from ycrawl_spark.queries import QUERIES

    batch = QUERIES["sessionize_users"](spark, SF)
    per_user = got.groupBy("user_id").agg(F.count("*").alias("n_sessions"))
    diff = (
        batch.join(per_user.withColumnRenamed("n_sessions", "n_stream"), "user_id")
        .filter(F.col("n_sessions") != F.col("n_stream"))
    )
    assert diff.count() == 0


def test_stateful_seen_filter_dedups_across_microbatches(spark, tmp_path):
    """The applyInPandasWithState seen-set: only the FIRST occurrence
    of each key survives, across micro-batch boundaries (state carries
    between triggers; maxFilesPerTrigger=1 forces two batches)."""
    d = str(tmp_path / "fetch_log")
    cols = "key string, canonical_host string, epoch int, attempt int, " \
           "shuffle_rank long, status string, exetime double"

    def rows(keys, epoch):
        return [(k, f"h{i % 3}", epoch, 1, i, "ok", 1.0)
                for i, k in enumerate(keys)]

    spark.createDataFrame(rows([f"k{i}" for i in range(10)], 1), cols) \
        .coalesce(1).write.parquet(d)
    spark.createDataFrame(rows([f"k{i}" for i in range(5, 15)], 2), cols) \
        .coalesce(1).write.mode("append").parquet(d)
    # FileStreamSource orders files by mtime — pin epoch 1 strictly older
    import time as _t
    now = _t.time()
    for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        first = spark.read.parquet(f"file://{f}").agg(F.min("epoch")).first()[0]
        os.utime(f, (now, now - 10 if first == 1 else now))

    stream = streaming.stream_source(spark, d, streaming.FETCH_LOG_SCHEMA,
                                     per_trigger_files=1)
    deduped = streaming.stateful_seen_filter(stream, n_buckets=4)
    name = streaming.run_available_now(deduped, str(tmp_path / "ckpt3"),
                                       out_mode="append")
    got = spark.table(name)
    assert got.count() == 15  # 10 + 10 with 5 overlapping
    assert got.select("key").distinct().count() == 15
    # the overlap keys kept their first-epoch row
    firsts = {r["key"]: r["epoch"] for r in got.collect()}
    assert all(firsts[f"k{i}"] == 1 for i in range(5, 10))


def test_stateful_first_by_rank_survives_tiny_splits(spark, tmp_path):
    """Round-3 VERDICT #3 'done' criterion: the order-insensitive
    first-by-rank operator must produce the exact per-key min-rank
    winner even when every parquet file is shredded into many map
    splits (artificially tiny maxPartitionBytes) — the regime where
    the old arrival-order formulation broke."""
    d = str(tmp_path / "fetch_log")
    cols = "key string, canonical_host string, epoch int, attempt int, " \
           "shuffle_rank long, status string, exetime double"
    import random
    rng = random.Random(11)
    rows = [(f"k{rng.randrange(40)}", f"h{i % 3}", 1, 1, i,
             f"s{i}", 1.0) for i in range(400)]
    rng.shuffle(rows)
    spark.createDataFrame(rows, cols).repartition(5).write.parquet(d)

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try:
        stream = streaming.stream_source(spark, d, streaming.FETCH_LOG_SCHEMA,
                                         per_trigger_files=2)
        firsts = streaming.stateful_first_by_rank(stream, n_buckets=4)
        name = streaming.run_available_now(firsts, str(tmp_path / "ckpt4"),
                                           out_mode="append")
        from pyspark.sql import Window as W
        w = W.partitionBy("key").orderBy(F.asc("shuffle_rank"))
        got = {
            r["key"]: (r["shuffle_rank"], r["status"])
            for r in spark.table(name)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).collect()
        }
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    expect = {}
    for k, _, _, _, rank, status, _ in rows:
        if k not in expect or rank < expect[k][0]:
            expect[k] = (rank, status)
    assert got == expect


def test_stream_merge_into_catalog_upserts_across_drains(spark, tmp_path):
    """foreachBatch MERGE sink: first drain seeds the table, a second
    drain over a new file updates overlapping keys and inserts new
    ones; the catalog ends at exactly the last version per key."""
    from ycrawl_spark.catalog import Catalog

    d = str(tmp_path / "dim_stream")
    cols = "key string, canonical_host string, epoch int, attempt int, " \
           "shuffle_rank long, status string, exetime double"

    def rows(lo, hi, epoch):
        return [(f"k{i}", f"h{i % 3}", epoch, 1, i, f"v{epoch}", 1.0)
                for i in range(lo, hi)]

    t = Catalog(str(tmp_path)).table("dim")
    ck = str(tmp_path / "ckpt_merge")

    spark.createDataFrame(rows(0, 10, 1), cols).coalesce(1).write.parquet(d)
    stream = streaming.stream_source(spark, d, streaming.FETCH_LOG_SCHEMA)
    streaming.stream_merge_into(stream, t, key="key", checkpoint_dir=ck)
    got1 = {r["key"]: r["status"] for r in t.read(spark).collect()}
    assert got1 == {f"k{i}": "v1" for i in range(10)}

    # second file: keys 5-14 at epoch 2 — a fresh AvailableNow drain
    # picks up only the delta and upserts it
    spark.createDataFrame(rows(5, 15, 2), cols).coalesce(1) \
        .write.mode("append").parquet(d)
    stream2 = streaming.stream_source(spark, d, streaming.FETCH_LOG_SCHEMA)
    streaming.stream_merge_into(stream2, t, key="key", checkpoint_dir=ck)
    got2 = {r["key"]: r["status"] for r in t.read(spark).collect()}
    expect = {f"k{i}": "v1" for i in range(5)}
    expect.update({f"k{i}": "v2" for i in range(5, 15)})
    assert got2 == expect
    assert len(t.snapshots()) == 1  # MERGE keeps the table one-snapshot


def test_incremental_files_complete_mode(spark, events_dir, tmp_path):
    stream = streaming.stream_source(spark, events_dir, streaming.EVENTS_SCHEMA)
    by_type = (
        stream.groupBy("event_type").agg(F.count("*").alias("n"))
    )
    ck = str(tmp_path / "ckpt2")
    name = streaming.run_available_now(by_type, ck, out_mode="complete",
                                       table_name="evt_counts")
    first = {r["event_type"]: r["n"] for r in spark.table(name).collect()}
    n1 = sum(first.values())

    # drop a second file; a new AvailableNow drain picks up only the delta
    src = glob.glob(os.path.join(events_dir, "part-000.parquet"))[0]
    shutil.copy(src, os.path.join(events_dir, "part-001.parquet"))
    name2 = streaming.run_available_now(by_type, ck, out_mode="complete",
                                        table_name="evt_counts")
    second = {r["event_type"]: r["n"] for r in spark.table(name2).collect()}
    assert sum(second.values()) == 2 * n1


def test_session_window_merges_exact_gap_boundary(spark):
    """Two events exactly `gap` apart MERGE into one session (Spark
    merges touching [t, t+gap) windows; a new session needs a gap
    STRICTLY greater) — the rule the stream_sessionize oracle mirrors
    with `>` rather than `>=`."""
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:30:00"),
         (1, "2024-01-01 01:00:00.000001")],
        "user_id int, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count("*").alias("n"))
    )
    rows = sorted((r["n"] for r in out.collect()))
    # 00:00 and 00:30 merge (exact gap); 01:00.000001 starts a new one
    assert rows == [1, 2]
