"""Catalog facade semantics: atomic append commits, snapshot time
travel, replace-as-single-snapshot, epoch bookkeeping — the properties
the crawl's checkpoint/resume story leans on (SURVEY.md §2.1
sink_checkpoint_meta; Iceberg-equivalent behavior per §7)."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest

from ycrawl_spark.catalog import Catalog


def test_append_and_time_travel(spark, tmp_path):
    t = Catalog(str(tmp_path)).table("facts")
    s1 = t.append(spark.createDataFrame([(1, "a")], "id int, v string"), epoch=1)
    s2 = t.append(spark.createDataFrame([(2, "b")], "id int, v string"), epoch=2)

    assert {r["id"] for r in t.read(spark).collect()} == {1, 2}
    # time travel to the first commit sees only its rows (fx_fallback
    # pattern: read the previous snapshot when today's load fails)
    assert {r["id"] for r in t.read(spark, as_of=s1).collect()} == {1}
    assert {r["id"] for r in t.read(spark, as_of=s2).collect()} == {1, 2}
    assert t.latest_epoch() == 2


def test_replace_supersedes_all_snapshots(spark, tmp_path):
    t = Catalog(str(tmp_path)).table("state")
    t.append(spark.createDataFrame([(1,)], "id int"), epoch=1)
    t.append(spark.createDataFrame([(2,)], "id int"), epoch=2)
    t.replace(spark.createDataFrame([(9,)], "id int"), epoch=3)

    assert [r["id"] for r in t.read(spark).collect()] == [9]
    assert len(t.snapshots()) == 1
    assert t.latest_epoch() == 3


def test_rollback_uncommits_snapshot(spark, tmp_path):
    """rollback drops one snapshot from the manifest AND its data dir —
    the zero-yield-epoch un-commit path: latest_epoch must fall back
    and later multi-path reads must not see an orphan dir."""
    import os

    t = Catalog(str(tmp_path)).table("log")
    t.append(spark.createDataFrame([(1,)], "id int"), epoch=1)
    s2 = t.append(spark.createDataFrame([], "id int"), epoch=2)
    assert t.latest_epoch() == 2
    dirs_before = [p for s in t.snapshots() for p in s.files]

    t.rollback(s2)
    assert t.latest_epoch() == 1
    assert [r["id"] for r in t.read(spark).collect()] == [1]
    gone = [p for p in dirs_before if not os.path.exists(p)]
    assert len(gone) == 1  # exactly the rolled-back snapshot's dir


def test_append_pdf_no_spark_job(spark, tmp_path):
    t = Catalog(str(tmp_path)).table("counters")
    t.append_pdf(pd.DataFrame({"host": ["h1", "h2"], "n": [3, 4]}), epoch=1)
    t.append_pdf(pd.DataFrame({"host": ["h1"], "n": [5]}), epoch=2)
    got = t.read(spark).groupBy().sum("n").collect()[0][0]
    assert got == 12
    assert t.latest_epoch() == 2


def test_truncate_then_read_none(spark, tmp_path):
    t = Catalog(str(tmp_path)).table("tmp")
    t.append(spark.createDataFrame([(1,)], "id int"), epoch=1)
    t.truncate()
    assert t.read(spark) is None
    assert t.latest_epoch() is None


def test_compact_preserves_content_and_epoch(spark, tmp_path):
    """rewrite_data_files + expire_snapshots analog: N snapshots → 1,
    identical rows, latest_epoch preserved, old data dirs GC'd."""
    import os

    t = Catalog(str(tmp_path)).table("log")
    for e in range(1, 5):
        t.append(spark.range(e * 10, e * 10 + 5).toDF("id"), epoch=e)
    before = sorted(r["id"] for r in t.read(spark).collect())
    old_dirs = [p for s in t.snapshots() for p in s.files]
    assert t.compact(spark) is not None
    snaps = t.snapshots()
    assert len(snaps) == 1
    assert snaps[0].meta["compacted_from"] == 4
    assert t.latest_epoch() == 4
    assert sorted(r["id"] for r in t.read(spark).collect()) == before
    assert not any(os.path.exists(d) for d in old_dirs)
    # idempotent: a single-snapshot table has nothing to compact
    assert t.compact(spark) is None


def test_concurrent_appends_never_lose_snapshots(tmp_path):
    """16 threads race append_pdf on one table: every manifest
    read-modify-write is serialized by the manifest flock, so all 16
    snapshots survive (pre-lock, interleaved read→commit pairs silently
    dropped each other's snapshot — ADVICE r02)."""
    from concurrent.futures import ThreadPoolExecutor

    t = Catalog(str(tmp_path)).table("counters")
    with ThreadPoolExecutor(max_workers=16) as ex:
        list(ex.map(
            lambda i: t.append_pdf(pd.DataFrame({"n": [i]}), epoch=i),
            range(16),
        ))
    snaps = t.snapshots()
    assert len(snaps) == 16
    assert sorted(s.epoch for s in snaps) == list(range(16))


def test_compact_carries_concurrent_append(spark, tmp_path):
    """Merge-on-commit: a snapshot appended AFTER compact reads its
    base set but BEFORE it commits is carried forward, not dropped
    (the Iceberg rewrite-retry analog)."""
    cat = Catalog(str(tmp_path))
    t = cat.table("log")
    for e in (1, 2):
        t.append(spark.range(e * 10, e * 10 + 3).toDF("id"), epoch=e)

    orig_lock = t._manifest_lock

    def lock_after_race():
        # lands between compact's base read and its manifest commit
        cat.table("log").append_pdf(pd.DataFrame({"id": [999]}), epoch=9)
        t._manifest_lock = orig_lock  # fire once
        return orig_lock()

    t._manifest_lock = lock_after_race
    t.compact(spark)
    snaps = t.snapshots()
    assert len(snaps) == 2  # compacted base + the raced append
    assert snaps[0].meta.get("compacted_from") == 2
    assert t.latest_epoch() == 9
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == [10, 11, 12, 20, 21, 22, 999]


def test_hidden_partitioning_days_prunes_files(spark, tmp_path):
    """days(ts) hidden partitioning: a ts-range scan reads only the
    matching day directories (file-level pruning, checked via
    inputFiles), the derived column never surfaces, and values match a
    plain row-filtered read."""
    from pyspark.sql import functions as F

    t = Catalog(str(tmp_path)).table("events")
    t.set_partition_spec([("days", "ts")])
    df = spark.range(1000).select(
        "id",
        F.expr("timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,CAST(id % 10 AS INT),0,0,0)").alias("ts"),
        (F.col("id") % 7).alias("v"),
    )
    t.append(df, epoch=1)

    scan = t.scan(spark, ranges={"ts": ("2026-01-03", "2026-01-04")})
    assert "_p_days_ts" not in scan.columns
    plan = scan._sc._jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted")
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "_p_days_ts" in pf and ">= 2026-01-03" in pf  # dir-level prune
    expect = (t.read(spark)
              .filter(F.col("ts").between("2026-01-03", "2026-01-04")))
    assert sorted(r["id"] for r in scan.collect()) == \
        sorted(r["id"] for r in expect.collect())


def test_hidden_partitioning_bucket_prunes_files(spark, tmp_path):
    """bucket(8, host) transform: an equality scan reads only the one
    matching bucket directory; a RANGE on host must NOT prune (a hash
    cannot project ranges — rows still come back correct)."""
    from pyspark.sql import functions as F

    t = Catalog(str(tmp_path)).table("frontier")
    t.set_partition_spec([("bucket", 8, "host")])
    df = spark.range(800).select(
        "id", F.concat(F.lit("host"), (F.col("id") % 40)).alias("host"))
    t.append(df, epoch=1)

    scan = t.scan(spark, eq={"host": "host7"})
    plan = scan._sc._jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted")
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "_p_bucket8_host" in pf and "=" in pf  # one bucket dir read
    assert sorted(r["id"] for r in scan.collect()) == \
        sorted(range(7, 800, 40))


def test_partition_evolution_respects_per_snapshot_spec(spark, tmp_path):
    """Evolution contract: snapshots written BEFORE the spec scan
    unpruned but correct; snapshots after re-layout and prune. One
    logical table, two physical layouts, one answer."""
    from pyspark.sql import functions as F

    t = Catalog(str(tmp_path)).table("log")
    mk = lambda lo: spark.range(lo, lo + 100).select(
        "id", F.concat(F.lit("h"), (F.col("id") % 5)).alias("host"))
    t.append(mk(0), epoch=1)                     # pre-spec layout
    t.set_partition_spec([("bucket", 4, "host")])
    t.append(mk(100), epoch=2)                   # bucketed layout
    got = t.scan(spark, eq={"host": "h3"})
    assert sorted(r["id"] for r in got.collect()) == sorted(
        [*range(3, 100, 5), *range(103, 200, 5)])
    # read() hides the derived column across mixed layouts
    assert "_p_bucket4_host" not in t.read(spark).columns
    assert t.read(spark).count() == 200


def test_compact_preserves_hidden_partitioning(spark, tmp_path):
    """Compacting a spec-partitioned table must not leak the derived
    _p_* columns into the table schema (they are per-snapshot storage
    artifacts), and the compacted snapshot re-lays-out under the
    CURRENT spec so host scans still prune — pre-spec snapshots get
    rewritten INTO the evolved layout (rewrite_data_files semantics)."""
    from pyspark.sql import functions as F

    t = Catalog(str(tmp_path)).table("frontier")
    mk = lambda lo: spark.range(lo, lo + 100).select(
        "id", F.concat(F.lit("h"), (F.col("id") % 5)).alias("host"))
    t.append(mk(0), epoch=1)                       # pre-spec layout
    t.set_partition_spec([("bucket", 4, "host")])
    t.append(mk(100), epoch=2)
    t.append(mk(200), epoch=3)
    assert t.compact(spark) is not None
    got = t.read(spark)
    assert got.columns == ["id", "host"]           # no _p_* leak
    assert got.count() == 300
    assert t.latest_epoch() == 3
    scan = t.scan(spark, eq={"host": "h2"})
    plan = scan._sc._jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted")
    assert "_p_bucket4_host" in plan.split("PartitionFilters: [")[1].split("]")[0]
    assert sorted(r["id"] for r in scan.collect()) == \
        sorted(i for i in range(300) if i % 5 == 2)


def test_read_merges_evolved_schema(spark, tmp_path):
    """Add-column schema evolution: a snapshot written before the
    column existed reads back with nulls, the new snapshot with values
    — one logical table (without mergeSchema Spark takes one file's
    schema and silently drops the new column)."""
    t = Catalog(str(tmp_path)).table("evolving")
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"), epoch=1)
    t.append(spark.createDataFrame(
        [(2, "b", "en")], "id long, v string, lang string"), epoch=2)
    got = {r["id"]: r["lang"] for r in t.read(spark).collect()}
    assert got == {1: None, 2: "en"}
    assert set(t.read(spark).columns) == {"id", "v", "lang"}


def _jobs_in_group(spark, fn):
    """Spark job ids launched while ``fn()`` runs under a fresh job
    group (the listener bus drained first, so none is missed)."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group)), out


def test_lazy_reads_launch_no_spark_job(spark, tmp_path):
    """Reads use the schema each snapshot recorded at write time, so a
    lazy ``read``, ``read_snapshot`` and ``scan`` infer nothing from
    parquet footers and launch no Spark job — specless and spec'd
    snapshots alike."""
    t = Catalog(str(tmp_path)).table("facts")
    s1 = t.append(spark.createDataFrame([(1, "a")], "id long, v string"), epoch=1)
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"), epoch=2)
    t.set_partition_spec([("bucket", 4, "id")])
    t.append(spark.createDataFrame([(3, "c")], "id long, v string"), epoch=3)

    jobs, (full, one, hit) = _jobs_in_group(spark, lambda: (
        t.read(spark), t.read_snapshot(spark, s1), t.scan(spark, eq={"id": 3})))
    assert jobs == []
    assert all("schema" in s.meta for s in t.snapshots())
    assert sorted(r["id"] for r in full.collect()) == [1, 2, 3]
    assert full.columns == ["id", "v"]
    assert [(r["id"], r["v"]) for r in one.collect()] == [(1, "a")]
    assert [(r["id"], r["v"]) for r in hit.collect()] == [(3, "c")]


def test_snapshot_without_recorded_schema_still_reads(spark, tmp_path):
    """A manifest entry written before snapshots recorded their schema
    still reads (footer inference), alone, merged with recorded ones,
    and through ``read_snapshot``/``scan``."""
    import json

    t = Catalog(str(tmp_path)).table("evolving")
    s1 = t.append(spark.createDataFrame([(1, "a")], "id long, v string"), epoch=1)
    t.append(spark.createDataFrame(
        [(2, "b", "en")], "id long, v string, lang string"), epoch=2)

    def strip(ids):
        with open(t._manifest) as f:
            snaps = json.load(f)
        for s in snaps:
            if s["snapshot_id"] in ids:
                s["meta"].pop("schema", None)
        with open(t._manifest, "w") as f:
            json.dump(snaps, f)

    strip({s1})  # mixed: one legacy entry, one recorded
    assert {r["id"]: r["lang"] for r in t.read(spark).collect()} == {1: None, 2: "en"}
    strip({s.snapshot_id for s in t.snapshots()})  # all legacy
    assert not any("schema" in s.meta for s in t.snapshots())
    assert {r["id"]: r["lang"] for r in t.read(spark).collect()} == {1: None, 2: "en"}
    assert [r["v"] for r in t.read_snapshot(spark, s1).collect()] == ["a"]
    assert [r["id"] for r in t.scan(spark, eq={"v": "b"}).collect()] == [2]


def test_read_merges_recorded_schemas_by_type(spark, tmp_path):
    """Recorded schemas merge by type: nullability alone does not
    conflict (a compaction records every field nullable, a fresh append
    may not), while a column recorded with two types cannot be merged —
    the read raises, as parquet ``mergeSchema`` does."""
    from pyspark.sql import functions as F

    t = Catalog(str(tmp_path)).table("arrays")
    t.append(spark.range(2).withColumn("a", F.array("id")), epoch=1)
    t.append(spark.range(1).withColumn(
        "a", F.array(F.lit(None).cast("long"))), epoch=2)
    assert sorted(str(r["a"]) for r in t.read(spark).collect()) == [
        "[0]", "[1]", "[None]"]

    t = Catalog(str(tmp_path)).table("clash")
    t.append(spark.createDataFrame([(1,)], "id long"), epoch=1)
    t.append(spark.createDataFrame([("x",)], "id string"), epoch=2)
    with pytest.raises(ValueError, match="'id'"):
        t.read(spark)


def test_merge_on_read_and_materialize(spark, tmp_path):
    """MOR contract: merge_append is a plain O(batch) append (snapshot
    count grows), read_resolved returns last-writer-wins per key, and
    materialize_merges folds everything into ONE resolved snapshot
    that plain read() then agrees with."""
    t = Catalog(str(tmp_path)).table("state")
    t.append(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"), epoch=1)
    t.merge_append(spark.createDataFrame(
        [(2, "B2"), (4, "d")], "id long, v string"), key="id", epoch=2)
    t.merge_append(spark.createDataFrame(
        [(2, "B3"), (1, "A2")], "id long, v string"), key="id", epoch=3)
    assert len(t.snapshots()) == 3  # appends, no rewrite
    expect = {1: "A2", 2: "B3", 3: "c", 4: "d"}
    got = {r["id"]: r["v"] for r in t.read_resolved(spark).collect()}
    assert got == expect
    # plain read() still sees raw deltas (5 + 3 rows)
    assert t.read(spark).count() == 7
    assert t.materialize_merges(spark) is not None
    assert len(t.snapshots()) == 1
    got2 = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got2 == expect
    assert t.latest_epoch() == 3


def test_merge_upsert_updates_inserts_keeps(spark, tmp_path):
    """Row-level MERGE semantics: matched keys take the source row,
    unmatched source rows insert, untouched target rows survive; the
    result is ONE snapshot and old data dirs are GC'd."""
    import glob
    import os

    t = Catalog(str(tmp_path)).table("corpus")
    t.append(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"), epoch=1)
    t.append(spark.createDataFrame(
        [(3, "c")], "id long, v string"), epoch=2)
    src = spark.createDataFrame(
        [(2, "B2"), (4, "d")], "id long, v string")
    sid = t.merge_upsert(spark, src, key="id")
    assert sid is not None
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 4: "d"}
    assert len(t.snapshots()) == 1
    assert t.latest_epoch() == 2  # preserved like compact
    live = {p for s in t.snapshots() for p in s.files}
    on_disk = set(glob.glob(os.path.join(str(tmp_path), "corpus", "data", "*")))
    assert on_disk == live
    # full-reconciliation mode: rows missing from the source are deleted
    t.merge_upsert(spark, src, key="id", delete_missing=True)
    assert {r["id"] for r in t.read(spark).collect()} == {2, 4}


def test_merge_upsert_aborts_on_any_concurrent_commit(spark, tmp_path):
    """MERGE CAS: the merged state was computed against the base
    snapshot set, so even a concurrent APPEND must abort the commit
    (Iceberg serializable-merge conflict) — unlike compact, which can
    carry appended tails forward."""
    import glob
    import os

    import pandas as pd

    cat = Catalog(str(tmp_path))
    t = cat.table("corpus")
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"), epoch=1)

    orig_lock = t._manifest_lock

    def lock_after_race():
        cat.table("corpus").append_pdf(
            pd.DataFrame({"id": [7], "v": ["raced"]}), epoch=2)
        t._manifest_lock = orig_lock
        return orig_lock()

    t._manifest_lock = lock_after_race
    src = spark.createDataFrame([(1, "A2")], "id long, v string")
    assert t.merge_upsert(spark, src, key="id") is None
    # manifest untouched by the aborted merge: base + raced append live
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 7: "raced"}
    live = {p for s in t.snapshots() for p in s.files}
    on_disk = set(glob.glob(os.path.join(str(tmp_path), "corpus", "data", "*")))
    assert on_disk == live  # aborted merge dir GC'd
    # the retry against the new manifest succeeds and keeps the raced row
    assert t.merge_upsert(spark, src, key="id") is not None
    got2 = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got2 == {1: "A2", 7: "raced"}


def test_merge_upsert_lays_out_under_current_spec(spark, tmp_path):
    """MERGE writes the new table state under the current partition
    spec, so post-merge scans still prune (same contract as append /
    compact)."""
    from pyspark.sql import functions as F

    t = Catalog(str(tmp_path)).table("frontier")
    t.set_partition_spec([("bucket", 4, "host")])
    mk = lambda lo: spark.range(lo, lo + 100).select(
        "id", F.concat(F.lit("h"), (F.col("id") % 5)).alias("host"))
    t.append(mk(0), epoch=1)
    src = spark.range(100, 120).select(
        "id", F.lit("h2").alias("host"))
    assert t.merge_upsert(spark, src, key="id") is not None
    scan = t.scan(spark, eq={"host": "h2"})
    plan = scan._sc._jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted")
    assert "_p_bucket4_host" in plan.split("PartitionFilters: [")[1].split("]")[0]
    assert sorted(r["id"] for r in scan.collect()) == \
        sorted([*range(2, 100, 5), *range(100, 120)])
    assert "_p_bucket4_host" not in t.read(spark).columns


def test_replace_applies_current_spec(spark, tmp_path):
    """ADVICE r03 #2: replace() derives the hidden partition columns,
    partitions the write, and records meta['spec'] exactly like
    append() — a spec'd table maintained via replace keeps pruning."""
    from pyspark.sql import functions as F

    t = Catalog(str(tmp_path)).table("state")
    t.set_partition_spec([("bucket", 4, "host")])
    df = spark.range(200).select(
        "id", F.concat(F.lit("h"), (F.col("id") % 5)).alias("host"))
    t.replace(df, epoch=1)
    assert t.snapshots()[0].meta.get("spec") == [["bucket", 4, "host"]]
    scan = t.scan(spark, eq={"host": "h1"})
    plan = scan._sc._jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted")
    assert "_p_bucket4_host" in plan.split("PartitionFilters: [")[1].split("]")[0]
    assert sorted(r["id"] for r in scan.collect()) == sorted(range(1, 200, 5))
    assert "_p_bucket4_host" not in t.read(spark).columns


def test_compact_aborts_when_base_snapshot_vanishes(spark, tmp_path):
    """CAS guard: if a base snapshot was replaced/rolled back between
    compact's read and its commit, the rewrite would RESURRECT removed
    data — compact must abort (return None), leave the manifest
    untouched, and GC its own rewrite dir."""
    import glob
    import os

    cat = Catalog(str(tmp_path))
    t = cat.table("state")
    for e in (1, 2):
        t.append(spark.range(e * 10, e * 10 + 3).toDF("id"), epoch=e)

    orig_lock = t._manifest_lock

    def lock_after_replace():
        cat.table("state").replace(
            spark.createDataFrame([(999,)], "id long"), epoch=9)
        t._manifest_lock = orig_lock
        return orig_lock()

    t._manifest_lock = lock_after_replace
    assert t.compact(spark) is None
    assert [r["id"] for r in t.read(spark).collect()] == [999]
    assert t.latest_epoch() == 9
    # exactly one live data dir (the replace's); the aborted rewrite GC'd
    live = {p for s in t.snapshots() for p in s.files}
    on_disk = set(glob.glob(os.path.join(str(tmp_path), "state", "data", "*")))
    assert on_disk == live


def test_expire_snapshots_rolls_off_keep_last(spark, tmp_path):
    """Retention roll-off: keep_last bounds the manifest, expired data
    dirs are deleted from disk, latest_epoch (resume numbering) is
    preserved, and time travel to an expired id fails explicitly."""
    import os

    t = Catalog(str(tmp_path)).table("fetch_log")
    ids = [t.append(spark.createDataFrame([(e,)], "id int"), epoch=e)
           for e in range(1, 7)]
    expired_dirs = [p for s in t.snapshots()[:3] for p in s.files]

    gone = t.expire_snapshots(keep_last=3)

    assert gone == ids[:3]
    assert [s.snapshot_id for s in t.snapshots()] == ids[3:]
    assert t.latest_epoch() == 6  # resume-safety: numbering unchanged
    assert {r["id"] for r in t.read(spark).collect()} == {4, 5, 6}
    assert not any(os.path.exists(d) for d in expired_dirs)
    # the kept window still time-travels
    assert {r["id"] for r in t.read(spark, as_of=ids[4]).collect()} == {4, 5}
    try:
        t.read(spark, as_of=ids[0])
        raise AssertionError("expired snapshot must be unreachable")
    except ValueError:
        pass


def test_expire_snapshots_older_than_epoch_conjunction(spark, tmp_path):
    """older_than_epoch ANDs with keep_last (Iceberg retain-last +
    older-than): a snapshot past keep_last but at/above the epoch bound
    survives, and the newest snapshot is never expired even under
    absurd knobs."""
    t = Catalog(str(tmp_path)).table("log")
    ids = [t.append(spark.createDataFrame([(e,)], "id int"), epoch=e)
           for e in range(1, 6)]

    gone = t.expire_snapshots(keep_last=1, older_than_epoch=3)
    assert gone == ids[:2]  # epochs 1,2: beyond keep_last AND too old
    assert [s.epoch for s in t.snapshots()] == [3, 4, 5]

    # keep_last floors at 1: the newest snapshot always survives
    gone = t.expire_snapshots(keep_last=0, older_than_epoch=99)
    assert [s.epoch for s in t.snapshots()] == [5]
    assert t.latest_epoch() == 5
    assert sorted(gone) == sorted(
        [s for s in ids[2:4]])


def test_remove_orphan_files_sweeps_uncommitted_dirs(spark, tmp_path):
    """A writer that died after writing data but before the manifest
    commit leaves an orphan dir; the sweep deletes it, never touches
    live dirs, and the min-age guard protects an in-flight writer's
    fresh dir."""
    import os

    t = Catalog(str(tmp_path)).table("payloads")
    t.append(spark.createDataFrame([(1,)], "id int"), epoch=1)
    orphan = os.path.join(t.path, "data", "deadbeefdeadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as f:
        f.write(b"\x00")

    # fresh orphan: protected by the age guard (in-flight writer race)
    assert t.remove_orphan_files(min_age_seconds=3600) == []
    assert os.path.exists(orphan)

    swept = t.remove_orphan_files(min_age_seconds=0.0)
    assert swept == [os.path.abspath(orphan)]
    assert not os.path.exists(orphan)
    assert len(t.snapshots()) == 1  # manifest untouched
    assert [r["id"] for r in t.read(spark).collect()] == [1]


def test_branch_staging_is_invisible_to_main(spark, tmp_path):
    """Write-audit-publish: a staged branch append is readable on the
    branch (fork data + staged rows) but invisible to main reads,
    scans, and resume numbering until published."""
    t = Catalog(str(tmp_path)).table("pairs")
    t.append(spark.createDataFrame([(1, "a")], "id int, v string"), epoch=1)
    fork = t.create_branch("audit")
    assert fork == t.snapshots()[0].snapshot_id

    t.write_branch("audit", spark.createDataFrame(
        [(2, "b")], "id int, v string"), epoch=2)

    assert {r["id"] for r in t.read(spark).collect()} == {1}
    assert {r["id"] for r in t.scan(spark).collect()} == {1}
    assert t.latest_epoch() == 1  # staged epoch must not shift resume
    assert {r["id"] for r in t.read(spark, branch="audit").collect()} == {1, 2}


def test_branch_publish_fast_forwards_main(spark, tmp_path):
    t = Catalog(str(tmp_path)).table("pairs")
    t.append(spark.createDataFrame([(1,)], "id int"), epoch=1)
    t.create_branch("audit")
    s2 = t.write_branch("audit", spark.createDataFrame([(2,)], "id int"),
                        epoch=2)
    s3 = t.write_branch("audit", spark.createDataFrame([(3,)], "id int"),
                        epoch=3)

    assert t.publish_branch("audit") == [s2, s3]
    assert {r["id"] for r in t.read(spark).collect()} == {1, 2, 3}
    assert t.latest_epoch() == 3
    assert t.branches() == {}
    # published snapshots time-travel like any main commit
    assert {r["id"] for r in t.read(spark, as_of=s2).collect()} == {1, 2}


def test_branch_publish_conflict_when_main_advanced(spark, tmp_path):
    """Fast-forward requires main to still sit at the fork: a main
    commit landed after the fork -> publish raises, branch stays
    readable for re-staging, main is untouched."""
    t = Catalog(str(tmp_path)).table("pairs")
    t.append(spark.createDataFrame([(1,)], "id int"), epoch=1)
    t.create_branch("audit")
    t.write_branch("audit", spark.createDataFrame([(2,)], "id int"), epoch=2)
    t.append(spark.createDataFrame([(9,)], "id int"), epoch=2)  # main moves

    try:
        t.publish_branch("audit")
        raise AssertionError("publish past a moved main must conflict")
    except ValueError:
        pass
    assert {r["id"] for r in t.read(spark).collect()} == {1, 9}
    # branch read still shows fork + staged (not main's later commit)
    assert {r["id"] for r in t.read(spark, branch="audit").collect()} == {1, 2}


def test_branch_drop_discards_staged_data(spark, tmp_path):
    import os

    t = Catalog(str(tmp_path)).table("pairs")
    t.append(spark.createDataFrame([(1,)], "id int"), epoch=1)
    t.create_branch("audit")
    sid = t.write_branch("audit", spark.createDataFrame([(2,)], "id int"))
    staged_dirs = [p for s in t.snapshots()
                   if s.snapshot_id == sid for p in s.files]

    assert t.drop_branch("audit") == [sid]
    assert {r["id"] for r in t.read(spark).collect()} == {1}
    assert not any(os.path.exists(d) for d in staged_dirs)
    assert t.branches() == {}
    try:
        t.read(spark, branch="audit")
        raise AssertionError("dropped branch must be unreadable")
    except ValueError:
        pass


def _race_into_lock(t, racer):
    """Run ``racer()`` once, just before ``t``'s next manifest-lock
    acquisition — between a commit path's data write and its swap."""
    orig_lock = t._manifest_lock

    def lock_after_race():
        racer()
        t._manifest_lock = orig_lock  # fire once
        return orig_lock()

    t._manifest_lock = lock_after_race


def _ids(df) -> set:
    return {r["id"] for r in df.collect()}


def _on_disk(t) -> set:
    return set(glob.glob(os.path.join(t.path, "data", "*")))


def _live(t) -> set:
    return {p for s in t.snapshots() for p in s.files}


def test_replace_and_merge_refuse_to_drop_fork_lineage(spark, tmp_path):
    """replace and merge_upsert would supersede the fork snapshot of a
    staged branch: replace raises naming the branch, merge_upsert
    returns None, and the audit read keeps working."""
    t = Catalog(str(tmp_path)).table("pairs")
    t.append(spark.createDataFrame([(1,)], "id long"), epoch=1)
    t.create_branch("audit")
    t.write_branch("audit", spark.createDataFrame([(2,)], "id long"), epoch=2)

    with pytest.raises(ValueError, match="audit"):
        t.replace(spark.createDataFrame([(9,)], "id long"), epoch=3)
    assert t.merge_upsert(
        spark, spark.createDataFrame([(1,)], "id long"), key="id") is None
    assert _ids(t.read(spark, branch="audit")) == {1, 2}
    assert _ids(t.read(spark)) == {1}
    assert _on_disk(t) == _live(t)  # refused writes GC'd their dirs


def test_merge_upsert_epoch_default_ignores_staged_branch(spark, tmp_path):
    """The merge's default epoch comes from the main lineage: a staged
    epoch-9 branch must not move main ``latest_epoch`` off 1, and the
    staged snapshot survives the rewrite."""
    t = Catalog(str(tmp_path)).table("corpus")
    t.create_branch("audit")  # forked off the empty table
    t.write_branch("audit", spark.createDataFrame([(9,)], "id long"), epoch=9)
    t.append(spark.createDataFrame([(1,)], "id long"), epoch=1)

    assert t.merge_upsert(
        spark, spark.createDataFrame([(2,)], "id long"), key="id") is not None
    assert t.latest_epoch() == 1
    assert _ids(t.read(spark)) == {1, 2}
    assert _ids(t.read(spark, branch="audit")) == {9}


def test_merge_upsert_cas_ignores_concurrent_branch_write(spark, tmp_path):
    """The merge CAS compares main-lineage snapshots only: a branch
    commit racing into the lock is not a conflict, and it survives."""
    cat = Catalog(str(tmp_path))
    t = cat.table("corpus")
    t.create_branch("audit")
    t.append(spark.createDataFrame([(1,)], "id long"), epoch=1)

    _race_into_lock(t, lambda: cat.table("corpus").write_branch(
        "audit", spark.createDataFrame([(7,)], "id long"), epoch=2))
    assert t.merge_upsert(
        spark, spark.createDataFrame([(2,)], "id long"), key="id") is not None
    assert _ids(t.read(spark)) == {1, 2}
    assert _ids(t.read(spark, branch="audit")) == {7}


def test_write_branch_rechecks_ref_inside_lock(spark, tmp_path):
    """A branch dropped between write_branch's data write and its commit
    must not leave an orphan snapshot behind — a later compact would
    fold its unaudited rows into main."""
    cat = Catalog(str(tmp_path))
    t = cat.table("pairs")
    t.append(spark.createDataFrame([(1,)], "id long"), epoch=1)
    t.create_branch("audit")

    _race_into_lock(t, lambda: cat.table("pairs").drop_branch("audit"))
    with pytest.raises(ValueError, match="audit"):
        t.write_branch("audit", spark.createDataFrame([(7,)], "id long"))
    assert len(t.snapshots()) == 1
    assert _on_disk(t) == _live(t)  # the staged dir was GC'd
    assert t.compact(spark, min_snapshots=1) is not None
    assert sorted(_ids(t.read(spark))) == [1]


def test_truncate_commits_under_lock_and_gcs_data(spark, tmp_path):
    """truncate is a swap like any other: it takes the manifest lock
    and deletes the data dirs of the snapshots it drops."""
    t = Catalog(str(tmp_path)).table("tmp")
    for e in (1, 2):
        t.append(spark.createDataFrame([(e,)], "id long"), epoch=e)
    fired = []
    _race_into_lock(t, lambda: fired.append(True))
    t.truncate()
    assert fired == [True]
    assert t.read(spark) is None
    assert _on_disk(t) == set()


def test_compact_folds_main_tail_and_carries_branches(spark, tmp_path):
    """With a staged branch forked mid-lineage, compaction folds only
    the main snapshots after the fork; the fork lineage and the staged
    snapshot stay untouched, so both reads keep their rows."""
    t = Catalog(str(tmp_path)).table("log")
    for e in (1, 2):
        t.append(spark.createDataFrame([(e,)], "id long"), epoch=e)
    t.create_branch("audit")
    t.write_branch("audit", spark.createDataFrame([(5,)], "id long"), epoch=5)
    for e in (3, 4):
        t.append(spark.createDataFrame([(e,)], "id long"), epoch=e)

    assert t.compact(spark) is not None
    assert [s.meta.get("compacted_from") for s in t.snapshots()] == [
        None, None, None, 2]
    assert t.latest_epoch() == 4
    assert _ids(t.read(spark)) == {1, 2, 3, 4}
    assert _ids(t.read(spark, branch="audit")) == {1, 2, 5}
    assert _on_disk(t) == _live(t)


_REWRITES = {
    "replace": lambda t, spark, fork: t.replace(
        spark.createDataFrame([(9,)], "id int"), epoch=9),
    "merge_upsert": lambda t, spark, fork: t.merge_upsert(
        spark, spark.createDataFrame([(9,)], "id int"), key="id"),
    "compact": lambda t, spark, fork: t.compact(spark),
    "materialize_merges": lambda t, spark, fork: t.materialize_merges(
        spark, key="id"),
    "rollback": lambda t, spark, fork: t.rollback(fork),
    "expire_snapshots": lambda t, spark, fork: t.expire_snapshots(keep_last=1),
}


@pytest.mark.parametrize("rewrite", sorted(_REWRITES))
def test_rewrite_keeps_staged_branch(spark, tmp_path, rewrite):
    """Every rewrite keeps a staged branch whole: its fork lineage sits
    at the main head, so each rewrite must refuse — a ValueError naming
    the branch, or a no-op result — and the audit read, the publish and
    post-publish maintenance all still work."""
    t = Catalog(str(tmp_path)).table("log")
    for e in range(1, 5):
        t.append(spark.createDataFrame([(e,)], "id int"), epoch=e)
    fork = t.create_branch("audit")
    staged = t.write_branch("audit", spark.createDataFrame([(5,)], "id int"),
                            epoch=5)
    live_before = _live(t)

    try:
        assert _REWRITES[rewrite](t, spark, fork) in (None, [])
    except ValueError as e:
        assert "audit" in str(e)
    assert _live(t) == live_before == _on_disk(t)
    assert _ids(t.read(spark)) == {1, 2, 3, 4}
    assert _ids(t.read(spark, branch="audit")) == {1, 2, 3, 4, 5}

    assert t.publish_branch("audit") == [staged]
    assert _ids(t.read(spark)) == {1, 2, 3, 4, 5}
    assert len(t.expire_snapshots(keep_last=2)) == 3
    assert _ids(t.read(spark)) == {4, 5}
    assert t.latest_epoch() == 5
