"""Manifest-backed table facade with Iceberg-style semantics.

No Iceberg runtime jar ships in this container, so this thin facade
provides the same *semantics* over partitioned parquet + a JSON
manifest: atomic append commits, snapshot ids, time travel by
snapshot, and partition layout. On a real cluster the same call sites
swap to ``df.writeTo(name).append()`` — the pipeline only uses this
narrow API.

Reference analog for the manifest: the crawl's completion checkpoint
``0_meta_on_completion.json`` (/root/reference/Frontend/functions.py:17-35),
generalized to per-commit snapshots.
"""

from __future__ import annotations

import fcntl
import json
import os
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    snapshot_id: str
    sequence: int
    epoch: int | None
    files: list[str]
    meta: dict


class Table:
    def __init__(self, base: str, name: str):
        self.path = os.path.join(base, name)
        self.name = name
        os.makedirs(self.path, exist_ok=True)

    @property
    def _manifest(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def snapshots(self) -> list[Snapshot]:
        if not os.path.exists(self._manifest):
            return []
        with open(self._manifest) as f:
            return [Snapshot(**s) for s in json.load(f)]

    def _commit(self, snaps: list[Snapshot]) -> None:
        tmp = self._manifest + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump([s.__dict__ for s in snaps], f)
        os.replace(tmp, self._manifest)  # atomic on POSIX

    @contextmanager
    def _manifest_lock(self):
        """Exclusive lock over a manifest read-modify-write. Every
        commit path re-reads the manifest INSIDE this lock before
        swapping, so a snapshot appended by a concurrent writer between
        an earlier read and the commit is never silently dropped (the
        Iceberg optimistic-retry analog; here writers share a host so a
        blocking flock is simpler and fair). Released on process death
        automatically (flock semantics)."""
        with open(os.path.join(self.path, ".manifest.lock"), "w") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(f, fcntl.LOCK_UN)

    # -- branch refs (Iceberg write-audit-publish). A branch is a named
    # ref with a FORK POINT (the main-head snapshot id at creation).
    # Branch snapshots live in the same manifest tagged
    # ``meta["branch"]`` and are invisible to main reads until
    # ``publish_branch`` fast-forwards them; branch reads see the main
    # lineage up to the fork plus the branch's own commits.

    @property
    def _refs_file(self) -> str:
        return os.path.join(self.path, "refs.json")

    def branches(self) -> dict:
        if not os.path.exists(self._refs_file):
            return {}
        with open(self._refs_file) as f:
            return json.load(f)

    def _commit_refs(self, refs: dict) -> None:
        tmp = self._refs_file + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(refs, f)
        os.replace(tmp, self._refs_file)

    @staticmethod
    def _main_snaps(snaps: list[Snapshot]) -> list[Snapshot]:
        return [s for s in snaps if not s.meta.get("branch")]

    def _visible_snaps(self, branch: str | None) -> list[Snapshot]:
        """Manifest-ordered snapshots a read on ``branch`` sees: main
        lineage only (branch=None), or main-up-to-fork plus the
        branch's staged commits."""
        snaps = self.snapshots()
        if branch is None:
            return self._main_snaps(snaps)
        refs = self.branches()
        if branch not in refs:
            raise ValueError(f"no branch {branch!r} on table {self.name!r}")
        fork_id = refs[branch]["fork_id"]
        visible: list[Snapshot] = []
        if fork_id is not None:
            fork_seen = False
            for s in self._main_snaps(snaps):
                visible.append(s)
                if s.snapshot_id == fork_id:
                    fork_seen = True
                    break
            if not fork_seen:
                raise ValueError(
                    f"fork snapshot {fork_id!r} of branch {branch!r} no "
                    "longer in manifest (rolled back or expired)")
        visible.extend(s for s in snaps if s.meta.get("branch") == branch)
        return visible

    def create_branch(self, name: str) -> str | None:
        """Open a staging branch forked at the current main head
        (Iceberg ``createBranch``). Returns the fork snapshot id
        (None on an empty table)."""
        with self._manifest_lock():
            refs = self.branches()
            if name in refs:
                raise ValueError(f"branch {name!r} already exists")
            main = self._main_snaps(self.snapshots())
            fork_id = main[-1].snapshot_id if main else None
            refs[name] = {"fork_id": fork_id}
            self._commit_refs(refs)
        return fork_id

    def write_branch(self, name: str, df: DataFrame,
                     epoch: int | None = None,
                     meta: dict | None = None) -> str:
        """Stage an append on ``name`` — the WRITE of write-audit-
        publish. The snapshot commits atomically like any append but is
        invisible to main readers (and to ``latest_epoch``/``scan``/
        merge-on-read resolution) until published, so a bad batch never
        taints the serving table: audit it with ``read(branch=...)``,
        then ``publish_branch`` or ``drop_branch``."""
        if name not in self.branches():
            raise ValueError(f"no branch {name!r} on table {self.name!r}")
        return self.append(df, epoch=epoch,
                           meta=dict(meta or {}, branch=name))

    def publish_branch(self, name: str) -> list[str]:
        """Fast-forward main to the branch head — the PUBLISH step.
        Succeeds only if main is still the branch's fork ancestor (no
        main commit landed after the fork); otherwise raises and leaves
        the branch intact for re-staging, exactly Iceberg's
        ``fast_forward`` conflict contract. On success the staged
        snapshots join the main lineage in commit order (their epochs
        now advance ``latest_epoch``) and the ref is dropped. Returns
        the published snapshot ids."""
        with self._manifest_lock():
            refs = self.branches()
            if name not in refs:
                raise ValueError(f"no branch {name!r} on table {self.name!r}")
            fork_id = refs[name]["fork_id"]
            snaps = self.snapshots()
            main_ids = [s.snapshot_id for s in self._main_snaps(snaps)]
            head = main_ids[-1] if main_ids else None
            if head != fork_id:
                raise ValueError(
                    f"cannot fast-forward branch {name!r}: main advanced "
                    f"past fork {fork_id!r} (head {head!r}); re-stage "
                    "against the new head")
            published = []
            out = []
            for i, s in enumerate(snaps):
                m = dict(s.meta)
                if m.get("branch") == name:
                    m.pop("branch")
                    m["published_from"] = name
                    published.append(s.snapshot_id)
                out.append(Snapshot(snapshot_id=s.snapshot_id, sequence=i,
                                    epoch=s.epoch, files=s.files, meta=m))
            self._commit(out)
            refs.pop(name)
            self._commit_refs(refs)
        return published

    def drop_branch(self, name: str) -> list[str]:
        """Abort a staged branch — the reject path of the audit gate.
        Removes the ref and the branch's snapshots from the manifest,
        then deletes their data dirs (after the commit, so a concurrent
        branch reader races manifest-old-or-new, never missing files).
        Main lineage is untouched. Returns the dropped snapshot ids."""
        import shutil

        with self._manifest_lock():
            refs = self.branches()
            if name not in refs:
                raise ValueError(f"no branch {name!r} on table {self.name!r}")
            snaps = self.snapshots()
            doomed = [s for s in snaps if s.meta.get("branch") == name]
            kept = [s for s in snaps if s.meta.get("branch") != name]
            self._commit([
                Snapshot(snapshot_id=s.snapshot_id, sequence=i,
                         epoch=s.epoch, files=s.files, meta=s.meta)
                for i, s in enumerate(kept)
            ])
            refs.pop(name)
            self._commit_refs(refs)
        for s in doomed:
            for d in s.files:
                shutil.rmtree(d, ignore_errors=True)
        return [s.snapshot_id for s in doomed]

    def append(self, df: DataFrame, epoch: int | None = None,
               meta: dict | None = None, partition_by: list[str] | None = None) -> str:
        """Write df as a new snapshot; commit = atomic manifest swap.
        Under a partition spec (``set_partition_spec``) the writer
        derives and lays out the hidden partition columns; the spec
        used is recorded per snapshot (partition evolution)."""
        snap_id = uuid.uuid4().hex[:16]
        data_dir = os.path.join(self.path, "data", snap_id)
        spec = self.partition_spec() if not partition_by else []
        if spec:
            for name, expr in self._derived(spec):
                df = df.withColumn(name, expr)
            partition_by = [name for name, _ in self._derived(spec)]
            meta = dict(meta or {}, spec=[list(t) for t in spec])
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        with self._manifest_lock():
            snaps = self.snapshots()
            snaps.append(
                Snapshot(
                    snapshot_id=snap_id,
                    sequence=len(snaps),
                    epoch=epoch,
                    files=[data_dir],
                    meta=meta or {},
                )
            )
            self._commit(snaps)
        return snap_id

    def replace(self, df: DataFrame, epoch: int | None = None,
                meta: dict | None = None) -> str:
        """Write df as the table's ONLY snapshot (Iceberg
        ``createOrReplace`` semantics) and garbage-collect data files of
        superseded snapshots after the commit. Used for compacted state
        tables (e.g. ``seen_agg``) rewritten every epoch.

        Applies the table's current partition spec exactly like
        ``append`` (derive hidden columns, partitionBy, record
        ``meta['spec']``) — a spec'd table maintained via replace()
        keeps its partition pruning (ADVICE r03 #2)."""
        import shutil

        snap_id = uuid.uuid4().hex[:16]
        data_dir = os.path.join(self.path, "data", snap_id)
        spec = self.partition_spec()
        writer = df.write.mode("overwrite")
        if spec:
            for name, expr in self._derived(spec):
                df = df.withColumn(name, expr)
            writer = df.write.mode("overwrite").partitionBy(
                *[name for name, _ in self._derived(spec)])
            meta = dict(meta or {}, spec=[list(t) for t in spec])
        writer.parquet(data_dir)
        with self._manifest_lock():
            old_dirs = [p for s in self.snapshots() for p in s.files]
            self._commit([
                Snapshot(snapshot_id=snap_id, sequence=0, epoch=epoch,
                         files=[data_dir], meta=meta or {})
            ])
        for d in old_dirs:  # best-effort GC; manifest no longer references them
            shutil.rmtree(d, ignore_errors=True)
        return snap_id

    def merge_upsert(self, spark: SparkSession, source: DataFrame,
                     key: str | list[str], epoch: int | None = None,
                     delete_missing: bool = False) -> str | None:
        """Row-level MERGE (copy-on-write) — the write side of
        ``snapshot_diff`` (round-3 VERDICT #5): source rows UPDATE
        matching target rows (by ``key``) and INSERT otherwise;
        ``delete_missing=True`` additionally drops target rows absent
        from the source (full-reconciliation mode — the reference's
        truncate-reload + append mix, reporting.py:24-28,52, as one
        atomic commit).

        Shape: one left_anti join of the target against the source's
        key set (broadcast when small) keeps the untouched mass, the
        union with the source is the new table state, laid out under
        the current partition spec. The commit is CAS-guarded: the
        merge was computed against the base snapshot set, so ANY
        concurrent commit (append/replace/compact/merge) invalidates
        it — abort, return None, caller retries against the new
        manifest (Iceberg's serializable MERGE conflict behavior).
        Superseded data dirs are GC'd only after the commit."""
        import shutil

        snaps = self.snapshots()
        base_ids = {s.snapshot_id for s in snaps}
        keys = [key] if isinstance(key, str) else list(key)
        target = self.read(spark)
        if target is None:
            merged = source
        elif delete_missing:
            merged = source
        else:
            kept = target.join(
                source.select(*keys).distinct(), keys, "left_anti")
            merged = kept.unionByName(source)
        snap_id = uuid.uuid4().hex[:16]
        data_dir = os.path.join(self.path, "data", snap_id)
        spec = self.partition_spec()
        meta: dict = {"merge_keys": keys, "merge_base": len(snaps)}
        writer = merged.write.mode("overwrite")
        if spec:
            for name, expr in self._derived(spec):
                merged = merged.withColumn(name, expr)
            writer = merged.write.mode("overwrite").partitionBy(
                *[name for name, _ in self._derived(spec)])
            meta["spec"] = [list(t) for t in spec]
        writer.parquet(data_dir)
        epochs = [s.epoch for s in snaps if s.epoch is not None]
        if epoch is None and epochs:
            epoch = max(epochs)
        with self._manifest_lock():
            current = {s.snapshot_id for s in self.snapshots()}
            if current != base_ids:
                shutil.rmtree(data_dir, ignore_errors=True)
                return None
            old_dirs = [p for s in snaps for p in s.files]
            self._commit([
                Snapshot(snapshot_id=snap_id, sequence=0, epoch=epoch,
                         files=[data_dir], meta=meta)
            ])
        for d in old_dirs:  # best-effort GC; manifest no longer references them
            shutil.rmtree(d, ignore_errors=True)
        return snap_id

    def merge_append(self, df: DataFrame, key: str | list,
                     epoch: int | None = None) -> str:
        """Merge-on-READ upsert (the Hudi/Iceberg-MOR counterpart of
        ``merge_upsert``'s copy-on-write): commit the batch as a plain
        DELTA snapshot tagged with the merge key — an O(batch) append,
        no table rewrite — and let ``read_resolved`` apply
        last-writer-wins per key at read time. This is the
        write-optimized mode a continuous crawl uses for hot state
        tables (per-epoch upserts at 10^10-row scale can't re-write
        the table each epoch); ``materialize_merges`` folds the deltas
        down when read amplification grows. Batches must be key-unique
        (one row per key per commit) — within-snapshot ties are
        unordered."""
        keys = [key] if isinstance(key, str) else list(key)
        return self.append(df, epoch=epoch, meta={"merge_key": keys})

    def read_resolved(self, spark: SparkSession,
                      key: str | list | None = None) -> DataFrame | None:
        """Read with merge-on-read resolution: union every snapshot
        tagged by commit sequence, keep the LATEST row per merge key
        (row_number over a per-key window ordered by sequence desc).
        ``key`` defaults to the most recent snapshot's ``merge_key``
        tag. One window shuffle over base ∪ deltas — the read-side
        cost MOR trades for its O(batch) writes."""
        from functools import reduce

        from pyspark.sql import Window, functions as F

        snaps = self._visible_snaps(None)
        if not snaps:
            return None
        if key is None:
            tagged = [s.meta.get("merge_key") for s in snaps
                      if s.meta.get("merge_key")]
            if not tagged:
                return self.read(spark)
            key = tagged[-1]
        keys = [key] if isinstance(key, str) else list(key)
        parts = []
        for i, s in enumerate(snaps):
            df = spark.read.option("mergeSchema", "true").parquet(*s.files)
            spec = [tuple(t) for t in s.meta.get("spec", [])]
            if spec:
                df = df.drop(*[name for name, _ in self._derived(spec)])
            parts.append(df.withColumn("_seq", F.lit(i)))
        u = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                   parts)
        w = Window.partitionBy(*keys).orderBy(F.desc("_seq"))
        return (
            u.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_seq", "_rn")
        )

    def materialize_merges(self, spark: SparkSession,
                           key: str | list | None = None) -> str | None:
        """Fold accumulated MOR deltas into one resolved snapshot
        (replace = the MOR analog of compact): read_resolved → replace.
        Returns the new snapshot id, or None if the table is empty."""
        resolved = self.read_resolved(spark, key)
        if resolved is None:
            return None
        epochs = [s.epoch for s in self.snapshots() if s.epoch is not None]
        # replace() writes the resolved data BEFORE committing and GCs
        # the superseded dirs only after — the lazy read is safe
        return self.replace(resolved, epoch=max(epochs) if epochs else None)

    def append_pdf(self, pdf, epoch: int | None = None,
                   meta: dict | None = None) -> str:
        """Append a small driver-side pandas frame as a snapshot via a
        direct pyarrow write — no Spark job. Used for tiny per-epoch
        metadata (checkpoint counters) where a full distributed write
        would cost a scheduler round-trip for a handful of rows."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        snap_id = uuid.uuid4().hex[:16]
        data_dir = os.path.join(self.path, "data", snap_id)
        os.makedirs(data_dir, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(data_dir, "part-0.parquet"))
        with self._manifest_lock():
            snaps = self.snapshots()
            snaps.append(
                Snapshot(snapshot_id=snap_id, sequence=len(snaps), epoch=epoch,
                         files=[data_dir], meta=meta or {})
            )
            self._commit(snaps)
        return snap_id

    def rollback(self, snapshot_id: str) -> None:
        """Drop one committed snapshot from the manifest and delete its
        data files (Iceberg expire-snapshot analog). The epoch loop uses
        this to un-commit a zero-row append: leaving it would advance
        ``latest_epoch`` (shifting resume numbering) and add a part-
        file-less dir to every later multi-path read."""
        import shutil

        with self._manifest_lock():
            snaps = self.snapshots()
            keep = [s for s in snaps if s.snapshot_id != snapshot_id]
            dropped = [s for s in snaps if s.snapshot_id == snapshot_id]
            self._commit(keep)
        for s in dropped:
            for d in s.files:
                shutil.rmtree(d, ignore_errors=True)

    def compact(self, spark: SparkSession, min_snapshots: int = 2) -> str | None:
        """Rewrite every live snapshot into ONE (Iceberg
        ``rewrite_data_files`` + ``expire_snapshots`` analog).

        A long crawl appends a snapshot per epoch; after 10^3 epochs a
        read unions 10^3 path sets of small files — manifest growth and
        file-open overhead, the classic small-files problem. Compaction
        reads the union once, rewrites it (Spark's writer re-sizes the
        files), and commits atomically; readers either see the old
        manifest or the new one, never a mix, and superseded data dirs
        are deleted only after the commit. ``latest_epoch`` is
        preserved (resume numbering depends on it); per-snapshot time
        travel before the compaction point is intentionally expired,
        exactly like ``expire_snapshots``.

        Hidden-partition interplay: each base snapshot's DERIVED
        partition columns are dropped before the rewrite (they are
        storage artifacts of that snapshot's spec, not table columns),
        and the compacted snapshot re-lays-out under the table's
        CURRENT spec and records it — so compaction doubles as the
        "rewrite old data into the evolved layout" maintenance action
        Iceberg's rewrite_data_files performs, and ``read``/``scan``
        semantics are unchanged.

        Returns the new snapshot id, or None if there was nothing to
        compact (fewer than ``min_snapshots`` live snapshots).
        """
        import shutil

        if self.branches():
            # Compaction folds the whole manifest into one snapshot; a
            # staged branch's fork ancestry would be collapsed out from
            # under its audit read. Defer until branches publish/drop
            # (Iceberg: rewrite respects ref-reachable snapshots).
            return None
        snaps = self.snapshots()
        if len(snaps) < min_snapshots:
            return None
        base_ids = {s.snapshot_id for s in snaps}
        old_dirs = [p for s in snaps for p in s.files]
        epochs = [s.epoch for s in snaps if s.epoch is not None]
        snap_id = uuid.uuid4().hex[:16]
        data_dir = os.path.join(self.path, "data", snap_id)

        from functools import reduce

        parts = []
        for s in snaps:
            df = spark.read.parquet(*s.files)
            spec_s = [tuple(t) for t in s.meta.get("spec", [])]
            if spec_s:
                df = df.drop(*[name for name, _ in self._derived(spec_s)])
            parts.append(df)
        data = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
        cur_spec = self.partition_spec()
        meta: dict = {"compacted_from": len(snaps)}
        writer = data.write.mode("overwrite")
        if cur_spec:
            for name, expr in self._derived(cur_spec):
                data = data.withColumn(name, expr)
            writer = data.write.mode("overwrite").partitionBy(
                *[name for name, _ in self._derived(cur_spec)])
            meta["spec"] = [list(t) for t in cur_spec]
        writer.parquet(data_dir)
        with self._manifest_lock():
            # CAS guard: the rewrite is valid only if every base
            # snapshot is STILL live at commit time. A concurrent
            # replace()/rollback()/compact() that removed one means the
            # rewritten data would RESURRECT rows (or double them, for
            # a racing compact whose commit landed first) — abort and
            # let the caller retry against the new manifest, exactly
            # Iceberg's rewrite-conflict behavior.
            current = self.snapshots()
            if not base_ids <= {s.snapshot_id for s in current}:
                shutil.rmtree(data_dir, ignore_errors=True)
                return None
            # merge-on-commit (the Iceberg rewrite retry analog): carry
            # forward any snapshot APPENDED since the base read — the
            # rewrite replaces exactly the base set, never newer data.
            tail = [s for s in current if s.snapshot_id not in base_ids]
            merged = [
                Snapshot(snapshot_id=snap_id, sequence=0,
                         epoch=max(epochs) if epochs else None,
                         files=[data_dir],
                         meta=meta)
            ] + [
                Snapshot(snapshot_id=s.snapshot_id, sequence=i + 1,
                         epoch=s.epoch, files=s.files, meta=s.meta)
                for i, s in enumerate(tail)
            ]
            self._commit(merged)
        for d in old_dirs:  # best-effort GC; manifest no longer references them
            shutil.rmtree(d, ignore_errors=True)
        return snap_id

    # -- hidden partitioning / partition evolution (Iceberg transform
    # spec analog). A spec is a list of transforms over SOURCE columns:
    #   ("identity", col) | ("days", col) | ("bucket", N, col)
    # The writer derives physical partition columns from the spec and
    # partitionBy's them; queries never see or filter the derived
    # columns — ``scan`` maps predicates on the source columns to
    # partition predicates per snapshot (each snapshot records the spec
    # it was written under, so changing the spec mid-table re-layouts
    # FUTURE snapshots only, exactly Iceberg's partition evolution).

    @property
    def _spec_file(self) -> str:
        return os.path.join(self.path, "partition_spec.json")

    def set_partition_spec(self, spec: list[tuple]) -> None:
        """Set the spec for future appends (partition evolution)."""
        with self._manifest_lock():
            tmp = self._spec_file + ".tmp"
            with open(tmp, "w") as f:
                json.dump([list(t) for t in spec], f)
            os.replace(tmp, self._spec_file)

    def partition_spec(self) -> list[tuple]:
        if not os.path.exists(self._spec_file):
            return []
        with open(self._spec_file) as f:
            return [tuple(t) for t in json.load(f)]

    @staticmethod
    def _derived(spec: list[tuple]) -> list[tuple[str, "object"]]:
        """(partition_col_name, Column expr) per spec field."""
        from pyspark.sql import functions as F

        out = []
        for t in spec:
            if t[0] == "identity":
                out.append((f"_p_id_{t[1]}", F.col(t[1]).cast("string")))
            elif t[0] == "days":
                out.append((f"_p_days_{t[1]}",
                            F.to_date(F.col(t[1])).cast("string")))
            elif t[0] == "bucket":
                n, col = int(t[1]), t[2]
                out.append((f"_p_bucket{n}_{col}",
                            F.pmod(F.xxhash64(F.col(col).cast("string")),
                                   F.lit(n))))
            else:
                raise ValueError(f"unknown transform {t!r}")
        return out

    @staticmethod
    def _partition_predicate(spec: list[tuple], eq: dict, ranges: dict):
        """Map source-column predicates to partition-column predicates
        under ``spec`` — the Iceberg transform-predicate projection.
        Ranges prune days/identity; buckets prune equality only (a
        range cannot be projected through a hash, so it stays
        row-level — same rule as Iceberg)."""
        from pyspark.sql import functions as F

        pred = F.lit(True)
        for t in spec:
            if t[0] == "identity" and t[1] in eq:
                # render the literal through the SAME Spark string cast
                # the writer used — Python str(v) diverges for bools
                # ('True' vs 'true'), floats, dates
                pred &= F.col(f"_p_id_{t[1]}") == F.lit(
                    eq[t[1]]).cast("string")
            elif t[0] == "days":
                c = t[1]
                if c in eq:
                    pred &= F.col(f"_p_days_{c}") == F.to_date(
                        F.lit(eq[c])).cast("string")
                elif c in ranges:
                    lo, hi = ranges[c]
                    d = F.col(f"_p_days_{c}")
                    pred &= (d >= F.to_date(F.lit(lo)).cast("string")) & (
                        d <= F.to_date(F.lit(hi)).cast("string"))
            elif t[0] == "bucket" and t[2] in eq:
                n, c = int(t[1]), t[2]
                pred &= F.col(f"_p_bucket{n}_{c}") == F.pmod(
                    F.xxhash64(F.lit(eq[c]).cast("string")), F.lit(n))
        return pred

    def scan(self, spark: SparkSession, eq: dict | None = None,
             ranges: dict | None = None) -> DataFrame | None:
        """Read with hidden-partition pruning: predicates are given on
        SOURCE columns (``eq={"host": "h1"}``, ``ranges={"ts": (lo,
        hi)}``); each snapshot prunes partitions through ITS OWN spec,
        then the source predicate is re-applied row-level (partition
        pruning is a superset prefilter). Snapshots written before any
        spec (or under an older spec) scan unpruned — correct, just
        unaided, which is Iceberg's evolution contract."""
        from functools import reduce

        from pyspark.sql import functions as F

        eq, ranges = eq or {}, ranges or {}
        parts = []
        for s in self._visible_snaps(None):
            df = spark.read.parquet(*s.files)
            spec = [tuple(t) for t in s.meta.get("spec", [])]
            if spec:
                df = df.filter(self._partition_predicate(spec, eq, ranges))
                df = df.drop(*[name for name, _ in self._derived(spec)])
            parts.append(df)
        if not parts:
            return None
        out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                     parts)
        for c, v in eq.items():
            out = out.filter(F.col(c) == v)
        for c, (lo, hi) in ranges.items():
            out = out.filter(F.col(c).between(lo, hi))
        return out

    def read(self, spark: SparkSession, as_of: str | None = None,
             branch: str | None = None) -> DataFrame | None:
        """Union of all snapshot data up to ``as_of`` (time travel).
        Derived partition columns stay hidden. Multi-snapshot reads use
        ``mergeSchema`` so a column added in a later snapshot surfaces
        with nulls for pre-evolution rows (Iceberg add-column
        semantics) — without it Spark takes one file's schema and
        silently DROPS the new column. ``branch`` reads the staged
        lineage instead (main-up-to-fork + branch commits) — the AUDIT
        read of write-audit-publish."""
        snaps = self._visible_snaps(branch)
        if as_of is not None:
            hits = [i for i, s in enumerate(snaps) if s.snapshot_id == as_of]
            if not hits:
                raise ValueError(
                    f"snapshot {as_of!r} not in manifest of {self.name!r} "
                    "(never committed, rolled back, or expired)")
            snaps = snaps[: hits[0] + 1]
        specless = [s for s in snaps if not s.meta.get("spec")]
        specful = [s for s in snaps if s.meta.get("spec")]
        if not specless and not specful:
            return None
        if not specful:
            paths = [p for s in specless for p in s.files]
            return spark.read.option("mergeSchema", "true").parquet(*paths)
        from functools import reduce

        parts = []
        if specless:
            parts.append(
                spark.read.option("mergeSchema", "true").parquet(
                    *[p for s in specless for p in s.files]))
        for s in specful:
            df = spark.read.parquet(*s.files)
            drop = [name for name, _ in
                    self._derived([tuple(t) for t in s.meta["spec"]])]
            parts.append(df.drop(*drop))
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)

    def read_snapshot(self, spark: SparkSession, snapshot_id: str) -> DataFrame:
        """Read exactly one committed snapshot's files — the epoch loop
        re-reads its own just-written delta this way (cheap columnar
        scan) instead of keeping the wide Python-stage output pinned in
        the block manager."""
        snap = next(s for s in self.snapshots() if s.snapshot_id == snapshot_id)
        return spark.read.parquet(*snap.files)

    def expire_snapshots(self, *, keep_last: int | None = None,
                         older_than_epoch: int | None = None) -> list[str]:
        """Retention roll-off (Iceberg ``expire_snapshots`` analog; the
        reference keeps a ~3-month live table and rolls older crawls
        into history, /root/reference/README.md:108-115): drop
        snapshots past the retention bound from the manifest and delete
        their data dirs. A snapshot expires when it is BOTH beyond the
        ``keep_last`` newest (by commit order) AND, if given, has
        ``epoch < older_than_epoch`` — the conjunction mirrors
        Iceberg's retain-last + older-than pair, so neither knob alone
        can empty a table.

        Resume-safety invariants (pinned in tests/test_catalog.py):
        the newest snapshot is never expired regardless of knobs, so
        ``latest_epoch`` — which the crawl resume numbering derives
        from — is preserved; expiry commits the shrunken manifest
        atomically under the lock BEFORE deleting files, so concurrent
        readers see old-manifest-or-new, never missing files. Time
        travel to an expired id fails explicitly afterwards.

        Over a 10^3-epoch crawl this is what bounds manifest size and
        file count alongside ``compact`` — compaction collapses live
        snapshots, expiration retires dead ones. Returns expired ids.
        """
        import shutil

        with self._manifest_lock():
            snaps = self.snapshots()
            main = self._main_snaps(snaps)
            # Branch protection (Iceberg: snapshots reachable from any
            # ref never expire): staged branch snapshots are always
            # kept, and so is the main lineage up to every live fork —
            # a branch read unions main-up-to-fork, so expiring below a
            # fork would break the staged lineage mid-audit.
            protected: set[str] = set()
            for ref in self.branches().values():
                fork_id = ref["fork_id"]
                if fork_id is None:
                    continue
                for s in main:
                    protected.add(s.snapshot_id)
                    if s.snapshot_id == fork_id:
                        break
            keep_n = len(main) if keep_last is None else max(1, keep_last)
            expired, kept = [], []
            n_main = len(main)
            main_pos = {s.snapshot_id: i for i, s in enumerate(main)}
            for s in snaps:
                if s.meta.get("branch") or s.snapshot_id in protected:
                    kept.append(s)
                    continue
                from_newest = n_main - main_pos[s.snapshot_id]  # 1 = newest
                old_enough = (older_than_epoch is None
                              or s.epoch is None
                              or s.epoch < older_than_epoch)
                if from_newest > keep_n and old_enough:
                    expired.append(s)
                else:
                    kept.append(s)
            if not expired:
                return []
            self._commit([
                Snapshot(snapshot_id=s.snapshot_id, sequence=i,
                         epoch=s.epoch, files=s.files, meta=s.meta)
                for i, s in enumerate(kept)
            ])
        for s in expired:  # after the commit: readers never race a delete
            for d in s.files:
                shutil.rmtree(d, ignore_errors=True)
        return [s.snapshot_id for s in expired]

    def remove_orphan_files(self, *, min_age_seconds: float = 3600.0) -> list[str]:
        """Delete data dirs under the table path that NO manifest
        snapshot references (Iceberg ``remove_orphan_files``). Orphans
        are real in this design: ``append``/``compact``/``merge_upsert``
        all write data BEFORE taking the commit lock, so a writer that
        dies mid-flight leaves a fully-written dir with no manifest
        entry, and a CAS-aborted compact/merge can leak one if its
        cleanup is interrupted.

        The in-flight-writer race is handled the same way Iceberg
        handles it: only dirs older than ``min_age_seconds`` (mtime)
        are eligible, so a concurrent writer's fresh uncommitted dir is
        never swept; the reference set is read under the manifest lock
        so a commit cannot land between listing and deletion. Returns
        the deleted dir paths."""
        import shutil
        import time

        data_root = os.path.join(self.path, "data")
        if not os.path.isdir(data_root):
            return []
        now = time.time()
        with self._manifest_lock():
            live = {os.path.abspath(p)
                    for s in self.snapshots() for p in s.files}
            doomed = []
            for entry in sorted(os.listdir(data_root)):
                d = os.path.abspath(os.path.join(data_root, entry))
                if d in live or not os.path.isdir(d):
                    continue
                if now - os.path.getmtime(d) >= min_age_seconds:
                    doomed.append(d)
            for d in doomed:  # inside the lock: a racing commit cannot
                shutil.rmtree(d, ignore_errors=True)  # adopt a doomed dir
        return doomed

    def latest_epoch(self) -> int | None:
        """Highest committed epoch on the MAIN lineage — staged branch
        epochs must not perturb crawl resume numbering until published."""
        epochs = [s.epoch for s in self._main_snaps(self.snapshots())
                  if s.epoch is not None]
        return max(epochs) if epochs else None

    def is_empty(self) -> bool:
        """True when ``read()`` would return None (no main-lineage
        snapshot), answered from the manifest alone: no DataFrame, so
        no parquet schema-inference job."""
        return not self._main_snaps(self.snapshots())

    def truncate(self) -> None:
        self._commit([])


def write_bucketed(df: DataFrame, table: str, key: str,
                   n_buckets: int = 8, sort_by: str | None = None) -> None:
    """Persist ``df`` hash-bucketed (and sorted) by ``key`` — Spark's
    co-located join layout. Two tables bucketed by the same key with
    the same bucket count equi-join with ZERO shuffle: each task reads
    matching bucket files from both sides (the plan audit in
    tests/test_plans.py pins the absence of Exchange nodes).

    This is the 100 TB answer for the frontier⋈images validation join
    and the repeated host-keyed joins: bucket both tables by
    canonicalized-host/image-id hash at write time and every epoch's
    join is co-located (north_rule: 'frontier lives in Iceberg tables
    bucketed by canonicalized-host hash'). Requires saveAsTable —
    bucket metadata lives in the session catalog, which is exactly how
    Spark models it on a real cluster (Iceberg bucket-partition
    transforms are the storage-side equivalent)."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, key)
    writer = writer.sortBy(sort_by or key)
    writer.saveAsTable(table)


class Catalog:
    """Namespace of tables under one base path (the crawl workdir)."""

    def __init__(self, base: str):
        self.base = base
        os.makedirs(base, exist_ok=True)

    def table(self, name: str) -> Table:
        return Table(self.base, name)
