"""Manifest-backed table facade with Iceberg-style semantics.

No Iceberg runtime jar ships in this container, so this thin facade
provides the same *semantics* over partitioned parquet + a JSON
manifest: atomic commits, snapshot ids, time travel by snapshot,
partition layout and write-audit-publish branches. On a real cluster
the same call sites swap to ``df.writeTo(name).append()`` — the
pipeline only uses this narrow API.

Every commit goes through two private primitives:

- ``Table._write`` is the only Spark write. It lays a DataFrame out in
  ``data/<snapshot_id>`` under the table's current partition spec and
  records that spec on the snapshot. ``append_pdf`` alone writes
  through pyarrow, so a tiny driver-side frame launches no Spark job.

The manifest carries each snapshot's schema (``meta['schema']``, the
written schema, hidden partition columns included), as Iceberg's
metadata does: every read passes it to ``spark.read.schema``, so a
lazy read launches no footer-inference job. Only snapshots committed
before schemas were recorded still infer theirs.
- ``Table._swap`` is the only place the manifest changes. Under the
  manifest lock it re-reads the manifest and the refs, computes the
  main lineage and the ref-reachable set once, lets the caller's
  rewrite build the new snapshot list (CAS bases and default epochs
  come from the main lineage only), commits, and then deletes the data
  dirs of exactly the snapshots it dropped.

The ref-protection rule lives in ``_swap`` alone: a snapshot is
ref-reachable when a live branch staged it or when it lies on the main
lineage at or below a live branch's fork point, and no commit may drop
one. A commit that would is refused (``ValueError`` naming the branch,
or ``None`` from the CAS-style rewrites ``compact``/``merge_upsert``).

Reference analog for the manifest: the crawl's completion checkpoint
``0_meta_on_completion.json`` (reference Frontend/functions.py:17-35),
generalized to per-commit snapshots.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import StructType


@dataclass
class Snapshot:
    snapshot_id: str
    sequence: int
    epoch: int | None
    files: list[str]
    meta: dict


def _union(parts: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                  parts)


def _nullable(j):
    """A schema's JSON with every field, element and value nullable —
    the schema Spark reads parquet files under, whatever the writer
    declared."""
    if isinstance(j, list):
        return [_nullable(v) for v in j]
    if not isinstance(j, dict):
        return j
    return {k: True if k in ("nullable", "containsNull", "valueContainsNull")
            else _nullable(v) for k, v in j.items()}


def _merged_schema(snaps: list[Snapshot]) -> StructType:
    """The union of the snapshots' recorded schemas: fields in manifest
    order, the first occurrence of a name wins, and a name recorded with
    two types raises, as parquet ``mergeSchema`` does."""
    fields: dict[str, dict] = {}
    for s in snaps:
        for f in _nullable(s.meta["schema"])["fields"]:
            first = fields.setdefault(f["name"], f)
            if first["type"] != f["type"]:
                raise ValueError(
                    f"column {f['name']!r} is recorded as {first['type']!r} "
                    f"and as {f['type']!r}; the snapshots cannot be merged")
    return StructType.fromJson({"type": "struct", "fields": list(fields.values())})


def _gc(snaps: list[Snapshot]) -> None:
    """Best-effort delete of data dirs no manifest references."""
    for s in snaps:
        for d in s.files:
            shutil.rmtree(d, ignore_errors=True)


def _max_epoch(snaps: list[Snapshot]) -> int | None:
    return max((s.epoch for s in snaps if s.epoch is not None), default=None)


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
            json.dump([dict(s.__dict__, sequence=i)
                       for i, s in enumerate(snaps)], f)
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

    def _ref(self, refs: dict, name: str) -> dict:
        if name not in refs:
            raise ValueError(f"no branch {name!r} on table {self.name!r}")
        return refs[name]

    @staticmethod
    def _main_snaps(snaps: list[Snapshot]) -> list[Snapshot]:
        return [s for s in snaps if not s.meta.get("branch")]

    @staticmethod
    def _staged(snaps: list[Snapshot], branch: str | None = None) -> list[Snapshot]:
        """Branch-tagged snapshots (of ``branch``, or of any branch)."""
        return [s for s in snaps if s.meta.get("branch")
                and branch in (None, s.meta["branch"])]

    @staticmethod
    def _fork_lineage(main: list[Snapshot],
                      fork_id: str | None) -> list[Snapshot] | None:
        """Main lineage up to and including ``fork_id``: [] for a branch
        forked off an empty table, None once the fork is gone."""
        if fork_id is None:
            return []
        ids = [s.snapshot_id for s in main]
        return main[: ids.index(fork_id) + 1] if fork_id in ids else None

    def _reach(self, snaps: list[Snapshot], main: list[Snapshot],
               refs: dict) -> dict[str, list[str]]:
        """Ref-reachable snapshot id -> the live branches reaching it:
        each branch's staged snapshots plus main up to its fork."""
        reach: dict[str, list[str]] = {}
        for name, ref in refs.items():
            lineage = self._fork_lineage(main, ref["fork_id"]) or []
            for s in lineage + self._staged(snaps, name):
                reach.setdefault(s.snapshot_id, []).append(name)
        return reach

    def _visible_snaps(self, branch: str | None) -> list[Snapshot]:
        """Manifest-ordered snapshots a read on ``branch`` sees: main
        lineage only (branch=None), or main-up-to-fork plus the
        branch's staged commits."""
        snaps = self.snapshots()
        if branch is None:
            return self._main_snaps(snaps)
        fork_id = self._ref(self.branches(), branch)["fork_id"]
        lineage = self._fork_lineage(self._main_snaps(snaps), fork_id)
        if lineage is None:
            raise ValueError(
                f"fork snapshot {fork_id!r} of branch {branch!r} no "
                "longer in manifest (rolled back or expired)")
        return lineage + self._staged(snaps, branch)

    def _swap(self, rewrite, fresh: Snapshot | None = None,
              strict: bool = True) -> list[Snapshot] | None:
        """The one manifest change. Under the lock: re-read the manifest
        and the refs, compute the main lineage and the ref-reachable set
        once, and ask ``rewrite(snaps, main, reach, refs)`` for the new
        snapshot list. The rewrite may pop refs, and returns None to
        abort (a CAS conflict). ``fresh`` is the snapshot this commit
        wrote; its dir is deleted whenever the commit does not land.

        Refused: staging ``fresh`` onto a branch that no longer exists,
        and dropping a snapshot a remaining ref reaches — ValueError
        naming the branch, or None when ``strict`` is off. Otherwise
        commit (manifest, then refs) and delete the data dirs of the
        dropped snapshots AFTER the commit, so a reader sees the old
        manifest or the new one, never missing files. Returns the
        dropped snapshots, or None when aborted."""
        doomed = [fresh] if fresh is not None else []
        with self._manifest_lock():
            snaps, refs = self.snapshots(), self.branches()
            refs_before = dict(refs)
            main = self._main_snaps(snaps)
            reach = self._reach(snaps, main, refs)
            try:
                if fresh is not None and fresh.meta.get("branch"):
                    self._ref(refs, fresh.meta["branch"])
                new = rewrite(snaps, main, reach, refs)
                kept = {s.snapshot_id for s in new or []}
                held = [(sid, b) for sid, names in reach.items()
                        if sid not in kept for b in names if b in refs]
                if new is not None and held:
                    if strict:
                        raise ValueError(
                            f"snapshot {held[0][0]!r} of table {self.name!r} "
                            f"is reachable from branch {held[0][1]!r}; "
                            "publish or drop the branch first")
                    new = None
            except BaseException:
                _gc(doomed)
                raise
            if new is None:
                _gc(doomed)
                return None
            self._commit(new)
            if refs != refs_before:
                self._commit_refs(refs)
        dropped = [s for s in snaps if s.snapshot_id not in kept]
        _gc(dropped)
        return dropped

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
        then ``publish_branch`` or ``drop_branch``. The ref is checked
        here and again inside the commit lock, so a branch dropped
        mid-write raises instead of leaving an orphan snapshot."""
        self._ref(self.branches(), name)
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
        published: list[str] = []

        def rewrite(snaps, main, _reach, refs):
            fork_id = self._ref(refs, name)["fork_id"]
            head = main[-1].snapshot_id if main else None
            if head != fork_id:
                raise ValueError(
                    f"cannot fast-forward branch {name!r}: main advanced "
                    f"past fork {fork_id!r} (head {head!r}); re-stage "
                    "against the new head")
            refs.pop(name)
            out = []
            for s in snaps:
                if s.meta.get("branch") == name:
                    meta = {k: v for k, v in s.meta.items() if k != "branch"}
                    s = Snapshot(s.snapshot_id, s.sequence, s.epoch, s.files,
                                 dict(meta, published_from=name))
                    published.append(s.snapshot_id)
                out.append(s)
            return out

        self._swap(rewrite)
        return published

    def drop_branch(self, name: str) -> list[str]:
        """Abort a staged branch — the reject path of the audit gate.
        Removes the ref and the branch's snapshots from the manifest
        and deletes their data dirs; main lineage is untouched. Returns
        the dropped snapshot ids."""

        def rewrite(snaps, _main, _reach, refs):
            self._ref(refs, name)
            refs.pop(name)
            return [s for s in snaps if s.meta.get("branch") != name]

        return [s.snapshot_id for s in self._swap(rewrite)]

    # -- writes. Each one is ``_write`` (or the pyarrow write of
    # ``append_pdf``) followed by one ``_swap``.

    def _fresh(self, epoch: int | None, meta: dict | None) -> Snapshot:
        sid = uuid.uuid4().hex[:16]
        return Snapshot(sid, 0, epoch, [os.path.join(self.path, "data", sid)],
                        dict(meta or {}))

    def _write(self, df: DataFrame, epoch: int | None = None,
               meta: dict | None = None) -> Snapshot:
        """The one Spark write: ``df`` → ``data/<snapshot_id>`` laid out
        under the table's CURRENT spec. The writer derives the hidden
        partition columns and partitionBy's them, and the spec is
        recorded in ``meta['spec']`` so reads interpret this snapshot's
        own layout (partition evolution). The written schema, derived
        columns included, is recorded in ``meta['schema']``, so reads
        need no footer inference. Nothing is committed."""
        snap = self._fresh(epoch, meta)
        spec = self.partition_spec()
        derived = self._derived(spec)
        for name, expr in derived:
            df = df.withColumn(name, expr)
        snap.meta["schema"] = df.schema.jsonValue()
        writer = df.write.mode("overwrite")
        if spec:
            snap.meta["spec"] = [list(t) for t in spec]
            writer = writer.partitionBy(*[name for name, _ in derived])
        writer.parquet(snap.files[0])
        return snap

    def append(self, df: DataFrame, epoch: int | None = None,
               meta: dict | None = None) -> str:
        """Write df as a new snapshot; commit = atomic manifest swap."""
        snap = self._write(df, epoch, meta)
        self._swap(lambda snaps, *_: snaps + [snap], snap)
        return snap.snapshot_id

    def replace(self, df: DataFrame, epoch: int | None = None,
                meta: dict | None = None) -> str:
        """Write df as the ONLY main-lineage snapshot (Iceberg
        ``createOrReplace`` semantics) and garbage-collect the data of
        the superseded snapshots after the commit. Used for tables
        rewritten whole (e.g. by ``materialize_merges``). Staged
        branch snapshots are carried through; a live branch's fork
        lineage cannot be superseded, so replace raises ValueError
        while one is staged on a non-empty fork."""
        snap = self._write(df, epoch, meta)
        self._swap(lambda snaps, *_: [snap] + self._staged(snaps), snap)
        return snap.snapshot_id

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
        union with the source is the new main lineage, laid out under
        the current partition spec. The commit is CAS-guarded: the
        merge was computed against the base main lineage, so ANY
        concurrent main commit (append/replace/compact/merge/publish)
        invalidates it — abort, return None, caller retries against the
        new manifest (Iceberg's serializable MERGE conflict behavior).
        Staged branches are carried through; a merge that would
        supersede a live fork returns None as well."""
        main = self._main_snaps(self.snapshots())
        base = [s.snapshot_id for s in main]
        keys = [key] if isinstance(key, str) else list(key)
        target = self.read(spark)
        if target is None or delete_missing:
            merged = source
        else:
            kept = target.join(
                source.select(*keys).distinct(), keys, "left_anti")
            merged = kept.unionByName(source)
        snap = self._write(merged, _max_epoch(main) if epoch is None else epoch,
                           {"merge_keys": keys, "merge_base": len(main)})

        def rewrite(snaps, cur_main, *_):
            if [s.snapshot_id for s in cur_main] != base:
                return None
            return [snap] + self._staged(snaps)

        if self._swap(rewrite, snap, strict=False) is None:
            return None
        return snap.snapshot_id

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
        u = _union([self._read_one(spark, s).withColumn("_seq", F.lit(i))
                    for i, s in enumerate(snaps)])
        w = Window.partitionBy(*keys).orderBy(F.desc("_seq"))
        return (
            u.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_seq", "_rn")
        )

    def materialize_merges(self, spark: SparkSession,
                           key: str | list | None = None) -> str | None:
        """Fold accumulated MOR deltas into one resolved snapshot
        (replace = the MOR analog of compact): read_resolved → replace,
        so it refuses a live fork exactly like ``replace``. Returns the
        new snapshot id, or None if the table is empty."""
        resolved = self.read_resolved(spark, key)
        if resolved is None:
            return None
        # replace() writes the resolved data BEFORE committing and GCs
        # the superseded dirs only after — the lazy read is safe
        return self.replace(resolved, epoch=self.latest_epoch())

    def append_pdf(self, pdf, epoch: int | None = None,
                   meta: dict | None = None) -> str:
        """Append a small driver-side pandas frame as a snapshot via a
        direct pyarrow write — no Spark job, for a handful of rows where
        a distributed write would cost a scheduler round-trip. The crawl
        loop does not use it: its per-host counters stay distributed."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        snap = self._fresh(epoch, meta)
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        snap.meta["schema"] = from_arrow_schema(table.schema).jsonValue()
        os.makedirs(snap.files[0], exist_ok=True)
        pq.write_table(table, os.path.join(snap.files[0], "part-0.parquet"))
        self._swap(lambda snaps, *_: snaps + [snap], snap)
        return snap.snapshot_id

    def rollback(self, snapshot_id: str) -> None:
        """Drop one committed snapshot from the manifest and delete its
        data files (Iceberg expire-snapshot analog). The epoch loop uses
        this to un-commit a zero-row append: leaving it would advance
        ``latest_epoch`` (shifting resume numbering) and add a part-
        file-less dir to every later multi-path read. Raises ValueError
        for a snapshot a live branch reaches."""
        self._swap(lambda snaps, *_: [s for s in snaps
                                      if s.snapshot_id != snapshot_id])

    def compact(self, spark: SparkSession, min_snapshots: int = 2) -> str | None:
        """Rewrite the main lineage into ONE snapshot (Iceberg
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

        Only main-lineage snapshots no live ref reaches are folded (the
        main tail after the newest live fork); staged branch snapshots
        and fork lineages are carried through untouched (Iceberg:
        rewrite respects ref-reachable snapshots). The CAS guard aborts
        (None) when a folded snapshot vanished or became ref-reachable
        before the commit — the rewrite would otherwise RESURRECT or
        double rows; snapshots APPENDED meanwhile are carried forward
        (the Iceberg rewrite-retry analog).

        Hidden-partition interplay: each base snapshot's DERIVED
        partition columns are dropped before the rewrite (they are
        storage artifacts of that snapshot's spec, not table columns),
        and the compacted snapshot re-lays-out under the table's
        CURRENT spec and records it — so compaction doubles as the
        "rewrite old data into the evolved layout" maintenance action
        Iceberg's rewrite_data_files performs, and ``read``/``scan``
        semantics are unchanged.

        Returns the new snapshot id, or None if there was nothing to
        compact (fewer than ``min_snapshots`` foldable snapshots).
        """
        snaps = self.snapshots()
        main = self._main_snaps(snaps)
        reach = self._reach(snaps, main, self.branches())
        fold = [s for s in main if s.snapshot_id not in reach]
        if len(fold) < min_snapshots:
            return None
        data = _union([self._read_one(spark, s) for s in fold])
        snap = self._write(data, _max_epoch(fold),
                           {"compacted_from": len(fold)})
        first, fold_ids = fold[0].snapshot_id, {s.snapshot_id for s in fold}

        def rewrite(cur, *_):
            if not fold_ids <= {s.snapshot_id for s in cur}:
                return None
            # the compacted snapshot takes the first folded one's place
            return [snap if s.snapshot_id == first else s for s in cur
                    if s.snapshot_id == first or s.snapshot_id not in fold_ids]

        if self._swap(rewrite, snap, strict=False) is None:
            return None
        return snap.snapshot_id

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

    def _read_one(self, spark: SparkSession, s: Snapshot,
                  eq: dict | None = None, ranges: dict | None = None) -> DataFrame:
        """One snapshot's rows with its hidden partition columns dropped,
        read under its recorded schema (footer inference only for a
        snapshot that records none). With ``eq`` given, ``eq``/``ranges``
        first prune partitions through the snapshot's own spec
        (``scan``)."""
        schema = s.meta.get("schema")
        reader = (spark.read.schema(StructType.fromJson(schema)) if schema
                  else spark.read)
        df = reader.parquet(*s.files)
        spec = [tuple(t) for t in s.meta.get("spec", [])]
        if spec:
            if eq is not None:
                df = df.filter(self._partition_predicate(spec, eq, ranges or {}))
            df = df.drop(*[name for name, _ in self._derived(spec)])
        return df

    def scan(self, spark: SparkSession, eq: dict | None = None,
             ranges: dict | None = None) -> DataFrame | None:
        """Read with hidden-partition pruning: predicates are given on
        SOURCE columns (``eq={"host": "h1"}``, ``ranges={"ts": (lo,
        hi)}``); each snapshot prunes partitions through ITS OWN spec,
        then the source predicate is re-applied row-level (partition
        pruning is a superset prefilter). Snapshots written before any
        spec (or under an older spec) scan unpruned — correct, just
        unaided, which is Iceberg's evolution contract."""
        eq, ranges = eq or {}, ranges or {}
        parts = [self._read_one(spark, s, eq, ranges)
                 for s in self._visible_snaps(None)]
        if not parts:
            return None
        out = _union(parts)
        for c, v in eq.items():
            out = out.filter(F.col(c) == v)
        for c, (lo, hi) in ranges.items():
            out = out.filter(F.col(c).between(lo, hi))
        return out

    def read(self, spark: SparkSession, as_of: str | None = None,
             branch: str | None = None) -> DataFrame | None:
        """Union of all snapshot data up to ``as_of`` (time travel).
        Derived partition columns stay hidden. Specless snapshots are
        read in ONE multi-path read under the merge of their recorded
        schemas (``_merged_schema``), so a column added in a later
        snapshot surfaces with nulls for pre-evolution rows (Iceberg
        add-column semantics) and no footer is read to find it.
        Specless snapshots that record no schema take a ``mergeSchema``
        inference read of their own — without it Spark takes one file's
        schema and silently DROPS the new column. ``branch`` reads the
        staged lineage instead (main-up-to-fork + branch commits) — the
        AUDIT read of write-audit-publish."""
        snaps = self._visible_snaps(branch)
        if as_of is not None:
            hits = [i for i, s in enumerate(snaps) if s.snapshot_id == as_of]
            if not hits:
                raise ValueError(
                    f"snapshot {as_of!r} not in manifest of {self.name!r} "
                    "(never committed, rolled back, or expired)")
            snaps = snaps[: hits[0] + 1]
        specless = [s for s in snaps if not s.meta.get("spec")]
        legacy = [p for s in specless if not s.meta.get("schema") for p in s.files]
        recorded = [s for s in specless if s.meta.get("schema")]
        parts = ([spark.read.option("mergeSchema", "true").parquet(*legacy)]
                 if legacy else [])
        if recorded:
            parts.append(spark.read.schema(_merged_schema(recorded))
                         .parquet(*[p for s in recorded for p in s.files]))
        parts += [self._read_one(spark, s) for s in snaps if s.meta.get("spec")]
        return _union(parts) if parts else None

    def read_snapshot(self, spark: SparkSession, snapshot_id: str) -> DataFrame:
        """Read exactly one committed snapshot's files — the epoch loop
        re-reads its own just-written delta this way (cheap columnar
        scan) instead of keeping the wide Python-stage output pinned in
        the block manager."""
        snap = next(s for s in self.snapshots() if s.snapshot_id == snapshot_id)
        return self._read_one(spark, snap)

    def expire_snapshots(self, *, keep_last: int | None = None,
                         older_than_epoch: int | None = None) -> list[str]:
        """Retention roll-off (Iceberg ``expire_snapshots`` analog; the
        reference keeps a ~3-month live table and rolls older crawls
        into history, reference README.md:108-115): drop main-lineage
        snapshots past the retention bound from the manifest and delete
        their data dirs. A snapshot expires when it is BOTH beyond the
        ``keep_last`` newest (by commit order) AND, if given, has
        ``epoch < older_than_epoch`` — the conjunction mirrors
        Iceberg's retain-last + older-than pair, so neither knob alone
        can empty a table. Staged snapshots and the main lineage up to
        every live fork never expire (Iceberg: ref-reachable snapshots
        are retained).

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

        def rewrite(snaps, main, reach, _refs):
            keep_n = len(main) if keep_last is None else max(1, keep_last)
            expired = {
                s.snapshot_id for i, s in enumerate(main)
                if s.snapshot_id not in reach and len(main) - i > keep_n
                and (older_than_epoch is None or s.epoch is None
                     or s.epoch < older_than_epoch)}
            if not expired:
                return None
            return [s for s in snaps if s.snapshot_id not in expired]

        return [s.snapshot_id for s in self._swap(rewrite) or []]

    def remove_orphan_files(self, *, min_age_seconds: float = 3600.0) -> list[str]:
        """Delete data dirs under the table path that NO manifest
        snapshot references (Iceberg ``remove_orphan_files``). Orphans
        are real in this design: ``_write`` (and ``append_pdf``'s
        pyarrow write) lays data down BEFORE ``_swap`` takes the commit
        lock, so a writer that dies mid-flight leaves a fully-written
        dir with no manifest entry. ``_swap`` deletes the dir of a
        commit it aborts or refuses, and the dirs of the snapshots a
        commit drops, but a crash can interrupt either cleanup. Dirs of
        ref-reachable snapshots are never orphans: ``_swap`` never drops
        those snapshots from the manifest.

        The in-flight-writer race is handled the same way Iceberg
        handles it: only dirs older than ``min_age_seconds`` (mtime)
        are eligible, so a concurrent writer's fresh uncommitted dir is
        never swept; the reference set is read under the manifest lock
        so a commit cannot land between listing and deletion. Returns
        the deleted dir paths."""
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
        return _max_epoch(self._main_snaps(self.snapshots()))

    def is_empty(self) -> bool:
        """True when ``read()`` would return None (no main-lineage
        snapshot), answered from the manifest alone: no DataFrame, so
        no parquet schema-inference job."""
        return not self._main_snaps(self.snapshots())

    def truncate(self) -> None:
        """Drop every main-lineage snapshot and delete its data (staged
        branches are carried through; a live fork refuses it like
        ``replace``)."""
        self._swap(lambda snaps, *_: self._staged(snaps))


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
