"""Manifest-committed table: concurrent-writer-safe append/overwrite on
plain parquet files, Delta/Iceberg-style but dependency-free.

Why this exists: every warehouse table of ``TlcPipeline`` is a manifest
table.  Two Spark jobs writing plain parquet to the same
directory stage through one ``_temporary`` directory and can interleave
each other's commit phases (reference analogue: the
``INSERT ... WHERE source_file NOT IN (...)`` guard,
src/database/schema_drift.py:213-215, which DuckDB serializes through
its single-writer transaction lock; Spark has no such lock on a bare
directory).  This module restores single-writer-equivalent semantics
with an optimistic-concurrency commit log:

- Every write lands in a fresh ``data/<uuid>/`` directory — writers
  never touch each other's files, and uncommitted data is INVISIBLE
  (readers only see directories referenced by a committed log entry, so
  a crashed writer leaves garbage, never a torn table).
- A commit is the creation of ``_log/<version>.json``.  The file is
  materialized elsewhere and published with ``os.link`` — an atomic
  no-clobber operation on POSIX: of two racing writers targeting the
  same version, exactly one succeeds; the loser re-reads the log,
  re-checks idempotency, and retries at the next version.  (On object
  stores this maps to the usual put-if-absent primitive.)
- The table state at version V is the replay of log entries 1..V
  (``overwrite`` resets the file list, ``append`` extends it), so
  readers get snapshot isolation for free: ``read(version=...)`` is
  time travel, and a reader holding version V is unaffected by later
  commits.
- Each entry records the schema and the number of the rows it committed
  (the count comes from the write itself, so it costs no job).  While
  every directory of a snapshot shares one schema, ``read`` passes it to
  the reader and skips the footer-inference job; entries written without
  a schema, or a snapshot whose entries disagree, fall back to inference.
- An ``overwrite`` may lay its rows out by ``partition_by`` columns
  (``col=value/`` directories, pruned at planning).  The entry records
  them; appends and ``compact`` to that snapshot write the same layout.

Idempotency composes with it: ``append(df, tag=source_file)`` refuses a
tag that any committed entry already carries — the check is re-run
inside the commit retry loop, so even two concurrent loads of the SAME
file resolve to exactly one commit (the race loser sees the winner's
tag when it retries).

Scale note: the log is O(#commits) tiny JSON files and each entry holds
only paths — listing it is a metadata operation, and data I/O is
unchanged parquet.  The maintenance operations complete the Delta-style
set:

- DATA small-file compaction — ``compact()``: a keep-tags overwrite
  published with an ``expect_parent`` compare-and-swap, so a concurrent
  append can never be silently dropped by the rewrite;
- LOG checkpointing — ``write_checkpoint()`` (the ``_last_checkpoint``
  idea): reads replay O(commits since last checkpoint), not
  O(all commits); race-safe by determinism + no-clobber, and a
  successful compact checkpoints automatically (its state is one
  directory, the minimal checkpoint);
- HISTORY retention — ``expire(before_version)`` (Delta VACUUM's
  retention window as an explicit verb): reclaims data only
  pre-watermark snapshots reference, gates time travel below the
  watermark with a clear error, and rides the normal commit log;
- CHANGE FEED — ``diff(v1, v2)``: multiset or keyed
  inserted/deleted/updated between any two committed snapshots.
"""

from __future__ import annotations

import functools
import json
import os
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_NULLABLE_KEYS = ("nullable", "containsNull", "valueContainsNull")


def _as_nullable(node):
    """A schema's JSON with every field, element and value nullable: the
    form parquet writes, and so the one inference reads back."""
    if isinstance(node, dict):
        return {k: True if k in _NULLABLE_KEYS else _as_nullable(v) for k, v in node.items()}
    if isinstance(node, list):
        return [_as_nullable(v) for v in node]
    return node


class CommitConflict(RuntimeError):
    """Raised when the optimistic commit loop exhausts its retries."""


class ManifestTable:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, "_log")
        self.data_dir = os.path.join(path, "data")

    # -- log plumbing ------------------------------------------------------
    def _versions(self) -> list[int]:
        try:
            names = os.listdir(self.log_dir)
        except FileNotFoundError:
            return []
        return sorted(
            int(n[: -len(".json")])
            for n in names
            if n.endswith(".json") and not n.endswith(".checkpoint.json")
        )

    def _checkpoints(self) -> list[int]:
        try:
            names = os.listdir(self.log_dir)
        except FileNotFoundError:
            return []
        suffix = ".checkpoint.json"
        return sorted(
            int(n[: -len(suffix)]) for n in names if n.endswith(suffix)
        )

    def entry(self, version: int) -> dict:
        """The committed log entry of ``version``."""
        with open(os.path.join(self.log_dir, f"{version:020d}.json")) as f:
            return json.load(f)

    def latest_version(self) -> int:
        vs = self._versions()
        return vs[-1] if vs else 0

    def snapshot(self, version: int | None = None) -> dict:
        """Replay the log up to ``version`` (default: latest).  Returns
        ``{"version": v, "dirs": [...], "tags": {tag: version},
        "expired_before": v, "schema": json-or-None, "partition_by": [...]}``;
        ``schema`` is None when an entry carries none or the entries
        disagree.

        Starts from the newest CHECKPOINT at or below the target version
        when one exists (the Delta ``_last_checkpoint`` idea): a
        checkpoint is the materialized replayed state at its version, so
        reads cost O(commits since last checkpoint) instead of
        O(all commits) — the thing that keeps a high-commit-rate table's
        metadata path flat at scale."""
        dirs: list[str] = []
        tags: dict[str, int] = {}
        schema = None
        partition_by: list[str] = []
        top = 0
        exp = 0
        cps = [
            c for c in self._checkpoints() if version is None or c <= version
        ]
        if cps:
            base = cps[-1]
            with open(
                os.path.join(self.log_dir, f"{base:020d}.checkpoint.json")
            ) as f:
                cp = json.load(f)
            dirs, tags, top = list(cp["dirs"]), dict(cp["tags"]), cp["version"]
            exp = cp.get("expired_before", 0)
            schema = cp.get("schema")
            partition_by = cp.get("partition_by", [])
        for v in self._versions():
            if v <= top:
                continue
            if version is not None and v > version:
                break
            e = self.entry(v)
            if e["action"] == "expire":
                # retention watermark: data below it is reclaimed; the
                # entry carries no dirs and never touches tags
                exp = max(exp, e["before"])
                top = v
                continue
            if e["action"] == "overwrite":
                # keep_tags: compaction rewrites DATA but must not forget
                # idempotency tags, or already-loaded source files would
                # happily load twice after a compact
                dirs, tags = [], (tags if e.get("keep_tags") else {})
            if not dirs:
                schema = e.get("schema")
                partition_by = e.get("partition_by", [])
            elif e.get("schema") != schema:
                schema = None
            dirs.extend(e["dirs"])
            if e.get("tag") is not None:
                tags[e["tag"]] = v
            top = v
        if version is not None:
            # a time-traveling reader must honor the GLOBAL watermark —
            # expire entries can postdate the requested version, so the
            # replay above may never have seen them
            wm = self.snapshot()["expired_before"]
            if version < wm:
                raise ValueError(
                    f"version {version} of {self.path} was expired "
                    f"(retention watermark {wm}); time travel below the "
                    f"watermark is gone by design"
                )
        return {"version": top, "dirs": dirs, "tags": tags,
                "expired_before": exp, "schema": schema, "partition_by": partition_by}

    def write_checkpoint(self) -> int | None:
        """Materialize the current replayed state as
        ``_log/<version>.checkpoint.json`` (atomic no-clobber link, same
        publish primitive as commits).  Safe under races by determinism:
        a checkpoint's content is a pure function of the immutable log
        prefix, so two racers produce byte-equivalent state and the
        no-clobber link keeps exactly one.  Old checkpoints stay — a
        time-traveling reader picks the newest one at or below its
        target.  Returns the checkpointed version (None on an empty
        table or when that version is already checkpointed)."""
        snap = self.snapshot()
        if snap["version"] == 0:
            return None
        target = os.path.join(
            self.log_dir, f"{snap['version']:020d}.checkpoint.json"
        )
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}")
        try:
            with open(tmp, "w") as f:
                json.dump(snap, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, target)
            except FileExistsError:
                return None  # already checkpointed at this version
            return snap["version"]
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    # -- commit protocol ---------------------------------------------------
    def _publish(self, entry: dict, max_retries: int = 50) -> int | None:
        """Publish ``entry`` at the next free version via atomic no-clobber
        link.  Returns the committed version, or None if the entry's
        idempotency tag turned out to be already committed (skip)."""
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}")
        try:
            for _ in range(max_retries):
                snap = self.snapshot()
                tag = entry.get("tag")
                if (
                    entry["action"] == "append"
                    and tag is not None
                    and tag in snap["tags"]
                ):
                    return None  # someone (maybe a race winner) loaded it
                expect = entry.get("expect_parent")
                if expect is not None and snap["version"] != expect:
                    return None  # CAS failed: table advanced under us
                version = snap["version"] + 1
                entry_full = {"version": version, "parent": snap["version"], **entry}
                with open(tmp, "w") as f:
                    json.dump(entry_full, f)
                    f.flush()
                    os.fsync(f.fileno())
                target = os.path.join(self.log_dir, f"{version:020d}.json")
                try:
                    os.link(tmp, target)  # atomic: fails iff version taken
                    return version
                except FileExistsError:
                    continue  # lost the race — re-read log, retry
            raise CommitConflict(
                f"could not commit to {self.path} after {max_retries} attempts"
            )
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    def _stage(self, df: DataFrame, partition_by: Sequence[str] = ()) -> str:
        """Write df to a private uuid directory; invisible until committed."""
        d = uuid.uuid4().hex
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(os.path.join(self.data_dir, d))
        return d

    def _entry(self, action: str, df: DataFrame, partition_by: Sequence[str], **extra) -> dict:
        """Stage ``df`` and return the log entry that commits it.  Its
        schema is the one the staged files read back with: every field
        nullable, the partition columns last; its row count is observed
        by the write."""
        obs = Observation()
        staged = self._stage(df.observe(obs, F.count(F.lit(1)).alias("rows")), partition_by)
        fields = [f for f in df.schema.fields if f.name not in partition_by]
        schema = StructType(fields + [df.schema[c] for c in partition_by])
        return {"action": action, "dirs": [staged], "rows": obs.get["rows"],
                "schema": _as_nullable(schema.jsonValue()),
                "partition_by": list(partition_by), **extra}

    def _commit(self, entry: dict) -> int | None:
        """Publish a staged entry; when it does not commit (its tag was
        committed meanwhile, or its ``expect_parent`` is stale), delete
        what it staged."""
        import shutil

        v = self._publish(entry)
        if v is None:
            shutil.rmtree(os.path.join(self.data_dir, entry["dirs"][0]), ignore_errors=True)
        return v

    # -- public API --------------------------------------------------------
    def append(
        self, df: DataFrame, tag: str | None = None, expect_version: int | None = None, **info
    ) -> int | None:
        """Concurrent-safe append.  ``tag`` is an idempotency key (e.g. the
        source filename): if any committed entry already carries it, the
        append is skipped and None is returned — including when the tag
        was committed by a concurrent writer DURING our own attempt.
        Given ``expect_version``, the append commits only as the next
        version after it and returns None otherwise (compare-and-swap).
        ``info`` is recorded in the commit's log entry."""
        snap = self.snapshot()
        if tag is not None and tag in snap["tags"]:
            return None  # cheap pre-check; re-checked at commit time
        if expect_version is not None:
            if snap["version"] != expect_version:
                return None
            info["expect_parent"] = expect_version
        return self._commit(self._entry("append", df, snap["partition_by"], tag=tag, **info))

    def overwrite(
        self, df: DataFrame, tag: str | None = None, partition_by: tuple[str, ...] = ()
    ) -> int:
        """Concurrent-safe truncate-rebuild: readers see either the old
        snapshot or the new one, never a mix.  ``partition_by`` lays the
        rows out in ``col=value/`` directories, which later appends and
        compactions keep."""
        v = self._publish(self._entry("overwrite", df, partition_by, tag=tag))
        assert v is not None  # overwrite never tag-skips
        return v

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read (optionally time-traveled to ``version``), with
        the schema the snapshot recorded: no schema-inference job runs.
        Each directory of a partitioned table is its own partition root,
        so those are read one by one and unioned."""
        snap = self.snapshot(version)
        if not snap["dirs"]:
            raise FileNotFoundError(f"manifest table {self.path} is empty")
        paths = [os.path.join(self.data_dir, d) for d in snap["dirs"]]
        reader = self.spark.read
        if snap["schema"] is not None:
            reader = reader.schema(StructType.fromJson(snap["schema"]))
        if not snap["partition_by"]:
            return reader.parquet(*paths)
        return functools.reduce(DataFrame.unionByName, [reader.parquet(p) for p in paths])

    def compact(self, target_partitions: int = 8) -> int | None:
        """Small-file compaction: rewrite the CURRENT snapshot into one
        fresh directory with ``target_partitions`` files and commit it as
        a keep-tags overwrite — the maintenance operation a
        many-small-appends table (streaming gold, per-source-file bronze)
        needs at scale (the docstring's 'documented follow-up').

        Lost-update safe by compare-and-swap: the commit carries
        ``expect_parent`` = the snapshot version that was compacted; if
        ANY writer commits in between, the publish aborts (returns None,
        staged data removed) instead of silently dropping their rows —
        retry at a quiet moment.  Idempotency tags survive (keep_tags),
        so previously-loaded source files still refuse to double-load.
        Pre-compact directories stay referenced by committed history and
        therefore SURVIVE ``vacuum`` (which only removes never-committed
        staging leftovers — see :meth:`vacuum`), so time travel to
        pre-compact versions keeps working until an EXPLICIT
        :meth:`expire` reclaims history below a chosen watermark —
        retention never happens implicitly."""
        snap = self.snapshot()
        if not snap["dirs"]:
            return None
        # hashed on the partition columns, each partition directory gets
        # its rows from one task, so one file
        pb = snap["partition_by"]
        df = self.read(snap["version"]).repartition(target_partitions, *pb)
        entry = self._entry(
            "overwrite", df, pb, tag=f"compact-v{snap['version']}",
            keep_tags=True, expect_parent=snap["version"],
        )
        v = self._commit(entry)  # None: CAS lost, the table is left alone
        if v is not None:
            # a fresh compact is the natural checkpoint moment: the state
            # is one directory, so the checkpoint is minimal
            self.write_checkpoint()
        return v

    def expire(self, before_version: int) -> dict:
        """Retention: reclaim data directories that ONLY snapshots below
        ``before_version`` reference — the explicit expire operation the
        compact/vacuum docstrings point to (Delta's retention-window
        VACUUM, made an explicit verb instead of a time default).

        After expire, ``read(version < before_version)`` and
        ``snapshot(version < before_version)`` raise; the log entries
        themselves stay (audit trail), and the watermark rides the
        normal commit log (an ``expire`` entry + checkpoints), so
        concurrent readers converge on it like any other commit.

        Safe against concurrent writers: new commits only ever
        reference directories they staged themselves, so the
        reclaimable set (dirs referenced below the watermark and by no
        snapshot at-or-above it) cannot gain new references while we
        compute it.  The watermark entry publishes BEFORE deletion —
        a crash in between leaves unreachable-but-present dirs that the
        next expire run reclaims (idempotent)."""
        import shutil

        latest = self.latest_version()
        if before_version > latest:
            raise ValueError(
                f"before_version {before_version} is beyond the head "
                f"({latest})"
            )
        # expiring below an existing watermark is a no-op region — clamp
        # so the keep-set scan never time-travels under the old watermark
        before_version = max(
            before_version, self.snapshot()["expired_before"]
        )
        keep: set[str] = set()
        for u in self._versions():
            if u >= before_version:
                keep.update(self.snapshot(u)["dirs"])
        referenced_old: set[str] = set()
        for u in self._versions():
            if u < before_version:
                referenced_old.update(self.entry(u).get("dirs", []))
        doomed = sorted(
            d
            for d in referenced_old - keep
            if os.path.isdir(os.path.join(self.data_dir, d))
        )
        self._publish({"action": "expire", "before": before_version,
                       "dirs": []})
        for d in doomed:
            shutil.rmtree(os.path.join(self.data_dir, d), ignore_errors=True)
        self.write_checkpoint()
        return {"expired_before": before_version, "removed_dirs": doomed}

    def history(self) -> list[dict]:
        """The committed log, oldest first (audit / debugging surface)."""
        return [self.entry(v) for v in self._versions()]

    def diff(
        self,
        from_version: int,
        to_version: int | None = None,
        key_cols: list[str] | None = None,
    ) -> DataFrame:
        """Change feed between two committed snapshots (the Delta
        change-data-feed idea on this format).

        Default (no ``key_cols``): full-row MULTISET diff — every row
        appearance that differs between the versions comes back tagged
        ``_change`` ∈ {'inserted', 'deleted'} with ``_n`` copies; rows
        present equally often in both cancel out.

        With ``key_cols``: entity-level diff — keys only in the old
        snapshot are 'deleted', only in the new 'inserted', and keys
        whose CONTENT (the multiset of full rows under that key)
        changed are 'updated' (the new row is returned).

        Cost shape: both snapshot reads + fingerprint-keyed aggregates
        and one full-outer join — never a row-by-row driver comparison.
        Works across compaction boundaries because time travel keeps
        pre-compact directories readable."""
        from pyspark.sql import functions as F

        old = self.read(from_version)
        new = self.read(to_version)
        cols = old.columns
        if set(cols) != set(new.columns):
            raise ValueError(
                f"schema changed between versions: {cols} vs {new.columns}"
            )
        # NULL-safe fingerprint: concat_ws SKIPS nulls, which would make
        # (null, 'a') and ('a', null) collide — encode null explicitly
        def _fp_over(columns: list[str]):
            return F.md5(
                F.concat_ws(
                    "\x1f",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
                        for c in columns
                    ],
                )
            )

        row_fp = _fp_over(cols)
        if key_cols is None:
            def counted(df: DataFrame, side: str) -> DataFrame:
                return (
                    df.withColumn("__fp", row_fp)
                    .groupBy("__fp")
                    .agg(
                        F.count("*").alias(f"__n_{side}"),
                        F.first(F.struct(*cols)).alias(f"__row_{side}"),
                    )
                )

            j = counted(old, "old").join(
                counted(new, "new"), "__fp", "full_outer"
            )
            delta = (
                F.coalesce("__n_new", F.lit(0)) - F.coalesce("__n_old", F.lit(0))
            ).alias("__delta")
            return (
                j.select(
                    F.coalesce("__row_new", "__row_old").alias("__row"), delta
                )
                .filter(F.col("__delta") != 0)
                .select(
                    "__row.*",
                    F.when(F.col("__delta") > 0, F.lit("inserted"))
                    .otherwise(F.lit("deleted"))
                    .alias("_change"),
                    F.abs("__delta").cast("long").alias("_n"),
                )
            )
        kfp = _fp_over(key_cols)

        def keyed(df: DataFrame, side: str) -> DataFrame:
            return (
                df.withColumn("__kfp", kfp)
                .withColumn("__rfp", row_fp)
                .groupBy("__kfp")
                .agg(
                    # content signature: md5 of the SORTED row-fp multiset
                    F.md5(
                        F.concat_ws(",", F.array_sort(F.collect_list("__rfp")))
                    ).alias(f"__sig_{side}"),
                    F.count("*").cast("long").alias(f"__n_{side}"),
                    F.first(F.struct(*cols)).alias(f"__row_{side}"),
                )
            )

        j = keyed(old, "old").join(keyed(new, "new"), "__kfp", "full_outer")
        change = (
            F.when(F.col("__sig_old").isNull(), F.lit("inserted"))
            .when(F.col("__sig_new").isNull(), F.lit("deleted"))
            .when(F.col("__sig_old") != F.col("__sig_new"), F.lit("updated"))
        )
        return (
            j.withColumn("_change", change)
            .filter(F.col("_change").isNotNull())
            .select(
                F.coalesce("__row_new", "__row_old").alias("__row"),
                "_change",
                F.coalesce("__n_new", "__n_old").alias("_n"),
            )
            .select("__row.*", "_change", F.col("_n").cast("long"))
        )

    def vacuum(self) -> list[str]:
        """Delete data directories no committed entry references (crashed
        writers' leftovers).  Safe by construction: an uncommitted dir can
        never become referenced later, because commits only reference dirs
        staged by the committing writer itself.  Directories referenced
        by ANY committed entry — including pre-compact / pre-overwrite
        history — are deliberately preserved, so vacuum never breaks
        time travel and never reclaims historical data — that is
        :meth:`expire`'s job, an explicit verb with a watermark, never
        a side effect of vacuum."""
        import shutil

        live = set(self.snapshot()["dirs"])
        # dirs referenced by ANY entry (incl. pre-overwrite history) stay,
        # so time travel keeps working; only never-committed dirs go
        for e in self.history():
            live.update(e["dirs"])
        removed = []
        try:
            present = os.listdir(self.data_dir)
        except FileNotFoundError:
            return removed
        for d in present:
            if d not in live:
                shutil.rmtree(os.path.join(self.data_dir, d), ignore_errors=True)
                removed.append(d)
        return removed
