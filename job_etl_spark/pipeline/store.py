"""Table storage for the pipeline (``TableStore``).

A table has one of two layouts:

- copy-on-write (COW), the default: plain parquet files, replaced by an
  atomic temp-dir swap on every write-back;
- merge-on-read (MOR): a base plus a stack of immutable delta
  statements, folded at read time and compacted into the base once the
  stack reaches ``MOR_COMPACT_AT``.

The layout is chosen once per table, at migration (``mor_migrate``),
and from then on belongs to the table. Pipeline stages never branch on
it: each hands its keyed merge statement to ``TableStore.merge``, which
applies it by the table's layout. COVERAGE.md "Choosing COW vs MOR" has
the measured costs of each.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: a MOR table's delta chain is compacted into the base once it reaches
#: this many deltas: reads fold at most this many statements, and the
#: O(table) base rewrite is paid once per this many write-backs
MOR_COMPACT_AT = 16

_CLASSES = ("overwrite", "coalesce", "keep_first")


class TableStore:
    """Parquet-backed tables under either layout (module docstring).

    At 100 TB the COW overwrite becomes partition-scoped (partitionBy
    source/ingest-date + dynamic partition overwrite) or a Delta MERGE;
    the runner only touches this seam.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # per-run merged-view memo: (table, delta-seq tuple, base stamp) →
        # lazily-checkpointed merged frame (see mor_read)
        self._merged_memo: dict[tuple, DataFrame] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        import glob

        return (
            self.mor_exists(name)
            or bool(glob.glob(os.path.join(self.path(name), "*.parquet")))
            or bool(glob.glob(os.path.join(self.path(name), "_SUCCESS")))
        )

    def read(self, name: str, schema=None, merge_schema: bool = False) -> DataFrame:
        """``merge_schema=True`` unions the footer schemas of every file
        (parquet schema evolution): rows written before a column existed
        read as NULL. Off by default — the merge pass reads every footer,
        which is a real cost on a 100 TB table; flip it only for tables
        that actually evolve.

        A table migrated to the merge-on-read layout is read through
        ``mor_read`` — every stage (marts/dq/publish/report) sees the
        merged view automatically, so a ``--mor`` write-back is never
        invisible to downstream readers."""
        if self.mor_exists(name):
            return self.mor_read(name)
        if not self.exists(name):
            if schema is None:
                raise FileNotFoundError(self.path(name))
            return self.spark.createDataFrame([], schema)
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(self.path(name))

    def write(
        self,
        name: str,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: Sequence[str] = (),
    ) -> None:
        """At 100 TB, pass partition_by=('source',) (or ingest date): writes
        become partition-scoped, incremental scans prune partitions, and
        with spark.sql.sources.partitionOverwriteMode=dynamic a merge
        rewrites only the partitions it touched."""
        if self.mor_exists(name):
            # a plain parquet write next to a MOR layout would be INVISIBLE
            # (read() prefers the merged view) — route or refuse, never fork
            if mode == "overwrite" and not partition_by:
                self.rewrite(name, df)
                return
            raise ValueError(
                f"table {name!r} uses the merge-on-read layout: use "
                "mor_upsert (append) or rewrite/mor_compact (rewrite); a "
                "direct parquet write would be invisible to readers"
            )
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))
        self.spark.catalog.refreshByPath(self.path(name))

    def overwrite_partitions(
        self, name: str, df: DataFrame, partition_by: Sequence[str]
    ) -> None:
        """Dynamic partition overwrite: replace ONLY the partitions present
        in ``df``, leaving every other partition's files untouched.

        This is the 100 TB incremental-write path (reference:
        services/normalizer/db_operations.py:414 batch upsert, re-expressed
        as partition-scoped file replacement): a daily merge that touches 1
        of 1000 date partitions rewrites ~0.1% of the table instead of all
        of it, and concurrent readers of other partitions are unaffected.
        The conf is saved/restored so the session-wide STATIC default (the
        safe mode for full overwrites) still applies elsewhere."""
        if self.mor_exists(name):
            raise ValueError(
                f"table {name!r} uses the merge-on-read layout: partition-"
                "scoped overwrite would fork an invisible COW copy — land "
                "the patch as a delta (mor_upsert) instead"
            )
        conf = self.spark.conf
        prev = conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            df.write.mode("overwrite").partitionBy(*partition_by).parquet(
                self.path(name)
            )
        finally:
            conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        self.spark.catalog.refreshByPath(self.path(name))

    def _swap_in(self, name: str, tmp: str) -> None:
        """Promote a fully-written temp dir via rename-rename: a crash
        leaves either the old or the new table fully intact (overwrite
        would delete the destination before committing — the non-atomic
        window compact() was fixed for). Local-FS renames; an object-store
        deployment swaps this seam for a commit protocol / Delta."""
        import os
        import shutil

        path = self.path(name)
        old = path + "._old"
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
        self.spark.catalog.refreshByPath(path)

    def rewrite(self, name: str, df: DataFrame) -> None:
        """Safe read-modify-write: materialize to a temp dir first (the
        plan reads the files being replaced), then swap by rename.
        refreshByPath invalidates Spark's cached file listing — without it
        later scans chase deleted part files.

        A merge-on-read table stays MOR: the rewrite becomes a base
        replacement (the new frame already incorporates the deltas — it
        was read through the merged view) and the deltas are cleared, so
        a whole-table rewrite never forks the table back into a COW
        layout the MOR readers would miss."""
        if self.mor_exists(name):
            with self._mor_writer_lock(name):
                tmp = self._mor_dir(name, "base._tmp")
                self._mor_write_base(name, df, tmp, self._mor_meta(name))
                self._mor_swap_base(name, tmp)
                self._mor_update_columns(name, df)
            return
        tmp = self.path(f"__tmp_{name}")
        df.write.mode("overwrite").parquet(tmp)
        self.spark.catalog.refreshByPath(tmp)
        self._swap_in(name, tmp)

    def merge(
        self,
        name: str,
        statement: DataFrame,
        keys: Sequence[str],
        policy: dict | None = None,
        classes: dict | None = None,
    ) -> None:
        """Apply one keyed merge statement to ``name``, by its layout.

        ``statement`` holds at most one row per key. ``policy`` gives the
        column classes (``{"overwrite": [...], "coalesce": [...],
        "keep_first": [...]}``, ``operators.merge.merge_upsert``); None is
        latest-wins, where a statement row replaces its key's row.
        ``classes`` overrides the policy for this statement only. A
        statement may carry a subset of the columns: the ones it does not
        carry are left as they are.

        - A missing table is created from the statement.
        - A COW table is rewritten with ``merge_upsert`` of the statement.
        - A MOR table lands the statement as one delta (an empty statement
          lands none), then compacts once the chain reaches
          ``MOR_COMPACT_AT``. A MOR table recorded latest-wins adopts
          ``policy`` first (``mor_set_policy``).

        Both layouts read back the same rows (the dual-mode tests and the
        fold-parity fuzzer pin this)."""
        if not self.exists(name):
            self.write(name, statement)
        elif not self.mor_exists(name):
            from job_etl_spark.operators.merge import merge_upsert

            cls = (
                {c: "overwrite" for c in statement.columns}
                if policy is None
                else {c: k for k in _CLASSES for c in policy.get(k, ())}
            )
            cls.update({c: k for k in _CLASSES for c in (classes or {}).get(k, ())})
            # uncarried columns stay out of every class: merge_upsert then
            # keeps the base value (an OVERWRITE class would null it)
            carried = [c for c in statement.columns if c not in keys]
            by_class = {
                k: [c for c in carried if cls.get(c, "keep_first") == k] for k in _CLASSES
            }
            merged = merge_upsert(
                self.read(name),
                statement,
                keys,
                overwrite_cols=by_class["overwrite"],
                coalesce_cols=by_class["coalesce"],
                keep_first_cols=by_class["keep_first"],
            )
            self.rewrite(name, merged)
        else:
            if policy is not None:
                self.mor_set_policy(name, policy)
            self.mor_upsert(name, statement, classes)
            if len(self.mor_deltas(name)) >= MOR_COMPACT_AT:
                self.mor_compact(name)

    def mor_migrate(
        self,
        name: str,
        keys: Sequence[str],
        policy: dict | None = None,
        buckets: int | None = None,
        schema=None,
    ) -> None:
        """Move ``name`` to the merge-on-read layout, once: a MOR table is
        left as it is (``buckets`` only applies here), and every later
        ``merge`` lands a delta whatever its caller asked for. A missing
        table migrates as an empty table of ``schema``; with no schema it
        is created by its first ``merge`` and migrates on the next call.
        ``policy`` is recorded in the table's _META (``mor_init``)."""
        if not self.mor_exists(name) and (schema is not None or self.exists(name)):
            self.mor_init(name, self.read(name, schema), keys, policy, buckets)

    # -- snapshot versioning (Delta-lite time travel) ----------------------
    # Each write lands in an immutable {table}/_v/{N}/ dir; a one-line
    # _LATEST pointer file flips atomically (os.replace). Readers resolve
    # the pointer (or an explicit version) so writers never disturb a
    # running read, rollback is a pointer flip, and audits can re-read any
    # retained snapshot — the file-layout core of what Delta/Iceberg
    # transaction logs provide, without a new dependency.

    def _vdir(self, name: str, version: int) -> str:
        return os.path.join(self.path(name), "_v", str(version))

    def _pointer(self, name: str) -> str:
        return os.path.join(self.path(name), "_LATEST")

    def snapshots(self, name: str) -> list[int]:
        import glob

        return sorted(
            int(os.path.basename(d))
            for d in glob.glob(os.path.join(self.path(name), "_v", "*"))
            if os.path.basename(d).isdigit()
        )

    def latest_snapshot(self, name: str) -> int | None:
        try:
            with open(self._pointer(name)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def write_snapshot(self, name: str, df: DataFrame) -> int:
        version = (self.latest_snapshot(name) or 0) + 1
        df.write.mode("overwrite").parquet(self._vdir(name, version))
        tmp = self._pointer(name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._pointer(name))  # atomic pointer flip
        return version

    def read_snapshot(self, name: str, version: int | None = None) -> DataFrame:
        v = version if version is not None else self.latest_snapshot(name)
        if v is None:
            raise FileNotFoundError(f"no snapshots for table {name!r}")
        return self.spark.read.parquet(self._vdir(name, v))

    def rollback(self, name: str, version: int) -> None:
        if version not in self.snapshots(name):
            raise ValueError(f"version {version} not retained for {name!r}")
        tmp = self._pointer(name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._pointer(name))

    def vacuum_snapshots(self, name: str, keep: int = 2) -> list[int]:
        """Drop all but the newest ``keep`` snapshots (never the pointer
        target). Returns the removed versions."""
        import shutil

        current = self.latest_snapshot(name)
        vs = self.snapshots(name)
        removable = [v for v in vs[:-keep] if v != current] if keep > 0 else []
        for v in removable:
            shutil.rmtree(self._vdir(name, v), ignore_errors=True)
        return removable

    # -- merge-on-read upserts (LSM-lite) ----------------------------------
    # A keyed upsert against a 100 TB base must not rewrite the base per
    # batch. Merge-on-read (the Hudi MOR / LSM pattern) lands each batch as
    # an immutable delta file and defers the merge to READ time:
    #   read = latest-wins over (deltas by descending sequence) ∪ (base
    #          minus keys present in any delta)
    # so a write costs O(batch), reads cost one broadcast-able anti-join
    # (delta keys ≪ base), and compaction — folding deltas into a new base
    # — is an offline rewrite on its own schedule. Tombstones (a true
    # ``_deleted`` column) delete keys at read time. Reference twin:
    # services/normalizer/db_operations.py batch upsert, decoupled from
    # write amplification.

    def _mor_dir(self, name: str, *parts: str) -> str:
        return os.path.join(self.path(name), "_mor", *parts)

    def _mor_meta(self, name: str) -> dict:
        import json

        with open(self._mor_dir(name, "_META")) as f:
            return json.load(f)

    def mor_exists(self, name: str) -> bool:
        return os.path.exists(self._mor_dir(name, "_META"))

    @contextmanager
    def _mor_writer_lock(self, name: str):
        """Enforce the single-writer contract on a MOR table's mutating
        surface (init / upsert / compact / base rewrite). The reference's
        orchestration runs each table's writer with ``max_active_runs=1``
        (airflow/dags/jobs_etl_daily.py), so a second concurrent writer is
        a deployment error — it must FAIL LOUDLY, not queue and not
        silently sweep the first writer's in-flight tmp dirs. ``flock`` on
        ``_mor/_LOCK``, non-blocking: the OS releases it if the holder
        dies, so a crashed writer never wedges the table. Local-FS
        semantics; an object-store deployment swaps this seam for a lease
        (the same seam note as ``_swap_in``). Readers never take the lock:
        ``mor_read`` is safe against a concurrent upsert (delta register
        is one atomic rename) — only compaction/base-swaps additionally
        assume no concurrent reader mid-swap (see ``mor_compact``)."""
        import fcntl

        os.makedirs(self._mor_dir(name), exist_ok=True)
        fd = os.open(self._mor_dir(name, "_LOCK"), os.O_CREAT | os.O_RDWR)
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                raise ValueError(
                    f"MOR table {name!r} has a concurrent writer (lock "
                    "_mor/_LOCK is held); MOR tables are single-writer — "
                    "serialize the callers (max_active_runs=1)"
                )
            yield
        finally:
            os.close(fd)  # closing the fd releases the flock

    def _mor_bucket_expr(self, meta: dict):
        """Stable key→bucket assignment (xxhash64 is a fixed algorithm, so
        the mapping survives restarts and Spark upgrades)."""
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in meta["keys"]]), F.lit(meta["buckets"])
        )

    def _mor_write_base(self, name: str, df: DataFrame, dest: str, meta: dict) -> None:
        """Materialize a (new) base under the table's layout: bucketed
        tables hash-partition by ``_bucket`` (one dir per touched bucket,
        repartitioned so each bucket lands as ~one file), plain tables
        write flat.

        The authoritative column list + schema ride INSIDE the base dir
        as a ``_SCHEMA.json`` sidecar (underscore prefix — invisible to
        Spark's file listing), so the single base-swap rename publishes
        data and schema atomically: a crash between the swap and the
        _META convenience update can no longer leave new base files read
        under a stale explicit schema (added columns vanishing, dropped
        columns reading as null)."""
        import json

        if meta.get("buckets"):
            (
                df.withColumn("_bucket", self._mor_bucket_expr(meta))
                .repartition(meta["buckets"], F.col("_bucket"))
                .write.mode("overwrite")
                .partitionBy("_bucket")
                .parquet(dest)
            )
        else:
            df.write.mode("overwrite").parquet(dest)
        with open(os.path.join(dest, "_SCHEMA.json"), "w") as f:
            json.dump({"columns": list(df.columns), "schema": df.schema.json()}, f)
        self.spark.catalog.refreshByPath(dest)

    def _mor_base_info(self, name: str, meta: dict) -> dict:
        """Resolve the base's authoritative ``{"columns", "schema"}``: the
        in-base ``_SCHEMA.json`` sidecar when present (committed atomically
        WITH the data by the base-swap rename), else the _META copy
        (pre-sidecar tables)."""
        import json

        side = self._mor_dir(name, "base", "_SCHEMA.json")
        try:
            with open(side) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"columns": meta.get("columns"), "schema": meta.get("schema")}

    def _mor_repair_buckets(self, name: str) -> None:
        """Finish or roll back a bucket swap interrupted mid-rename: a
        ``._old_bucket=N`` dir whose ``_bucket=N`` twin is missing is the
        pre-swap content (crash between rename-away and rename-in) —
        restore it; one whose twin exists is already-swapped debris —
        drop it. Dot-prefixed dirs are invisible to Spark's partition
        discovery, so a half-finished swap never double-counts."""
        import shutil

        basedir = self._mor_dir(name, "base")
        try:
            entries = os.listdir(basedir)
        except FileNotFoundError:
            return
        for e in entries:
            if not e.startswith("._old_bucket="):
                continue
            live = os.path.join(basedir, e[len("._old") :])
            old = os.path.join(basedir, e)
            if os.path.exists(live):
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.rename(old, live)

    def mor_init(
        self,
        name: str,
        df: DataFrame,
        keys: Sequence[str],
        policy: dict | None = None,
        buckets: int | None = None,
    ) -> None:
        """Single-writer-locked entry point for ``_mor_init_locked``
        (the concurrency contract lives on ``_mor_writer_lock``)."""
        with self._mor_writer_lock(name):
            self._mor_init_locked(name, df, keys, policy, buckets)

    def _mor_init_locked(
        self,
        name: str,
        df: DataFrame,
        keys: Sequence[str],
        policy: dict | None = None,
        buckets: int | None = None,
    ) -> None:
        """Write the base and record the key columns. An initial batch may
        carry the ``_deleted`` tombstone column (a CDC feed's first batch
        often does): deleted rows are dropped and the marker stripped —
        the base stores only live rows in the user schema.

        ``policy`` selects the delta-resolution semantics recorded in the
        table's _META and applied by every subsequent ``mor_read``:

        - ``None`` (default): latest-wins — a delta row replaces the key's
          row wholesale (the rank write-back, CDC row images).
        - ``{"overwrite": [...], "coalesce": [...], "keep_first": [...]}``:
          per-column COALESCE-merge fold — each delta is a J3
          ``merge_upsert`` statement, and the read folds the delta stack
          through the same semantics (the staging upsert's contract,
          reference services/normalizer/db_operations.py:427-460).

        ``buckets=N`` hash-partitions the base by key into N stable bucket
        dirs (``_bucket=i/``) — the table-lifetime layout decision that
        makes ``mor_compact`` partition-scoped: compaction rewrites only
        the buckets the delta keys touch, so an amortized compaction costs
        O(touched buckets), not O(table). This is the MOR twin of the
        partitioned-COW ``overwrite_partitions`` path. Choose N so a
        bucket is a few GB at the table's target size; None (default)
        keeps the flat single-dir base for dimension-sized tables.

        Migrating a COW table (the usual first call passes
        ``store.read(name)``) deletes the stale top-level COW files after
        the base materializes, so nothing can silently read pre-migration
        data through a direct parquet path."""
        import json

        if "_deleted" in df.columns:
            df = df.where(~F.coalesce(F.col("_deleted"), F.lit(False))).drop(
                "_deleted"
            )
        meta: dict = {
            "keys": list(keys),
            "columns": list(df.columns),
            # the authoritative base schema: bucketed bases NEED it (an
            # empty partitionBy write leaves no footer to infer from) and
            # every read skips footer inference with it
            "schema": df.schema.json(),
        }
        if policy is not None:
            meta["policy"] = {k: list(policy.get(k, ())) for k in _CLASSES}
        if buckets:
            if "_bucket" in df.columns:
                raise ValueError("'_bucket' is reserved for the bucketed MOR layout")
            meta["buckets"] = int(buckets)
        self._mor_write_base(name, df, self._mor_dir(name, "base"), meta)
        os.makedirs(self._mor_dir(name, "delta"), exist_ok=True)
        tmp = self._mor_dir(name, "_META.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._mor_dir(name, "_META"))
        # the base write above already materialized everything it read.
        # Remove EVERY stale COW artifact — including partition
        # subdirectories from a partition_by write — keeping only the MOR
        # layout and the snapshot store (_v/_LATEST): anything else left
        # behind would let a direct parquet read of the table path see
        # pre-migration data.
        import shutil as _shutil

        keep = {"_mor", "_v", "_LATEST", "_LATEST.tmp"}
        for entry in os.listdir(self.path(name)):
            if entry in keep:
                continue
            full = os.path.join(self.path(name), entry)
            if os.path.isdir(full):
                _shutil.rmtree(full)
            else:
                os.remove(full)
        self.spark.catalog.refreshByPath(self.path(name))

    def mor_set_policy(self, name: str, policy: dict) -> None:
        """Upgrade a latest-wins MOR table to a policy table (e.g. a
        fact_jobs migrated before the marts stage learned MOR). The
        existing delta stack folds into the base FIRST, under the
        semantics it was written with (latest-wins), so the policy only
        ever governs deltas landed after the upgrade — no historical
        statement is reinterpreted. Changing an EXISTING policy is
        refused: old deltas' classes would silently change meaning
        (per-statement overrides are the supported path for that)."""
        import json

        with self._mor_writer_lock(name):
            meta = self._mor_meta(name)
            if meta.get("policy") is not None:
                if meta["policy"] == {k: list(policy.get(k, ())) for k in _CLASSES}:
                    return
                raise ValueError(
                    f"MOR table {name!r} already has a different policy; "
                    "reinterpreting landed deltas is not supported"
                )
            self._mor_compact_locked(name)
            meta["policy"] = {k: list(policy.get(k, ())) for k in _CLASSES}
            tmp = self._mor_dir(name, "_META.tmp")
            with open(tmp, "w") as f:
                json.dump(meta, f)
            os.replace(tmp, self._mor_dir(name, "_META"))

    def mor_deltas(self, name: str) -> list[int]:
        import glob

        return sorted(
            int(os.path.basename(d))
            for d in glob.glob(self._mor_dir(name, "delta", "*"))
            if os.path.basename(d).isdigit()
        )

    def mor_upsert(self, name: str, df: DataFrame, classes: dict | None = None) -> int:
        """Single-writer-locked entry point for ``_mor_upsert_locked``
        (the concurrency contract lives on ``_mor_writer_lock``)."""
        with self._mor_writer_lock(name):
            return self._mor_upsert_locked(name, df, classes)

    def _mor_upsert_locked(
        self, name: str, df: DataFrame, classes: dict | None = None
    ) -> int:
        """Land one batch as the next delta and return its sequence
        number; an empty batch lands nothing and returns 0. Rows may
        carry a boolean ``_deleted`` tombstone column; within a batch the
        caller provides at most one row per key (the batch is a
        statement, not a log) — ENFORCED after the delta materializes:
        duplicate keys would make
        the fold's per-key windows tie on ``_seq`` and silently break the
        COW-parity guarantee, so a duplicate batch fails loudly instead.

        ``classes`` overrides the table policy's column classes FOR THIS
        STATEMENT only (``{"overwrite": [...], "coalesce": [...],
        "keep_first": [...]}``) — the enricher's keyed UPDATE overwrites
        columns the normalize policy keeps-first (reference:
        services/enricher/db_operations.py:140-176 vs the normalizer's ON
        CONFLICT list). A statement may also carry a SUBSET of the table's
        columns: uncarried columns are a no-op (never nulled out). Only
        policy tables accept overrides; columns not named keep the table
        policy's class.

        Crash contract: the batch lands in ``delta/<seq>.tmp.<pid>``
        (invisible to ``mor_deltas``), is validated, gets its
        ``_CLASSES.json`` sidecar, and registers via one atomic rename —
        a crash anywhere before the rename leaves no half-visible delta,
        and the next writer sweeps the debris (own-pid-dead check only;
        see the sweep comment below). Concurrency: single-writer, lock-
        enforced (``_mor_writer_lock``)."""
        meta = self._mor_meta(name)
        keys = meta["keys"]
        if classes is not None:
            if meta.get("policy") is None:
                raise ValueError(
                    f"mor_upsert({name!r}): per-statement classes require a "
                    "policy table (latest-wins deltas replace rows wholesale)"
                )
            good = set(_CLASSES)
            if set(classes) - good:
                raise ValueError(f"unknown class(es): {sorted(set(classes) - good)}")
            named = [c for k in good for c in classes.get(k, ())]
            if len(named) != len(set(named)):
                raise ValueError("a column may appear in only one class")
            missing = set(named) - set(df.columns)
            if missing:
                raise ValueError(f"classes name columns absent from the batch: {sorted(missing)}")
            if set(named) & set(keys):
                raise ValueError("key columns cannot be classified")
        seq = (self.mor_deltas(name) or [0])[-1] + 1
        final = self._mor_dir(name, "delta", str(seq))
        # pid-stamped tmp: defense-in-depth under the writer lock — even a
        # writer that bypasses the lock (older code, operator error) can't
        # have its in-flight dir swept, because the sweep only removes tmp
        # dirs whose stamped owner process is DEAD (plus pre-r11 unstamped
        # ones, which no live writer can own under this code).
        tmp = f"{final}.tmp.{os.getpid()}"
        import glob as _glob
        import shutil

        for stale in _glob.glob(self._mor_dir(name, "delta", "*.tmp*")):
            suffix = stale.rsplit(".tmp", 1)[1]
            pid = int(suffix[1:]) if suffix.startswith(".") and suffix[1:].isdigit() else None
            if pid is not None and pid != os.getpid():
                try:
                    os.kill(pid, 0)  # signal 0: existence probe only
                    continue  # owner alive — never sweep a live writer
                except ProcessLookupError:
                    pass
                except PermissionError:
                    continue  # exists under another uid — leave it
            shutil.rmtree(stale, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp)
        # check the LANDED files, not df's lineage: one cheap key-column
        # scan (column pruning) instead of recomputing an arbitrary plan.
        # Distinct over a STRUCT of the keys: the struct is non-null even
        # when a key field is null, so null-keyed rows count too.
        landed = self.spark.read.parquet(tmp)
        null_key = None
        for k in keys:
            c = F.col(k).isNull()
            null_key = c if null_key is None else (null_key | c)
        checks = landed.agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.count(F.lit(1))
                - F.count_distinct(F.struct(*[F.col(k) for k in keys]))
            ).alias("d"),
            F.count(F.when(null_key, 1)).alias("nk"),
        ).collect()[0]
        if not checks["n"]:  # an empty statement must not grow the chain
            shutil.rmtree(tmp, ignore_errors=True)
            return 0
        if checks["d"] or checks["nk"]:
            shutil.rmtree(tmp, ignore_errors=True)
            if checks["nk"]:
                # the reference's conflict target is a PRIMARY KEY — null
                # keys can't exist there, and the fold would group them
                # while a sequential COW chain inserts one row per batch
                raise ValueError(
                    f"mor_upsert({name!r}): batch has {checks['nk']} "
                    "null-keyed row(s); delta statements require non-null keys"
                )
            raise ValueError(
                f"mor_upsert({name!r}): batch has {checks['d']} duplicate key "
                "row(s); a delta is a statement (at most one row per key per batch)"
            )
        if classes is not None:
            import json

            with open(os.path.join(tmp, "_CLASSES.json"), "w") as f:
                json.dump({k: sorted(v) for k, v in classes.items() if v}, f)
        os.rename(tmp, final)
        return seq

    def mor_read(self, name: str) -> DataFrame:
        """Merged view over base + delta stack.

        Latest-wins tables (no policy): newer deltas beat older beat base;
        a tombstone suppresses the key. The per-key window runs over DELTA
        rows only (≪ base); the base is filtered by a left-anti join on
        the delta key set — broadcast-able whenever deltas are batch-sized.

        Policy tables: the delta stack folds into one equivalent updates
        frame (``fold_upsert_batches`` — the COALESCE-merge is
        associative, so one window over the delta rows replaces a
        per-delta join chain), then merges onto the base through
        ``merge_upsert_onto`` — the broadcast-shaped twin of the COW
        path's ``merge_upsert``, so the read is bit-identical to having
        applied each batch as a COW merge, without ever shuffling the
        base.

        Mixed statements: when any delta carries a per-statement class
        override (``mor_upsert(classes=...)``) or a partial column set,
        the read dispatches to ``fold_upsert_statements`` /
        ``merge_statements_onto`` — still one window pass over the delta
        rows and one broadcast-shaped base merge, but with the
        (column, statement)-level class resolution the enricher's keyed
        UPDATE needs against the normalize policy."""
        meta = self._mor_meta(name)
        base = self._mor_read_base(name, meta)
        if meta.get("buckets"):
            # the partition column is a layout detail, not table schema
            base = base.select(*self._mor_base_info(name, meta)["columns"])
        seqs = self.mor_deltas(name)
        if not seqs:
            return base
        # Per-run merged-view memo (guide §5, VERDICT r11 #4): a composed
        # DAG run reads the same merged view from several stages (marts,
        # rank, dq, report, publish all read fact_jobs), and every ACTION
        # on a fresh merged plan re-runs the full base scan + delta fold —
        # measured ~5× read amplification per DAG run (SCALING.md r11).
        # The memo key is exact: the delta-seq tuple changes on every
        # upsert, the base stamp on every swap/compaction, so a hit can
        # only serve a view bit-identical to a fresh fold. The value is a
        # LAZY localCheckpoint: first consumer materializes, later ones
        # read the blocks. Intra-TableStore only (runner builds one store
        # per run) — nothing persists across runs. At cluster scale the
        # same seam is a durable checkpoint / persist(DISK) decision.
        try:
            base_stamp = os.stat(self._mor_dir(name, "base")).st_mtime_ns
        except OSError:
            return self._mor_apply_deltas(name, meta, base, seqs)
        key = (name, tuple(seqs), base_stamp)
        hit = self._merged_memo.get(key)
        if hit is not None:
            return hit
        # evict superseded entries for this table (older seq/base states
        # can never hit again; dropping the ref lets ContextCleaner free
        # any materialized checkpoint blocks)
        for stale in [k for k in self._merged_memo if k[0] == name]:
            del self._merged_memo[stale]
        merged = self._mor_apply_deltas(name, meta, base, seqs).localCheckpoint(
            eager=False
        )
        self._merged_memo[key] = merged
        return merged

    def _mor_apply_deltas(
        self, name: str, meta: dict, base: DataFrame, seqs: list[int]
    ) -> DataFrame:
        """Resolve the delta stack against ``base`` (the full base for
        reads; a bucket-filtered base for partition-scoped compaction —
        valid because every delta key hashes into the touched buckets)."""
        import json

        keys = meta["keys"]
        policy = meta.get("policy")
        deltas = None
        carried: dict[int, list[str]] = {}  # seq -> data columns the statement carries
        overrides: dict[int, dict] = {}  # seq -> per-statement class overrides
        for s in seqs:
            d = self.spark.read.parquet(self._mor_dir(name, "delta", str(s)))
            carried[s] = [c for c in d.columns if c not in keys and c != "_deleted"]
            side = self._mor_dir(name, "delta", str(s), "_CLASSES.json")
            if os.path.exists(side):
                with open(side) as f:
                    overrides[s] = json.load(f)
            if "_deleted" not in d.columns:
                d = d.withColumn("_deleted", F.lit(False))
            d = d.withColumn("_seq", F.lit(s))
            deltas = d if deltas is None else deltas.unionByName(
                d, allowMissingColumns=True
            )
        if policy is not None:
            from job_etl_spark.operators.merge import (
                fold_upsert_batches,
                fold_upsert_statements,
                merge_statements_onto,
                merge_upsert_onto,
            )

            base_data_cols = [c for c in base.columns if c not in keys]
            uniform = not overrides and all(
                set(cs) == set(base_data_cols) for cs in carried.values()
            )
            if not uniform:
                # mixed statements (per-statement classes and/or partial
                # column sets — e.g. enricher deltas interleaved with
                # normalize deltas): the generalized one-pass fold
                def _cls(c: str, s: int) -> str:
                    ov = overrides.get(s, {})
                    for k in _CLASSES:
                        if c in ov.get(k, ()):
                            return k
                    for k in _CLASSES:
                        if c in policy.get(k, ()):
                            return k
                    return "keep_first"  # the unclassified default

                column_classes = {
                    c: {s: _cls(c, s) for s in seqs if c in carried[s]}
                    for c in base_data_cols
                    if any(c in carried[s] for s in seqs)
                }
                framed, reset = fold_upsert_statements(deltas, keys, column_classes)
                survivors = base.join(F.broadcast(reset), list(keys), "left_anti")
                return merge_statements_onto(survivors, framed, keys)

            # anti-join on RESET keys (any tombstone in the stack), not just
            # latest-tombstone keys: a delete-then-revive must insert fresh
            # from the folded frame, never coalesce pre-delete base values
            # into the revived row (the sequential-COW contract).
            folded, reset = fold_upsert_batches(
                deltas, keys, policy["overwrite"], policy["coalesce"]
            )
            survivors = base.join(F.broadcast(reset), list(keys), "left_anti")
            return merge_upsert_onto(
                survivors,
                folded,
                keys,
                overwrite_cols=policy["overwrite"],
                coalesce_cols=policy["coalesce"],
                keep_first_cols=policy["keep_first"],
            )
        w = Window.partitionBy(*keys).orderBy(F.desc("_seq"))
        latest = (
            deltas.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_seq")
        )
        live = latest.where(~F.col("_deleted")).drop("_deleted")
        delta_keys = latest.select(*keys)
        survivors = base.join(F.broadcast(delta_keys), list(keys), "left_anti")
        return survivors.unionByName(live)

    def _mor_swap_base(self, name: str, tmp: str) -> None:
        """Promote a fully-written replacement base and clear the delta
        stack (the replacement was computed FROM the merged view, so the
        deltas are now folded in). Same rename-rename crash contract as
        ``_swap_in``."""
        import shutil

        old = self._mor_dir(name, "base._old")
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(self._mor_dir(name, "base"), old)
        os.rename(tmp, self._mor_dir(name, "base"))
        for s in self.mor_deltas(name):
            shutil.rmtree(self._mor_dir(name, "delta", str(s)), ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        self.spark.catalog.refreshByPath(self._mor_dir(name, "base"))

    def _mor_update_columns(self, name: str, df: DataFrame) -> None:
        """Record a base schema change (a stage-level rewrite may add or
        drop columns); atomic pointer-style _META replace."""
        import json

        meta = self._mor_meta(name)
        schema_json = df.schema.json()
        if meta.get("columns") == list(df.columns) and meta.get("schema") == schema_json:
            return
        meta["columns"] = list(df.columns)
        meta["schema"] = schema_json
        tmp = self._mor_dir(name, "_META.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._mor_dir(name, "_META"))

    def _mor_read_base(self, name: str, meta: dict) -> DataFrame:
        """Base scan under the table's layout. The explicit schema is
        authoritative when present (the in-base ``_SCHEMA.json`` sidecar,
        falling back to _META for pre-sidecar tables): an EMPTY bucketed
        base has no parquet footer to infer from (partitionBy writes no
        files for zero rows), and explicit schemas skip footer inference
        everywhere else. The ``_bucket`` partition column is appended for
        bucketed layouts so compaction can prune on it; plain reads
        select it away."""
        import json as _json

        from pyspark.sql.types import LongType, StructField, StructType

        if meta.get("buckets"):
            self._mor_repair_buckets(name)
        schema_json = self._mor_base_info(name, meta).get("schema")
        if schema_json is None:  # pre-r10 table: infer as before
            return self.spark.read.parquet(self._mor_dir(name, "base"))
        st = StructType.fromJson(_json.loads(schema_json))
        if meta.get("buckets"):
            st = StructType(st.fields + [StructField("_bucket", LongType())])
        return self.spark.read.schema(st).parquet(self._mor_dir(name, "base"))

    def mor_compact(self, name: str) -> int:
        """Single-writer-locked entry point for ``_mor_compact_locked``
        (the concurrency contract lives on ``_mor_writer_lock``)."""
        with self._mor_writer_lock(name):
            return self._mor_compact_locked(name)

    def _mor_compact_locked(self, name: str) -> int:
        """Fold the delta stack into the base; returns the number of
        deltas folded. Readers before the swap see the old base+deltas,
        after it the new base — both are the same merged view.

        Flat tables rewrite the whole base (temp-dir + atomic swap, same
        crash contract as rewrite()). BUCKETED tables rewrite ONLY the
        buckets the delta keys hash into — at 100 TB an amortized full
        rewrite is the dominant write cost, while touched buckets track
        the delta key set, not the table. The per-bucket swap is
        rename-away → rename-in with dot-prefixed backups; a crash at any
        point is repaired by ``_mor_repair_buckets`` (run before every
        read), and because each delta is a merge STATEMENT the fold is
        idempotent over its own result — re-applying the surviving deltas
        to an already-compacted bucket reproduces the same rows.

        Concurrency contract (matches the enrich-stage ordering comment
        for the flat path): compaction is CRASH-safe but not concurrent-
        READER-safe — between a bucket's rename-away and rename-in a plan
        built at that instant sees the bucket missing, and the delta dirs
        are removed while a plan built before the compaction may still
        list them. Run compaction only from the single writer, ordered
        strictly after any same-process reads have executed (the DAG's
        stage ordering guarantees this; ad-hoc readers must not overlap a
        compaction). Cross-process mutual exclusion of WRITERS is
        enforced by ``_mor_writer_lock``; reader fencing at 100 TB is the
        snapshot-isolation seam a Delta/Iceberg commit log would fill."""
        seqs = self.mor_deltas(name)
        if not seqs:
            return 0
        meta = self._mor_meta(name)
        if not meta.get("buckets"):
            merged = self.mor_read(name)
            tmp = self._mor_dir(name, "base._tmp")
            merged.write.mode("overwrite").parquet(tmp)
            self.spark.catalog.refreshByPath(tmp)
            self._mor_swap_base(name, tmp)
            return len(seqs)

        import shutil

        self._mor_repair_buckets(name)
        keys = meta["keys"]
        # touched buckets = hash of every delta key (tombstones included);
        # the collect is bounded by the bucket count, never by data size
        dk = None
        for s in seqs:
            d = self.spark.read.parquet(self._mor_dir(name, "delta", str(s))).select(*keys)
            dk = d if dk is None else dk.unionByName(d)
        touched = sorted(
            r["b"]
            for r in dk.select(self._mor_bucket_expr(meta).alias("b"))
            .distinct()
            .collect()
        )
        # merged view restricted to the touched buckets: every delta key
        # hashes into one of them, so the full delta stack applies cleanly
        # to the filtered base and untouched buckets need no work at all
        base = self._mor_read_base(name, meta)
        base = base.where(F.col("_bucket").isin([int(b) for b in touched])).select(
            *self._mor_base_info(name, meta)["columns"]
        )
        merged = self._mor_apply_deltas(name, meta, base, seqs)
        tmp = self._mor_dir(name, "base._tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        (
            merged.withColumn("_bucket", self._mor_bucket_expr(meta))
            .repartition(max(len(touched), 1), F.col("_bucket"))
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(tmp)
        )
        for b in touched:
            live = self._mor_dir(name, "base", f"_bucket={b}")
            old = self._mor_dir(name, "base", f"._old_bucket={b}")
            new = os.path.join(tmp, f"_bucket={b}")
            shutil.rmtree(old, ignore_errors=True)
            if os.path.exists(live):
                os.rename(live, old)
            if os.path.exists(new):  # a bucket whose rows all died has no dir
                os.rename(new, live)
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        for s in seqs:
            shutil.rmtree(self._mor_dir(name, "delta", str(s)), ignore_errors=True)
        self.spark.catalog.refreshByPath(self._mor_dir(name, "base"))
        return len(seqs)
