"""WaveStore — snapshot-committed parquet tables (Iceberg-style ACID).

The north rule requires Iceberg tables with snapshot-isolated resume;
the Iceberg Spark runtime jar is not available in this sandbox (no
network), so this module provides the same *semantics* on plain
parquet: every wave commits atomically via a manifest-file rename, a
reader only ever sees fully committed waves, and a killed job resumes
from the last committed snapshot with an identical table state.  On a
real cluster each call maps 1:1 onto Iceberg:

    commit_wave(appends)   -> df.writeTo(tbl).append() in one txn
    commit_wave(replaces)  -> df.writeTo(tbl).overwritePartitions()
    read(tbl)              -> spark.table(tbl)
    last_wave()            -> snapshot summary property

Layout:
    root/
      data/<table>/w<wave>-<nonce>/part-*.parquet   (append tables)
      data/<table>/w<wave>-<nonce>/...              (replace tables: latest dir only)
      snapshots/v<N>.json    — cumulative manifest {table: [dirs]}
      snapshots/CURRENT      — atomic pointer (os.replace) to v<N>.json

Data directories not referenced by CURRENT's manifest are invisible —
that is exactly snapshot isolation for a mid-wave crash.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class ConcurrentCommitError(RuntimeError):
    """A commit published a new snapshot while a maintenance rewrite
    (compact) was in flight; the rewrite was discarded — retry against
    the new snapshot."""


class WaveStore:
    def __init__(self, spark: SparkSession, root: str, schemas: dict[str, T.StructType],
                 replace_tables: frozenset[str] = frozenset()):
        self.spark = spark
        self.root = root
        self.schemas = schemas
        self.replace_tables = replace_tables
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # ----------------------------------------------------------- snapshot io

    def _current_path(self) -> str:
        return os.path.join(self.root, "snapshots", "CURRENT")

    def _load_snapshot(self) -> dict:
        cur = self._current_path()
        if not os.path.exists(cur):
            return {"version": 0, "wave": -1, "tables": {}}
        with open(cur) as fh:
            pointer = fh.read().strip()
        with open(os.path.join(self.root, "snapshots", pointer)) as fh:
            return json.load(fh)

    def last_wave(self) -> int:
        return self._load_snapshot()["wave"]

    # --------------------------------------------------------------- commit

    def commit_wave(self, wave: int, appends: dict[str, DataFrame] | None = None,
                    replaces: dict[str, DataFrame] | None = None,
                    adopt: dict[str, str] | None = None) -> None:
        """Write all tables' data, then publish ONE manifest atomically.

        ``adopt`` maps table → an already-written parquet directory
        (a scratch spool) that becomes an append by rename — zero-copy
        commit of data the wave already materialized.  Writes run first
        so any plan that still reads a to-be-adopted spool executes
        before the directory moves.  Tables the call does not name
        keep their committed dirs, including tables no current schema
        lists (a legacy store's ``bloom`` or ``seenx``): they are
        carried forward unread.
        """
        snap = self._load_snapshot()
        tables = {k: list(v) for k, v in snap["tables"].items()}

        for name, df in (appends or {}).items():
            rel = self._dispatch_write(name, df, wave)
            if rel is not None:
                tables.setdefault(name, []).append(rel)
        for name, df in (replaces or {}).items():
            rel = self._dispatch_write(name, df, wave)
            tables[name] = [rel] if rel is not None else []
        for name, src in (adopt or {}).items():
            rel = os.path.join("data", name, f"w{wave:05d}-{uuid.uuid4().hex[:8]}")
            dst = os.path.join(self.root, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
            tables.setdefault(name, []).append(rel)

        self._publish(tables, wave, snap["version"])

    def _write(self, name: str, df: DataFrame, wave: int) -> str | None:
        if df is None:
            return None
        rel = os.path.join("data", name, f"w{wave:05d}-{uuid.uuid4().hex[:8]}")
        # write at the plan's own parallelism — coalescing here would cap
        # the write of large appends (offers/seen) at a handful of tasks;
        # AQE already right-sizes post-shuffle partition counts
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        return rel

    def _dispatch_write(self, name: str, df, wave: int) -> str | None:
        """A table value is either a DataFrame (executor-scale data —
        written by Spark at the plan's parallelism) or ``(rows,
        spark_schema)`` with plain Python rows (driver-BUILT tables:
        metrics, lineage, stopped — all O(hosts) rows the driver
        aggregated anyway).  The latter are written driver-side with
        pyarrow: a tiny Spark write job costs
        ~300 ms of scheduling for a 5-row table, the local file ~1 ms —
        per wave, per table, that overhead is what caps small-wave
        scaling.  The read path is identical: ``read()`` applies the
        same explicit schema to every referenced directory."""
        if isinstance(df, tuple):
            rows, schema = df
            return self._write_local(name, rows, schema, wave)
        return self._write(name, df, wave)

    _PA_TYPES = {"string": "string", "bigint": "int64", "double": "float64",
                 "boolean": "bool_", "binary": "binary"}

    def _write_local(self, name: str, rows, schema: T.StructType, wave: int) -> str | None:
        if not rows:
            return None
        import pyarrow as pa
        import pyarrow.parquet as pq

        names = [f.name for f in schema.fields]
        if isinstance(rows[0], dict):
            cols = {n: [r.get(n) for r in rows] for n in names}
        else:
            cols = {n: [r[i] for r in rows] for i, n in enumerate(names)}
        arrays = [
            pa.array(cols[f.name], type=getattr(pa, self._PA_TYPES[f.dataType.simpleString()])())
            for f in schema.fields
        ]
        rel = os.path.join("data", name, f"w{wave:05d}-{uuid.uuid4().hex[:8]}")
        absdir = os.path.join(self.root, rel)
        os.makedirs(absdir, exist_ok=True)
        pq.write_table(pa.Table.from_arrays(arrays, names=names),
                       os.path.join(absdir, "part-00000.parquet"))
        return rel

    # ---------------------------------------------------------- maintenance

    def compact(self, name: str, target_file_bytes: int = 128 << 20,
                on_before_publish=None) -> dict:
        """Rewrite an append table's accumulated per-wave files into
        right-sized ones and swap the manifest atomically — the
        ``rewrite_data_files`` + snapshot-swap maintenance Iceberg runs
        on long-lived tables.  A wave-per-commit crawl writes O(waves ×
        partitions) small files; at 10^10 URLs that is the classic
        small-file problem (every read pays per-file open/footer cost),
        and compaction restores scan efficiency without touching
        semantics: readers of the OLD snapshot keep working because the
        old directories stay on disk until ``vacuum()``.

        Optimistic concurrency (Iceberg's model): the base snapshot
        version is captured before the rewrite; if any commit lands
        before publish, the rewrite is discarded and
        ``ConcurrentCommitError`` raised — data written by the loser is
        unreferenced, never half-visible.  ``on_before_publish`` is a
        test seam for injecting a concurrent commit at the worst
        moment.

        Returns {files_before, files_after, bytes, compacted}.
        """
        snap = self._load_snapshot()
        dirs = snap["tables"].get(name, [])
        paths = [os.path.join(self.root, d) for d in dirs]
        files = [os.path.join(p, f) for p in paths
                 for f in os.listdir(p) if f.endswith(".parquet")]
        if len(files) <= 1:
            return {"files_before": len(files), "files_after": len(files),
                    "bytes": 0, "compacted": False}
        total = sum(os.path.getsize(f) for f in files)
        n_out = max(1, -(-total // target_file_bytes))
        df = self.spark.read.schema(self.schemas[name]).parquet(*paths)
        rel = os.path.join("data", name,
                           f"c{snap['version']:05d}-{uuid.uuid4().hex[:8]}")
        absdir = os.path.join(self.root, rel)
        df.repartition(int(n_out)).write.mode("overwrite").parquet(absdir)
        self._publish_rewrite(name, snap, rel, absdir, "compaction",
                              on_before_publish)
        files_after = len([f for f in os.listdir(absdir)
                           if f.endswith(".parquet")])
        return {"files_before": len(files), "files_after": files_after,
                "bytes": int(total), "compacted": True}

    def _publish_rewrite(self, name: str, snap: dict, rel: str,
                         absdir: str, action: str,
                         on_before_publish=None) -> None:
        """Optimistic-concurrency publish of a table rewrite (shared by
        compact and merge): if any commit landed since ``snap`` was
        captured, discard the rewrite's files and raise — nothing is
        ever half-visible."""
        if on_before_publish is not None:
            on_before_publish()
        latest = self._load_snapshot()
        if latest["version"] != snap["version"]:
            import shutil

            shutil.rmtree(absdir, ignore_errors=True)
            raise ConcurrentCommitError(
                f"snapshot advanced {snap['version']}→{latest['version']} "
                f"during {action} of {name!r}; rewrite discarded")
        tables = {k: list(v) for k, v in snap["tables"].items()}
        tables[name] = [rel]
        self._publish(tables, snap["wave"], snap["version"])

    def merge(self, name: str, updates: DataFrame, key_cols: list[str],
              on_before_publish=None) -> dict:
        """MERGE INTO (upsert, copy-on-write): rows of ``updates``
        REPLACE current rows sharing their key; unmatched keys insert.
        The Iceberg mapping is ``MERGE INTO t USING u ON <keys> WHEN
        MATCHED THEN UPDATE * WHEN NOT MATCHED THEN INSERT *``.

        Plan shape: ONE anti-join of the current table against the
        update keys, union with the updates, rewrite, atomic manifest
        swap.  This sandbox twin's copy-on-write granularity is the
        whole table; real Iceberg prunes the rewrite to files whose
        key ranges overlap the update keys — same semantics, and the
        anti-join is the identical Spark plan either way.  Readers of
        the old snapshot keep working (old dirs stay until vacuum);
        optimistic concurrency identical to ``compact()``: a commit
        landing mid-rewrite discards the loser's files and raises
        ``ConcurrentCommitError``.

        Returns {rows_before, rows_updates, rows_matched, rows_after}.
        """
        snap = self._load_snapshot()
        dirs = snap["tables"].get(name, [])
        schema = self.schemas[name]
        upd = updates.select([f.name for f in schema.fields])
        if dirs:
            paths = [os.path.join(self.root, d) for d in dirs]
            cur = self.spark.read.schema(schema).parquet(*paths)
        else:
            cur = self.spark.createDataFrame([], schema)
        keys = upd.select(*key_cols).distinct()
        # Iceberg's cardinality rule: more than one source row per key
        # is an error ("multiple source rows matched"), never a silent
        # duplicate-key table.  Checked before any write.
        rows_updates = upd.count()
        if keys.count() != rows_updates:
            raise ValueError(
                f"merge into {name!r}: updates contain duplicate "
                f"{key_cols} keys (MERGE requires one source row per key)")
        rows_before = cur.count()
        merged = cur.join(keys, key_cols, "left_anti").unionByName(upd)
        rel = os.path.join("data", name,
                           f"m{snap['version']:05d}-{uuid.uuid4().hex[:8]}")
        absdir = os.path.join(self.root, rel)
        merged.write.mode("overwrite").parquet(absdir)
        # stats from the rewrite's own files (race-free: never CURRENT,
        # which a concurrent committer may have advanced by now)
        rows_after = self.spark.read.schema(schema).parquet(absdir).count()
        self._publish_rewrite(name, snap, rel, absdir, "merge",
                              on_before_publish)
        return {"rows_before": rows_before, "rows_updates": rows_updates,
                "rows_matched": rows_before + rows_updates - rows_after,
                "rows_after": rows_after}

    def vacuum(self) -> dict:
        """Delete data directories not referenced by the CURRENT
        manifest and expire superseded snapshot files (Iceberg's
        ``expire_snapshots`` + ``remove_orphan_files``).  Time travel
        to pre-vacuum snapshots is gone afterwards — run it only once
        no reader can hold a stale snapshot (the engine runs it
        between waves, where the driver is the only committer)."""
        import shutil

        snap = self._load_snapshot()
        referenced = {d for dirs in snap["tables"].values() for d in dirs}
        removed = 0
        data_root = os.path.join(self.root, "data")
        for table in os.listdir(data_root):
            tdir = os.path.join(data_root, table)
            for d in os.listdir(tdir):
                rel = os.path.join("data", table, d)
                if rel not in referenced:
                    shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
                    removed += 1
        expired = 0
        snap_root = os.path.join(self.root, "snapshots")
        keep = f"v{snap['version']}.json"
        for f in os.listdir(snap_root):
            if f.startswith("v") and f.endswith(".json") and f != keep:
                os.remove(os.path.join(snap_root, f))
                expired += 1
        return {"dirs_removed": removed, "snapshots_expired": expired}

    def _publish(self, tables: dict, wave: int, base_version: int) -> None:
        version = base_version + 1
        manifest = {"version": version, "wave": wave, "tables": tables}
        fname = f"v{version}.json"
        path = os.path.join(self.root, "snapshots", fname)
        with open(path, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        tmp = self._current_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(fname)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._current_path())  # the atomic commit point

    # ----------------------------------------------------------------- read

    def read(self, name: str) -> DataFrame:
        snap = self._load_snapshot()
        return self._read_manifest(name, snap)

    def table_paths(self, name: str) -> list[str]:
        """Absolute data directories of the CURRENT snapshot for one
        table — for readers that bypass Spark (e.g. a memmap probe of
        a legacy store's sorted-run files)."""
        snap = self._load_snapshot()
        return [os.path.join(self.root, d)
                for d in snap["tables"].get(name, [])]

    def _read_manifest(self, name: str, manifest: dict) -> DataFrame:
        dirs = manifest["tables"].get(name, [])
        schema = self.schemas[name]
        if not dirs:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.root, d) for d in dirs]
        return self.spark.read.schema(schema).parquet(*paths)

    # ------------------------------------------- time travel / changelog

    def _load_version(self, version: int) -> dict:
        path = os.path.join(self.root, "snapshots", f"v{version}.json")
        if not os.path.exists(path):
            raise ValueError(
                f"snapshot v{version} does not exist (never published, "
                "or expired by vacuum)")
        with open(path) as fh:
            return json.load(fh)

    def versions(self) -> list[tuple[int, int]]:
        """All retained snapshots as ascending ``(version, wave)`` pairs
        — the Iceberg snapshot-log equivalent.  Vacuum-expired versions
        are absent."""
        snapdir = os.path.join(self.root, "snapshots")
        out = []
        for f in os.listdir(snapdir):
            if f.startswith("v") and f.endswith(".json"):
                with open(os.path.join(snapdir, f)) as fh:
                    m = json.load(fh)
                out.append((m["version"], m["wave"]))
        return sorted(out)

    def read_as_of(self, name: str, version: int) -> DataFrame:
        """Time travel: the table exactly as snapshot ``version`` saw it
        (Iceberg ``VERSION AS OF``).  Reads only that manifest's data
        directories — old files are immutable, so this is free."""
        return self._read_manifest(name, self._load_version(version))

    def changelog(self, name: str, from_version: int,
                  to_version: int) -> DataFrame:
        """Rows APPENDED between two snapshots (Iceberg incremental
        read).  Pure manifest diff: scans ONLY the data directories
        committed after ``from_version`` — cost proportional to the new
        data, never to table size, which is what lets a downstream
        consumer (trainer, indexer, metrics tail) tail a 100 TB crawl
        table per-wave without rescans.

        Refuses replace-mode tables (their delta is not append-only)
        and any range a compaction rewrote (the old directories are no
        longer a subset of the new manifest — same condition under
        which Iceberg's append-only incremental scan errors)."""
        if name in self.replace_tables:
            raise ValueError(
                f"table '{name}' uses replace commits; its snapshot "
                "delta is not an append changelog")
        old = self._load_version(from_version)["tables"].get(name, [])
        new = self._load_version(to_version)["tables"].get(name, [])
        if not set(old) <= set(new):
            raise ValueError(
                f"snapshots v{from_version}..v{to_version} of '{name}' "
                "span a compaction rewrite; the appended-rows changelog "
                "is not expressible as a file diff")
        appended = [d for d in new if d not in set(old)]
        schema = self.schemas[name]
        if not appended:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.root, d) for d in appended]
        return self.spark.read.schema(schema).parquet(*paths)
