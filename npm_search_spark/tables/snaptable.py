"""SnapTable — a minimal snapshot-versioned table format on parquet.

Stands in for Iceberg (no Iceberg runtime jar in this environment) with the
same semantics the engine needs, per the north rule: atomic snapshot
commits, snapshot-id time travel, append / overwrite / merge-upsert /
merge-delete, per-file column statistics for scan pruning, and per-snapshot
metadata carrying crawl lineage + metrics (generation, per-partition
counts).

Layout on disk::

    <root>/
      data/<uuid>/part-*.parquet     immutable data files (write-once)
      manifests/<snapshot_id>.json   file list + stats + parent + op + meta
      _current                       atomic pointer (os.replace) to manifest

A snapshot's manifest lists the parquet files visible in that snapshot, so
*append* is O(new data): it writes only new files and a manifest whose file
list is parent_files + new_files. *merge* is copy-on-write at file
granularity: only files that may contain a matching key are rewritten,
everything else is carried into the new snapshot untouched — merge cost is
O(affected files + batch), not O(table). Readers load
``spark.read.parquet(*files)`` — pushdown/pruning work as usual because
these are plain parquet files.

Merge cost model. A merge finds its affected files one of two ways:

- *provenance* (Iceberg's ``_file`` metadata column): the source rows were
  read with ``read_with_files`` and the caller passes the snapshot id they
  were read at. If that is still the current snapshot, the affected files
  are exactly the files those rows came from — given by the caller (who
  usually learns them from an action it runs anyway) or collected from the
  pinned source's ``_file`` column. No stats aggregate, no key scan: the
  merge runs only the jobs of its write.
- *detection* (a source not read from this table, or the table moved since
  the read): one ``first()`` over the source's stats-column bounds prunes
  candidates by manifest stats, then one ``collect()`` semi-joins the
  candidates' key columns against the broadcast source keys. Each source
  is pinned once, so detection and the write never re-derive it.

Either way the write rewrites the affected files only.

Per-file statistics (Iceberg-manifest style): when ``stats_cols`` is set,
every write records min/max per file for those columns in the manifest.
``files_matching`` then prunes scans driver-side with zero I/O — the
mechanism behind the seen-set's sub-linear exact check and the frontier's
bounded-merge commits.

Concurrency model: single-writer (the crawl driver), many readers — the
same model the reference uses for its Algolia state (one process owns the
index, src/StateManager.ts:45-69). Commit = write manifest + os.replace of
the _current pointer, so a crashed writer never leaves a half-visible
snapshot and resume always sees the last complete snapshot (exactly-once
resume, SURVEY.md §7 hard-part 4).
"""

from __future__ import annotations

import bisect
import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str
    files: list[str]
    meta: dict[str, Any]
    timestamp_ms: int
    # path -> {col: [min, max]} for stats_cols; may be missing for files
    # written before stats were enabled (treated as always-matching)
    file_stats: dict[str, dict[str, list]] = field(default_factory=dict)


def _local_path(uri: str) -> str:
    return unquote(urlparse(uri).path)


# the column ``read_with_files`` adds: the data file a row was read from,
# as the URI Spark reports (``source_files`` normalises it to a path)
FILE_COL = "_file"


def source_files(uris) -> list[str]:
    """The local data-file paths of ``FILE_COL`` values collected to the
    driver, deduplicated and sorted."""
    return sorted({_local_path(u) for u in uris if u})


class Pin:
    """Upserts built and materialised inside the MERGE's own commit: the
    first ``get()`` calls ``build`` and checkpoints the DataFrame it
    returns; every later ``get()`` reads the checkpoint. The plan
    therefore runs in the MERGE's SQL executions (the crawl's packages
    upsert: formatPkg's Arrow pass and the hop bodies that read it)."""

    def __init__(self, build: Callable[[], DataFrame]):
        self._build = build
        self._rows: DataFrame | None = None

    def get(self) -> DataFrame:
        if self._rows is None:
            self._rows = self._build().localCheckpoint(eager=True)
        return self._rows


def _drop_file_col(df: DataFrame | None) -> DataFrame | None:
    return None if df is None else df.drop(FILE_COL)


class SnapTable:
    def __init__(
        self,
        root: str,
        schema: T.StructType | None = None,
        stats_cols: list[str] | None = None,
        cluster_by: list[str] | None = None,
    ):
        self.root = root
        self.schema = schema
        self.stats_cols = list(stats_cols or [])
        # range-cluster every write by these columns: each data file then
        # covers a narrow value range, which is what makes the manifest
        # stats (and parquet row-group stats) actually prune
        self.cluster_by = list(cluster_by or [])
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)

    # -- snapshot plumbing --------------------------------------------------

    def _current_path(self) -> str:
        return os.path.join(self.root, "_current")

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self._current_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot | None:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            return None
        with open(os.path.join(self.root, "manifests", f"{sid}.json")) as f:
            d = json.load(f)
        d.setdefault("file_stats", {})
        return Snapshot(**d)

    def history(self) -> list[Snapshot]:
        """Current snapshot's ancestor chain, oldest first. Stops at the
        expiration horizon: a parent whose manifest was removed by
        expire_snapshots ends the walk (same as Iceberg history)."""
        out: list[Snapshot] = []
        snap = self.snapshot()
        while snap is not None:
            out.append(snap)
            if snap.parent_id is None:
                break
            try:
                snap = self.snapshot(snap.parent_id)
            except FileNotFoundError:
                break
        return list(reversed(out))

    def _commit(
        self,
        operation: str,
        files: list[str],
        meta: dict[str, Any],
        file_stats: dict[str, dict[str, list]] | None = None,
    ) -> int:
        parent = self.current_snapshot_id()
        sid = (parent or 0) + 1
        manifest = Snapshot(
            snapshot_id=sid,
            parent_id=parent,
            operation=operation,
            files=files,
            meta=meta,
            timestamp_ms=int(time.time() * 1000),
            file_stats=file_stats or {},
        )
        mpath = os.path.join(self.root, "manifests", f"{sid}.json")
        with open(mpath, "w") as f:
            json.dump(manifest.__dict__, f)
        tmp = self._current_path() + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(sid))
        os.replace(tmp, self._current_path())  # atomic commit point
        return sid

    def _conform(self, df: DataFrame) -> DataFrame:
        """Cast every column to the declared table schema before writing.

        Without this, two snapshots of one table can carry different physical
        parquet types for the same column (e.g. int vs long from a literal),
        and ``spark.read.parquet(*files)`` over a mixed-file snapshot fails
        with ConvertNotSupportedException depending on which file the reader
        samples first — the schema is the contract, every file must match it.
        """
        if self.schema is None:
            return df
        declared = [f.name for f in self.schema.fields]
        missing = set(declared) - set(df.columns)
        if missing:
            raise ValueError(
                f"write to {self.root} is missing columns {sorted(missing)}"
            )
        return df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in self.schema.fields]
        )

    def _write_files(
        self, df: DataFrame
    ) -> tuple[list[str], dict[str, dict[str, list]]]:
        d = os.path.join(self.root, "data", uuid.uuid4().hex)
        df = self._conform(df)
        if self.cluster_by:
            cols = [F.col(c) for c in self.cluster_by]
            df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        df.write.mode("errorifexists").parquet(d)
        files = sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )
        cols = [c for c in self.stats_cols if c in df.columns]
        return files, self._footer_stats(files, cols)

    @staticmethod
    def _footer_stats(
        files: list[str], cols: list[str]
    ) -> dict[str, dict[str, list]]:
        """Per-file min/max for ``cols`` straight from the parquet footers —
        driver-local metadata reads, zero Spark jobs (the writer already
        computed row-group statistics). A column whose footer stats are
        missing or unusable is simply omitted for that file, which readers
        treat as always-matching (conservative, never wrong). Oversized
        string values make the writer omit chunk min/max entirely
        (has_min_max false), which lands in the same conservative path."""
        if not cols or not files:
            return {}
        import pyarrow.parquet as pq

        out: dict[str, dict[str, list]] = {}
        for f in files:
            try:
                md = pq.ParquetFile(f).metadata
            except Exception:  # noqa: BLE001 — stats are an optimization only
                continue
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            st: dict[str, list] = {}
            for c in cols:
                i = idx.get(c)
                if i is None:
                    continue
                mn = mx = None
                usable = md.num_row_groups > 0
                for rg in range(md.num_row_groups):
                    s = md.row_group(rg).column(i).statistics
                    if s is None or not s.has_min_max:
                        usable = False
                        break
                    mn = s.min if mn is None else min(mn, s.min)
                    mx = s.max if mx is None else max(mx, s.max)
                if not usable or mn is None:
                    continue
                if isinstance(mn, bytes) or isinstance(mx, bytes):
                    continue  # undecoded binary stats aren't comparable here
                st[c] = [mn, mx]
            if st:
                out[f] = st
        return out

    @staticmethod
    def _carry(snap: Snapshot | None, files: list[str]) -> dict[str, dict[str, list]]:
        if snap is None:
            return {}
        keep = set(files)
        return {f: s for f, s in (snap.file_stats or {}).items() if f in keep}

    # -- reads ---------------------------------------------------------------

    def exists(self) -> bool:
        return self.current_snapshot_id() is not None

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        snap = self.snapshot(snapshot_id)
        if snap is None or not snap.files:
            if self.schema is None:
                raise ValueError(f"empty table {self.root} and no schema given")
            return spark.createDataFrame([], self.schema)
        return spark.read.parquet(*snap.files)

    def read_with_files(
        self, spark: SparkSession, snapshot_id: int | None = None
    ) -> tuple[DataFrame, int | None]:
        """``read`` plus each row's data file in a ``FILE_COL`` column, and
        the snapshot id that was read. Rows derived from this read can go
        back into ``merge_apply(read_at=...)``, which then rewrites exactly
        their files instead of detecting them."""
        snap = self.snapshot(snapshot_id)
        sid = snap.snapshot_id if snap is not None else None
        if snap is None or not snap.files:
            return (
                self.read(spark, snapshot_id).withColumn(
                    FILE_COL, F.lit(None).cast("string")
                ),
                sid,
            )
        df = spark.read.parquet(*snap.files)
        return df.withColumn(FILE_COL, F.col("_metadata.file_path")), sid

    def files_matching(self, col: str, values: list) -> list[str]:
        """Driver-side file pruning by manifest stats: the files whose
        [min, max] range for ``col`` contains at least one of ``values``.
        Files without recorded stats are conservatively included. Zero I/O."""
        snap = self.snapshot()
        if snap is None:
            return []
        vals = sorted(v for v in values if v is not None)
        stats = snap.file_stats or {}
        out = []
        for f in snap.files:
            rng = stats.get(f, {}).get(col)
            if not rng or rng[0] is None or rng[1] is None:
                out.append(f)
                continue
            i = bisect.bisect_left(vals, rng[0])
            if i < len(vals) and vals[i] <= rng[1]:
                out.append(f)
        return out

    # -- writes --------------------------------------------------------------

    def append(self, df: DataFrame, meta: dict[str, Any] | None = None) -> int:
        new_files, new_stats = self._write_files(df)
        parent = self.snapshot()
        files = (parent.files if parent else []) + new_files
        return self._commit(
            "append", files, meta or {}, {**self._carry(parent, files), **new_stats}
        )

    def overwrite(self, df: DataFrame, meta: dict[str, Any] | None = None) -> int:
        files, stats = self._write_files(df)
        return self._commit("overwrite", files, meta or {}, stats)

    def _affected_files(
        self,
        spark: SparkSession,
        snap: Snapshot,
        keys: list[str],
        src_keys: DataFrame,
    ) -> list[str]:
        """Files that may contain a row matching ``src_keys``: manifest-stats
        range pruning first (one tiny agg on the source, zero table I/O),
        then an exact key-column scan over the surviving candidates only
        (column-pruned, no shuffle). Pruning uses EVERY stats column the
        source carries, not just the merge key — e.g. a frontier whose
        files are priority-clustered prunes a scheduled batch (the top
        priorities per host) down to the head files even though the merge
        keys on url. The source itself is never collected to the driver —
        only per-column [min, max]."""
        candidates = snap.files
        prune_cols = [c for c in self.stats_cols if c in src_keys.columns]
        if prune_cols:
            aggs = []
            for c in prune_cols:
                aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
            b = src_keys.agg(*aggs).first()
            stats = snap.file_stats or {}

            def overlaps(f: str) -> bool:
                for c in prune_cols:
                    mn, mx = b[f"_mn_{c}"], b[f"_mx_{c}"]
                    if mn is None or mx is None:
                        continue
                    rng = stats.get(f, {}).get(c)
                    if rng is None or rng[0] is None or rng[1] is None:
                        continue
                    if rng[0] > mx or rng[1] < mn:
                        return False  # disjoint on this column -> no match
                return True

            candidates = [f for f in snap.files if overlaps(f)]
        if not candidates:
            return []
        rows = (
            spark.read.parquet(*candidates)
            .select(*keys)
            .withColumn("_f", F.input_file_name())
            .join(F.broadcast(src_keys), on=keys, how="left_semi")
            .select("_f")
            .distinct()
            .collect()
        )
        affected = {_local_path(r["_f"]) for r in rows}
        return [f for f in snap.files if f in affected]

    def merge_apply(
        self,
        spark: SparkSession,
        key: str | list[str],
        upserts: DataFrame | Pin | None = None,
        delete_keys: DataFrame | None = None,
        guard: str | None = None,
        meta: dict[str, Any] | None = None,
        read_at: int | None = None,
        files: list[str] | None = None,
    ) -> int:
        """One file-granular copy-on-write pass applying upserts and deletes
        together (Iceberg MERGE semantics):

        - target rows matching ``delete_keys`` are dropped;
        - target rows matching an upsert key are replaced (unless ``guard``
          — a SQL predicate over ``src``/``tgt`` aliases — says keep, the
          optimistic-concurrency analogue of Algolia's ``IncrementFrom``
          partial update, reference src/indexers/MainWatchIndexer.ts:36-45);
        - every other target row is carried; unmatched upsert rows insert.

        Only data files that may contain a matching key are rewritten; every
        other file moves into the new snapshot untouched, so merge cost is
        O(affected files + batch), not O(table) — the property that keeps
        per-generation MERGEs viable on a 10^10-row frontier.

        Provenance: ``read_at`` is the snapshot id the sources were read at
        (``read_with_files``). While it is still the current snapshot, the
        affected files are the files the source rows came from — ``files``
        when the caller knows them, else the distinct ``FILE_COL`` values
        of the sources (one job over the pinned sources) — and detection
        (a stats ``first()`` plus a key-scan ``collect()``) is skipped. The
        caller vouches that the key is unique in the table, so a source
        row's file holds the only target row it matches. A stale
        ``read_at``, or ``files`` outside the snapshot, falls back to
        detection. ``upserts`` may be a ``Pin``: it is materialised here.
        """
        keys = [key] if isinstance(key, str) else list(key)
        snap = self.snapshot()
        pinned = isinstance(upserts, Pin)
        if pinned:
            upserts = upserts.get()
        if snap is None or not snap.files:
            if upserts is None:
                return self.current_snapshot_id() or 0
            return self.overwrite(_drop_file_col(upserts), meta=meta)
        # pin each (possibly expensive) source plan once: detection or the
        # provenance file collect, the kept/landing joins and the write all
        # read it
        if upserts is not None and not pinned:
            upserts = upserts.localCheckpoint(eager=False)
        if delete_keys is not None:
            delete_keys = delete_keys.localCheckpoint(eager=False)

        frames = [d for d in (upserts, delete_keys) if d is not None]
        if not frames:
            return self.current_snapshot_id() or 0
        affected_files = None
        if read_at is not None and read_at == snap.snapshot_id:
            if files is None:
                if not all(FILE_COL in d.columns for d in frames):
                    raise ValueError(
                        f"merge into {self.root} with read_at needs files or a "
                        f"{FILE_COL} column on every source"
                    )
                src_files = frames[0].select(FILE_COL)
                for d in frames[1:]:
                    src_files = src_files.unionByName(d.select(FILE_COL))
                files = source_files(
                    r[0] for r in src_files.distinct().collect()
                )
            listed = set(files)
            if listed <= set(snap.files):
                affected_files = [f for f in snap.files if f in listed]
        upserts = _drop_file_col(upserts)
        delete_keys = _drop_file_col(delete_keys)
        if affected_files is None:
            # carry every stats column the sources share: _affected_files
            # prunes candidate files on all of them, not just the merge key.
            # No dropDuplicates: a semi-join's build side needs none.
            frames = [d for d in (upserts, delete_keys) if d is not None]
            keep = keys + [
                c
                for c in self.stats_cols
                if c not in keys and all(c in d.columns for d in frames)
            ]
            parts = [d.select(*keep) for d in frames]
            all_keys = parts[0]
            for p in parts[1:]:
                all_keys = all_keys.unionByName(p)
            affected_files = self._affected_files(spark, snap, keys, all_keys)
        affected = set(affected_files)
        untouched = [f for f in snap.files if f not in affected]

        if not affected_files:
            if upserts is None:
                return self._commit(
                    "merge", snap.files, meta or {}, self._carry(snap, snap.files)
                )
            new_files, new_stats = self._write_files(upserts)
            files = untouched + new_files
            return self._commit(
                "merge", files, meta or {}, {**self._carry(snap, files), **new_stats}
            )

        tgt = spark.read.parquet(*affected_files)
        if delete_keys is not None:
            tgt = tgt.join(F.broadcast(delete_keys.select(*keys)), keys, "left_anti")
        tgt = tgt.alias("tgt")

        if upserts is None:
            merged = tgt
        else:
            src = upserts.alias("src")
            cond = " AND ".join(f"tgt.{k} <=> src.{k}" for k in keys)
            keep_pred = f"NOT ({guard})" if guard else "false"
            # target rows that survive: no source match, or guard says keep
            kept = (
                tgt.join(src, on=[F.expr(cond)], how="left")
                .where(f"src.{keys[0]} IS NULL OR ({keep_pred})")
                .select("tgt.*")
            )
            # source rows that land: all, unless a kept target row shadows them
            if guard:
                landing = (
                    src.join(tgt, on=[F.expr(cond)], how="left")
                    .where(f"tgt.{keys[0]} IS NULL OR ({guard})")
                    .select("src.*")
                )
            else:
                landing = upserts
            merged = kept.unionByName(landing)

        new_files, new_stats = self._write_files(merged)
        files = untouched + new_files
        return self._commit(
            "merge", files, meta or {}, {**self._carry(snap, files), **new_stats}
        )

    def merge_upsert(
        self,
        spark: SparkSession,
        source: DataFrame | Pin,
        key: str | list[str],
        guard: str | None = None,
        meta: dict[str, Any] | None = None,
        read_at: int | None = None,
        files: list[str] | None = None,
    ) -> int:
        """MERGE INTO semantics: upsert ``source`` rows by ``key`` (see
        merge_apply, also for ``read_at``/``files`` provenance)."""
        return self.merge_apply(
            spark, key, upserts=source, guard=guard, meta=meta,
            read_at=read_at, files=files,
        )

    def merge_delete(
        self,
        spark: SparkSession,
        keys_df: DataFrame,
        key: str | list[str],
        meta: dict[str, Any] | None = None,
    ) -> int:
        """Delete rows matching ``keys_df`` file-granularly: only files that
        may contain a matching key are rewritten (minus matches)."""
        return self.merge_apply(spark, key, delete_keys=keys_df, meta=meta)

    def compact(
        self,
        spark: SparkSession,
        cluster_by: list[str] | None = None,
        n_partitions: int | None = None,
        meta: dict[str, Any] | None = None,
    ) -> int:
        """Rewrite the table as one range-clustered file set — the
        maintenance op that bounds file-count growth from incremental
        appends and restores stats locality (each file again covers a
        narrow cluster-key range, so manifest/row-group pruning stays
        effective). O(table); run off the hot path, like Iceberg's
        rewrite_data_files."""
        df = self.read(spark)
        if cluster_by:
            cols = [F.col(c) for c in cluster_by]
            df = (
                df.repartitionByRange(n_partitions, *cols)
                if n_partitions
                else df.repartitionByRange(*cols)
            ).sortWithinPartitions(*cluster_by)
        return self.overwrite(df, meta={"op": "compact", **(meta or {})})

    def expire_snapshots(
        self,
        keep_last: int = 2,
        older_than_ms: int | None = None,
        now_ms: int | None = None,
    ) -> dict[str, int]:
        """Expire old snapshots and physically delete the data files only
        they reference — the maintenance op that bounds *history* growth the
        way ``compact`` bounds file-count growth (Iceberg's
        expire_snapshots). Without it every superseded file lives forever:
        a frontier that rewrites head files each generation leaks O(table)
        bytes per generation into dead history.

        Retained: the current snapshot's ancestor chain, truncated to the
        newest ``keep_last`` entries (and, when ``older_than_ms`` is set,
        every snapshot younger than the cutoff regardless of count).
        Everything else — expired ancestors *and* side branches abandoned
        by rollback commits — is dropped. Time travel / rollback to an
        expired id stops working, exactly like Iceberg; the crawl keeps
        ``keep_last`` >= the deepest resume window it needs (the state log
        only ever rolls back one half-applied generation, so the default
        of 2 is safe).

        Single-writer contract: call from the table owner only (a reader
        racing an expire could lose files mid-scan). Returns counts."""
        cur = self.current_snapshot_id()
        if cur is None:
            return {"snapshots_expired": 0, "files_deleted": 0}
        chain = self.history()  # oldest -> newest, current's ancestry only
        retained = chain[-max(keep_last, 1):]
        if older_than_ms is not None:
            cutoff = (now_ms if now_ms is not None else int(time.time() * 1000)) - older_than_ms
            retained = [
                s
                for s in chain
                if s.timestamp_ms >= cutoff or s in retained
            ]
        keep_ids = {s.snapshot_id for s in retained}
        live_files = {f for s in retained for f in s.files}
        mdir = os.path.join(self.root, "manifests")
        expired = 0
        dead_files: set[str] = set()
        for name in os.listdir(mdir):
            if not name.endswith(".json"):
                continue
            sid = int(name[: -len(".json")])
            if sid in keep_ids:
                continue
            snap = self.snapshot(sid)
            dead_files.update(f for f in snap.files if f not in live_files)
            os.remove(os.path.join(mdir, name))
            expired += 1
        deleted = 0
        for f in dead_files:
            try:
                os.remove(f)
                deleted += 1
            except FileNotFoundError:
                pass
        # drop now-empty data dirs (each write goes to its own uuid dir)
        ddir = os.path.join(self.root, "data")
        for d in os.listdir(ddir):
            full = os.path.join(ddir, d)
            try:
                if os.path.isdir(full) and not os.listdir(full):
                    os.rmdir(full)
            except OSError:
                pass
        return {"snapshots_expired": expired, "files_deleted": deleted}

    def remove_orphans(self) -> int:
        """Delete data files referenced by no manifest at all — debris from
        a writer that crashed after writing files but before its manifest
        commit (the commit point is the ``_current`` os.replace, so such
        files are invisible but occupy storage). Single-writer contract:
        never call concurrently with an in-flight write."""
        mdir = os.path.join(self.root, "manifests")
        referenced: set[str] = set()
        for name in os.listdir(mdir):
            if name.endswith(".json"):
                referenced.update(self.snapshot(int(name[: -len(".json")])).files)
        deleted = 0
        ddir = os.path.join(self.root, "data")
        for d in sorted(os.listdir(ddir)):
            full = os.path.join(ddir, d)
            if not os.path.isdir(full):
                continue
            for f in sorted(os.listdir(full)):
                p = os.path.join(full, f)
                if p not in referenced:
                    os.remove(p)
                    deleted += 1
            if not os.listdir(full):
                os.rmdir(full)
        return deleted

    def rollback(self, snapshot_id: int | None) -> int | None:
        """Make ``snapshot_id`` (or the empty table when None) the visible
        state again via a new commit whose file list is that snapshot's —
        used by checkpoint resume to discard a half-applied generation."""
        if snapshot_id == self.current_snapshot_id():
            return snapshot_id
        old = self.snapshot(snapshot_id) if snapshot_id is not None else None
        files = [] if old is None else old.files
        return self._commit("rollback", files, {"to": snapshot_id}, self._carry(old, files))

    def delete_where(
        self, spark: SparkSession, predicate: str, meta: dict[str, Any] | None = None
    ) -> int:
        """Delete rows matching ``predicate``, rewriting only the files that
        contain at least one matching row (file-granular, like merge)."""
        snap = self.snapshot()
        if snap is None or not snap.files:
            return self.current_snapshot_id() or 0
        rows = (
            spark.read.parquet(*snap.files)
            .where(predicate)
            .select(F.input_file_name().alias("_f"))
            .distinct()
            .collect()
        )
        affected = {_local_path(r["_f"]) for r in rows}
        if not affected:
            return self._commit(
                "delete", snap.files, meta or {}, self._carry(snap, snap.files)
            )
        affected_files = [f for f in snap.files if f in affected]
        untouched = [f for f in snap.files if f not in affected]
        kept = spark.read.parquet(*affected_files).where(f"NOT ({predicate})")
        new_files, new_stats = self._write_files(kept)
        files = untouched + new_files
        return self._commit(
            "delete", files, meta or {}, {**self._carry(snap, files), **new_stats}
        )
