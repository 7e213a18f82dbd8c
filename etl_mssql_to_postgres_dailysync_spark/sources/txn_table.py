"""TxnTable — a minimal ACID table format over parquet (Delta-protocol style).

The reference gets atomicity from the target database (one transaction around
the staging TRUNCATE/append + MERGE, csv_to_mssqldb.py:447-466; rollback on
load error, dags/mssql_to_postgresql_orders_daily.py:322,340-343).  When the
engine of record is a parquet lake there is no database to lean on, so this
module supplies the same guarantees the lake-table formats (Delta Lake,
Iceberg — public protocol designs) do, in miniature:

  * **Commit log**: `_txn_log/<version>.json`, one JSON document per commit
    holding `add`/`remove` file actions, the table schema + operation
    metadata.  The table state at version V is the replay of actions 0..V
    (`snapshot`, once per operation) — data files are immutable and never
    listed from the filesystem (object-store LIST is both slow and
    eventually consistent at 100 TB).  This module is the only one that
    knows the log format: the streaming sink and CDC source call its
    functions.
  * **Atomic, optimistically-concurrent commits**: a commit materializes as
    an atomic hard-link of a fully-written temp file into the next version
    slot; the link fails if the slot is taken.  Blind appends retry on top
    of the new head (they commute); read-modify-write ops (overwrite /
    merge / compact) raise `ConcurrentWriteError` because their snapshot is
    stale — the caller re-runs on the new head.  (On S3-like stores the
    exclusive-create becomes a CAS against a log service, as in Delta's
    commit coordinators; the protocol is unchanged.)
  * **Schema from the log**: reads scan with the schema the log recorded
    for the version read, never one inferred from the parquet footers, so
    building a read runs no Spark job; columns a file predates read as
    NULL, and column order is the logged one.
  * **File-level stats pruning (zone maps)**: each `add` records per-file
    min/max/null-count for every top-level integer, floating-point, date and
    timestamp-without-time-zone column (`footer_stats`), read from the
    written files' parquet footers on the driver — zero Spark jobs, and no
    setting: every writer, batch or stream, indexes the same columns.
    `read(prune=("col", lo, hi))` skips files whose range cannot overlap.
  * **One file layout**: `cluster_by=` range-partitions a write on one
    column, so each file's zone map on it stays tight and a prune on it
    skips most files — the same job a date partitioning or an index on the
    incremental key does (a daily delta touches one day's files).  It is
    the only layout: a reader skips data through the zone maps every
    writer records, never through a layout a writer must opt into.
  * **Time travel**: `read(version=k)` replays the log only to k.
  * **Checkpoints**: every `CHECKPOINT_INTERVAL` commits the full live set
    is written to `<version>.checkpoint.json`, so snapshot construction is
    O(interval) log reads, not O(history).
  * **Compaction & vacuum**: `compact()` rewrites the live set into few
    large files as a normal commit (history intact); `vacuum()` physically
    deletes files unreferenced by every retained version.

Scale notes: the log holds file *metadata* only (a 100 TB table at 1 GB
files is ~100k add-actions — megabytes of JSON, checkpointed); data moves
through ordinary parquet scans, so every Catalyst optimization (pushdown,
pruning, vectorized read) applies unchanged to `read()` output.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LOG_DIR = "_txn_log"
LOG_WIDTH = 20
CHECKPOINT_INTERVAL = 10


class ConcurrentWriteError(RuntimeError):
    """A read-modify-write commit lost the race; re-run on the new head."""


class ConstraintViolation(ValueError):
    """A write contained rows failing a table CHECK constraint."""


@dataclass
class AddFile:
    path: str  # relative to table root
    rows: int
    stats: dict  # col -> {"min": v, "max": v, "nulls": n}


@dataclass
class Snapshot:
    """The table at one version, from one replay of the log."""

    version: int
    live: dict[str, dict]  # rel_path -> add action
    schema: dict | None  # StructType JSON; None only before the first commit
    props: dict  # {"checks": {name: predicate}}; the latest commit's wins


def _version_path(log: str, v: int, checkpoint: bool = False) -> str:
    suffix = ".checkpoint.json" if checkpoint else ".json"
    return os.path.join(log, f"{v:0{LOG_WIDTH}d}{suffix}")


def _list_log(table_path: str) -> tuple[list[int], list[int]]:
    """(commit versions, checkpoint versions) from one listing of the log."""
    commits, checkpoints = [], []
    for p in glob.glob(os.path.join(table_path, LOG_DIR, "*.json")):
        name = os.path.basename(p)
        v = int(name.split(".")[0])
        (checkpoints if name.endswith(".checkpoint.json") else commits).append(v)
    return commits, checkpoints


def head_version(table_path: str) -> int:
    """Head version of the table at ``table_path``, -1 if it has no commits."""
    return max(_list_log(table_path)[0], default=-1)


def read_commit(table_path: str, v: int) -> dict:
    with open(_version_path(os.path.join(table_path, LOG_DIR), v)) as f:
        return json.load(f)


def snapshot(table_path: str, version: int | None = None) -> Snapshot:
    """Replay the log to ``version`` (default: the head), starting from the
    newest checkpoint at or below it."""
    commits, checkpoints = _list_log(table_path)
    head = max(commits, default=-1)
    if version is None:
        version = head
    if version > head or version < -1:
        raise ValueError(f"version {version} out of range (head={head})")
    start, live, schema, props = 0, {}, None, {}
    cp = max((v for v in checkpoints if v <= version), default=None)
    if cp is not None:
        with open(_version_path(os.path.join(table_path, LOG_DIR), cp,
                                checkpoint=True)) as f:
            doc = json.load(f)
        live = {a["path"]: a for a in doc["live"]}
        schema, props, start = doc["schema"], doc.get("props", {}), cp + 1
    for v in range(start, version + 1):
        c = read_commit(table_path, v)
        if c.get("schema"):
            schema = c["schema"]
        props.update(c.get("props") or {})
        for action in c["actions"]:
            if "add" in action:
                live[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                live.pop(action["remove"]["path"], None)
    return Snapshot(version, live, schema, props)


def _zone_mapped(t) -> bool:
    """Whether a column of arrow type ``t`` gets a zone map: integers,
    floating-point numbers, dates and timestamps without time zone, whose
    footer min/max keep their order through ``_json_safe`` and ``str_cmp``.
    Decimals come back as ``Decimal`` and would compare as strings by letter
    ("100.0000" < "99.5000"); a tz-aware timestamp's string carries an
    offset that the batch bounds of ``merge(prune_col=)`` lack. Strings,
    booleans, binaries and nested columns are not indexed."""
    import pyarrow as pa

    return (pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_date(t)
            or (pa.types.is_timestamp(t) and t.tz is None))


def footer_stats(fpath: str) -> tuple[int, dict]:
    """(rows, zone maps) of one parquet file, from its footer on the driver:
    ``{col: {"min", "max", "nulls"}}`` for each top-level column of a
    zone-mapped type (``_zone_mapped``) whose every row group carries
    min/max statistics. Zero Spark jobs (Delta does the same via write-task
    stats); on an object store this is one ranged GET of the footer, still
    metadata-scale."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(fpath)
    leaf = {md.schema.column(i).path: i for i in range(md.num_columns)}
    stats = {}
    for field in md.schema.to_arrow_schema():
        if not _zone_mapped(field.type):
            continue
        c = field.name
        lo = hi = None
        nulls = 0
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(leaf[c]).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            nulls += st.null_count or 0
            lo = st.min if lo is None or st.min < lo else lo
            hi = st.max if hi is None or st.max > hi else hi
        if ok:
            stats[c] = {"min": _json_safe(lo), "max": _json_safe(hi), "nulls": nulls}
    return md.num_rows, stats


def _write_synced(path: str, doc: dict) -> None:
    """Write ``doc`` as JSON and fsync it, so the link or rename that
    publishes it into the log never exposes a torn document after a crash."""
    with open(path, "w") as f:
        json.dump(doc, f)
        f.flush()
        os.fsync(f.fileno())


class TxnTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.log = os.path.join(self.path, LOG_DIR)
        os.makedirs(self.log, exist_ok=True)

    # ---------------------------------------------------------------- log --

    def version(self) -> int:
        """Head version, -1 if the table has no commits."""
        return head_version(self.path)

    def history(self) -> list[dict]:
        return [
            {k: c[k] for k in ("version", "op", "meta")}
            for v in range(self.version() + 1)
            for c in [read_commit(self.path, v)]
        ]

    def version_at(self, ts: float) -> int:
        """Newest version committed at-or-before the wall-clock timestamp
        (Delta's ``TIMESTAMP AS OF``): a scan of commit-doc timestamps —
        metadata only. Returns -1 when the table predates nothing."""
        head = self.version()
        best = -1
        for v in range(head + 1):
            if read_commit(self.path, v).get("ts", float("inf")) <= ts:
                best = v
            else:
                break  # commit timestamps are monotone (single log)
        return best

    def read_as_of(self, ts: float) -> DataFrame:
        """Time travel by timestamp: read the snapshot as of wall-clock ts."""
        v = self.version_at(ts)
        if v < 0:
            raise ValueError(f"no commit at or before ts={ts}")
        return self.read(version=v)

    # -------------------------------------------------------- constraints --

    def checks(self, version: int | None = None) -> dict[str, str]:
        """Active CHECK constraints: {name: sql_predicate}."""
        return dict(snapshot(self.path, version).props.get("checks", {}))

    def set_check(self, name: str, predicate: str) -> int:
        """ADD/replace a CHECK constraint (Delta ``ALTER TABLE … ADD
        CONSTRAINT``): a SQL predicate every row of every future write must
        satisfy. EXISTING data is validated once here (one scan); from then
        on each write validates only its own incoming rows — the historical
        data is already known-good, so enforcement cost stays proportional
        to the write, not the table."""
        snap = snapshot(self.path)
        if snap.live:
            self._enforce({name: predicate},
                          self._read_add_files(list(snap.live.values()), snap.schema))
        checks = dict(snap.props.get("checks", {}))
        checks[name] = predicate
        return self._commit("set_check", [], snap.version + 1, snap.schema,
                            {"name": name, "predicate": predicate},
                            props={"checks": checks})

    def drop_check(self, name: str) -> int:
        snap = snapshot(self.path)
        checks = dict(snap.props.get("checks", {}))
        checks.pop(name, None)
        return self._commit("drop_check", [], snap.version + 1, snap.schema,
                            {"name": name}, props={"checks": checks})

    def _enforce(self, checks: dict[str, str], df: DataFrame) -> None:
        """One aggregation counting violators of EVERY check at once
        (count_if per predicate — a single pass however many constraints
        exist); raises on the first named violation."""
        if not checks:
            return
        names = sorted(checks)
        # standard SQL CHECK: only a FALSE predicate violates (NULL passes);
        # count_if(NOT pred) counts exactly the FALSE rows (NOT NULL = NULL
        # is not counted)
        row = df.select([
            F.count_if(~F.expr(checks[n])).alias(f"c{i}")
            for i, n in enumerate(names)
        ]).first()
        for i, n in enumerate(names):
            if row[f"c{i}"]:
                raise ConstraintViolation(
                    f"check '{n}' ({checks[n]}) fails for {row[f'c{i}']} "
                    "incoming row(s)")

    def _commit(self, op: str, actions: list[dict], expected_version: int,
                schema: dict | None, meta: dict | None = None,
                props: dict | None = None) -> int:
        tmp = os.path.join(self.log, f".tmp-{uuid.uuid4().hex}")
        doc = {"op": op, "actions": actions, "schema": schema, "meta": meta or {},
               "props": props or {}, "ts": time.time()}
        v = expected_version
        try:
            while True:
                doc["version"] = v
                _write_synced(tmp, doc)
                try:
                    os.link(tmp, _version_path(self.log, v))  # atomic exclusive publish
                    break
                except FileExistsError:
                    if op in ("append", "stream_append"):
                        v += 1  # blind appends commute: retry on the new head
                    else:
                        raise ConcurrentWriteError(
                            f"{op} at version {v} lost the race; snapshot is stale"
                        )
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        if v % CHECKPOINT_INTERVAL == 0 and v > 0:
            snap = snapshot(self.path, v)
            _write_synced(tmp, {"version": v, "live": list(snap.live.values()),
                                "schema": snap.schema, "props": snap.props})
            os.replace(tmp, _version_path(self.log, v, checkpoint=True))
        return v

    # -------------------------------------------------------------- write --

    def _write_files(self, df: DataFrame, cluster_by: str | None) -> list[dict]:
        """Write df as immutable parquet files under a fresh commit dir and
        return their add-actions with per-file zone maps (``footer_stats``).

        ``cluster_by`` range-partitions the write on that column, so each
        file covers a tight value range of it, which is what makes min/max
        pruning selective."""
        commit_dir = os.path.join(self.path, "data", uuid.uuid4().hex)
        if cluster_by:
            # The partition count is pinned explicitly so AQE doesn't
            # coalesce small test inputs into one file (at scale, pick
            # ~table_bytes / 1 GB).
            n = max(df.rdd.getNumPartitions(), 2)
            df = df.repartitionByRange(n, F.col(cluster_by))
        df.write.mode("error").parquet(commit_dir)
        actions = []
        for fpath in sorted(glob.glob(os.path.join(commit_dir, "*.parquet"))):
            rows, stats = footer_stats(fpath)
            actions.append({"add": {
                "path": os.path.relpath(fpath, self.path),
                "rows": rows,
                "bytes": os.path.getsize(fpath),
                "stats": stats,
            }})
        return actions

    def _rewrite(self, op: str, snap: Snapshot, removed: Sequence[str],
                 df: DataFrame, meta: dict | None = None, *, check: bool = True,
                 schema: dict | None = None, cluster_by: str | None = None) -> int:
        """The copy-on-write commit every write shares: remove the ``removed``
        live files of ``snap``, write ``df`` as new files and commit both at
        ``snap.version + 1`` with ``schema`` (default: ``df``'s). ``check``
        enforces the table's CHECK constraints on ``df`` before anything is
        written."""
        if check:
            self._enforce(snap.props.get("checks", {}), df)
        actions = [{"remove": {"path": p}} for p in removed]
        actions += self._write_files(df, cluster_by)
        return self._commit(op, actions, snap.version + 1,
                            schema or df.schema.jsonValue(), meta)

    def append(self, df: DataFrame, cluster_by: str | None = None,
               meta: dict | None = None, merge_schema: bool = False) -> int:
        """Append ``df`` as new files, range-clustered on ``cluster_by``.

        Delta-style schema strictness: widening the schema (new columns)
        needs an explicit ``merge_schema=True``; silent drift is an error.
        Removed columns are always rejected (old files can't grow data
        back)."""
        snap = snapshot(self.path)
        if snap.schema is not None:
            old_cols = {f["name"] for f in snap.schema["fields"]}
            new_cols = set(df.columns)
            if old_cols - new_cols:
                raise ValueError(f"schema removes columns {sorted(old_cols - new_cols)}")
            if (new_cols - old_cols) and not merge_schema:
                raise ValueError(
                    f"schema adds columns {sorted(new_cols - old_cols)}; "
                    "pass merge_schema=True to evolve"
                )
        return self._rewrite("append", snap, [], df, meta, cluster_by=cluster_by)

    def overwrite(self, df: DataFrame, cluster_by: str | None = None,
                  meta: dict | None = None) -> int:
        snap = snapshot(self.path)
        return self._rewrite("overwrite", snap, list(snap.live), df, meta,
                             cluster_by=cluster_by)

    def merge(self, source: DataFrame, keys: Sequence[str],
              cluster_by: str | None = None,
              prune_col: str | None = None, **merge_kwargs) -> int:
        """Copy-on-write MERGE: run the relational merge (operators/merge.py
        — the engine's S6-S8 semantics) against the target snapshot and
        publish atomically.  A table with no commits is an empty target of
        the source's schema, so the first merge dedupes like every later one.

        One tiny aggregation takes the batch's row count first: an empty
        batch commits nothing and returns the head version.

        With ``prune_col`` (an integer, floating-point, date or
        timestamp-without-time-zone column, the types every file has zone
        maps for), the same aggregation also takes the batch's NULL count
        and [min, max] on that column, and the rewrite is FILE-GRANULAR:
        only the target files that may hold a matching row are rewritten —
        those whose zone maps overlap [min, max], those whose zone maps count
        NULLs when the batch has a NULL, and those with no zone map.
        Untouched files stay in the snapshot as-is — the Delta/Iceberg
        merge-on-read-competitive path.  A daily delta against a table
        clustered by date rewrites one day's files, not the table.  This
        holds when a key's ``prune_col`` value never changes, as an event
        timestamp does not.  Without ``prune_col``, the whole live set
        rewrites."""
        from etl_mssql_to_postgres_dailysync_spark.operators.merge import merge as rel_merge

        snap = snapshot(self.path)
        live = snap.live
        bounds = [F.count(F.lit(1)).alias("n")]
        if prune_col is not None:
            c = F.col(prune_col)
            bounds += [F.count_if(c.isNull()).alias("nulls"),
                       F.min(c).alias("lo"), F.max(c).alias("hi")]
        b = source.agg(*bounds).first()
        if not b["n"]:
            return snap.version
        touched = list(live)
        if prune_col is not None:
            lo, hi = _json_safe(b["lo"]), _json_safe(b["hi"])
            # a file with no zone map on prune_col may hold anything, NULLs too
            touched = [
                p for p, a in live.items()
                if (lo is not None and _may_hold(a, prune_col, lo, hi))
                or (b["nulls"] and a.get("stats", {}).get(prune_col, {"nulls": 1})["nulls"])
            ]
        target = self._read_add_files([live[p] for p in touched],
                                      snap.schema or source.schema.jsonValue())
        merged = rel_merge(target, source, keys, **merge_kwargs).df
        return self._rewrite("merge", snap, touched, merged,
                             {"keys": list(keys), "files_rewritten": len(touched),
                              "files_kept": len(live) - len(touched)},
                             cluster_by=cluster_by)

    def delete(self, condition) -> int:
        """DELETE rows matching ``condition`` (a Column predicate) — the
        copy-on-write erasure op (GDPR right-to-be-forgotten, bad-batch
        rollback): the rewrite set is exactly the files that contain matches
        (``_files_matching``); those rewrite WITHOUT the matching rows, files
        with zero matches stay in the snapshot by PATH.

        Physical erasure completes at vacuum(): like Delta, the old files
        remain for time travel until the retention window passes."""
        snap = snapshot(self.path)
        touched = self._files_matching(condition, snap)
        if not touched:
            return snap.version  # nothing matches; no commit needed
        # SQL DELETE semantics: remove rows where the condition is TRUE;
        # rows where it is NULL/UNKNOWN are KEPT. A bare ~condition drops
        # them (mixed_null_keys fixture find: a GDPR delete on user_id ==
        # victim silently destroyed the NULL-keyed rows of every rewritten
        # file — and WHICH rows died depended on the file layout, so the
        # corruption was nondeterministic across sessions).
        keep = self._read_add_files([snap.live[p] for p in touched], snap.schema).filter(
            ~F.coalesce(condition, F.lit(False))
        )
        # kept rows already passed every check: none is enforced again
        return self._rewrite("delete", snap, touched, keep,
                             {"files_rewritten": len(touched),
                              "files_kept": len(snap.live) - len(touched)},
                             check=False, schema=snap.schema)

    def _files_matching(self, condition, snap: Snapshot) -> list[str]:
        """Relative paths of live files containing >=1 row matching
        ``condition`` — ONE job (input_file_name per matching row,
        distinct), never a per-file probe loop."""
        from urllib.parse import unquote, urlparse

        full = self._read_add_files(list(snap.live.values()), snap.schema)
        hit_uris = [r[0] for r in full.filter(condition)
                    .select(F.input_file_name()).distinct().collect()]
        hit_paths = {unquote(urlparse(u).path) for u in hit_uris}
        return [p for p in snap.live if os.path.join(self.path, p) in hit_paths]

    def update(self, condition, set: dict) -> int:
        """UPDATE rows matching ``condition``: per column in ``set``, matching
        rows take the new expression, non-matching rows keep their value —
        the copy-on-write sibling of delete(). File-granular like Delta's
        UPDATE: only files containing a match rewrite; the rest of the
        snapshot is untouched metadata.

        ``set`` maps column name -> Column/literal; each result is cast back
        to the column's existing type so the table schema is invariant under
        update (an UPDATE is data motion, never schema motion)."""
        snap = snapshot(self.path)
        touched = self._files_matching(condition, snap)
        if not touched:
            return snap.version
        df = self._read_add_files([snap.live[p] for p in touched], snap.schema)
        types = dict(df.dtypes)
        unknown = [c for c in set if c not in types]
        if unknown:
            raise ValueError(f"update targets unknown columns: {unknown}")
        updated = df.withColumns({
            c: F.when(condition, F.lit(v) if not isinstance(v, Column) else v)
                .otherwise(F.col(c)).cast(types[c])
            for c, v in set.items()
        })
        return self._rewrite("update", snap, touched, updated,
                             {"set_columns": sorted(set),
                              "files_rewritten": len(touched),
                              "files_kept": len(snap.live) - len(touched)},
                             schema=snap.schema)

    def restore(self, version: int) -> int:
        """RESTORE the table to an earlier snapshot (Delta ``RESTORE TABLE …
        TO VERSION AS OF``): a NEW commit whose actions re-add the target
        version's files and remove the rest — pure metadata, zero data
        rewrite, and itself time-travelable (restoring a restore works).

        Fails if any file of the target snapshot was already vacuumed."""
        head = snapshot(self.path)
        target = snapshot(self.path, version)
        want, live = target.live, head.live
        missing = [p for p in want
                   if not os.path.exists(os.path.join(self.path, p))]
        if missing:
            raise ValueError(
                f"cannot restore to v{version}: {len(missing)} file(s) "
                f"vacuumed, e.g. {missing[0]}")
        actions = [{"remove": {"path": p}} for p in live if p not in want]
        actions += [{"add": want[p]} for p in want if p not in live]
        return self._commit(
            "restore", actions, head.version + 1, target.schema,
            {"restored_to": version,
             "files_added": sum(1 for p in want if p not in live),
             "files_removed": sum(1 for p in live if p not in want)})

    def compact(self, num_files: int | None = None, target_mb: int | None = None) -> int:
        """Rewrite the live set into ``num_files`` files (bin-packing OPTIMIZE);
        a normal commit, so time travel before it still works. The output is
        not re-clustered: each file's zone maps are measured anew.

        ``target_mb`` sizes the output from LOG metadata instead: num_files =
        ceil(live_bytes / target) — the small-file compactor needs no data
        scan to plan itself (the OPTIMIZE file-size heuristic every lakehouse
        runs on manifest stats)."""
        snap = snapshot(self.path)
        if num_files is None:
            if target_mb is not None:
                total = sum(a.get("bytes", 0) for a in snap.live.values())
                num_files = max(1, -(-total // (target_mb * 1024 * 1024)))
            else:
                num_files = 1
        df = self._read_add_files(list(snap.live.values()), snap.schema).coalesce(num_files)
        # same rows, already checked when they were written
        return self._rewrite("compact", snap, list(snap.live), df, check=False)

    # --------------------------------------------------------------- read --

    def files(self, version: int | None = None,
              prune: tuple | list | None = None) -> list[AddFile]:
        """Live files at ``version``, optionally zone-map-pruned by
        ``(col, lo, hi)`` predicates (lo/hi inclusive, None = unbounded)."""
        return [
            AddFile(a["path"], a["rows"], a.get("stats", {}))
            for a in _pruned(snapshot(self.path, version).live, prune)
        ]

    def _read_add_files(self, adds: list[dict], schema: dict | None) -> DataFrame:
        """Scan a set of add-actions as one DataFrame with the logged
        ``schema``: the scan is declared, not inferred from the footers, so
        building it runs no Spark job; columns a file predates read as NULL
        and the columns come in logged order."""
        stype = StructType.fromJson(schema) if schema else StructType([])
        if not adds:
            return self.spark.createDataFrame([], stype)
        return self.spark.read.schema(stype).parquet(
            *[os.path.join(self.path, a["path"]) for a in adds])

    def read(self, version: int | None = None, prune=None) -> DataFrame:
        snap = snapshot(self.path, version)
        return self._read_add_files(_pruned(snap.live, prune), snap.schema)

    # ----------------------------------------------------- metadata views --

    def files_df(self, version: int | None = None) -> DataFrame:
        """The live file manifest as a DataFrame (Delta DESCRIBE DETAIL /
        Iceberg ``.files`` analog): operational queries — size skew, stats
        coverage — run as ordinary Spark over METADATA, never scanning data."""
        rows = [(f.path, f.rows, json.dumps(f.stats, sort_keys=True))
                for f in self.files(version)]
        return self.spark.createDataFrame(rows, "path string, rows long, stats string")

    def history_df(self) -> DataFrame:
        """The commit history as a DataFrame (DESCRIBE HISTORY analog)."""
        rows = [
            (h["version"], h["op"], json.dumps(h["meta"], sort_keys=True))
            for h in self.history()
        ]
        return self.spark.createDataFrame(rows, "version long, op string, meta string")

    # ------------------------------------------------------------- vacuum --

    def vacuum(self, retain_versions: int = 0) -> list[str]:
        """Delete data files unreferenced by every version in
        [head - retain_versions, head].  Destroys time travel before that
        horizon (like Delta VACUUM's retention window)."""
        head = self.version()
        lo = max(-1, head - retain_versions)
        # a file live at any retained version is live at the oldest one or
        # added by a later retained commit
        referenced = set(snapshot(self.path, lo).live)
        for v in range(lo + 1, head + 1):
            referenced.update(a["add"]["path"] for a in read_commit(self.path, v)["actions"]
                              if "add" in a)
        deleted = []
        data_root = os.path.join(self.path, "data")
        for r, _, fns in os.walk(data_root):
            for fn in fns:
                if not fn.endswith(".parquet"):
                    continue
                f = os.path.join(r, fn)
                rel = os.path.relpath(f, self.path)
                if rel not in referenced:
                    os.unlink(f)
                    deleted.append(rel)
        # drop now-empty commit dirs
        for r, dirs, fns in os.walk(data_root, topdown=False):
            if r != data_root and not os.listdir(r):
                shutil.rmtree(r)
        return deleted


def _may_hold(add: dict, col: str, lo, hi) -> bool:
    """Whether the file of ``add`` may hold a ``col`` value in [lo, hi]
    (inclusive, None = unbounded): False only when its zone map rules it
    out."""
    st = add.get("stats", {}).get(col)
    if st is None or st["min"] is None:
        return True  # no zone map -> cannot prune, must read
    return not ((hi is not None and str_cmp(st["min"], hi) > 0)
                or (lo is not None and str_cmp(st["max"], lo) < 0))


def _pruned(live: dict[str, dict], prune: tuple | list | None) -> list[dict]:
    """The add-actions of ``live`` that no ``(col, lo, hi)`` predicate of
    ``prune`` rules out by zone map."""
    preds = []
    if prune:
        preds = [prune] if isinstance(prune, tuple) else list(prune)
    return [a for a in live.values() if all(_may_hold(a, *p) for p in preds)]


def _json_safe(v):
    """Stats values must survive a JSON round trip; order-comparable form."""
    if v is None or isinstance(v, (int, float, bool)):
        return v
    return str(v)


def str_cmp(a, b) -> int:
    """Compare two stats values; JSON round-trips timestamps to ISO strings,
    which order the same lexically as temporally."""
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return (a > b) - (a < b)
    a, b = str(a), str(b)
    return (a > b) - (a < b)


def table_changes(table: TxnTable, v_from: int, v_to: int,
                  keys: Sequence[str], include_preimage: bool = False) -> DataFrame:
    """CDC between two snapshots: row-level insert/update/delete changeset.

    The reference explicitly scopes CDC out (README.md:78, "UpdatedDateUtc
    changes missed"; dags/…_orders_daily.py:33-36) — its daily partition
    re-extract misses in-place updates.  With a transactional table the
    changeset is derivable from any two versions: one full-outer join on the
    key, structs compared null-safely.  Updates emit the post-image, plus the
    pre-image as a separate ``update_preimage`` row when
    ``include_preimage=True`` (the Delta CDF contract — what incremental
    view maintenance needs to retract old contributions); at scale the join is key-
    partitioned and version snapshots share unchanged files, so only
    rewritten files actually differ in content.
    """
    a, b = table.read(version=v_from), table.read(version=v_to)
    cols = b.columns
    non_keys = [c for c in cols if c not in keys]
    pa = a.select(*keys, F.struct(*non_keys).alias("__a__"))
    pb = b.select(*keys, F.struct(*non_keys).alias("__b__"))
    j = pa.join(pb, list(keys), "full_outer")
    change = (
        F.when(F.col("__a__").isNull(), F.lit("insert"))
        .when(F.col("__b__").isNull(), F.lit("delete"))
        .when(~F.col("__a__").eqNullSafe(F.col("__b__")), F.lit("update_postimage"))
    )
    picked = F.coalesce(F.col("__b__"), F.col("__a__"))
    out = (
        j.withColumn("_change_type", change)
        .filter(F.col("_change_type").isNotNull())
        .select(*keys, *[picked[c].alias(c) for c in non_keys], "_change_type")
    )
    if include_preimage:
        pre = (
            j.filter(
                F.col("__a__").isNotNull()
                & F.col("__b__").isNotNull()
                & ~F.col("__a__").eqNullSafe(F.col("__b__"))
            )
            .select(
                *keys,
                *[F.col("__a__")[c].alias(c) for c in non_keys],
                F.lit("update_preimage").alias("_change_type"),
            )
        )
        out = out.unionByName(pre)
    return out
