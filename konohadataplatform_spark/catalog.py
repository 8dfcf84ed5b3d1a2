"""Snapshot-versioned table catalog — the Iceberg-semantics layer.

The reference gets ACID tables, time travel, snapshot expiry, and
compaction from Apache Iceberg on MinIO (``docs/architecture/
lakehouse.md:40-55,73-75``; time travel ``docs/components/iceberg.md:10``).
This module provides the same *semantics* with plain Parquet plus a tiny
metadata layer, mirroring Iceberg's commit protocol:

- every write lands in a fresh immutable snapshot directory;
- commits are arbitrated by an O_EXCL per-version claim file (the
  analog of Iceberg's atomic metadata-pointer CAS): exactly one writer
  can publish each version, racers get CommitConflictError and retry
  on the new current — true multi-writer optimistic concurrency, not
  just the reference's Airflow-serialized single writer
  (``max_active_runs=1``, ``dag/dbt_analytics_pipeline.py:54``);
- read-modify-write operations (append/merge/delete/compact/...) go
  through ``SnapshotCatalog.rewrite``, which pins their basis version
  through the commit, so a df derived from a stale snapshot can never
  publish over a newer one;
- readers resolve the pointer then roll forward over fully-claimed
  successors, so concurrent reads always see a complete snapshot and a
  claimer that dies mid-publish cannot wedge or regress the table.

Operations map 1:1 to SURVEY §2.10:
  M1 expire_snapshots / M2 compact / M3 time travel (version + as-of
  timestamp) / M4 delete_where / M5 schema evolution on merge+overwrite /
  M6 partitioned writes / M7 auto-create on first write.

Scale note: the metadata layer is O(#snapshots) tiny JSON; data paths
are plain parquet dirs, so at 100 TB reads keep vectorized scans,
pushdown and partition pruning — the pointer indirection adds one stat()
per query. Like Iceberg, each snapshot record keeps its table schema, so
resolving a read needs no Spark job over the file footers.
"""

from __future__ import annotations

import decimal
import json
import os
import shutil
import time
import uuid
import warnings
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# footer key under which Spark's parquet writer stores the exact Spark
# schema of the data columns it wrote (partition columns live in paths)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _as_nullable(t):
    """A JSON-form Spark type with every nullability flag set, as a
    Spark file read does to any file schema (``asNullable``): footers
    that differ only in nullability describe the same read schema."""
    if isinstance(t, list):
        return [_as_nullable(x) for x in t]
    if not isinstance(t, dict):
        return t
    out = {k: _as_nullable(v) for k, v in t.items()}
    for flag in ("nullable", "containsNull", "valueContainsNull"):
        if flag in out:
            out[flag] = True
    return out


def _data_files(data_dir: str) -> list[str]:
    """The parquet data files under ``data_dir``, sorted."""
    files = []
    for root, _dirs, fs in os.walk(data_dir):
        rel = os.path.relpath(root, data_dir)
        # metadata side-dirs (_deletes, _upserts, ...) are not base data
        if rel != "." and any(p.startswith("_") for p in rel.split(os.sep)):
            continue
        files += [os.path.join(root, f) for f in fs if f.endswith(".parquet")]
    return sorted(files)


def _footer_meta(data_dir: str) -> tuple[int, dict | None]:
    """Row count and Spark data schema (JSON form) of the parquet files
    under ``data_dir``, from their footers alone — no data read, no
    Spark job. The schema is None when a file lacks Spark's schema key
    or the files disagree; readers then fall back to inference."""
    import pyarrow.parquet as pq

    total, schemas = 0, set()
    for path in _data_files(data_dir):
        md = pq.ParquetFile(path).metadata
        total += md.num_rows
        raw = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
        schemas.add(
            json.dumps(_as_nullable(json.loads(raw)), sort_keys=True) if raw else None
        )
    if len(schemas) != 1 or None in schemas:
        return total, None
    return total, json.loads(schemas.pop())


def partition_transform(spec: str, dtype: str | None = None):
    """Iceberg-style hidden-partitioning transforms as (derived column
    name, Column expression) — apply before writing, partition on the
    derived column, and queries filtering the source column still prune
    (the derived value is functionally dependent and co-written).

    Supported specs: ``days(col)``, ``months(col)``, ``years(col)``,
    ``hours(col)``, ``bucket(N, col)``, ``truncate(N, col)``,
    ``identity(col)``.
    """
    import re

    m = re.fullmatch(r"(\w+)\(\s*([^,()]+?)\s*(?:,\s*([^()]+?)\s*)?\)", spec.strip())
    if not m:
        raise ValueError(f"bad partition transform: {spec!r}")
    fn = m.group(1)
    if fn in ("bucket", "truncate"):
        n, col = int(m.group(2)), m.group(3)
    else:
        col, n = m.group(2), None
    c = F.col(col)
    if fn == "identity":
        return col, c
    if fn == "days":
        return f"{col}_day", F.date_trunc("day", c).cast("date")
    if fn == "months":
        return f"{col}_month", F.date_trunc("month", c).cast("date")
    if fn == "years":
        return f"{col}_year", F.year(c)
    if fn == "hours":
        return f"{col}_hour", F.date_format(c, "yyyy-MM-dd-HH")
    if fn == "bucket":
        return f"{col}_bucket", F.pmod(F.xxhash64(c), F.lit(n)).cast("int")
    if fn == "truncate":
        # Iceberg truncate semantics depend on the source type
        # (iceberg spec §Partition Transforms): numeric truncate is
        # width-based — v - (v mod W) with a non-negative mod, so
        # truncate(2, -123) = -124 — while string truncate is a prefix.
        # Callers that know the column type (apply_partition_transforms)
        # pass dtype; a bare call without dtype gets prefix semantics,
        # which is only Iceberg-equivalent for strings.
        if dtype in ("tinyint", "smallint", "int", "bigint"):
            # Exact integer arithmetic: v - (v pmod W). Never `/` —
            # double division loses precision above 2^53 for bigints.
            return f"{col}_trunc", (c - F.pmod(c, F.lit(n))).cast(dtype)
        if dtype is not None and re.fullmatch(r"decimal\(\d+,\s*\d+\)", dtype):
            # Iceberg applies W to the UNSCALED value: the effective
            # width is W * 10^-scale in the value's own scale, so
            # truncate(50, 10.65) = 10.65 - (10.65 pmod 0.50) = 10.50.
            scale = int(dtype.rstrip(")").split(",")[1])
            width = decimal.Decimal(n).scaleb(-scale)
            w = F.lit(width).cast(dtype)
            return f"{col}_trunc", (c - F.pmod(c, w)).cast(dtype)
        return f"{col}_trunc", F.substring(c.cast("string"), 1, n)
    raise ValueError(f"unknown partition transform: {fn}")


def apply_partition_transforms(
    df: DataFrame, specs: list[str]
) -> tuple[DataFrame, list[str]]:
    """Add derived partition columns for each transform spec; returns
    (df with columns, partition column names) ready for write()."""
    dtypes = dict(df.dtypes)
    cols = []
    for spec in specs:
        src = spec.strip().rstrip(")").split(",")[-1].split("(")[-1].strip()
        name, expr = partition_transform(spec, dtype=dtypes.get(src))
        df = df.withColumn(name, expr)
        cols.append(name)
    return df, cols


def _partition_dir_value(v) -> str:
    """Render a partition value exactly as Spark names the partition
    directory (before URL-encoding): NULL becomes the Hive default
    partition token, everything else uses its string form (Spark writes
    dates/timestamps in the same ISO shapes ``str()`` produces)."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        # Spark renders boolean partition dirs lowercase (flag=true);
        # str(True) is 'True' and would miss the touched-dir match,
        # hardlinking the stale dir in beside the rewrite (dup rows)
        return str(v).lower()
    return str(v)


def _link_tree(src: str, dst: str) -> None:
    """Recreate ``src`` under ``dst`` with hardlinks (fallback: copy).
    Data files are immutable once committed, so links are safe."""
    os.makedirs(dst, exist_ok=True)
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        target_root = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(target_root, exist_ok=True)
        for f in files:
            s = os.path.join(root, f)
            d = os.path.join(target_root, f)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


@dataclass
class Snapshot:
    version: int
    path: str
    operation: str
    timestamp_ms: int
    row_count: int | None = None
    # merge-on-read: pending delete-key file applied at read time
    delete_path: str | None = None
    delete_key_cols: list | None = None
    # partition-scoped merges can carry old-schema files (hardlinked)
    # alongside rewritten ones; readers must merge footers
    mixed_schema: bool = False
    # merge-on-read UPSERT layers: ordered dirs under _upserts/, each a
    # small parquet file set; read() folds them newest-last (anti-join
    # older data on the layer's keys, then union the layer)
    upsert_layers: list | None = None
    upsert_key_cols: list | None = None
    # WAP: table version observed when this snapshot was staged —
    # publish() refuses if the table moved since (optimistic check)
    base_version: int | None = None
    # M5 metadata-only schema evolution (Iceberg rename/drop are
    # metadata operations — no data rewrite at any scale): physical
    # parquet column name -> current name, and physical names hidden
    # from reads. Applied to base files, upsert layers, and delete
    # files uniformly at read time; any full rewrite (write/merge/
    # compact) materializes the current schema and clears these.
    renames: dict | None = None
    dropped: list | None = None
    # partition layout of this snapshot's base files (Hive dirs). Row-
    # level rewrites (DELETE/UPDATE/MERGE/compact) inherit it so one
    # GDPR delete can't silently flatten a date-partitioned table.
    partition_by: list | None = None
    # Spark schema (JSON form) of the base files' data columns, read at
    # commit from the key Spark writes into every footer. Reads pass it
    # to .schema(...) instead of inferring it with a Spark job; None
    # (files disagree, no footer, or recorded before this field)
    # falls back to inference.
    data_schema: dict | None = None


class CommitConflictError(RuntimeError):
    """Another writer committed since this operation began (optimistic
    concurrency, the Iceberg commit model): retry on top of the new
    current snapshot."""


class SnapshotCatalog:
    """File-backed snapshot catalog with atomic pointer commits."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.warehouse = warehouse_dir
        os.makedirs(warehouse_dir, exist_ok=True)

    # ---- paths ----------------------------------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _log_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_log.jsonl")

    def _pointer_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_current")

    # ---- metadata -------------------------------------------------------
    def history(self, name: str) -> list[Snapshot]:
        path = self._log_path(name)
        if not os.path.exists(path):
            return []
        out, seen = [], set()
        with open(path) as f:
            for line in f:
                try:
                    d = json.loads(line)
                except ValueError:
                    continue  # torn trailing append (writer died mid-line)
                if d["version"] in seen:
                    continue  # replayed publish (claim finisher race)
                seen.add(d["version"])
                out.append(Snapshot(**d))
        return out

    def current_snapshot(self, name: str) -> Snapshot | None:
        ptr = self._pointer_path(name)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            snap = Snapshot(**json.load(f))
        # Roll forward over fully-claimed successor versions: the claim
        # file (commits/v{N}, written via O_EXCL) is the commit arbiter
        # and carries the snapshot JSON, so a pointer that lags a claim
        # (claimer died mid-publish, or a slow finisher briefly rewrote
        # an older pointer) never loses the newer committed snapshot —
        # readers see the claim sequence, the pointer is only a cache.
        commits = os.path.join(self._tdir(name), "commits")
        while True:
            nxt = os.path.join(commits, f"v{snap.version + 1:06d}")
            try:
                with open(nxt) as f:
                    snap = Snapshot(**json.loads(f.read()))
            except (OSError, ValueError):
                return snap  # no successor claim / content not yet written

    def exists(self, name: str) -> bool:
        return self.current_snapshot(name) is not None

    def tables(self) -> list[str]:
        if not os.path.isdir(self.warehouse):
            return []
        return sorted(
            d
            for d in os.listdir(self.warehouse)
            if os.path.exists(os.path.join(self.warehouse, d, "_current"))
        )

    # ---- commit protocol ------------------------------------------------
    def _new_snapshot_dir(
        self, name: str, version: int | None = None
    ) -> tuple[int, str]:
        """Allocate the next snapshot dir. ``version`` pins the commit
        to a basis read earlier by the caller (read-modify-write paths):
        if another writer lands in between, registration conflicts
        instead of silently committing a df derived from stale data."""
        if version is None:
            prev = self.current_snapshot(name)
            version = (prev.version + 1) if prev else 1
        return version, os.path.join(
            self._tdir(name), "snapshots", f"v{version:06d}-{uuid.uuid4().hex[:8]}"
        )

    def _register_snapshot(
        self,
        name: str,
        version: int,
        snap_dir: str,
        operation: str,
        delete_path: str | None = None,
        delete_key_cols: list[str] | None = None,
        mixed_schema: bool = False,
        upsert_layers: list[str] | None = None,
        upsert_key_cols: list[str] | None = None,
        renames: dict | None = None,
        dropped: list | None = None,
        partition_by: list[str] | None = None,
    ) -> Snapshot:
        """Atomic pointer swap: temp file + rename (same protocol shape
        as Iceberg's metadata pointer update). On conflict the caller's
        snapshot directory is removed — no orphan data dirs.

        One pass over the base files' footers, BEFORE the pointer swap,
        gives the persisted record its row count and data schema. Both
        come from the files themselves, so commits that carry files
        forward (rollback, branch fork, rename/drop, MOR layers) need
        no bookkeeping. The row count stays unknown while merge-on-read
        layers or deletes are pending (footers can't see them)."""
        footer_rows, data_schema = _footer_meta(snap_dir)
        snap = Snapshot(
            version=version,
            path=snap_dir,
            operation=operation,
            timestamp_ms=int(time.time() * 1000),
            row_count=None if (delete_path or upsert_layers) else footer_rows,
            delete_path=delete_path,
            delete_key_cols=delete_key_cols,
            mixed_schema=mixed_schema,
            upsert_layers=upsert_layers,
            upsert_key_cols=upsert_key_cols,
            renames=renames or None,
            dropped=dropped or None,
            partition_by=list(partition_by) if partition_by else None,
            data_schema=data_schema,
        )
        # optimistic concurrency: the version we computed must still be
        # next-in-line; a concurrent committer makes this a conflict,
        # not a silent clobber (Iceberg's retry contract)
        cur = self.current_snapshot(name)
        cur_version = cur.version if cur else 0
        if cur_version != version - 1:
            shutil.rmtree(snap_dir, ignore_errors=True)
            raise CommitConflictError(
                f"{name}: expected to commit v{version} on top of "
                f"v{version - 1}, but current is v{cur_version}"
            )
        # The check above is advisory (racy between read and swap): the
        # ARBITER is an O_EXCL claim file per version — exactly one
        # writer can create commits/v{N}, so two racers that both read
        # current=v{N-1} cannot both publish v{N} (the loser's pointer
        # swap would silently drop the winner's snapshot). The claim
        # file carries the full snapshot JSON, so a claimer that dies
        # mid-commit leaves enough state for any later writer to finish
        # the publish (see the FileExistsError path).
        commits = os.path.join(self._tdir(name), "commits")
        os.makedirs(commits, exist_ok=True)
        claim = os.path.join(commits, f"v{version:06d}")
        payload = json.dumps(snap.__dict__)
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            shutil.rmtree(snap_dir, ignore_errors=True)
            self._finish_claimed_commit(name, version, claim)
            raise CommitConflictError(
                f"{name}: another writer claimed v{version} first; "
                "retry on top of the new current snapshot"
            ) from None
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        self._publish_pointer(name, version, payload)
        return snap

    def _publish_pointer(self, name: str, version: int, payload: str) -> None:
        """Pointer swap + log append for an already-claimed version.
        Idempotent: replaying it writes identical bytes, and the log
        append is skipped if the version is already logged (history()
        additionally dedupes by version for the interleaved-append
        race, which keeps the replay harmless)."""
        ptr = self._pointer_path(name)
        tmp = ptr + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, ptr)
        logged = {s.version for s in self.history(name)}
        if version in logged:
            return
        with open(self._log_path(name), "a") as f:
            # backfill log records for earlier claimed-but-unlogged
            # versions first (a claimer that died mid-publish was rolled
            # forward over by a later writer): their claim files hold
            # the payload. Versions removed by expire_snapshots lose
            # their claims too, so expiry gaps are never resurrected.
            commits = os.path.join(self._tdir(name), "commits")
            lo = max(logged) + 1 if logged else 1
            for v in range(lo, version):
                if v in logged:
                    continue
                try:
                    with open(os.path.join(commits, f"v{v:06d}")) as cf:
                        prior = cf.read()
                    json.loads(prior)
                except (OSError, ValueError):
                    continue
                f.write(prior + "\n")
            f.write(payload + "\n")

    def _finish_claimed_commit(self, name: str, version: int, claim: str) -> None:
        """If v{version} was claimed but never published (claimer died
        between claim and pointer swap), complete it from the claim
        file so the version sequence cannot wedge. No-op when the
        pointer already advanced past it."""
        cur = self.current_snapshot(name)
        if cur is not None and cur.version >= version:
            return
        try:
            with open(claim) as f:
                payload = f.read()
            json.loads(payload)  # torn claim write -> leave for the claimer
        except (OSError, ValueError):
            return
        self._publish_pointer(name, version, payload)

    # ---- table properties (Iceberg table-property analog) ---------------
    def _props_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_props.json")

    def table_properties(self, name: str) -> dict:
        try:
            with open(self._props_path(name)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def set_table_properties(self, name: str, props: dict) -> dict:
        """Merge-update persistent table properties (None deletes a key).
        Properties apply to every FUTURE rewrite; existing snapshots are
        immutable, exactly like Iceberg's write.* properties."""
        os.makedirs(self._tdir(name), exist_ok=True)
        cur = self.table_properties(name)
        for k, v in props.items():
            if v is None:
                cur.pop(k, None)
            else:
                cur[k] = v
        tmp = f"{self._props_path(name)}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cur, f)
        os.replace(tmp, self._props_path(name))
        return cur

    def set_bloom_filters(self, name: str, cols: dict) -> None:
        """Enable parquet bloom filters on ``cols`` ({col: expected_ndv
        or None}) for every future snapshot write of this table — the
        ``write.parquet.bloom-filter-enabled.column.<col>`` analog.

        At 100 TB: min/max footer stats prune range predicates but are
        useless for point lookups on high-cardinality unsorted keys
        (every file's [min,max] spans the whole keyspace); a bloom
        filter answers "key definitely not in this row group" in one
        bitset probe, turning needle-in-haystack lookups from a full
        scan into a handful of row groups. Costs ~1.2 bytes/ndv of
        footer space per column."""
        self.set_table_properties(name, {"bloom_filters": cols})

    def _write_options(self, name: str, writer):
        """Apply persistent per-table writer options (bloom filters)."""
        props = self.table_properties(name)
        for col, ndv in (props.get("bloom_filters") or {}).items():
            writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
            if ndv:
                writer = writer.option(
                    f"parquet.bloom.filter.expected.ndv#{col}", str(ndv)
                )
        return writer

    def _commit(
        self,
        name: str,
        df: DataFrame,
        operation: str,
        partition_by: list[str] | None,
        expected_version: int | None = None,
    ) -> Snapshot:
        # Partition-spec inheritance (Iceberg: the spec is table state,
        # not a per-write argument): callers that don't specify a
        # layout keep the previous snapshot's — so DELETE/UPDATE/MERGE/
        # compact never silently flatten a partitioned table. Pass
        # partition_by=[] to explicitly unpartition.
        if partition_by is None:
            prev = self.current_snapshot(name)
            if prev is not None and prev.partition_by:
                # inherited spec: tolerate a since-dropped/renamed
                # partition column by keeping only columns still present
                partition_by = [c for c in prev.partition_by if c in df.columns]
        partition_by = list(partition_by) if partition_by else None
        version, snap_dir = self._new_snapshot_dir(name, expected_version)
        writer = self._write_options(name, df.write.mode("overwrite"))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(snap_dir)
        return self._register_snapshot(
            name, version, snap_dir, operation, partition_by=partition_by
        )

    # ---- public write paths --------------------------------------------
    def write(
        self,
        name: str,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        operation: str | None = None,
    ) -> Snapshot:
        """S5 full write (CTAS-overwrite) / append; auto-creates (M7).
        ``operation`` overrides the history label (SQL DML dispatch
        records e.g. ``merge(sql)`` instead of ``overwrite``)."""
        if mode == "append" and self.exists(name):
            return self.rewrite(
                name,
                lambda existing: existing.unionByName(df, allowMissingColumns=True),
                operation or "append",
                partition_by,
            )
        return self._commit(name, df, operation or "overwrite", partition_by)

    def rewrite(
        self,
        name: str,
        fn,
        operation: str,
        partition_by: list[str] | None = None,
    ) -> Snapshot:
        """The one read-modify-write commit: ``fn(basis_df)`` is
        committed pinned to the version after the basis snapshot read
        here, so a writer that commits in between makes this raise
        CommitConflictError instead of being overwritten (retry with
        :func:`commit_with_retry`). Every row-level rewrite of one table
        goes through here. ValueError if the table does not exist."""
        basis = self.current_snapshot(name)
        if basis is None:
            raise ValueError(f"table not found: {name}")
        df = fn(self._read_snapshot(basis))
        return self._commit(
            name, df, operation, partition_by, expected_version=basis.version + 1
        )

    def merge(
        self,
        name: str,
        source: DataFrame,
        key_cols: list[str],
        partition_by: list[str] | None = None,
        delete_keys: DataFrame | None = None,
    ) -> Snapshot:
        """S6 incremental MERGE (upsert-by-key): pure-Spark fallback for
        Iceberg's MERGE INTO — anti-join the target, union the source,
        commit a new snapshot. Schema evolution (M5): new source columns
        are added, missing ones null-filled (unionByName allowMissing).
        ``delete_keys`` (holding ``key_cols``) removes rows without
        re-inserting them: the shadowed keys are the source keys plus
        the delete keys.
        """
        if not self.exists(name):
            return self._commit(name, source, "create-on-merge", partition_by)
        keys = source.select(*key_cols)
        if delete_keys is not None:
            keys = keys.unionByName(delete_keys.select(*key_cols))
        return self.rewrite(
            name,
            lambda target: target.join(keys.distinct(), key_cols, "left_anti")
            .unionByName(source, allowMissingColumns=True),
            "merge",
            partition_by,
        )

    def merge_partitioned(
        self,
        name: str,
        source: DataFrame,
        key_cols: list[str],
        partition_col: str,
        delete_keys: DataFrame | None = None,
    ) -> Snapshot:
        """Partition-scoped MERGE: only partitions containing changed
        keys are rewritten; every untouched partition's data files are
        carried into the new snapshot by hardlink (the filesystem analog
        of an Iceberg manifest referencing existing files).

        At 100 TB with date-partitioned targets a CDC batch touching one
        day rewrites one day, not the table — commit cost is
        O(touched partitions), metadata cost O(#partitions).
        ``delete_keys`` (key_cols + partition_col) removes rows without
        re-inserting them.
        """
        import urllib.parse

        if not self.exists(name):
            return self._commit(name, source, "create-on-merge", [partition_col])

        prev = self.current_snapshot(name)
        if prev.delete_path or prev.upsert_layers or prev.renames or prev.dropped:
            # pending merge-on-read state and metadata-only schema
            # changes live at snapshot scope, not partition scope —
            # hardlinking untouched partitions raw would resurrect
            # deleted rows / drop layered upserts / mix physical
            # schemas across partition dirs. Materialize first (one
            # full rewrite), then merge scoped.
            prev = self.rewrite(name, lambda df: df, "materialize-mor", [partition_col])
        part_prefix = f"{partition_col}="
        prev_part_dirs = [
            e for e in os.listdir(prev.path) if e.startswith(part_prefix)
        ]
        if not prev_part_dirs:
            # target isn't partitioned on this column — full merge
            return self.merge(name, source, key_cols, delete_keys=delete_keys)

        changed = source.select(*key_cols, partition_col)
        if delete_keys is not None:
            changed = changed.unionByName(delete_keys.select(*key_cols, partition_col))
        vals = [r[0] for r in changed.select(partition_col).distinct().collect()]
        target = self._read_snapshot(prev)
        # isin() with a None in the list is NULL for every row (SQL
        # three-valued logic), which would silently drop *all* base rows
        # of the null partition from the rewrite while touched_strs
        # still excludes that dir from hardlinking — data loss. Select
        # the null partition explicitly.
        non_null_vals = [v for v in vals if v is not None]
        touched_cond = (
            F.col(partition_col).isin(non_null_vals)
            if non_null_vals
            else F.lit(False)
        )
        if len(non_null_vals) != len(vals):
            touched_cond = touched_cond | F.col(partition_col).isNull()
        touched_target = target.filter(touched_cond)
        keys_only = changed.select(*key_cols).distinct()
        merged = touched_target.join(keys_only, key_cols, "left_anti").unionByName(
            source, allowMissingColumns=True
        )

        version, snap_dir = self._new_snapshot_dir(name, prev.version + 1)
        self._write_options(name, merged.write.mode("overwrite")).partitionBy(
            partition_col
        ).parquet(snap_dir)

        # directory-name match must use Spark's own rendering: a NULL
        # partition value lands in __HIVE_DEFAULT_PARTITION__, not "None"
        # — getting this wrong would hardlink the stale null partition
        # in beside the rewritten one and silently duplicate rows
        touched_strs = {_partition_dir_value(v) for v in vals}
        linked = 0
        new_cols = set(merged.columns)
        # prev has no MOR or rename/drop state here (materialized above),
        # so the target read's columns are exactly its files' columns
        prev_cols = set(target.columns)
        for entry in prev_part_dirs:
            val = urllib.parse.unquote(entry[len(part_prefix):])
            if val in touched_strs:
                continue
            _link_tree(os.path.join(prev.path, entry), os.path.join(snap_dir, entry))
            linked += 1
        # carried-forward files keep the previous schema; if the rewrite
        # evolved it (or the prev snapshot was already mixed), flag the
        # snapshot so read() merges all footers instead of trusting one
        # recorded schema
        mixed = linked > 0 and (new_cols != prev_cols or prev.mixed_schema)
        return self._register_snapshot(
            name,
            version,
            snap_dir,
            f"merge-partitioned(rewrote={len(touched_strs)},linked={linked})",
            mixed_schema=mixed,
            partition_by=[partition_col],
        )

    def _reject_null_keys(
        self, df: DataFrame, key_cols: list[str], op: str
    ) -> None:
        """MOR layers shadow base rows via anti-joins, and SQL equality
        never matches NULL = NULL — a NULL key value would silently
        fail to shadow/delete (duplicate rows on read). Reject at
        commit time, the same contract as Iceberg identifier fields
        (required non-null). Cost: one job over the (small by
        construction) batch."""
        null_any = None
        for k in key_cols:
            c = F.col(k).isNull()
            null_any = c if null_any is None else (null_any | c)
        if df.filter(null_any).limit(1).count() > 0:
            raise ValueError(
                f"{op}: NULL in key column(s) {key_cols}; merge-on-read "
                "keys must be non-null (Iceberg identifier-field contract)"
            )

    def delete_by_keys(
        self, name: str, keys_df: DataFrame, key_cols: list[str]
    ) -> Snapshot:
        """Merge-on-read DELETE: commit a delete-key file instead of
        rewriting data (Iceberg equality-delete analog).

        The new snapshot's data files are the previous snapshot's files
        carried forward by hardlink; the only new bytes written are the
        (accumulated) delete keys — commit cost O(|delete set|), not
        O(|table|). `compact()` (or any merge/overwrite) materializes
        the deletes and clears the file. At 100 TB this is the delete
        path: a GDPR erase of k rows writes k keys.
        """
        prev = self.current_snapshot(name)
        if prev is None:
            raise ValueError(f"table not found: {name}")
        self._reject_null_keys(keys_df, key_cols, "delete_by_keys")
        if prev.delete_key_cols and prev.delete_key_cols != key_cols:
            raise ValueError(
                f"{name}: pending deletes keyed on {prev.delete_key_cols}; "
                "compact() before deleting on different keys"
            )
        if prev.upsert_key_cols and prev.upsert_key_cols != key_cols:
            raise ValueError(
                f"{name}: pending upsert layers keyed on "
                f"{prev.upsert_key_cols}; compact() before deleting on "
                "different keys"
            )
        new_deletes = keys_df.select(*key_cols)
        if prev.delete_path and os.path.isdir(prev.delete_path):
            prev_dels = self._read_side_dir(prev.delete_path).select(*key_cols)
            new_deletes = prev_dels.unionByName(new_deletes).distinct()

        version, snap_dir = self._new_snapshot_dir(name, prev.version + 1)
        _link_tree(prev.path, snap_dir)
        del_dir = os.path.join(snap_dir, "_deletes")
        # plan the merged delete set BEFORE overwriting (reads from the
        # previous snapshot's own _deletes, untouched by the overwrite)
        new_deletes.write.mode("overwrite").parquet(del_dir)
        return self._register_snapshot(
            name,
            version,
            snap_dir,
            "delete-by-keys(mor)",
            delete_path=del_dir,
            delete_key_cols=key_cols,
            mixed_schema=prev.mixed_schema,
            # upsert layers ride along untouched (hardlinked above);
            # the delete set applies after them at read time
            upsert_layers=prev.upsert_layers,
            upsert_key_cols=prev.upsert_key_cols,
            renames=prev.renames,
            dropped=prev.dropped,
            partition_by=prev.partition_by,
        )

    def append_rows(self, name: str, source: DataFrame) -> Snapshot:
        """Append-only commit: O(|source|) write with ZERO read-side
        folds — the insert-only counterpart to :meth:`upsert_by_keys`.

        For state that only ever gains rows (streaming-ingest digest
        sets and dedup-index entries), an upsert layer per micro-batch
        would make every read fold #batches anti-joins over the corpus
        — a per-batch O(corpus × layers) cost. Here the previous base
        files are carried forward by hardlink and the new rows land as
        additional plain part files in the SAME snapshot directory, so
        ``read()`` stays a flat parquet scan no matter how many batches
        have appended; time travel and snapshot history still work.

        Refuses tables carrying MOR layers, pending deletes, partition
        specs, or schema-evolution metadata — append-only and keyed
        fold semantics don't mix; ``compact()`` first.
        """
        prev = self.current_snapshot(name)
        if prev is None:
            return self._commit(name, source, "append", None)
        if (prev.upsert_layers or prev.delete_path or prev.renames
                or prev.dropped or prev.partition_by):
            raise ValueError(
                f"{name}: append_rows requires a plain un-partitioned "
                "base (no pending upsert/delete layers, no schema-"
                "evolution metadata) — compact() first"
            )
        version, snap_dir = self._new_snapshot_dir(name, prev.version + 1)
        _link_tree(prev.path, snap_dir)
        # the linked footer-stats cache predates the appended files —
        # drop it so manifest pruning can't silently skip them; it
        # rebuilds lazily on the next scan()
        stale_stats = os.path.join(snap_dir, "_stats.json")
        if os.path.exists(stale_stats):
            os.remove(stale_stats)
        self._write_options(name, source.write.mode("append")).parquet(snap_dir)
        return self._register_snapshot(name, version, snap_dir, "append")

    def upsert_by_keys(
        self, name: str, source: DataFrame, key_cols: list[str]
    ) -> Snapshot:
        """Merge-on-read UPSERT: commit only the changed rows as a new
        layer file set (Iceberg equality-delete + data-file commit in
        one). Nothing in the base table is rewritten — commit cost is
        O(|source|), not O(|table|).

        Layout: the previous snapshot's files are carried forward by
        hardlink; the source rows land under ``_upserts/seq-NNNNNN``
        (underscore-prefixed, so plain parquet reads skip them).
        ``read()`` folds layers oldest-to-newest: rows in older data
        matching a layer's keys are shadowed (anti-join), then the
        layer's rows are unioned — latest wins, identical to a COW
        MERGE. ``compact()`` materializes everything back to a flat
        base (read amplification is O(#layers); compact when deep).

        At 100 TB this is the streaming-upsert path: a CDC batch of k
        rows commits k rows + one pointer swap, and the read-side
        anti-joins are broadcast joins as long as layers stay small.
        """
        prev = self.current_snapshot(name)
        # Validate BEFORE the create-on-upsert early return: a NULL-key
        # base row committed by the first batch could never be shadowed
        # or deleted by any later key-based operation.
        self._reject_null_keys(source, key_cols, "upsert_by_keys")
        if prev is None:
            return self._commit(name, source, "create-on-upsert", None)
        if prev.upsert_key_cols and prev.upsert_key_cols != key_cols:
            raise ValueError(
                f"{name}: pending upsert layers keyed on "
                f"{prev.upsert_key_cols}; compact() before upserting on "
                "different keys"
            )
        if prev.delete_key_cols and prev.delete_key_cols != key_cols:
            raise ValueError(
                f"{name}: pending deletes keyed on {prev.delete_key_cols}; "
                "compact() before upserting on different keys"
            )

        version, snap_dir = self._new_snapshot_dir(name, prev.version + 1)
        _link_tree(prev.path, snap_dir)
        layers = list(prev.upsert_layers or [])
        layer_rel = os.path.join("_upserts", f"seq-{len(layers) + 1:06d}")
        self._write_options(name, source.write.mode("overwrite")).parquet(
            os.path.join(snap_dir, layer_rel)
        )
        layers.append(layer_rel)

        # an upserted key must come back to life even if a pending
        # delete shadowed it: rewrite the (small) delete set minus the
        # source keys
        delete_path = None
        delete_key_cols = prev.delete_key_cols
        if prev.delete_path and os.path.isdir(prev.delete_path):
            remaining = (
                self._read_side_dir(prev.delete_path)
                .join(source.select(*key_cols).distinct(), key_cols, "left_anti")
            )
            del_dir = os.path.join(snap_dir, "_deletes")
            remaining.write.mode("overwrite").parquet(del_dir)
            delete_path = del_dir
        return self._register_snapshot(
            name,
            version,
            snap_dir,
            f"upsert-by-keys(mor,layers={len(layers)})",
            delete_path=delete_path,
            delete_key_cols=delete_key_cols if delete_path else None,
            mixed_schema=prev.mixed_schema,
            upsert_layers=layers,
            upsert_key_cols=key_cols,
            renames=prev.renames,
            dropped=prev.dropped,
            partition_by=prev.partition_by,
        )

    # ---- write-audit-publish (staged commits) ---------------------------
    def stage(
        self, name: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> Snapshot:
        """WAP step 1: write a full candidate snapshot WITHOUT moving
        the table pointer. Readers keep seeing the current version;
        audits run against ``read_staged``. ``publish`` promotes it
        atomically, ``discard_staged`` drops it.

        This is the write-audit-publish pattern (Iceberg WAP): quality
        gates (plans/quality.run_checks) run between stage and publish,
        so a bad batch never becomes visible — at 100 TB the audit
        reads the staged files once and the publish itself is just a
        pointer swap.
        """
        cur = self.current_snapshot(name)
        # same spec inheritance as _commit: a WAP flow that doesn't
        # restate the layout must not silently flatten the table it
        # will publish over (partition_by=[] explicitly unpartitions)
        if partition_by is None and cur is not None and cur.partition_by:
            partition_by = [c for c in cur.partition_by if c in df.columns]
        partition_by = list(partition_by) if partition_by else None
        sdir = os.path.join(self._tdir(name), "staged", uuid.uuid4().hex[:8])
        writer = self._write_options(name, df.write.mode("overwrite"))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(sdir)
        row_count, data_schema = _footer_meta(sdir)
        return Snapshot(
            version=-1,
            path=sdir,
            operation="staged",
            timestamp_ms=int(time.time() * 1000),
            row_count=row_count,
            base_version=cur.version if cur else 0,
            partition_by=partition_by,
            data_schema=data_schema,
        )

    def read_staged(self, staged: Snapshot) -> DataFrame:
        return self._read_base(staged)

    def publish(self, name: str, staged: Snapshot) -> Snapshot:
        """WAP step 3: promote the staged snapshot — one rename into
        snapshots/ plus the usual conflict-checked pointer swap. On a
        commit conflict the staged data is dropped (re-stage to retry,
        the same contract as any losing writer)."""
        # optimistic check against the version observed at stage time —
        # BEFORE moving the staged dir, so a conflicting publish leaves
        # the staged snapshot intact for audit/re-stage
        cur = self.current_snapshot(name)
        cur_version = cur.version if cur else 0
        if staged.base_version is not None and cur_version != staged.base_version:
            raise CommitConflictError(
                f"{name}: staged against v{staged.base_version} but current "
                f"is v{cur_version}; re-stage to publish"
            )
        version, snap_dir = self._new_snapshot_dir(name)
        os.makedirs(os.path.dirname(snap_dir), exist_ok=True)
        os.rename(staged.path, snap_dir)
        return self._register_snapshot(
            name,
            version,
            snap_dir,
            "publish",
            partition_by=staged.partition_by,
        )

    def discard_staged(self, staged: Snapshot) -> None:
        shutil.rmtree(staged.path, ignore_errors=True)

    def cleanup_staged(self, name: str, older_than_ms: int = 24 * 3600 * 1000) -> int:
        """Drop abandoned staged snapshots older than the cutoff
        (one half of orphan cleanup; ``remove_orphan_snapshots`` sweeps
        unclaimed snapshot dirs left by hard-killed writers)."""
        sroot = os.path.join(self._tdir(name), "staged")
        if not os.path.isdir(sroot):
            return 0
        cutoff = time.time() - older_than_ms / 1000
        removed = 0
        for d in os.listdir(sroot):
            p = os.path.join(sroot, d)
            if os.path.isdir(p) and os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
                removed += 1
        return removed

    # refuse orphan sweeps with a window under 1h unless forced: a
    # legitimate in-flight write that outlives the window (dir written,
    # claim not yet recorded) would be swept mid-commit. Iceberg
    # documents the same hazard for remove_orphan_files.
    MIN_ORPHAN_AGE_MS = 3600 * 1000

    def remove_orphan_snapshots(
        self,
        name: str,
        older_than_ms: int = 24 * 3600 * 1000,
        force: bool = False,
    ) -> int:
        """Drop snapshot dirs no committed version references (the rest
        of Iceberg's remove_orphan_files): a writer hard-killed AFTER
        writing its snapshot dir but BEFORE claiming the version leaves
        the dir behind — the graceful conflict path cleans up, a
        SIGKILL cannot. Age-gated so an in-flight commit (dir written,
        claim microseconds away) is never swept.

        HAZARD (same as Iceberg's remove_orphan_files): the age gate is
        the only protection against sweeping a live writer's in-flight
        snapshot. Windows below ``MIN_ORPHAN_AGE_MS`` (1h) are refused
        unless ``force=True``; the gate uses the NEWEST mtime anywhere
        in the dir tree, so a long multi-file write stays protected as
        long as any of its files is recent."""
        if older_than_ms < self.MIN_ORPHAN_AGE_MS and not force:
            raise ValueError(
                f"remove_orphan_snapshots: older_than_ms={older_than_ms}"
                f" is below the {self.MIN_ORPHAN_AGE_MS} ms safety floor"
                " — an in-flight write slower than the window would be"
                " swept mid-commit. Pass force=True only if no writers"
                " can be active."
            )
        sroot = os.path.join(self._tdir(name), "snapshots")
        if not os.path.isdir(sroot):
            return 0
        referenced = {os.path.basename(s.path) for s in self.history(name)}
        cur = self.current_snapshot(name)
        if cur is not None:
            referenced.add(os.path.basename(cur.path))
        commits = os.path.join(self._tdir(name), "commits")
        if os.path.isdir(commits):
            for c in os.listdir(commits):
                try:
                    with open(os.path.join(commits, c)) as fh:
                        referenced.add(
                            os.path.basename(json.loads(fh.read())["path"])
                        )
                except (OSError, ValueError, KeyError):
                    continue
        cutoff = time.time() - older_than_ms / 1000
        removed = 0
        for d in os.listdir(sroot):
            p = os.path.join(sroot, d)
            if (
                d not in referenced
                and os.path.isdir(p)
                and self._newest_mtime(p) < cutoff
            ):
                shutil.rmtree(p, ignore_errors=True)
                removed += 1
        return removed

    @staticmethod
    def _newest_mtime(path: str) -> float:
        """Newest mtime anywhere under ``path`` (incl. the dir itself):
        the orphan age gate must see a slow writer's most recent file,
        not just the top dir's creation time."""
        newest = os.path.getmtime(path)
        for root, dirs, files in os.walk(path):
            for entry in dirs + files:
                try:
                    newest = max(
                        newest, os.path.getmtime(os.path.join(root, entry))
                    )
                except OSError:
                    continue
        return newest

    def write_transformed(
        self, name: str, df: DataFrame, partition_transforms: list[str]
    ) -> Snapshot:
        """Write with Iceberg-style hidden partitioning: derived
        partition columns (days/months/years/hours/bucket/truncate) are
        added and partitioned on, so writers declare intent once and
        readers prune on the derived dirs."""
        out, cols = apply_partition_transforms(df, partition_transforms)
        return self.write(name, out, partition_by=cols)

    def publish_all(self, staged: dict) -> dict:
        """All-or-nothing multi-table publish: promote every staged
        snapshot in one pass; if any commit conflicts, roll back the
        tables already published in this call and re-raise.

        This is compensation, not a true cross-table transaction (each
        pointer swap is individually atomic; a reader racing the batch
        can observe a prefix) — the same contract Iceberg gives without
        a REST-catalog transaction. Stage everything first so the
        publish window is pointer swaps only, microseconds per table.
        """
        # record each table's pre-publish version so compensation can
        # handle tables that did not exist before this call (published
        # as v1 — rollback to v0 is impossible, the table is dropped)
        done: list[tuple[str, int]] = []
        try:
            out = {}
            for name, s in staged.items():
                cur = self.current_snapshot(name)
                prior = cur.version if cur else 0
                out[name] = self.publish(name, s)
                done.append((name, prior))
            return out
        except CommitConflictError as conflict:
            # best-effort: every compensation runs even if one fails;
            # failures are attached to the re-raised conflict (and
            # warned) rather than swallowed, so a partially-rolled-back
            # state is never silent
            failures: list[str] = []
            for name, prior in reversed(done):
                try:
                    if prior == 0:
                        self.drop_table(name)
                    else:
                        self.rollback(name, prior)
                except Exception as exc:  # noqa: BLE001 — report, don't mask
                    msg = f"compensation failed for {name!r} (restore to v{prior}): {exc}"
                    failures.append(msg)
                    warnings.warn(msg, stacklevel=2)
            if failures:
                for msg in failures:
                    conflict.add_note(msg)
            raise

    def drop_table(self, name: str) -> None:
        """Remove the table: pointer, history, snapshots, tags. Used by
        DROP TABLE and by publish_all compensation for tables that did
        not exist before a failed multi-table publish."""
        shutil.rmtree(self._tdir(name), ignore_errors=True)

    def rollback(self, name: str, version: int) -> Snapshot:
        """Roll the table back to an old version AS A NEW COMMIT
        (Iceberg rollback semantics): history is preserved, the new
        snapshot's files are the old version's files hardlinked — no
        data rewrite, O(#files) metadata."""
        old = self._resolve(name, version, None)
        new_version, snap_dir = self._new_snapshot_dir(name)
        _link_tree(old.path, snap_dir)
        delete_path = None
        if old.delete_path and os.path.isdir(old.delete_path):
            delete_path = os.path.join(snap_dir, "_deletes")
        return self._register_snapshot(
            name,
            new_version,
            snap_dir,
            f"rollback(to=v{version})",
            delete_path=delete_path,
            delete_key_cols=old.delete_key_cols if delete_path else None,
            mixed_schema=old.mixed_schema,
            upsert_layers=old.upsert_layers,
            upsert_key_cols=old.upsert_key_cols,
            renames=old.renames,
            dropped=old.dropped,
            partition_by=old.partition_by,
        )

    def diff(
        self, name: str, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level change query between two snapshots (the Iceberg
        incremental-read / CDC-read analog): inserts and deletes, an
        update appearing as delete+insert. Computed as two exceptAlls —
        one shuffle each on the full row; fine for audit/debug grain,
        use the CDC envelope stream for continuous consumption."""
        older = self.read(name, from_version)
        newer = self.read(name, to_version)
        ins = newer.exceptAll(older).withColumn("_change_type", F.lit("insert"))
        dels = older.exceptAll(newer).withColumn("_change_type", F.lit("delete"))
        return ins.unionByName(dels)

    def metadata_table(
        self, name: str, kind: str, version: int | None = None
    ) -> DataFrame:
        """Iceberg metadata-table analog (``SELECT * FROM t$files`` et
        al. via Engine.sql): inspectable relations over the catalog's
        own metadata, never the data files.

        kinds: ``snapshots``/``history`` (one row per commit),
        ``files`` (per base data file: rows, bytes, partition values,
        footer min/max as JSON), ``partitions`` (files rolled up by
        partition value), ``refs`` (tags + branches and the version
        each points at).

        Everything here is driver-side metadata (file listings, cached
        footer stats) turned into a tiny DataFrame — O(#files), the
        same cost Iceberg pays to serve its metadata tables."""
        if kind in ("snapshots", "history"):
            rows = [
                (
                    s.version,
                    s.operation,
                    s.timestamp_ms,
                    s.row_count,
                    os.path.relpath(s.path, self._tdir(name)),
                    bool(s.upsert_layers),
                    s.delete_path is not None,
                )
                for s in self.history(name)
            ]
            return self.spark.createDataFrame(
                rows,
                "version int, operation string, timestamp_ms long, "
                "row_count long, path string, has_upsert_layers boolean, "
                "has_deletes boolean",
            )
        if kind in ("files", "partitions"):
            from konohadataplatform_spark.sources.avro_py import (
                hive_partition_values,
            )

            snap = self._resolve(name, version, None)
            stats = self._file_stats(snap)
            rows = []
            for f in self._base_data_files(snap):
                rel = os.path.relpath(f, snap.path)
                fstats = dict(stats.get(rel, {}))
                n_rows = fstats.pop("__rows__", None)
                parts = hive_partition_values(os.path.dirname(rel))
                rows.append(
                    (
                        rel,
                        n_rows,
                        os.path.getsize(f),
                        json.dumps(parts, sort_keys=True),
                        json.dumps(fstats, sort_keys=True, default=str),
                    )
                )
            files_df = self.spark.createDataFrame(
                rows,
                "file_path string, row_count long, file_bytes long, "
                "partition string, column_stats string",
            )
            if kind == "files":
                return files_df
            return files_df.groupBy("partition").agg(
                F.count(F.lit(1)).alias("file_count"),
                F.sum("row_count").alias("row_count"),
                F.sum("file_bytes").alias("file_bytes"),
            )
        if kind == "refs":
            rows = [
                ("main", "branch", self.current_snapshot(name).version)
            ] if self.exists(name) else []
            rows += [(t, "tag", v) for t, v in sorted(self.tags(name).items())]
            for b in sorted(self.branches(name)):
                bt = self.branch_table(name, b)
                if self.exists(bt):
                    rows.append((b, "branch", self.current_snapshot(bt).version))
            return self.spark.createDataFrame(
                rows, "name string, type string, version int"
            )
        raise ValueError(
            f"unknown metadata table {kind!r}; supported: files, "
            "snapshots/history, partitions, refs"
        )

    def read_change_feed(
        self,
        name: str,
        from_version: int,
        to_version: int | None = None,
        key_cols: list[str] | None = None,
        per_commit: bool = False,
    ) -> DataFrame:
        """Delta-CDF-style change feed over the snapshot history.

        Without ``key_cols`` this is :meth:`diff` plus a
        ``_commit_version`` column (updates appear as delete+insert).
        With ``key_cols``, changes pair up the way Delta's change data
        feed reports them: a key present in both versions with any
        non-key difference yields ``update_preimage`` (old row) and
        ``update_postimage`` (new row); keys only in the newer version
        are ``insert``; only in the older, ``delete``.

        ``per_commit=True`` attributes every change to the exact commit
        that introduced it by walking version pairs — O(#versions)
        snapshot reads, audit grain. The default compares only the two
        endpoint snapshots (one pass, any table size): intermediate
        churn that cancels out is invisible, exactly like Delta CDF
        with ``readChangeFeed`` between two versions.

        Scale: each endpoint pairing is two exceptAlls plus key-keyed
        anti/semi-joins — all declarative, shuffle on the key columns,
        nothing collected."""
        cur = self.current_snapshot(name)
        if cur is None:
            raise ValueError(f"table not found: {name}")
        to_version = cur.version if to_version is None else to_version
        if per_commit:
            versions = [
                s.version
                for s in self.history(name)
                if from_version <= s.version <= to_version
            ]
            out = None
            for lo, hi in zip(versions, versions[1:]):
                step = self.read_change_feed(name, lo, hi, key_cols=key_cols)
                out = step if out is None else out.unionByName(step)
            if out is None:
                raise ValueError(
                    f"{name}: no version pairs in [{from_version}, {to_version}]"
                )
            return out

        older = self.read(name, from_version)
        newer = self.read(name, to_version)
        # schema evolution between the endpoints: compose every rename
        # recorded up to to_version (a later full rewrite materializes
        # the schema and CLEARS snapshot.renames, so the current
        # snapshot alone can't say that older's 'level' is newer's
        # 'tier' — the history walk can), then align both frames to
        # the union of columns with typed NULLs — an added or dropped
        # column makes the row read as changed, the honest CDF answer
        latest: dict[str, str] = {}
        for s in self.history(name):
            if s.version <= to_version and s.renames:
                latest.update(s.renames)

        def _resolve_name(c: str) -> str:
            seen: set[str] = set()
            while c in latest and latest[c] != c and c not in seen:
                seen.add(c)
                c = latest[c]
            return c

        for c in list(older.columns):
            r = _resolve_name(c)
            if r != c and r not in older.columns:
                older = older.withColumnRenamed(c, r)
        if older.columns != newer.columns:
            allcols = list(dict.fromkeys(newer.columns + older.columns))
            types = {}
            for df_ in (newer, older):
                for fld in df_.schema.fields:
                    types.setdefault(fld.name, fld.dataType)

            def _align(df_):
                have = set(df_.columns)
                return df_.select(
                    *[
                        F.col(c)
                        if c in have
                        else F.lit(None).cast(types[c]).alias(c)
                        for c in allcols
                    ]
                )

            older, newer = _align(older), _align(newer)
        ver = F.lit(to_version).alias("_commit_version")
        if not key_cols:
            # same insert/delete grain as diff(), but over the aligned
            # frames so a rename between the endpoints doesn't crash
            ins = newer.exceptAll(older).select(
                "*", F.lit("insert").alias("_change_type"), ver
            )
            dels = older.exceptAll(newer).select(
                "*", F.lit("delete").alias("_change_type"), ver
            )
            return ins.unionByName(dels)
        new_rows = newer.exceptAll(older)  # changed or inserted
        old_rows = older.exceptAll(newer)  # changed or deleted
        old_keys = older.select(*key_cols).distinct()
        new_keys = newer.select(*key_cols).distinct()
        inserts = new_rows.join(old_keys, key_cols, "left_anti").select(
            "*", F.lit("insert").alias("_change_type"), ver
        )
        deletes = old_rows.join(new_keys, key_cols, "left_anti").select(
            "*", F.lit("delete").alias("_change_type"), ver
        )
        post = new_rows.join(old_keys, key_cols, "left_semi").select(
            "*", F.lit("update_postimage").alias("_change_type"), ver
        )
        pre = old_rows.join(new_keys, key_cols, "left_semi").select(
            "*", F.lit("update_preimage").alias("_change_type"), ver
        )
        return inserts.unionByName(deletes).unionByName(pre).unionByName(post)

    def delete_where(self, name: str, predicate: str) -> Snapshot:
        """M4 DELETE FROM name WHERE predicate (filtered rewrite)."""
        op = f"delete-where: {predicate}"
        return self.rewrite(name, lambda df: df.filter(f"NOT ({predicate})"), op)

    # ---- read paths -----------------------------------------------------
    def read(
        self,
        name: str,
        version: int | None = None,
        as_of_timestamp_ms: int | None = None,
    ) -> DataFrame:
        """Current read, or M3 time travel by version / as-of timestamp.

        Merge-on-read: if the snapshot carries a delete file, deleted
        keys are filtered with an anti-join at read time.
        """
        snap = self._resolve(name, version, as_of_timestamp_ms)
        return self._read_snapshot(snap)

    def _read_snapshot(self, snap: Snapshot) -> DataFrame:
        """Build the DataFrame for a specific snapshot."""
        return self._apply_mor(self._read_base(snap), snap)

    def _parquet(
        self,
        paths: list[str],
        data_schema: dict | None,
        merge: bool = False,
        base_path: str | None = None,
    ) -> DataFrame:
        """The one place the catalog reads its parquet files.

        A known data schema is passed to ``.schema(...)``: Spark then
        resolves the relation from metadata and launches no
        footer-inference job; partition columns are still discovered
        from the paths, as under inference. The schema is trusted, not
        checked: a file replaced out-of-band with a different schema
        fails when the scan runs, not here. ``merge`` (files of two
        schema generations) and an unknown schema keep inference."""
        reader = self.spark.read
        if base_path is not None:
            reader = reader.option("basePath", base_path)
        if merge:
            reader = reader.option("mergeSchema", "true")
        elif data_schema is not None:
            reader = reader.schema(StructType.fromJson(data_schema))
        return reader.parquet(*paths)

    def _read_base(self, snap: Snapshot, files: list[str] | None = None) -> DataFrame:
        """``snap``'s base files — all, or the pruned ``files`` — under
        the current column names, without merge-on-read state."""
        if files is None:
            df = self._parquet([snap.path], snap.data_schema, snap.mixed_schema)
        else:
            df = self._parquet(
                files, snap.data_schema, snap.mixed_schema, base_path=snap.path
            )
        return self._apply_schema_meta(df, snap)

    def _read_side_dir(self, path: str) -> DataFrame:
        """An upsert-layer or delete-key dir, read with the schema in
        its own footers (looked up now: these dirs are small and their
        schema is not kept in the snapshot record)."""
        return self._parquet([path], _footer_meta(path)[1])

    def _apply_mor(self, df: DataFrame, snap: Snapshot) -> DataFrame:
        """Fold ``snap``'s merge-on-read state into its base rows."""
        # upsert layers, oldest first: shadow older rows on the layer's
        # keys, then union the layer (latest wins)
        for layer_rel in snap.upsert_layers or []:
            layer = self._apply_schema_meta(
                self._read_side_dir(os.path.join(snap.path, layer_rel)), snap
            )
            df = df.join(
                layer.select(*snap.upsert_key_cols).distinct(),
                snap.upsert_key_cols,
                "left_anti",
            ).unionByName(layer, allowMissingColumns=True)
        if snap.delete_path and os.path.isdir(snap.delete_path):
            dels = self._apply_schema_meta(self._read_side_dir(snap.delete_path), snap)
            df = df.join(dels, snap.delete_key_cols, "left_anti")
        return df

    # ---- Iceberg-manifest-style file pruning -----------------------------

    def _base_data_files(self, snap: Snapshot) -> list[str]:
        return _data_files(snap.path)

    def _file_stats(self, snap: Snapshot) -> dict:
        """Per-file column min/max from parquet footers — the manifest
        statistics Iceberg keeps. Computed once per (immutable)
        snapshot and cached as ``_stats.json`` inside it (underscore
        prefix: invisible to Spark's scans). Only int/float/str stats
        are kept; other types read as may-match."""
        import pyarrow.parquet as pq

        cache = os.path.join(snap.path, "_stats.json")
        if os.path.exists(cache):
            with open(cache) as fh:
                return json.load(fh)
        stats: dict[str, dict] = {}
        for path in self._base_data_files(snap):
            md = pq.ParquetFile(path).metadata
            cols: dict[str, list] = {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    st = c.statistics
                    if st is None or not st.has_min_max:
                        cols[c.path_in_schema] = None
                        continue
                    lo, hi = st.min, st.max
                    if not isinstance(lo, (int, float, str)) or isinstance(lo, bool):
                        cols[c.path_in_schema] = None
                        continue
                    prev = cols.get(c.path_in_schema)
                    if prev is None and c.path_in_schema in cols:
                        continue  # an earlier row group opted out
                    cols[c.path_in_schema] = (
                        [lo, hi] if prev is None else [min(prev[0], lo), max(prev[1], hi)]
                    )
            entry = {k: v for k, v in cols.items() if v is not None}
            entry["__rows__"] = md.num_rows
            stats[os.path.relpath(path, snap.path)] = entry
        tmp = f"{cache}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(stats, fh)
        os.replace(tmp, cache)
        return stats

    @staticmethod
    def _may_match(mm, op: str, val) -> bool:
        """Can a file whose column spans [min, max] contain a row
        satisfying ``col <op> val``? Missing stats -> True."""
        if mm is None:
            return True
        lo, hi = mm
        try:
            if op in ("=", "=="):
                return lo <= val <= hi
            if op == "<":
                return lo < val
            if op == "<=":
                return lo <= val
            if op == ">":
                return hi > val
            if op == ">=":
                return hi >= val
        except TypeError:
            return True  # incomparable types -> conservative
        return True  # unknown op -> no pruning

    def scan_files(
        self, name: str, filters: list[tuple], version: int | None = None
    ) -> tuple[Snapshot, list[str], int]:
        """The manifest-pruning step alone: (snapshot, surviving base
        files, total base files). ``filters`` is an AND list of
        (column, op, literal) with op in = < <= > >=."""
        snap = self._resolve(name, version, None)
        files = self._base_data_files(snap)
        stats = self._file_stats(snap)
        renames = snap.renames or {}

        def phys_names(col: str) -> list[str]:
            return [p for p, cur in renames.items() if cur == col] + [col]

        def partition_values(f: str) -> dict:
            """col=value segments from the file's partition path (the
            Hive layout Spark writes) — each is an exact [v, v] span."""
            out = {}
            for seg in os.path.relpath(f, snap.path).split(os.sep)[:-1]:
                if "=" in seg:
                    k, _, v = seg.partition("=")
                    out[k] = v
            return out

        keep = []
        for f in files:
            fstats = stats.get(os.path.relpath(f, snap.path), {})
            if fstats.get("__rows__") == 0:
                continue  # empty part file: no rows to contribute
            parts = partition_values(f)
            ok = True
            for col, op, val in filters:
                mms = [fstats.get(p) for p in phys_names(col) if p in fstats]
                mm = mms[0] if mms else None
                if mm is None:
                    for p in phys_names(col):
                        if p in parts:
                            pv = parts[p]
                            if isinstance(val, (int, float)) and not isinstance(val, bool):
                                try:
                                    pv = type(val)(pv)
                                except ValueError:
                                    break
                            mm = [pv, pv]
                            break
                if not self._may_match(mm, op, val):
                    ok = False
                    break
            if ok:
                keep.append(f)
        return snap, keep, len(files)

    def scan(
        self, name: str, filters: list[tuple], version: int | None = None
    ) -> DataFrame:
        """Stats-pruned read: identical rows to
        ``read(name).filter(<AND of filters>)`` but skipping base files
        whose footer min/max cannot satisfy the predicate — Iceberg's
        manifest pruning, which turns a 100 TB scan over range-
        clustered data (see ``compact(sort_by=...)``) into a scan of
        only the overlapping files, before Spark even lists them.
        MOR layers and delete files are still applied in full; the
        residual filter keeps row-level exactness either way."""
        snap, keep, _total = self.scan_files(name, filters, version)
        # no surviving file: an empty schema-stable base — but the MOR
        # layers must STILL be applied: matching rows may live only in
        # _upserts dirs
        base = self._read_base(snap, keep) if keep else self._read_base(snap).limit(0)
        df = self._apply_mor(base, snap)
        cmp = {
            "=": lambda c, v: c == v,
            "==": lambda c, v: c == v,
            "<": lambda c, v: c < v,
            "<=": lambda c, v: c <= v,
            ">": lambda c, v: c > v,
            ">=": lambda c, v: c >= v,
        }
        for col, op, val in filters:
            df = df.filter(cmp[op](F.col(col), F.lit(val)))
        return df

    @staticmethod
    def _apply_schema_meta(df: DataFrame, snap: Snapshot) -> DataFrame:
        """Metadata-only rename/drop, applied at read time (M5). Files
        written before a rename carry the physical name, files written
        after carry the current name — withColumnRenamed no-ops when
        the physical name is absent, so both generations resolve to
        one current-name schema. Column pruning still pushes through a
        rename into the parquet scan (it's a Project over the scan)."""
        for phys, cur in (snap.renames or {}).items():
            df = df.withColumnRenamed(phys, cur)
        if snap.dropped:
            present = [c for c in snap.dropped if c in df.columns]
            if present:
                df = df.drop(*present)
        return df

    def _resolve(
        self, name: str, version: int | None, as_of_timestamp_ms: int | None
    ) -> Snapshot:
        if version is None and as_of_timestamp_ms is None:
            snap = self.current_snapshot(name)
            if snap is None:
                raise ValueError(f"table not found: {name}")
            return snap
        hist = self.history(name)
        if version is not None:
            for s in hist:
                if s.version == version:
                    return s
            raise ValueError(f"{name}: no snapshot v{version}")
        eligible = [s for s in hist if s.timestamp_ms <= as_of_timestamp_ms]
        if not eligible:
            raise ValueError(f"{name}: no snapshot at or before {as_of_timestamp_ms}")
        return eligible[-1]

    # ---- tags (named immutable refs, Iceberg tag analog) ----------------
    def _tags_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_tags.json")

    def tags(self, name: str) -> dict:
        path = self._tags_path(name)
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return json.load(f)

    def create_tag(self, name: str, tag: str, version: int | None = None) -> int:
        """Name a snapshot version (e.g. 'audit-2024Q1'); tags pin
        versions against expire_snapshots-by-count workflows and give
        humans stable refs for time travel."""
        snap = self._resolve(name, version, None)
        t = self.tags(name)
        t[tag] = snap.version
        tmp = self._tags_path(name) + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(t, f)
        os.replace(tmp, self._tags_path(name))
        return snap.version

    def drop_tag(self, name: str, tag: str) -> None:
        t = self.tags(name)
        t.pop(tag, None)
        tmp = self._tags_path(name) + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(t, f)
        os.replace(tmp, self._tags_path(name))

    # ---- branches (named mutable refs, Iceberg branch analog) -----------
    #
    # A branch is a SHADOW TABLE "{name}@{branch}" forked by hardlinking
    # the source snapshot (O(#files) metadata, zero data copy). Every
    # existing write/read/maintenance path works on the branch unchanged
    # — its own snapshot chain, commit arbiter, history, time travel.
    # fast_forward publishes the branch head back to main when main has
    # not moved since the fork (Iceberg's fast-forward semantics);
    # divergence is a loud CommitConflictError, never a silent merge.

    def _branches_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_branches.json")

    def branches(self, name: str) -> dict:
        path = self._branches_path(name)
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return json.load(f)

    def _write_branches(self, name: str, b: dict) -> None:
        tmp = self._branches_path(name) + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(b, f)
        os.replace(tmp, self._branches_path(name))

    def branch_table(self, name: str, branch: str) -> str:
        return f"{name}@{branch}"

    def _fork_snapshot(self, src: Snapshot, dest_table: str, operation: str) -> Snapshot:
        """Hardlink a snapshot's files as a new commit of dest_table,
        carrying all MOR/schema metadata (rollback's mechanics)."""
        new_version, snap_dir = self._new_snapshot_dir(dest_table)
        _link_tree(src.path, snap_dir)
        delete_path = None
        if src.delete_path and os.path.isdir(src.delete_path):
            delete_path = os.path.join(snap_dir, "_deletes")
        return self._register_snapshot(
            dest_table,
            new_version,
            snap_dir,
            operation,
            delete_path=delete_path,
            delete_key_cols=src.delete_key_cols if delete_path else None,
            mixed_schema=src.mixed_schema,
            upsert_layers=src.upsert_layers,
            upsert_key_cols=src.upsert_key_cols,
            renames=src.renames,
            dropped=src.dropped,
            partition_by=src.partition_by,
        )

    def create_branch(
        self, name: str, branch: str, version: int | None = None
    ) -> str:
        """Fork a branch from the current (or given) version. Returns
        the branch table name to use with every catalog API."""
        if "@" in name:
            raise ValueError("cannot branch a branch table directly")
        if branch in self.branches(name):
            raise ValueError(f"branch {branch!r} already exists on {name}")
        src = self._resolve(name, version, None)
        bt = self.branch_table(name, branch)
        self._fork_snapshot(src, bt, f"branch(from={name}@v{src.version})")
        b = self.branches(name)
        b[branch] = {"base_version": src.version}
        self._write_branches(name, b)
        return bt

    def read_branch(self, name: str, branch: str, **kwargs) -> DataFrame:
        if branch not in self.branches(name):
            raise ValueError(f"no branch {branch!r} on {name}")
        return self.read(self.branch_table(name, branch), **kwargs)

    def fast_forward(self, name: str, branch: str) -> Snapshot:
        """Publish the branch head to main. Allowed only while main is
        still at the fork point — otherwise the refs have diverged and
        the caller must resolve (re-branch or table-level merge)."""
        info = self.branches(name).get(branch)
        if info is None:
            raise ValueError(f"no branch {branch!r} on {name}")
        cur = self.current_snapshot(name)
        if cur is None or cur.version != info["base_version"]:
            raise CommitConflictError(
                f"{name}: diverged — branch {branch!r} forked at "
                f"v{info['base_version']} but main is at "
                f"v{cur.version if cur else 0}; re-branch to retry"
            )
        head = self.current_snapshot(self.branch_table(name, branch))
        snap = self._fork_snapshot(
            cur if head is None else head,
            name,
            f"fast_forward({branch}@v{head.version if head else 0})",
        )
        b = self.branches(name)
        b[branch]["base_version"] = snap.version
        self._write_branches(name, b)
        return snap

    def drop_branch(self, name: str, branch: str) -> None:
        b = self.branches(name)
        if branch in b:
            self.drop_table(self.branch_table(name, branch))
            b.pop(branch)
            self._write_branches(name, b)

    def read_tag(self, name: str, tag: str) -> DataFrame:
        t = self.tags(name)
        if tag not in t:
            raise ValueError(f"{name}: no tag {tag!r} (have {sorted(t)})")
        return self.read(name, version=t[tag])

    # ---- column statistics (ANALYZE TABLE analog) -----------------------
    def analyze(self, name: str, columns: list[str] | None = None) -> dict:
        """Compute per-column min/max/null_count/approx ndv for the
        current snapshot and persist beside it (one aggregate job; at
        100 TB run after compaction). Retrieve with ``stats``."""
        df = self.read(name)
        columns = columns or df.columns
        aggs = []
        for c in columns:
            aggs += [
                F.min(c).alias(f"{c}__min"),
                F.max(c).alias(f"{c}__max"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
                F.approx_count_distinct(c).alias(f"{c}__ndv"),
            ]
        row = df.agg(*aggs).first().asDict()
        snap = self.current_snapshot(name)
        stats = {
            "version": snap.version,
            "row_count": snap.row_count,
            "columns": {
                c: {
                    "min": str(row[f"{c}__min"]),
                    "max": str(row[f"{c}__max"]),
                    "null_count": int(row[f"{c}__nulls"] or 0),
                    "approx_ndv": int(row[f"{c}__ndv"] or 0),
                }
                for c in columns
            },
        }
        # NOTE: _table_stats.json, NOT _stats.json — that name is the
        # per-file footer min/max cache scan_files prunes with; sharing
        # it would silently clobber pruning after every ANALYZE
        with open(os.path.join(snap.path, "_table_stats.json"), "w") as f:
            json.dump(stats, f)
        return stats

    def stats(self, name: str, version: int | None = None) -> dict | None:
        snap = self._resolve(name, version, None)
        path = os.path.join(snap.path, "_table_stats.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    # ---- maintenance ----------------------------------------------------
    def expire_snapshots(
        self,
        name: str,
        keep_last: int = 2,
        older_than_ms: int | None = None,
    ) -> int:
        """M1: drop all but the newest `keep_last` snapshots' data dirs.
        Tagged versions are always kept — a tag is a pin.

        ``older_than_ms`` (Iceberg's ``older_than`` retention): also
        keep every snapshot committed within the age window, regardless
        of count — only snapshots BOTH beyond keep_last AND older than
        the cutoff expire. Pass keep_last=1 with an age to get pure
        age-based retention (the current snapshot never expires)."""
        hist = self.history(name)
        current = self.current_snapshot(name)
        keep = {s.version for s in hist[-keep_last:]}
        if current:
            keep.add(current.version)
        keep.update(self.tags(name).values())
        if older_than_ms is not None:
            cutoff = int(time.time() * 1000) - older_than_ms
            keep.update(s.version for s in hist if s.timestamp_ms > cutoff)
        removed = 0
        kept_hist = []
        for s in hist:
            if s.version not in keep and os.path.isdir(s.path):
                shutil.rmtree(s.path, ignore_errors=True)
                removed += 1
            elif s.version in keep:
                kept_hist.append(s)
            if s.version not in keep:
                # claim files of expired versions are dead weight (the
                # roll-forward only ever reads claims beyond current)
                try:
                    os.remove(
                        os.path.join(
                            self._tdir(name), "commits", f"v{s.version:06d}"
                        )
                    )
                except OSError:
                    pass
        with open(self._log_path(name), "w") as f:
            for s in kept_hist:
                f.write(json.dumps(s.__dict__) + "\n")
        return removed

    def data_bytes(self, name: str, version: int | None = None) -> int:
        """On-disk bytes of the snapshot's base data files (metadata
        only — file stats, no scan)."""
        snap = self._resolve(name, version, None)
        return sum(os.path.getsize(f) for f in _data_files(snap.path))

    @staticmethod
    def _zvalue(cols: list, mins: dict, maxs: dict, bits: int = 16):
        """Interleaved-bit Z-address over min/max-normalized columns —
        a pure column expression (shift/and/or), fully codegen'd. Each
        column is linearly scaled to [0, 2^bits); bit i of column j
        lands at position i*ncols + j. Bits are capped so the highest
        position stays below 63 — the long sign bit must never be set
        or half the address space would sort negative."""
        ncols = len(cols)
        bits = min(bits, 63 // ncols)
        top = (1 << bits) - 1
        norm = []
        for c in cols:
            lo, hi = mins[c], maxs[c]
            span = (hi - lo) or 1
            norm.append(
                F.least(
                    F.lit(top),
                    (
                        (F.col(c).cast("double") - F.lit(float(lo)))
                        * F.lit(float(top))
                        / F.lit(float(span))
                    ).cast("long"),
                )
            )
        z = F.lit(0).cast("long")
        for i in range(bits):
            for j, n in enumerate(norm):
                bit = F.shiftright(n, i).bitwiseAND(F.lit(1))
                z = z.bitwiseOR(F.shiftleft(bit, i * ncols + j))
        return z

    def compact(
        self,
        name: str,
        target_files: int | None = None,
        target_file_bytes: int | None = None,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> Snapshot:
        """M2: rewrite the current snapshot into right-sized files (the
        OPTIMIZE / rewrite_data_files analog), folding any pending
        merge-on-read deletes/upsert layers back into flat base files.

        ``target_file_bytes`` sizes the output from the snapshot's
        actual on-disk bytes (Iceberg's ``target-file-size-bytes``):
        file count = ceil(bytes / target). At 100 TB this is the
        small-files compactor — run it with 128-512 MiB targets so
        scans get full-size row groups and the driver's file listing
        stays O(bytes/128 MiB) instead of O(#commits).
        """
        base = self.current_snapshot(name)
        if base is None:
            raise ValueError(f"table not found: {name}")
        # resolve the inherited partition spec UP FRONT so the
        # clustering branch keys off it: _commit would inherit the spec
        # at write time anyway, but without clustering the data is
        # round-robin repartitioned and then Hive-partitioned on write,
        # producing up to target_files x n_partitions files — a
        # "compaction" that increases file count. partition_by=[] still
        # explicitly unpartitions.
        if partition_by is None and base.partition_by:
            partition_by = list(base.partition_by)
        if target_files is None:
            if target_file_bytes:
                total = self.data_bytes(name)
                target_files = max(1, -(-total // target_file_bytes))
            else:
                target_files = 8
        spec = f",sort={sort_by}" if sort_by else ""
        if zorder_by:
            spec = f",zorder={zorder_by}"

        def _layout(cur: DataFrame) -> DataFrame:
            if zorder_by:
                # Z-ORDER (the OPTIMIZE ZORDER BY analog): range-partition
                # and sort on the interleaved-bit address so EVERY zorder
                # column gets tight per-file min/max — multi-column scan
                # pruning where a lexicographic sort only helps its leading
                # column. One tiny agg job fetches global min/max for the
                # linear normalization (numeric columns only).
                mm = cur.agg(
                    *[F.min(c).alias(f"_lo_{c}") for c in zorder_by],
                    *[F.max(c).alias(f"_hi_{c}") for c in zorder_by],
                ).collect()[0]
                mins = {c: mm[f"_lo_{c}"] for c in zorder_by}
                maxs = {c: mm[f"_hi_{c}"] for c in zorder_by}
                z = self._zvalue(zorder_by, mins, maxs)
                return (
                    cur.withColumn("_zaddr", z)
                    .repartitionByRange(target_files, F.col("_zaddr"))
                    .sortWithinPartitions("_zaddr")
                    .drop("_zaddr")
                )
            if partition_by:
                # hash on the partition columns so each partition value's
                # rows coalesce into one task -> one file per partition,
                # instead of every task touching every partition
                df = cur.repartition(target_files, *[F.col(c) for c in partition_by])
            elif sort_by:
                # RANGE-partition on the sort key so each output file owns
                # a disjoint key range (round-robin + local sort would give
                # every file the full keyspace and useless min/max stats)
                df = cur.repartitionByRange(
                    target_files, *[F.col(c) for c in sort_by]
                )
            else:
                df = cur.repartition(target_files)
            if sort_by:
                # cluster within each output file so parquet row-group
                # min/max stats become selective — scans filtering on the
                # sort key skip whole row groups (the Z-order-lite that
                # matters most at 100 TB: sort on the dominant filter col)
                df = df.sortWithinPartitions(*sort_by)
            return df

        op = f"compact({target_files}{spec})"
        return self.rewrite(name, _layout, op, partition_by)

    def file_count(self, name: str, version: int | None = None) -> int:
        """Number of base data files in the snapshot (metadata only)."""
        return len(_data_files(self._resolve(name, version, None).path))

    def maintain(
        self,
        name: str,
        max_layers: int = 8,
        max_files: int = 64,
        target_file_bytes: int = 128 * 1024 * 1024,
        sort_by: list[str] | None = None,
    ) -> Snapshot | None:
        """Maintenance policy for streaming targets: compact when
        merge-on-read depth or small-file count crosses the thresholds,
        otherwise do nothing (no wasted rewrites). Call it after every
        N CDC batches — the check itself is metadata-only.

        This is the knob that closes the MOR loop at 100 TB: upsert
        commits stay O(batch) because this bounds how deep the
        read-side fold can get.
        """
        snap = self.current_snapshot(name)
        if snap is None:
            return None
        # a pending delete set alone is cheap (one anti-join) — only
        # layer depth and small-file count trigger a rewrite
        layers = len(snap.upsert_layers or [])
        if layers > max_layers or self.file_count(name) > max_files:
            return self.compact(
                name, target_file_bytes=target_file_bytes, sort_by=sort_by
            )
        return None

    def add_column(self, name: str, col_name: str, col_expr) -> Snapshot:
        """M5 ALTER TABLE ADD COLUMN (materialized as a new snapshot)."""
        op = f"add-column({col_name})"
        return self.rewrite(name, lambda df: df.withColumn(col_name, col_expr), op)

    def _physical_name(self, snap: Snapshot, current: str) -> str:
        """Resolve a current column name to its on-disk parquet name."""
        for phys, cur in (snap.renames or {}).items():
            if cur == current:
                return phys
        return current

    def _schema_meta_commit(
        self,
        name: str,
        operation: str,
        renames: dict,
        dropped: list,
        key_rename: tuple[str, str] | None = None,
    ) -> Snapshot:
        """Commit a metadata-only schema change: data files hardlinked,
        only the rename/drop maps change — O(#files) at any scale.

        ``key_rename=(old, new)`` rewrites the MOR key-column lists
        BEFORE the snapshot is registered, so the pointer and the
        ``_log.jsonl`` record stay consistent — a time-travel read of
        the rename snapshot (resolved via ``history()``) must see the
        renamed key cols, since ``_apply_schema_meta`` already renames
        the data columns for that version."""
        prev = self.current_snapshot(name)
        version, snap_dir = self._new_snapshot_dir(name, prev.version + 1)
        _link_tree(prev.path, snap_dir)
        delete_path = None
        if prev.delete_path and os.path.isdir(prev.delete_path):
            delete_path = os.path.join(snap_dir, "_deletes")

        def _fix(ks):
            if ks and key_rename and key_rename[0] in ks:
                return [key_rename[1] if k == key_rename[0] else k for k in ks]
            return ks

        return self._register_snapshot(
            name,
            version,
            snap_dir,
            operation,
            delete_path=delete_path,
            delete_key_cols=_fix(prev.delete_key_cols) if delete_path else None,
            mixed_schema=prev.mixed_schema,
            upsert_layers=prev.upsert_layers,
            upsert_key_cols=_fix(prev.upsert_key_cols),
            renames=renames,
            dropped=dropped,
            partition_by=prev.partition_by,
        )

    def rename_column(self, name: str, old: str, new: str) -> Snapshot:
        """M5 ALTER TABLE RENAME COLUMN — metadata-only, like Iceberg:
        no data rewrite; reads resolve the physical name to the new one
        (docs/architecture/lakehouse.md:83-91 evolution matrix)."""
        prev = self.current_snapshot(name)
        if prev is None:
            raise ValueError(f"table not found: {name}")
        cols = self.read(name).columns
        if old not in cols:
            raise ValueError(f"{name}: no such column {old!r}")
        if new in cols:
            raise ValueError(f"{name}: column {new!r} already exists")
        renames = dict(prev.renames or {})
        phys = self._physical_name(prev, old)
        if phys == new:
            renames.pop(phys, None)  # renamed back to the physical name
        else:
            renames[phys] = new
        # MOR key metadata tracks current names; the fixup happens inside
        # _schema_meta_commit so pointer and log agree (time travel reads
        # the log record, not the pointer)
        return self._schema_meta_commit(
            name,
            f"rename-column({old}->{new})",
            renames,
            list(prev.dropped or []),
            key_rename=(old, new),
        )

    def drop_column(self, name: str, col: str) -> Snapshot:
        """M5 ALTER TABLE DROP COLUMN — metadata-only: the physical
        column stays in the files (and in time-travel reads of older
        versions) but is hidden from current reads. Column pruning
        means it is never scanned."""
        prev = self.current_snapshot(name)
        if prev is None:
            raise ValueError(f"table not found: {name}")
        cols = self.read(name).columns
        if col not in cols:
            raise ValueError(f"{name}: no such column {col!r}")
        for attr in ("delete_key_cols", "upsert_key_cols"):
            ks = getattr(prev, attr)
            if ks and col in ks:
                raise ValueError(
                    f"{name}: {col!r} is a pending merge-on-read key "
                    "column; compact() before dropping it"
                )
        renames = dict(prev.renames or {})
        phys = self._physical_name(prev, col)
        renames.pop(phys, None)
        dropped = list(prev.dropped or [])
        if phys not in dropped:
            dropped.append(phys)
        return self._schema_meta_commit(
            name, f"drop-column({col})", renames, dropped
        )

    def count(self, name: str, version: int | None = None) -> int:
        """Metadata-only row count from parquet footers (the reference's
        "milliseconds on TB-scale tables" Iceberg claim,
        docs/architecture/lakehouse.md:65) — no table scan. Falls back
        to a counting read when a merge-on-read delete set is pending
        (footers can't see deletes).
        """
        snap = self._resolve(name, version, None)
        if snap.delete_path and os.path.isdir(snap.delete_path):
            return self.read(name, version).count()
        if snap.upsert_layers:
            # layer rows shadow base rows, so footers over-count unless
            # every upserted key is new — take the counting read
            return self.read(name, version).count()
        return _footer_meta(snap.path)[0]

    def register_views(self, prefix: str = "") -> None:
        """Expose every catalog table to Engine.sql (S8/S9 surface)."""
        for t in self.tables():
            self.read(t).createOrReplaceTempView(f"{prefix}{t}")


def commit_with_retry(op, retries: int = 3):
    """Optimistic-concurrency retry loop (the Iceberg commit contract's
    client half): ``op()`` performs a catalog commit built against the
    CURRENT snapshot; on CommitConflictError it is re-invoked, so it
    re-reads the new current state and re-applies. It covers every
    :meth:`SnapshotCatalog.rewrite` caller (append, merge, delete_where,
    add_column, compact, CDC copy-on-write apply, SCD-2 snapshot, SQL
    UPDATE/MERGE) as well as the merge-on-read upserts/deletes. Use it
    where recomputing against the fresh base is inexpensive.
    """
    last = None
    for _ in range(retries + 1):
        try:
            return op()
        except CommitConflictError as e:
            last = e
    raise last


def incremental_cutoff(df: DataFrame, watermark_col: str):
    """The dbt incremental pattern (P5): MAX(watermark) of the existing
    table, to filter the source (daily_order_metrics.sql:32-35)."""
    return df.agg(F.max(watermark_col)).first()[0]


def write_bucketed(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """M6's bucket(x,N) analog: a bucketed managed table so repeated
    joins/aggs on the bucket key skip their shuffle entirely (both
    sides pre-partitioned on disk, reference docs/architecture/
    lakehouse.md:97-99).

    Uses the session catalog (saveAsTable is required for bucketing
    metadata); readers via spark.table(name).
    """
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # an in-memory metastore can forget a table whose warehouse dir
    # still exists on disk — clear the stale location too
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    stale = os.path.join(warehouse, name)
    if os.path.isdir(stale):
        shutil.rmtree(stale, ignore_errors=True)
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)
