"""The engine facade — the Kyuubi/Trino surface collapsed in-process.

The reference routes all interactive SQL through Kyuubi's Thrift
front-end to a shared Spark engine (``docs/components/kyuubi.md:61-67``,
SERVER share-level ``docs/architecture/compute.md:28-39``) and lets
Trino read the same tables (``infrastructure/apps/trino/base/
trino-config-coordinator.yaml:28-35``). One SparkSession replaces both:
`Engine.sql()` is the S8 entry point; every registered table is visible
to every caller, which is exactly the "two engines, one catalog"
property the reference gets from the shared Hive Metastore.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from konohadataplatform_spark.session import get_spark
from konohadataplatform_spark.sources.star_schema import register_views


class Engine:
    """In-process analytics engine: SQL entry point + table registry.

    Attach a :class:`SnapshotCatalog` to get the lakehouse surface
    (time travel, history, maintenance) on the same facade — the
    reference's "Kyuubi + Iceberg" pairing in one object.
    """

    def __init__(self, spark: SparkSession | None = None, catalog=None):
        self.spark = spark or get_spark()
        self.catalog = catalog
        self._seen_versions: dict[str, int] = {}
        # names explicitly pinned via register(): the catalog-version
        # sync never clobbers these (r12 review fix — a user who
        # shadows a catalog table with their own frame keeps their
        # registration; engine-internal registrations go through
        # _register_view and stay sync-managed)
        self._user_views: set[str] = set()

    def _engine_owned_views(self) -> dict[str, int | None]:
        """Names registered via ANY Engine's _register_view on this
        SparkSession (temp views are session-scoped, so ownership must
        be too — a second Engine over the same session must not
        mistake the first one's sync-managed views for user views),
        mapped to the semanticHash of the plan the engine registered.
        Distinguishes, on first sync of a table, an engine-managed
        temp view (refresh it) from one the user created directly on
        the SparkSession (r12 ADVICE: treat as user-owned, never
        silently clobber it with the catalog read). The hash detects a
        user REPLACING an engine-synced name (r13 ADVICE: drop +
        recreate between syncs must hand ownership to the user)."""
        owned = getattr(self.spark, "_kdp_engine_views", None)
        if owned is None or not isinstance(owned, dict):
            owned = {}
            self.spark._kdp_engine_views = owned
        return owned

    def _view_hash(self, name: str) -> int | None:
        """semanticHash of the analyzed plan currently registered
        under ``name`` — metadata-only (no job). None when the view is
        missing or analysis fails (treated as 'cannot verify', which
        keeps the pre-hash behavior)."""
        try:
            return (
                self.spark.table(name)
                ._jdf.queryExecution()
                .analyzed()
                .semanticHash()
            )
        except Exception:
            return None

    def _sync_catalog_views(self) -> None:
        """Lazily (re-)register any catalog table whose committed
        version this engine's session has not seen — so a table
        CREATEd or MERGEd through ANY session over the same warehouse
        (a wire-door SessionEngine clone, another Engine) is queryable
        here at its latest committed version. Per table per statement it
        reads the pointer file; a table whose version moved is re-read
        from its snapshot record's schema (a driver-side file listing
        and plan analysis, plus a footer read per merge-on-read side
        dir), so it launches no Spark job unless the snapshot has no
        recorded schema or mixes schema generations. r12: hoisted from
        SessionEngine so the BASE engine is symmetric with its clones
        (previously a door CTAS was visible to every NEW door session
        but not to Engine.sql on the base engine itself)."""
        if self.catalog is None:
            return
        # LOCAL temp views only: catalog.tableExists also matches
        # global-temp and metastore tables, which must not shadow a
        # catalog table (r13 ADVICE). namespace==[] excludes both.
        # Spark stores temp view names LOWERCASED — membership tests
        # must casefold or a catalog table named 'Events' would skip
        # the user-claim branch for the user's 'events' view
        local_temps = {
            v.name.lower()
            for v in self.spark.catalog.listTables()
            if v.isTemporary and not v.namespace
        }
        owned = self._engine_owned_views()
        # prune ownership of views that no longer exist: a user who
        # DROPs an engine-synced view and later recreates the name
        # owns the new view — without the prune the stale ownership
        # record would clobber it on the next sync (r13 ADVICE)
        for stale in [n for n in owned if n.lower() not in local_temps]:
            del owned[stale]
        for t in self.catalog.tables():
            if "@" in t:
                # branch shadow tables ("{name}@{branch}") are reached
                # through branch_table()/VERSION AS OF refs, never as
                # plain views ('@' is not a valid view identifier)
                continue
            snap = self.catalog.current_snapshot(t)
            if snap is None:
                continue
            if t in self._user_views:
                continue
            if self._seen_versions.get(t) == snap.version:
                # up to date — no re-registration can happen, so skip
                # the ownership probes entirely (the hash check costs a
                # plan analysis; paying it per statement per table
                # would be pure overhead)
                continue
            if t in owned and owned[t] is not None:
                cur = self._view_hash(t)
                if cur is not None and cur != owned[t]:
                    # the view under an engine-owned name is no longer
                    # the plan the engine registered: the user replaced
                    # it (drop + recreate between syncs) — ownership
                    # passes to the user (r13 ADVICE)
                    self._user_views.add(t)
                    del owned[t]
                    continue
            if (
                t not in self._seen_versions
                and t not in owned
                and t.lower() in local_temps
            ):
                # a temp view that already exists but was never
                # registered by THIS engine is user-owned (created
                # directly on the SparkSession or via sql('CREATE
                # TEMP VIEW ...')): pin it instead of clobbering —
                # namespace precedence is user view > catalog table
                self._user_views.add(t)
                continue
            self._register_view(t, self.catalog.read(t))
            self._seen_versions[t] = snap.version

    # ---- S8: JDBC/Thrift SQL entry point analog -------------------------
    def sql(self, query: str) -> DataFrame:
        """SQL entry point. With a catalog attached, DML statements
        (``MERGE INTO`` / ``DELETE FROM`` / ``UPDATE`` — the forms the
        reference's dbt models and GDPR docs emit) route onto the
        catalog API, and ``FOR TIMESTAMP|VERSION AS OF`` table clauses
        rewrite onto :meth:`table_at` time travel. Everything else is
        handed to Spark SQL unchanged.

        Namespace precedence: a temp view takes the name over a
        same-named catalog table when it is user-owned — pinned via
        :meth:`register`, or created directly on the SparkSession
        before this engine first synced the table. Engine-managed
        views (from :meth:`save_table`/:meth:`upsert`/sync itself)
        refresh to the latest committed catalog version on every
        statement."""
        from konohadataplatform_spark import sqldml

        self._sync_catalog_views()
        if self.catalog is not None:
            if sqldml.is_dml(query):
                return sqldml.dispatch(self, query)
            query = sqldml.rewrite_time_travel(self, query)
            if "$" in query:
                query = sqldml.rewrite_metadata_tables(self, query)
        rewritten = sqldml.rewrite_qualify(query)
        if rewritten is not None:
            return self.spark.sql(rewritten).drop("__qualify__")
        return self.spark.sql(query)

    # ---- table registry -------------------------------------------------
    def register(self, name: str, df: DataFrame) -> None:
        """Pin a temp view. A name registered here is USER-owned:
        the lazy catalog sync will not overwrite it even when a
        same-named catalog table commits a new version (drop the pin
        by registering the catalog read again via sql()/save_table
        flows, which use the internal sync-managed registration)."""
        df.createOrReplaceTempView(name)
        self._user_views.add(name)

    def _register_view(self, name: str, df: DataFrame) -> None:
        """Engine-internal (sync-managed) registration — does NOT
        pin: the catalog-version sync keeps refreshing the name. Also
        DROPS any user pin on the name (r12 ADVICE: save_table/upsert
        to a previously register()-pinned name hands the name back to
        sync management, matching register()'s documented contract —
        commits from other sessions are reflected again)."""
        df.createOrReplaceTempView(name)
        self._user_views.discard(name)
        self._engine_owned_views()[name] = self._view_hash(name)

    def register_star_schema(self, sf_dir: str) -> dict[str, DataFrame]:
        # remember the dir so SessionEngine clones can replay the
        # registration into their own temp-view catalog (a DataFrame
        # is bound to the session that built it, so the views cannot
        # simply be shared)
        self._star_sf_dirs = getattr(self, "_star_sf_dirs", []) + [sf_dir]
        return register_views(self.spark, sf_dir)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def scan(self, name: str, filters: list[tuple], version: int | None = None) -> DataFrame:
        """Manifest-pruned read of a catalog table — identical rows to
        ``table(name).filter(...)``, reading only files whose footer
        stats / partition path can satisfy the predicate."""
        if self.catalog is None:
            raise ValueError("scan requires a catalog attached to the Engine")
        return self.catalog.scan(name, filters, version)

    def udtf_register(self, name: str, udtf_cls) -> None:
        """Register a Python UDTF (table function) — the §2.11
        extensibility surface's table-valued half: usable directly in
        FROM and in LATERAL joins against real tables."""
        self.spark.udtf.register(name, udtf_cls)

    def udf_register(self, name: str, fn, return_type=None):
        """UDF surface (reference core tenet 4, docs/00-introduction.md:28)."""
        return self.spark.udf.register(name, fn, return_type)

    # ---- EXPLAIN surface -------------------------------------------------
    def explain(self, query: str, mode: str = "formatted") -> str:
        df = self.spark.sql(query)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )

    # ---- lakehouse surface (requires an attached catalog) ---------------
    def _require_catalog(self):
        if self.catalog is None:
            raise ValueError("no catalog attached to this Engine")
        return self.catalog

    def save_table(self, name: str, df: DataFrame, **kwargs):
        snap = self._require_catalog().write(name, df, **kwargs)
        self._register_view(name, self.catalog.read(name))
        return snap

    def table_at(self, name: str, version: int | None = None,
                 as_of_timestamp_ms: int | None = None) -> DataFrame:
        """M3 time travel through the facade."""
        return self._require_catalog().read(name, version, as_of_timestamp_ms)

    def history(self, name: str):
        return self._require_catalog().history(name)

    def export_duckdb(
        self, name: str | None = None, version: int | None = None
    ) -> str:
        """DuckDB view DDL for one catalog table's snapshot (or, with
        no ``name``, every current table) — the second-engine read of
        OUR tables, mirroring the reference's Trino-over-the-same-
        warehouse property (trino-config-coordinator.yaml:28-35). See
        :mod:`konohadataplatform_spark.export`."""
        from konohadataplatform_spark import export as _export

        cat = self._require_catalog()
        if name is None:
            if version is not None:
                raise ValueError(
                    "export_duckdb: version requires a table name — "
                    "an all-tables export is always current-version"
                )
            return _export.export_duckdb_views(cat)
        return _export.export_duckdb_sql(cat, name, version)

    def export_iceberg(
        self, name: str, out_dir: str, version: int | None = None
    ) -> str:
        """Iceberg v2 metadata layout (metadata.json + Avro manifest
        list + manifests) for one catalog table's snapshot, written
        under ``out_dir``; returns the metadata.json path. Any
        Iceberg-capable engine plans the read from the metadata alone.
        See :mod:`konohadataplatform_spark.export_iceberg`."""
        from konohadataplatform_spark import export_iceberg as _exp

        return _exp.export_iceberg_metadata(
            self._require_catalog(), name, out_dir, version
        )

    def read_iceberg(self, metadata_json_path: str) -> DataFrame:
        """Read an Iceberg v2 table from its metadata.json — parquet
        data files, identity partition specs, equality deletes, name
        mapping — without the Iceberg runtime jar. The inbound half of
        the S9 federation door (export_iceberg is the outbound)."""
        from konohadataplatform_spark.export_iceberg import read_iceberg

        return read_iceberg(self.spark, metadata_json_path)

    def upsert(self, name: str, source: DataFrame, key_cols: list[str]):
        """Merge-on-read upsert: O(|source|) commit (see
        catalog.upsert_by_keys); refreshes the SQL view."""
        snap = self._require_catalog().upsert_by_keys(name, source, key_cols)
        self._register_view(name, self.catalog.read(name))
        return snap

    def delete_keys(self, name: str, keys: DataFrame, key_cols: list[str]):
        """Merge-on-read delete: O(|keys|) commit."""
        snap = self._require_catalog().delete_by_keys(name, keys, key_cols)
        self._register_view(name, self.catalog.read(name))
        return snap

    def rename_column(self, name: str, old: str, new: str):
        """M5 schema evolution: metadata-only rename (no data rewrite)."""
        snap = self._require_catalog().rename_column(name, old, new)
        self._register_view(name, self.catalog.read(name))
        return snap

    def drop_column(self, name: str, col: str):
        """M5 schema evolution: metadata-only drop (no data rewrite)."""
        snap = self._require_catalog().drop_column(name, col)
        self._register_view(name, self.catalog.read(name))
        return snap

    def optimize(self, name: str, **kwargs):
        """Compaction (OPTIMIZE analog): folds pending merge-on-read
        layers/deletes into right-sized base files."""
        snap = self._require_catalog().compact(name, **kwargs)
        self._register_view(name, self.catalog.read(name))
        return snap

    def stage(self, name: str, df: DataFrame, **kwargs):
        """WAP step 1 through the facade (audit with read_staged /
        quality checks, then publish)."""
        return self._require_catalog().stage(name, df, **kwargs)

    def publish(self, name: str, staged):
        snap = self._require_catalog().publish(name, staged)
        self._register_view(name, self.catalog.read(name))
        return snap

    def rollback(self, name: str, version: int):
        snap = self._require_catalog().rollback(name, version)
        self._register_view(name, self.catalog.read(name))
        return snap

    def diff(self, name: str, from_version: int, to_version: int | None = None):
        return self._require_catalog().diff(name, from_version, to_version)

    def create_tag(self, name: str, tag: str, version: int | None = None) -> int:
        return self._require_catalog().create_tag(name, tag, version)

    def table_at_tag(self, name: str, tag: str) -> DataFrame:
        return self._require_catalog().read_tag(name, tag)

    def table_changes(self, name: str, from_version: int, **kwargs) -> DataFrame:
        """Delta-CDF-style change feed (see catalog.read_change_feed)."""
        return self._require_catalog().read_change_feed(name, from_version, **kwargs)

    def metadata_table(self, name: str, kind: str) -> DataFrame:
        """Iceberg metadata tables: files/snapshots/partitions/refs."""
        return self._require_catalog().metadata_table(name, kind)

    def set_bloom_filters(self, name: str, cols: dict) -> None:
        self._require_catalog().set_bloom_filters(name, cols)


class SessionEngine(Engine):
    """Per-session engine clone — the Kyuubi session-isolation analog.

    The reference runs one Spark engine per user (USER share level) or
    a shared engine with per-session overrides (SERVER share,
    ``infrastructure/apps/kyuubi/base/kyuubi-dbt-defaults-configmap.yaml:14,50-59``);
    either way two JDBC sessions issuing ``CREATE TEMP VIEW x`` never
    collide and a ``SET`` in one session never leaks into another. This
    clone gets both properties natively from ``spark.newSession()``:
    its own temp-view catalog and its own SQLConf over the SHARED
    SparkContext (no second JVM, no duplicated cache).

    Catalog tables stay globally visible (the shared-metastore half of
    the Kyuubi pairing): the session holds its own
    :class:`SnapshotCatalog` handle over the same warehouse — the
    catalog is stateless on disk — and before each statement lazily
    (re-)registers any catalog table whose committed version it has
    not seen, so a table CREATEd or MERGEd through one session is
    queryable from every other at its latest committed version. The
    sync reads each table's pointer file and re-reads a moved table from
    its recorded schema, with no Spark job (see
    :meth:`Engine._sync_catalog_views`); replaying the star-schema
    registration uses the declared schemas, also with no job. Known
    shadowing caveat: a session temp view named like a catalog table
    shadows it only until the table commits a new version.
    """

    def __init__(self, base: Engine):
        clone = base.spark.newSession()
        cat = None
        if base.catalog is not None:
            cat = type(base.catalog)(clone, base.catalog.warehouse)
        super().__init__(clone, cat)
        # replay the base engine's star-schema registrations (parquet
        # paths, so the clone can rebuild the views itself)
        for d in getattr(base, "_star_sf_dirs", []):
            self.register_star_schema(d)
