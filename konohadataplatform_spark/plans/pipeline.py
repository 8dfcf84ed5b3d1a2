"""Model registry + topo-ordered runner — the dbt DAG / Airflow analog.

The reference orchestrates dbt models through Airflow's
``DbtSparkOperator`` (``dag/operators/dbt_spark_operator.py:82-408``,
pipeline ``dag/dbt_analytics_pipeline.py:48-118``): seed -> staging ->
marts, with per-model materialization (``materialized='table'`` or
``'incremental', incremental_strategy='merge'``), tag selection
(dbt ``--select tag:``) and full-refresh. This runner reproduces that
control plane in-process:

- models are Python callables (spark, ctx) -> DataFrame;
- ``ctx.ref(name)`` reads an upstream model from the catalog (dbt's
  ``{{ ref() }}``), ``ctx.source(name)`` reads a registered source;
- materializations commit through :class:`SnapshotCatalog` — `table`
  = CTAS overwrite (S5), `incremental` = merge-by-unique-key (S6);
- dependency order is a topological sort of declared ``depends_on``.

No Kubernetes pods, no Thrift hop: boundaries collapse into one
SparkSession (SURVEY §3.1 "our equivalent").
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from konohadataplatform_spark.catalog import SnapshotCatalog


@dataclass
class ModelSpec:
    name: str
    fn: Callable  # (spark, ctx) -> DataFrame
    materialization: str = "table"  # table | incremental | view
    unique_key: list[str] | None = None
    depends_on: list[str] = field(default_factory=list)
    tags: list[str] = field(default_factory=list)
    partition_by: list[str] | None = None


class RunContext:
    def __init__(self, pipeline: "Pipeline"):
        self._p = pipeline

    def ref(self, name: str) -> DataFrame:
        return self._p.catalog.read(name)

    def source(self, name: str) -> DataFrame:
        if name not in self._p.sources:
            raise KeyError(f"unknown source: {name}")
        return self._p.sources[name]

    def is_incremental(self, name: str) -> bool:
        return self._p.catalog.exists(name)


class Pipeline:
    def __init__(self, spark: SparkSession, catalog: SnapshotCatalog):
        self.spark = spark
        self.catalog = catalog
        self.models: dict[str, ModelSpec] = {}
        self.sources: dict[str, DataFrame] = {}

    # ---- registration (dbt project / S7 seed analog) --------------------
    def add_source(self, name: str, df: DataFrame) -> None:
        self.sources[name] = df

    def seed_csv(self, name: str, path: str) -> None:
        """S7: dbt seed — CSV load into the catalog."""
        df = self.spark.read.csv(path, header=True, inferSchema=True)
        self.catalog.write(name, df)

    def model(self, spec: ModelSpec) -> None:
        self.models[spec.name] = spec

    # ---- execution ------------------------------------------------------
    def _topo_order(self, wanted: list[str]) -> list[str]:
        order: list[str] = []
        seen: set[str] = set()
        visiting: set[str] = set()

        def visit(n: str) -> None:
            if n in seen:
                return
            if n in visiting:
                raise ValueError(f"dependency cycle at {n}")
            visiting.add(n)
            for dep in self.models[n].depends_on:
                if dep in self.models:
                    visit(dep)
            visiting.discard(n)
            seen.add(n)
            order.append(n)

        for n in wanted:
            visit(n)
        return order

    def run(
        self,
        select: list[str] | None = None,
        tag: str | None = None,
        full_refresh: bool = False,
    ) -> list[str]:
        """Run models in dependency order; returns the executed names.

        ``tag`` mirrors dbt `--select tag:x`; ``full_refresh`` rebuilds
        incremental models from scratch (dbt --full-refresh).
        """
        wanted = list(select or self.models)
        if tag is not None:
            wanted = [n for n in wanted if tag in self.models[n].tags]
            # pull in upstream deps even if untagged
        executed = []
        ctx = RunContext(self)
        for name in self._topo_order(wanted):
            spec = self.models[name]
            df = spec.fn(self.spark, ctx)
            if spec.materialization == "incremental" and not full_refresh:
                if spec.unique_key is None:
                    raise ValueError(f"{name}: incremental needs unique_key")
                self.catalog.merge(name, df, spec.unique_key, spec.partition_by)
            else:
                self.catalog.write(name, df, partition_by=spec.partition_by)
            executed.append(name)
        return executed


# ---------------------------------------------------------------------------
# The remaining dbt-operator analogs (SURVEY §2.12: the reference exports
# ten DbtSpark*Operator wrappers, dag/operators/__init__.py:5-16).
# Run/Seed live on Pipeline above; these cover Compile/Docs/Debug/
# Freshness/Snapshot/Test.
# ---------------------------------------------------------------------------
import time as _time

from pyspark.sql import functions as _F


class PipelineOps:
    """Mixin-style helpers operating on a Pipeline instance."""

    def __init__(self, pipeline: Pipeline):
        self.p = pipeline

    # dbt compile: build every model's DataFrame (logical plan) without
    # materializing — schema/resolution errors surface here.
    def compile(self, select: list[str] | None = None) -> dict[str, list[str]]:
        ctx = RunContext(self.p)
        out = {}
        for name in self.p._topo_order(list(select or self.p.models)):
            df = self.p.models[name].fn(self.p.spark, ctx)
            out[name] = [f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields]
        return out

    # dbt deps: install model packages into the project. The analog of
    # packages.yml is a {name: path} mapping of local Python modules
    # exposing register(pipeline); the returned lock dict ({name:
    # version-or-content-hash}) is the package-lock.yml analog. No
    # network package manager exists in-process, so "install" means
    # load + register — which is also exactly what dbt deps achieves
    # for the subsequent run (models become resolvable by ref()).
    def deps(self, packages: dict[str, str]) -> dict[str, str]:
        import hashlib
        import importlib.util

        lock: dict[str, str] = {}
        for name, path in packages.items():
            spec = importlib.util.spec_from_file_location(
                f"konoha_pkg_{name}", path
            )
            if spec is None or spec.loader is None:
                raise ValueError(f"package {name!r}: cannot load {path!r}")
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
            if not hasattr(mod, "register"):
                raise ValueError(
                    f"package {name!r} has no register(pipeline) entry point"
                )
            mod.register(self.p)
            with open(path, "rb") as fh:
                digest = hashlib.md5(fh.read()).hexdigest()[:12]
            lock[name] = str(getattr(mod, "__version__", digest))
        return lock

    # dbt docs generate: model metadata + schemas + dependency edges
    def docs(self) -> dict:
        doc = {"models": {}, "edges": []}
        for name, spec in self.p.models.items():
            doc["models"][name] = {
                "materialization": spec.materialization,
                "unique_key": spec.unique_key,
                "tags": spec.tags,
                "doc": (spec.fn.__doc__ or "").strip(),
            }
            for dep in spec.depends_on:
                doc["edges"].append((dep, name))
        return doc

    # dbt debug: validate sources resolve and the session is alive
    def debug(self) -> dict:
        status = {"spark": self.p.spark.version, "sources": {}, "models": len(self.p.models)}
        for name, df in self.p.sources.items():
            try:
                n_cols = len(df.schema.fields)
                status["sources"][name] = f"ok ({n_cols} cols)"
            except Exception as e:  # noqa: BLE001
                status["sources"][name] = f"error: {e}"
        return status

    # dbt source freshness: age of the newest row per source watermark
    def freshness(self, watermarks: dict[str, str]) -> dict[str, float]:
        out = {}
        now = _time.time()
        for name, col in watermarks.items():
            df = self.p.sources.get(name)
            if df is None:
                df = self.p.catalog.read(name)
            newest = df.agg(_F.max(col)).first()[0]
            age = now - newest.timestamp() if newest is not None else float("inf")
            out[name] = age
        return out

    # dbt snapshot: SCD type-2 history table keyed on unique_key.
    # New key -> insert open row; changed row -> close the current row
    # (valid_to = now) and insert a new open row; unchanged -> no-op.
    def snapshot(
        self,
        name: str,
        source,
        unique_key: str,
        updated_at: str,
    ):
        cat = self.p.catalog
        src = source.withColumn("_valid_from", _F.col(updated_at)).withColumn(
            "_valid_to", _F.lit(None).cast("timestamp")
        ).withColumn("_is_current", _F.lit(True))
        if not cat.exists(name):
            return cat.write(name, src)

        data_cols = [c for c in source.columns if c not in (unique_key, updated_at)]

        def _scd2(hist):
            cur = hist.filter(_F.col("_is_current"))
            closed = hist.filter(~_F.col("_is_current"))
            joined = cur.alias("c").join(
                source.alias("s"),
                _F.col(f"c.{unique_key}") == _F.col(f"s.{unique_key}"),
                "full",
            )
            changed_pred = _F.lit(False)
            for c in data_cols:
                same = _F.col(f"c.{c}").eqNullSafe(_F.col(f"s.{c}"))
                changed_pred = changed_pred | ~same

            # rows to close: current rows whose source version changed
            # (pull the source's updated_at across before dropping s.*)
            to_close = (
                joined.filter(
                    _F.col(f"s.{unique_key}").isNotNull()
                    & _F.col(f"c.{unique_key}").isNotNull()
                    & changed_pred
                )
                .select(_F.col(f"s.{updated_at}").alias("_close_ts"), "c.*")
                .withColumn("_valid_to", _F.col("_close_ts"))
                .drop("_close_ts")
                .withColumn("_is_current", _F.lit(False))
            )

            # unchanged current rows stay open
            unchanged = joined.filter(
                _F.col(f"c.{unique_key}").isNotNull()
                & (_F.col(f"s.{unique_key}").isNull() | ~changed_pred)
            ).select("c.*")

            # new versions (changed or brand-new keys) become open rows
            new_rows = (
                joined.filter(
                    _F.col(f"s.{unique_key}").isNotNull()
                    & (_F.col(f"c.{unique_key}").isNull() | changed_pred)
                )
                .select("s.*")
                .withColumn("_valid_from", _F.col(updated_at))
                .withColumn("_valid_to", _F.lit(None).cast("timestamp"))
                .withColumn("_is_current", _F.lit(True))
            )

            return (
                closed.unionByName(to_close)
                .unionByName(unchanged)
                .unionByName(new_rows)
            )

        return cat.rewrite(name, _scd2, "snapshot")
