"""``star_batch``: eight of the frozen ``bench.py`` headline queries plus
the ``q_bpe_train_merges`` job chain, built and counted in passes.

Every call re-reads parquet and rebuilds its plan, so ``sources`` footer
inference and the eager build jobs of ``queries``/``operators`` carry
most of the time. One operation is one query: build (the registry
callable) plus ``.count()``. The checked cold pass is the warm-up, then
two passes are measured and the wall time is their mean. The first of
them still runs slower than later passes, in every run alike (README.md
gives the pass times). The inputs are the fixed star-schema tables; the seed does not change
them.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from perfbench.harness import median, span
# The canonical-value rule and table list of the repository's local
# mirror of the oracle-parity gate, so both compare rows the same way.
from tools.driver_sim import TABLES, canon

# The headline set minus the three whose single execution costs the most
# (q_minhash_dedup, q_events_sessionize, q_customer_order_summary), so
# that the cold checked pass and the measured passes fit in one run.
HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q_daily_order_metrics",
    "q_doc_exact_dedup",
    "q_knn_bruteforce",
)
# The cheapest of the job-chain queries ROADMAP item 2 names: 16 of its
# 18 jobs fire while the plan is built, before ``.count()``.
CHAIN = ("q_bpe_train_merges",)
QUERIES = HEADLINE + CHAIN

# One measured pass per 15 s of ``--seconds``: a warm pass takes 8-11 s on
# a 4-core host, and the run with its cold checked pass has to fit the
# benchmark's time budget.
PASS_S = 15.0

LAYER_NAMES = (
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    ("queries.exec_s", "s"),
    ("queries.exec_jobs", "count"),
    ("queries.stages", "count"),
    ("queries.tasks", "count"),
) + tuple(
    (f"{q}.{m}", unit)
    for q in QUERIES
    for m, unit in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))
)


def duckdb_over(sf_dir: str):
    """A DuckDB connection with one view per star-schema parquet file."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS FROM read_parquet('{path}')")
    return con


def canonical_rows(pdf) -> list[str]:
    """Sorted canonical rows of a pandas frame, columns by lower name."""
    order = sorted(range(len(pdf.columns)), key=lambda i: str(pdf.columns[i]).lower())
    return sorted(
        "|".join(canon(r[i]) for i in order)
        for r in pdf.itertuples(index=False, name=None)
    )


def same_frames(spark_pdf, oracle_pdf) -> bool:
    """Same columns (case-insensitive) and the same multiset of rows."""
    if sorted(str(c).lower() for c in spark_pdf.columns) != sorted(
        str(c).lower() for c in oracle_pdf.columns
    ):
        return False
    return canonical_rows(spark_pdf) == canonical_rows(oracle_pdf)


class StarBatch:
    def __init__(self, sf_dir: str, seed: int, seconds: int, run_dir: str):
        self.sf_dir = sf_dir
        self.passes = max(1, int(seconds // PASS_S))
        self.spark = None
        self.qs = {}
        # seconds of every pass, the checked cold pass included, for the
        # run's log
        self.trajectory: list[float] = []

    def setup(self, spark, rep: int) -> None:
        """Open an engine over the star schema (one footer-inference job
        per table) and bind the queries; the queries read their own
        tables, so the views only make the session ready for ad-hoc SQL."""
        from konohadataplatform_spark.engine import Engine
        from konohadataplatform_spark.queries import all_queries

        self.spark = spark
        Engine(spark).register_star_schema(self.sf_dir)
        registry = all_queries()
        self.qs = {name: registry[name] for name in QUERIES}

    def teardown(self) -> None:
        pass

    def check(self) -> tuple[int, int]:
        """The warm-up pass: every query collected once and compared with
        its DuckDB oracle."""
        from konohadataplatform_spark.queries import all_oracles

        oracles = all_oracles()
        con = duckdb_over(self.sf_dir)
        failed, spark_s = 0, 0.0
        for name in QUERIES:
            try:
                t = time.perf_counter()
                got = self.qs[name](self.spark, self.sf_dir).toPandas()
                spark_s += time.perf_counter() - t
                ok = same_frames(got, con.execute(oracles[name]).fetchdf())
            except Exception:  # noqa: BLE001 — a failing query is a failed op
                traceback.print_exc()
                ok = False
            if not ok:
                print(f"star_batch: {name} does not match its oracle", file=sys.stderr)
                failed += 1
        con.close()
        self.trajectory.append(spark_s)
        return len(QUERIES), failed

    def measure(self, tracer) -> dict:
        lat, pass_s, failed = [], [], 0
        for _ in range(self.passes):
            t_pass = time.perf_counter()
            for name in QUERIES:
                t = time.perf_counter()
                try:
                    with span(tracer, f"build:{name}"):
                        df = self.qs[name](self.spark, self.sf_dir)
                    with span(tracer, f"exec:{name}"):
                        df.count()
                except Exception:  # noqa: BLE001 — count it, keep going
                    traceback.print_exc()
                    failed += 1
                lat.append(time.perf_counter() - t)
            pass_s.append(time.perf_counter() - t_pass)
        self.trajectory += pass_s
        return {
            "wall_s": statistics.mean(pass_s),
            "op_s": lat,
            "attempted": len(lat),
            "failed": failed,
        }

    def layers(self, tracer, result: dict) -> dict[str, float]:
        n = self.passes
        builds = [s for s in tracer.spans if s.name.startswith("build:")]
        execs = [s for s in tracer.spans if s.name.startswith("exec:")]
        infer = [s for s in tracer.spans if s.name == "sources.infer"]
        out = {
            "sources.infer_jobs": tracer.total(infer, "jobs") / n,
            "queries.build_s": sum(s.secs for s in builds) / n,
            "queries.build_jobs": tracer.inside(builds) / n,
            "queries.exec_s": sum(s.secs for s in execs) / n,
            "queries.exec_jobs": tracer.inside(execs) / n,
            "queries.stages": tracer.inside(builds + execs, "stages") / n,
            "queries.tasks": tracer.inside(builds + execs, "tasks") / n,
        }
        for q in QUERIES:
            b = [s for s in builds if s.name == f"build:{q}"]
            e = [s for s in execs if s.name == f"exec:{q}"]
            out[f"{q}.build_s"] = median(s.secs for s in b)
            out[f"{q}.exec_s"] = median(s.secs for s in e)
            out[f"{q}.jobs"] = median(tracer.inside([x, y]) for x, y in zip(b, e))
        return out
