"""``lakehouse``: the reference's CDC-to-mart loop, one cycle at a time,
with its BI reads served through the Postgres wire door.

Each cycle applies one seeded batch of Debezium-style envelopes
(inserts, updates and deletes on ``orders``) with
``CdcPipeline.apply_envelopes`` on its default copy-on-write path,
re-runs the incremental ``plans.star_models`` DAG with ``Pipeline.run``,
and sends four BI reads through ``pg_query`` to a ``PgWireServer`` over
the catalog-backed ``Engine``, one connection per read: a mart
aggregate, a top-k read, a point lookup of a key the batch touched, and
a ``FOR VERSION AS OF`` count. Every connection gets its own session
clone, which syncs the catalog's views before ``Engine.sql`` runs.
Writes sit beside reads, so read speed bought with commit work shows.
One operation is one BI read; the wall time is that of the measured
cycle (the mean, if ``--seconds`` asks for more than one).
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
import traceback
from datetime import datetime
from decimal import ROUND_HALF_UP, Decimal

from perfbench.harness import median, span

# Assumed, not recorded, traffic (README.md says why): 0.2% of the sf0.1
# orders per batch, and an even op mix as in the reference's manual CDC
# test (FIXTURES.md).
CHANGES_PER_BATCH = 300
INSERT_SHARE, UPDATE_SHARE = 1 / 3, 1 / 3
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
# One measured cycle per 30 s of ``--seconds``: a warm cycle takes 6-9 s
# on a 4-core host, and the run with its two slow warm-up cycles has to
# fit the benchmark's time budget. The spread of the wall time between
# runs comes from the host, not the cycle count: it was the same for one
# measured cycle as for the mean of two.
CYCLE_S = 30.0
# The first cycle builds the whole pipeline and the second still runs
# about 17% slower than the fourth (cycle times in README.md).
WARMUP_CYCLES = 2

LAYER_NAMES = (
    ("cdc.apply_s", "s"),
    ("cdc.apply_jobs", "count"),
    ("plans.run_s", "s"),
    ("plans.run_jobs", "count"),
    ("engine.sql_ms", "ms"),
    ("engine.fetch_ms", "ms"),
    ("pgwire.door_ms", "ms"),
    ("engine.jobs_per_read", "count"),
    ("catalog.commits_per_cycle", "count"),
    ("catalog.bytes_written_per_cycle", "B"),
    ("catalog.files_written_per_cycle", "count"),
    ("catalog.write_amp", "ratio"),
)

CENT = Decimal("0.01")


def tree_files(root: str) -> dict[str, int]:
    """path -> size of every regular file under ``root``."""
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(root)
        for f in files
    }


def _cents(price: float) -> Decimal:
    # the rounding of CAST(double AS DECIMAL(18, 2)) in Spark
    return Decimal(repr(price)).quantize(CENT, rounding=ROUND_HALF_UP)


class ChangeStream:
    """Seeded Debezium envelopes over ``orders`` and a pure-Python replay
    of their effect: the live rows, plus running count, key sums and
    price sum of the whole table."""

    def __init__(self, seed: int, rows: list[dict]):
        self.rng = random.Random(seed)
        self.rows = {r["o_orderkey"]: r for r in rows}
        self.live = list(self.rows)
        self.pos = {k: i for i, k in enumerate(self.live)}
        self.next_key = max(self.rows) + 1
        self.lsn = 0
        self.count = len(rows)
        self.key_sum = sum(self.rows)
        self.key_sq_sum = sum(k * k for k in self.rows)
        self.price_sum = sum(_cents(r["o_totalprice"]) for r in rows)

    @staticmethod
    def _image(row: dict) -> str:
        return json.dumps({
            **row, "o_orderdate": row["o_orderdate"].strftime("%Y-%m-%dT%H:%M:%S")
        })

    def _drop(self, key: int) -> dict:
        i = self.pos.pop(key)
        last = self.live.pop()
        if last != key:
            self.live[i] = last
            self.pos[last] = i
        row = self.rows.pop(key)
        self.count -= 1
        self.key_sum -= key
        self.key_sq_sum -= key * key
        self.price_sum -= _cents(row["o_totalprice"])
        return row

    def _put(self, row: dict) -> None:
        key = row["o_orderkey"]
        self.rows[key] = row
        self.pos[key] = len(self.live)
        self.live.append(key)
        self.count += 1
        self.key_sum += key
        self.key_sq_sum += key * key
        self.price_sum += _cents(row["o_totalprice"])

    def batch(self, n: int) -> tuple[list[tuple], int]:
        """``n`` envelopes in commit order and the last key touched."""
        rng, changes, key = self.rng, [], None
        for _ in range(n):
            kind = rng.random()
            price = round(rng.uniform(900.0, 450000.0), 2)
            if kind < INSERT_SHARE:
                key = self.next_key
                self.next_key += 1
                row = {
                    "o_orderkey": key,
                    "o_custkey": rng.randint(1, 15000),
                    "o_orderstatus": rng.choice("OFP"),
                    "o_totalprice": price,
                    "o_orderdate": datetime(
                        rng.randint(1992, 1998), rng.randint(1, 12), rng.randint(1, 28)
                    ),
                    "o_orderpriority": rng.choice(PRIORITIES),
                }
                self._put(row)
                changes.append(("c", None, self._image(row)))
            elif kind < INSERT_SHARE + UPDATE_SHARE:
                key = self.live[rng.randrange(len(self.live))]
                before = self._drop(key)
                after = {**before, "o_totalprice": price,
                         "o_orderstatus": rng.choice("OFP")}
                self._put(after)
                changes.append(("u", self._image(before), self._image(after)))
            else:  # delete
                key = self.live[rng.randrange(len(self.live))]
                before = self._drop(key)
                changes.append(("d", self._image(before), None))
        envelopes = []
        for op, before, after in changes:
            self.lsn += 1
            envelopes.append(
                (op, before, after, 1_700_000_000_000 + self.lsn, self.lsn, "orders")
            )
        return envelopes, key


class Lakehouse:
    def __init__(self, sf_dir: str, seed: int, seconds: int, run_dir: str):
        import pyarrow.parquet as pq

        self.sf_dir = sf_dir
        self.run_dir = run_dir
        self.seed = seed
        self.cycles = max(1, int(seconds // CYCLE_S))
        self.base_rows = pq.read_table(os.path.join(sf_dir, "orders.parquet")).to_pylist()
        self.stream = None
        self.server = None
        self.batch_id = 0
        # seconds of every cycle, warm-up included, for the run's log
        self.trajectory: list[float] = []

    def setup(self, spark, rep: int) -> None:
        from konohadataplatform_spark.catalog import SnapshotCatalog
        from konohadataplatform_spark.engine import Engine
        from konohadataplatform_spark.pgwire import PgWireServer
        from konohadataplatform_spark.plans.star_models import build_star_pipeline
        from konohadataplatform_spark.sources.star_schema import load_table
        from konohadataplatform_spark.streaming.cdc import CdcPipeline

        self.spark = spark
        self.warehouse = os.path.join(self.run_dir, f"lake-wh{rep}")
        self.catalog = SnapshotCatalog(spark, self.warehouse)
        self.engine = Engine(spark, self.catalog)
        orders = load_table(spark, self.sf_dir, "orders")
        self.cdc = CdcPipeline(spark, self.catalog, {"orders": (orders.schema, ["o_orderkey"])})
        self.cdc.bootstrap("orders", orders)
        self.pipeline = build_star_pipeline(spark, self.catalog, self.sf_dir)
        self.batch_id = 0
        self.server = PgWireServer(self.engine).start()

    def teardown(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None

    def _send(self, sql: str) -> list | None:
        """One BI read round trip; the rows as text, or None on an error."""
        from konohadataplatform_spark.pgwire import pg_query

        _cols, rows, err = pg_query(self.server.port, sql)
        if err is not None:
            print(f"lakehouse: {err}", file=sys.stderr)
            return None
        return rows

    # ---- one cycle ------------------------------------------------------
    def _reads(self, key: int, version: int) -> list[str]:
        return [
            "SELECT substr(metric_date, 1, 4) AS yr, sum(total_orders) AS orders, "
            "sum(total_value) AS value FROM mart_daily_metrics_star GROUP BY 1 ORDER BY 1",
            "SELECT c_custkey, c_name, completed_value, revenue_rank "
            "FROM mart_customer_summary_star WHERE revenue_rank <= 10 ORDER BY revenue_rank",
            f"SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = {key}",
            f"SELECT count(*) AS n FROM orders FOR VERSION AS OF {version}",
        ]

    def _cycle(self, tracer, rec: dict | None) -> tuple[list[float], int]:
        """One apply / run / read cycle; the read latencies and the
        number of failed operations (a stale point lookup counts)."""
        from konohadataplatform_spark.streaming.cdc import ENVELOPE_SCHEMA

        envelopes, key = self.stream.batch(CHANGES_PER_BATCH)
        raw = self.spark.createDataFrame(envelopes, ENVELOPE_SCHEMA)
        self.batch_id += 1
        version = self.catalog.current_snapshot("orders").version
        failed = 0

        t = time.perf_counter()
        with span(tracer, "cdc.apply"):
            self.cdc.apply_envelopes(raw, batch_id=self.batch_id)
        t_apply = time.perf_counter()
        with span(tracer, "plans.run"):
            self.pipeline.add_source("orders_raw", self.catalog.read("orders"))
            self.pipeline.run()
        t_run = time.perf_counter()

        reads, rows = [], []
        for sql in self._reads(key, version):
            t0 = time.perf_counter()
            try:
                with span(tracer, "pgwire.read"):
                    got = self._send(sql)
            except OSError:
                traceback.print_exc()
                got = None
            reads.append(time.perf_counter() - t0)
            rows.append(got)
            failed += got is None
        if rec is not None:
            rec["apply_s"].append(t_apply - t)
            rec["run_s"].append(t_run - t_apply)
            rec["envelope_bytes"] += sum(
                len(b or "") + len(a or "") for _op, b, a, *_ in envelopes
            )
        # freshness: the point lookup sees this batch's last change
        want = self.stream.rows.get(key)
        got = rows[2]
        if got is not None and not (
            (want is None and not got)
            or (want is not None and len(got) == 1
                and float(got[0][2]) == want["o_totalprice"])
        ):
            print(f"lakehouse: stale point lookup of {key}", file=sys.stderr)
            failed += 1
        return reads, failed

    def check(self) -> tuple[int, int]:
        """Warm-up cycles; the table itself is checked after measuring."""
        self.stream = ChangeStream(self.seed, self.base_rows)
        failed = 0
        for _ in range(WARMUP_CYCLES):
            t0 = time.perf_counter()
            _reads, f = self._cycle(None, None)
            self.trajectory.append(time.perf_counter() - t0)
            failed += f
        return WARMUP_CYCLES * (2 + len(self._reads(0, 0))), failed

    def measure(self, tracer) -> dict:
        from konohadataplatform_spark.engine import Engine

        if tracer:
            # server side: the handler thread's session clone runs
            # Engine.sql (catalog-view sync, rewrites), then the fetch;
            # the concrete DataFrame class is the one whose collect runs.
            # The caller unwraps.
            tracer.wrap(Engine, "sql", "engine.sql")
            tracer.wrap(type(self.spark.range(0)), "collect", "engine.fetch")
        rec = {"apply_s": [], "run_s": [], "envelope_bytes": 0,
               "commits": [], "written": [], "windows": []}
        lat, failed, attempted, cycle_s = [], 0, 0, []
        for _ in range(self.cycles):
            if tracer:
                before = tree_files(self.warehouse)
                commits0 = self._commits()
            t0 = time.perf_counter()
            reads, f = self._cycle(tracer, rec)
            t1 = time.perf_counter()
            cycle_s.append(t1 - t0)
            self.trajectory.append(t1 - t0)
            rec["windows"].append((t0, t1))
            if tracer:
                after = tree_files(self.warehouse)
                new = [p for p in after if p not in before]
                rec["written"].append((len(new), sum(after[p] for p in new)))
                rec["commits"].append(self._commits() - commits0)
            lat += reads
            failed += f
            attempted += 2 + len(reads)
        failed += self._check_table()
        return {"wall_s": statistics.mean(cycle_s), "op_s": lat, "attempted": attempted + 1,
                "failed": failed, **rec}

    def _commits(self) -> int:
        return sum(len(self.catalog.history(t)) for t in self.catalog.tables())

    def _check_table(self) -> int:
        """The final ``orders`` table against the pure-Python replay:
        row count, key-set sums and the price sum. 1 on a mismatch."""
        row = self.engine.sql(
            "SELECT count(*) AS n, sum(o_orderkey) AS k, "
            "sum(o_orderkey * o_orderkey) AS k2, "
            "sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS p FROM orders"
        ).collect()[0]
        s = self.stream
        got = (row["n"], row["k"], row["k2"], Decimal(row["p"]))
        want = (s.count, s.key_sum, s.key_sq_sum, s.price_sum)
        if got != want:
            print(f"lakehouse: orders {got} != replay {want}", file=sys.stderr)
            return 1
        return 0

    def layers(self, tracer, result: dict) -> dict[str, float]:
        n = self.cycles
        by_name = {}
        for s in tracer.spans:
            by_name.setdefault(s.name, []).append(s)

        sql_ms, fetch_ms, door_ms = [], [], []
        for read in by_name.get("pgwire.read", []):
            spans = tracer.within(read.start, read.end)
            q = sum(x.secs for x in spans if x.name == "engine.sql")
            f = sum(x.secs for x in spans if x.name == "engine.fetch")
            sql_ms.append(q * 1000)
            fetch_ms.append(f * 1000)
            door_ms.append((read.secs - q - f) * 1000)
        reads = by_name.get("pgwire.read", [])
        files = sum(f for f, _b in result["written"])
        written = sum(b for _f, b in result["written"])
        cycles = [tracer.within(a, b) for a, b in result["windows"]]
        return {
            "cdc.apply_s": median(result["apply_s"]),
            "cdc.apply_jobs": tracer.inside(by_name.get("cdc.apply", [])) / n,
            "plans.run_s": median(result["run_s"]),
            "plans.run_jobs": tracer.inside(by_name.get("plans.run", [])) / n,
            "engine.sql_ms": median(sql_ms),
            "engine.fetch_ms": median(fetch_ms),
            "pgwire.door_ms": median(door_ms),
            "engine.jobs_per_read": tracer.inside(reads) / len(reads),
            "catalog.commits_per_cycle": sum(result["commits"]) / n,
            "catalog.bytes_written_per_cycle": written / n,
            "catalog.files_written_per_cycle": files / n,
            "catalog.write_amp": written / result["envelope_bytes"],
            "sources.infer_jobs": sum(
                s.jobs for c in cycles for s in c if s.name == "sources.infer"
            ) / n,
        }
