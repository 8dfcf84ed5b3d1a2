"""The counted-gate helpers: the zero-job estimate tier may only fire
on scan-grade plans (r15 hardening of the r14 VERDICT hazard — a
post-Filter/Join size estimate can lie LOW on a huge relation and
would route it onto a single-partition window sort at 100 TB)."""

from __future__ import annotations

from pyspark.sql import functions as F

from konohadataplatform_spark.operators.gating import (
    estimate_is_scan_grade,
    estimated_bytes,
    probe_small,
    probe_within,
)

HUGE = 1 << 60


def test_scan_grade_plans(spark):
    # bare scans / column-pruned projections: estimate is
    # file-statistics-grade, trusted
    assert estimate_is_scan_grade(spark.range(100))
    assert estimate_is_scan_grade(
        spark.range(100).select((F.col("id") * 2).alias("x"))
    )
    # anything post-scan that can change cardinality is NOT
    filtered = spark.range(100).where(F.col("id") % 2 == 0)
    assert not estimate_is_scan_grade(filtered)
    agg = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    assert not estimate_is_scan_grade(agg)
    joined = spark.range(100).join(spark.range(10), "id")
    assert not estimate_is_scan_grade(joined)
    limited = spark.range(100).limit(5)
    assert not estimate_is_scan_grade(limited)


def test_probe_small_distrusts_non_scan_estimate(spark):
    # A filtered relation whose byte estimate is tiny (well under the
    # bound) but whose ROW count exceeds the row bound: the hardened
    # gate must run the row probe and answer False — the pre-r15 gate
    # would have trusted the estimate and wrongly answered True.
    side = spark.range(1000).where(F.col("id") % 2 == 0)  # 500 rows
    assert estimated_bytes(side) <= HUGE  # estimate IS under the bound
    assert probe_small(side, row_bound=100, bytes_bound=HUGE) is False
    # ...while a scan-grade side still short-circuits on the estimate
    # tier alone: rows (1000) > row_bound (100), yet the trusted byte
    # estimate admits it with zero jobs — the r14 fast path preserved.
    scan = spark.range(1000)
    assert probe_small(scan, row_bound=100, bytes_bound=HUGE) is True
    # and over BOTH bounds the row probe decides
    assert probe_small(scan, row_bound=100, bytes_bound=1) is False
    assert probe_small(scan, row_bound=2000, bytes_bound=1) is True


def test_probe_within_limit_bounded(spark):
    assert probe_within(spark.range(10), 10) is True
    assert probe_within(spark.range(11), 10) is False


def test_scan_grade_parquet_plans(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(100).select(
        "id", (F.col("id") * 2).alias("x")
    ).write.parquet(path)
    scan = spark.read.parquet(path)
    assert estimate_is_scan_grade(scan)
    assert estimate_is_scan_grade(scan.select("x"))
    assert not estimate_is_scan_grade(scan.where(F.col("x") > 10))


def test_scan_grade_fails_closed():
    class Broken:
        @property
        def _jdf(self):
            raise RuntimeError("no plan")

    assert estimate_is_scan_grade(Broken()) is False
