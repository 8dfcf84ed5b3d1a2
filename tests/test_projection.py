"""Dimensionality-reduction tier (r13, operators/projection.py):
hash-sign JL projection, exact integer covariance, driver-side PCA.

Driver gates: q_jl_project / q_jl_neighbors / q_embedding_covariance
(bit-exact DuckDB oracles). THESE tests pin the numeric contracts —
exact equality with numpy replays of the same integer arithmetic,
distance preservation, gate parity, and the loud dimension guard.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from konohadataplatform_spark.operators.projection import (
    JL_GRID,
    embedding_covariance,
    jl_neighbors,
    jl_project,
    jl_sign_matrix,
    pca_components,
    pca_project,
)
from konohadataplatform_spark.sources.star_schema import load_table
from tests.conftest import SF_DIR


def _emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def test_jl_project_matches_numpy_replay(spark):
    """Exact int64 equality with a numpy replay of the same sign
    matrix and snapping — the engine-portability contract."""
    emb = _emb(spark).limit(40)
    rows = {r.vec_id: np.array(r.embedding) for r in emb.collect()}
    signs = np.array(jl_sign_matrix(16, 64))
    got = {r.vec_id: list(r.proj) for r in jl_project(emb).collect()}
    for vid, v in rows.items():
        s = np.floor(v * JL_GRID).astype(np.int64)
        expect = (signs @ s).tolist()
        assert got[vid] == expect, vid


def _signed_sum(row: list[int], arr: str = "_s") -> str:
    """The +-1 dot product UNROLLED: `element_at(_s,1) - element_at(
    _s,2) + ...` — plain column arithmetic whole-stage codegen
    compiles to straight-line adds (a first spelling, a 2-d literal
    array indexed inside an aggregate lambda, re-built the 1024-literal
    array per element evaluation: 10.2x slower). This was jl_project's
    spelling before the projection became an Arrow kernel (the out_dim
    x in_dim unrolled tree cost 2+ s/pass of driver/codegen overhead);
    it stays here as the reference for the kernel's equivalence test."""
    parts = []
    for i, v in enumerate(row, start=1):
        op = "+" if v == 1 else "-"
        parts.append(f"{op} element_at({arr}, {i})")
    return "(0L " + " ".join(parts) + ")"


def test_jl_project_kernel_matches_unrolled_expr(spark):
    """The r15 Arrow kernel must be bit-identical to the original
    plan-time unrolled ``element_at`` spelling (the pre-r15 physical
    form, rebuilt here from ``_signed_sum``) — int64 sums are
    order-independent, so the numpy matmul and the left-assoc column
    fold must agree exactly on real fixture vectors."""
    emb = _emb(spark).limit(50)
    m = jl_sign_matrix(16, 64)
    snapped = (
        f"transform(cast(embedding as array<double>), "
        f"x -> cast(floor(x * {JL_GRID}) as bigint))"
    )
    proj = "array(" + ", ".join(_signed_sum(row) for row in m) + ")"
    ref = {
        r.vec_id: list(r.proj)
        for r in emb.select(
            F.col("vec_id"), F.expr(snapped).alias("_s")
        ).select("vec_id", F.expr(proj).alias("proj")).collect()
    }
    got = {r.vec_id: list(r.proj) for r in jl_project(emb).collect()}
    assert got == ref and got


def test_jl_sign_matrix_deterministic_and_balanced():
    m = jl_sign_matrix(16, 64)
    assert m == jl_sign_matrix(16, 64)
    assert all(v in (-1, 1) for row in m for v in row)
    # md5 parity is ~uniform: the overall +1 fraction is near half
    plus = sum(v == 1 for row in m for v in row)
    assert 0.35 < plus / (16 * 64) < 0.65


def test_jl_preserves_distances_within_eps(spark):
    """The JL property on real fixture vectors: median relative
    distortion of pairwise squared distances (scaled by out/in ratio)
    stays small at 16 of 64 dims."""
    emb = _emb(spark).limit(30)
    vecs = {r.vec_id: np.array(r.embedding) for r in emb.collect()}
    proj = {
        r.vec_id: np.array(r.proj, dtype=float)
        for r in jl_project(emb).collect()
    }
    ids = sorted(vecs)
    ratios = []
    for idx, a in enumerate(ids):
        for b in ids[idx + 1:]:
            full = float(np.sum((vecs[a] - vecs[b]) ** 2))
            red = float(np.sum((proj[a] - proj[b]) ** 2)) / (
                JL_GRID * JL_GRID
            )
            # E[red] = out_dim/in_dim-free: sign-matrix JL gives
            # E[|Rx|^2] = out_dim * |x|^2, so normalize by out_dim
            ratios.append(red / (16 * full))
    ratios = np.array(ratios)
    assert 0.5 < float(np.median(ratios)) < 1.5
    assert float(np.mean((ratios > 0.2) & (ratios < 3.0))) > 0.9


def test_jl_neighbors_gate_parity_forced_shuffle(spark):
    emb = _emb(spark)
    pred = F.col("vec_id") % 29 == 0
    a = sorted(
        tuple(r) for r in jl_neighbors(emb, pred, k=5).collect()
    )
    forced = jl_neighbors(
        emb, pred, k=5, query_broadcast_rows=0, salt=4
    )
    plan = forced._sc._jvm.PythonSQLUtils.explainString(
        forced._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    b = sorted(tuple(r) for r in forced.collect())
    assert a and a == b


def test_jl_project_wrong_dim_raises(spark):
    bad = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="expected 64-d"):
        jl_project(bad).collect()


def test_jl_project_null_or_non_numeric_id_raises(spark):
    """An id that is NULL after the bigint cast (non-numeric text, or
    NULL) is an error naming the column, not a NULL vec_id row."""
    for vid in ("x1", None):
        bad = spark.createDataFrame(
            [(vid, [0.1] * 64)], "vec_id string, embedding array<double>"
        )
        with pytest.raises(Exception, match="non-numeric id in 'vec_id'"):
            jl_project(bad).collect()


def test_jl_project_non_finite_element_raises(spark):
    """NaN, +-inf and NULL components would floor to an arbitrary int64;
    they are an error naming the column instead."""
    for x in (float("nan"), float("inf"), float("-inf"), None):
        bad = spark.createDataFrame(
            [(1, [0.1] * 63 + [x])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(Exception, match="NULL element in 'embedding'"):
            jl_project(bad).collect()


def test_embedding_covariance_matches_numpy(spark):
    """cov_micro equals the numpy replay of the exact integer formula
    (N*S_ab - S_a*S_b) * 1e6 // (N^2 * grid^2), truncated toward
    zero like both engines' integer division."""
    emb = _emb(spark).limit(50)
    S = np.array(
        [
            np.floor(np.array(r.embedding) * JL_GRID).astype(np.int64)
            for r in emb.collect()
        ],
        dtype=object,  # python ints: the N^2*grid^2 product needs >64 bits
    )
    n = S.shape[0]
    got = {
        (r.a, r.b): (r.n, r.cov_micro)
        for r in embedding_covariance(emb).collect()
    }
    sa = S.sum(axis=0)
    denom = n * n * JL_GRID * JL_GRID
    for a in range(1, 65):
        for b in range(a, 65):
            num = (
                n * int((S[:, a - 1] * S[:, b - 1]).sum())
                - int(sa[a - 1]) * int(sa[b - 1])
            ) * 1_000_000
            # truncation toward zero (Spark div / DuckDB //)
            expect = abs(num) // denom * (1 if num >= 0 else -1)
            assert got[(a, b)] == (n, expect), (a, b)


def test_pca_components_and_projection(spark):
    """pca_components returns orthonormal axes ordered by decreasing
    explained variance, and pca_project's per-axis variance follows
    that order on the fixture."""
    emb = _emb(spark)
    cov = embedding_covariance(emb)
    comps = pca_components(cov, in_dim=64, top=4)
    m = np.array(comps)
    assert m.shape == (4, 64)
    # orthonormal within eigensolver tolerance
    assert np.allclose(m @ m.T, np.eye(4), atol=1e-8)
    pcs = np.array(
        [r.pcs for r in pca_project(emb, comps).collect()]
    )
    variances = pcs.var(axis=0)
    assert all(
        variances[i] >= variances[i + 1] - 1e-9
        for i in range(len(variances) - 1)
    )
    # the top axis explains at least as much as any raw dimension
    raw = np.array([r.embedding for r in emb.collect()])
    assert variances[0] >= raw.var(axis=0).max() - 1e-6


def test_jl_rerank_exactness_and_measured_recall(spark):
    """The honest jl_rerank contract (see the operator docstring):
    the RERANK is exact — every returned cos_sim is the true cosine
    and the order within the candidate set is the true cosine order —
    while candidate recall on this fixture's NEAR-TIE neighbors is
    measured, not promised (JL eps ~ sqrt(ln n / 16) exceeds the
    5th-vs-20th cosine gap here; the IVF tier is the fine-ranking
    path). The floor pins the measured 0.20 so a silent projection
    regression (e.g. losing the normalization, which halves it) still
    fails."""
    from konohadataplatform_spark.operators.projection import (
        jl_rerank_topk,
    )
    from konohadataplatform_spark.operators.similarity import cosine_topk

    emb = _emb(spark)
    pred = F.col("vec_id") % 29 == 0
    exact = {}
    for r in cosine_topk(emb, emb.filter(pred), k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in jl_rerank_topk(emb, pred, k=5, k_cand=20).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(got) == set(exact)
    hits = sum(len(got[q] & exact[q]) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    assert hits / total >= 0.15, f"recall {hits}/{total}"
    # the exactness half: every returned cos_sim is a true cosine
    one = next(iter(got))
    full = {
        r.neighbor_id: r.cos_sim
        for r in cosine_topk(
            emb, emb.filter(F.col("vec_id") == one), k=500
        ).collect()
    }
    for r in jl_rerank_topk(
        emb, F.col("vec_id") == one, k=5, k_cand=20
    ).collect():
        assert abs(r.cos_sim - full[r.neighbor_id]) < 1e-12


def test_jl_projection_separates_near_duplicates(spark):
    """The task JL IS for: threshold separation. Planted near-
    duplicates (tiny deterministic perturbation) vs unrelated vectors
    differ by orders of magnitude in FULL-space distance, and the JL
    eps (~0.5 at 16 d) cannot close that margin — projected distance
    classifies every pair correctly, at 1/4 the width."""
    emb = _emb(spark).limit(20)
    rows = [(r.vec_id, list(r.embedding)) for r in emb.collect()]
    dups = [
        (vid + 1_000_000, [x + 0.001 * ((i % 3) - 1) for i, x in
                           enumerate(v)])
        for vid, v in rows
    ]
    both = spark.createDataFrame(
        rows + dups, "vec_id long, embedding array<double>"
    )
    proj = {
        r.vec_id: np.array(r.proj) for r in jl_project(both).collect()
    }
    dup_d, rand_d = [], []
    ids = sorted(vid for vid, _ in rows)
    for vid in ids:
        dup_d.append(float(np.sum(
            (proj[vid] - proj[vid + 1_000_000]) ** 2)))
        for other in ids:
            if other > vid:
                rand_d.append(float(np.sum(
                    (proj[vid] - proj[other]) ** 2)))
    # every planted pair is closer than every unrelated pair
    assert max(dup_d) < min(rand_d), (max(dup_d), min(rand_d))


def test_dimension_correlation_matches_numpy(spark):
    """corr2_micro equals the numpy replay of the exact integer
    pipeline (snapped covariance integers -> squared-ratio division
    truncated toward zero), and corr_sign matches the covariance
    sign."""
    from konohadataplatform_spark.operators.projection import (
        dimension_correlation,
    )

    emb = _emb(spark).limit(60)
    rows = dimension_correlation(emb, top=2016).collect()
    S = [
        [int(x) for x in np.floor(np.array(r.embedding) * JL_GRID)]
        for r in emb.collect()
    ]
    n = len(S)
    import itertools

    def cov_micro(a, b):
        sab = sum(r[a - 1] * r[b - 1] for r in S)
        sa = sum(r[a - 1] for r in S)
        sb = sum(r[b - 1] for r in S)
        num = (n * sab - sa * sb) * 1_000_000
        den = n * n * JL_GRID * JL_GRID
        return abs(num) // den * (1 if num >= 0 else -1)

    got = {(r.a, r.b): (r.corr_sign, r.corr2_micro) for r in rows}
    for a, b in itertools.combinations(range(1, 65), 2):
        cab, caa, cbb = cov_micro(a, b), cov_micro(a, a), cov_micro(b, b)
        if caa <= 0 or cbb <= 0:
            assert (a, b) not in got
            continue
        expect = (cab * cab * 1_000_000) // (caa * cbb)
        sign = 1 if cab > 0 else (-1 if cab < 0 else 0)
        assert got[(a, b)] == (sign, expect), (a, b)
    # ranks are 1..N contiguous by (corr2 desc, a, b)
    ranked = sorted(rows, key=lambda r: r.corr_rank)
    assert [r.corr_rank for r in ranked] == list(range(1, len(rows) + 1))
    vals = [(-r.corr2_micro, r.a, r.b) for r in ranked]
    assert vals == sorted(vals)
