"""Dimensionality reduction for embedding columns (round 13):
hash-sign Johnson-Lindenstrauss projection and exact integer
covariance — the "shrink the vectors BEFORE the expensive ANN /
dedup pass" stage of a 100 TB embedding pipeline.

Why JL with a *sign* matrix: Achlioptas 2001 showed random +-1
entries satisfy the JL lemma like Gaussians do, and a +-1 matrix
multiply over grid-snapped integer components is EXACT int64
arithmetic — so the projection (and everything ranked on it) is
bit-reproducible in any engine, the same portability contract as the
IVF/PQ tier. The matrix itself is pseudo-random from a fixed seed:
entries derive from md5 over (seed, row, col) and are inlined as
plan-time LITERALS, so at runtime the projection is a pure fold —
no hash calls per row, no stored model state to ship.

Scale shape: projection is one narrow map (no exchange); the
projected relation is out_dim/in_dim the size of the input — the
point of the operator: brute-force or LSH candidate generation in
16-d costs 1/4 of 64-d, and the reduced vectors fit broadcast budgets
4x longer. ``jl_neighbors`` reuses the r12/r13 gate conventions
(counted query side, salted-equi fallback — never CartesianProduct).

Exactness bounds (int64): |proj[j]| <= in_dim * grid * vmax, and
jl_neighbors' dist2 needs out_dim * (2 * in_dim * grid * vmax)^2
< 2^63 — with the defaults (64-d in, 16-d out, grid 1e6) that is
|v| <= ~5.9 (unit-normalized embeddings sit far inside it; for
unnormalized feature vectors shrink ``grid`` a decade per 10x
magnitude). The docstrings carry the formula; component snapping
floors on the 1e-6 grid (floor(v * 1e6) — IEEE-exact in every
engine).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

JL_GRID = 1_000_000


def jl_sign_matrix(
    out_dim: int, in_dim: int, seed: str = "jl"
) -> list[list[int]]:
    """The deterministic +-1 projection matrix: entry (j, i) is +1
    when the first hex digit of md5("{seed}:{j}:{i}") is even, else
    -1 — stdlib-reproducible anywhere, so the Spark expression and
    any SQL oracle inline IDENTICAL literals."""
    return [
        [
            1
            if int(
                hashlib.md5(
                    f"{seed}:{j}:{i}".encode()
                ).hexdigest()[0],
                16,
            ) % 2 == 0
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(
    emb: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = JL_GRID,
    seed: str = "jl",
) -> DataFrame:
    """(vec_id, proj): the hash-sign JL projection of each embedding —
    proj[j] = sum_i signs[j][i] * floor(v[i] * grid), exact int64.

    ``in_dim`` is part of the matrix definition, so a vector of any
    other length is a contract violation — loud error, never a silent
    truncation; so are a NULL or non-numeric id (NULL after the bigint
    cast) and a NaN, inf or NULL vector element. Overflow bound:
    |proj[j]| <= in_dim * grid * max|v| must stay under 2^63 (defaults
    allow |v| up to ~1.4e11 for the projection ALONE — downstream
    squared distances bind far tighter, see :func:`jl_neighbors`).
    One narrow projection, no exchange.

    r15: the projection runs as a per-task Arrow kernel (numpy int64
    matmul against the sign matrix — the embedding_covariance Gram
    pattern, guide §4.2) instead of a plan-time expression of
    out_dim x in_dim unrolled ``element_at`` terms. The unrolled
    spelling made every consumer carry a ~1000-node Catalyst tree:
    each jl_neighbors/jl_rerank pass re-analyzed, re-optimized and
    re-codegen'd it 3-4x (candidate side, query side, gate probe,
    broadcast build) — measured 2.3-2.4 s/pass at sf0.1 of pure
    driver/codegen overhead on a 2000-row input. Bit-exactness is
    free here: floor(x * grid) is the same IEEE double op, and the
    signed SUM is int64 — order-independent, so the numpy matmul
    equals the left-assoc column fold exactly (pca_project, whose
    fold is FLOAT, keeps its pinned-order unrolled spelling)."""
    d_in, d_out, g = int(in_dim), int(out_dim), int(grid)
    m = jl_sign_matrix(d_out, d_in, seed)

    def _kernel(batches):
        import numpy as np
        import pyarrow as pa

        sm = np.array(m, dtype=np.int64).T  # (in_dim, out_dim)
        for batch in batches:
            ids = batch.column(0)
            col = batch.column(1)
            if len(col) == 0:
                continue
            ln = col.value_lengths().to_numpy(zero_copy_only=False)
            if col.null_count or not np.all(ln == d_in):
                bad = (
                    "NULL"
                    if col.null_count
                    else str(int(ln[ln != d_in][0]))
                )
                raise ValueError(
                    f"jl_project: expected {d_in}-d embedding, got {bad}"
                )
            if ids.null_count:
                raise ValueError(
                    f"jl_project: NULL or non-numeric id in {id_col!r}"
                )
            v = col.flatten().to_numpy(zero_copy_only=False).reshape(
                -1, d_in
            )
            if not np.isfinite(v).all():
                # NULL elements arrive as NaN; floor(NaN/inf).astype
                # would be an arbitrary int64, not an error
                raise ValueError(
                    f"jl_project: NaN, inf or NULL element in {vec_col!r}"
                )
            # same IEEE op order as the SQL spelling: x * grid in
            # double, floor, then int64 — exact parity per component
            s = np.floor(v * g).astype(np.int64)
            proj = s @ sm  # exact int64, order-independent sum
            flat = pa.array(proj.reshape(-1), type=pa.int64())
            offsets = pa.array(
                np.arange(0, (proj.shape[0] + 1) * d_out, d_out),
                type=pa.int32(),
            )
            yield pa.RecordBatch.from_arrays(
                [ids, pa.ListArray.from_arrays(offsets, flat)],
                ["vec_id", "proj"],
            )

    return emb.select(
        # pinned to bigint so the Arrow batch always matches the
        # declared schema (ids are bigint at every call site)
        F.col(id_col).cast("bigint").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).mapInArrow(_kernel, "vec_id long, proj array<bigint>")


def jl_neighbors(
    emb: DataFrame,
    query_pred,
    k: int = 5,
    out_dim: int = 16,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = JL_GRID,
    seed: str = "jl",
    query_broadcast: bool | None = None,
    query_broadcast_rows: int = 500_000,
    salt: int = 32,
) -> DataFrame:
    """Top-k nearest neighbors per query in JL space —
    (query_id, neighbor_id, jl_dist2, jl_rank) by squared L2 distance
    over the projected int vectors (exact int64; ties ascending
    neighbor_id). The candidate-generation half of a
    project-then-rerank pipeline: JL preserves distances within
    (1 +- eps), so the true top-k survives in the projected top-k' at
    modest k'/k, and the fine rerank touches only k' full vectors per
    query.

    Gate convention (r12/r13): the projected query side is counted
    (LIMIT-probed); at or below ``query_broadcast_rows`` it broadcasts
    into the pair scan, above it the salted-equi spelling keys the
    corpus by pmod(xxhash64(id), salt) — shuffled hash join, no
    CartesianProduct, identical rows. Overflow: dist2 needs
    out_dim * (2 * in_dim * grid * vmax)^2 < 2^63 — the defaults hold
    for |v| <= ~5.9 (a single squared diff wraps silently in non-ANSI
    Spark past that while an oracle errors; unit-normalized
    embeddings sit far inside the bound — shrink ``grid`` for
    unnormalized magnitudes).
    """
    from konohadataplatform_spark.operators.dedup import _spread
    from konohadataplatform_spark.operators.similarity import (
        _salted_all_pairs,
    )

    proj = jl_project(emb, out_dim, in_dim, id_col, vec_col, grid, seed)
    ids = emb.select(
        F.col(id_col).alias("vec_id"), query_pred.alias("_is_q")
    )
    proj = proj.join(ids, "vec_id")
    # _spread the corpus side: a small parquet arrives as ONE input
    # split and the broadcast pair scan would run single-task
    # (measured 6.5 s at sf0.1 in 1 task vs sub-second spread over 32)
    c = _spread(
        proj.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("proj").alias("cp"),
        )
    )
    q = proj.where(F.col("_is_q")).select(
        F.col("vec_id").alias("query_id"), F.col("proj").alias("qp")
    )
    if query_broadcast is None:
        from konohadataplatform_spark.operators.gating import (
            probe_within,
        )

        query_broadcast = probe_within(q, query_broadcast_rows)
    pair_cond = F.col("neighbor_id") != F.col("query_id")
    if query_broadcast:
        cand = c.join(F.broadcast(q), pair_cond)
    else:
        cand = _salted_all_pairs(c, q, "neighbor_id", salt).filter(
            pair_cond
        )
    # unrolled 16-term sum, not an aggregate(zip_with(...)) fold: the
    # fold allocates a 16-element array per PAIR and runs interpreted
    # (measured 6.5 s at sf0.1); the unrolled spelling is straight-
    # line codegen arithmetic over the two array columns
    dist2 = F.expr(
        " + ".join(
            f"(element_at(qp, {j}) - element_at(cp, {j})) * "
            f"(element_at(qp, {j}) - element_at(cp, {j}))"
            for j in range(1, int(out_dim) + 1)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("jl_dist2").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select("query_id", "neighbor_id", dist2.alias("jl_dist2"))
        .select(
            "query_id", "neighbor_id", "jl_dist2",
            F.row_number().over(w).alias("jl_rank"),
        )
        .where(F.col("jl_rank") <= int(k))
    )


def embedding_covariance(
    emb: DataFrame,
    in_dim: int = 64,
    vec_col: str = "embedding",
    grid: int = JL_GRID,
    scale: int = 1_000_000,
) -> DataFrame:
    """(a, b, n, cov_micro): the exact integer covariance of every
    dimension pair a <= b (1-based), over grid-snapped components —
    the statistics input of whitening / PCA / feature-decorrelation
    passes.

    Division-free accumulation: with s = floor(v * grid),

        cov_micro(a, b) = (N * S_ab - S_a * S_b) * scale
                          div (N * N * grid * grid)

    where S_a = sum(s_a) and S_ab = sum(s_a * s_b) are exact int64
    sums (bounds: N * grid^2 * vmax^2 < 2^63 — defaults allow ~9e6
    unit vectors; shrink ``grid`` a decade per 100x corpus growth),
    and the final cross-multiplication rides decimal(38,0) — the
    importance_weights convention — so nothing wraps. cov_micro is
    the population covariance scaled by 1e6, TRUNCATED TOWARD ZERO
    (Spark div == DuckDB // on negatives, verified) — identical in
    any engine.

    Scale shape: ONE corpus scan through a per-task Arrow Gram-matrix
    kernel (guide §4.2 — batch the heavy per-row arithmetic into
    native code): each task folds its rows into a d x d int64 Gram
    matrix ``S^T S`` plus the d linear sums with numpy (exact int64,
    identical to the per-row products), then emits in_dim +
    in_dim*(in_dim+1)/2 PARTIAL rows — so the aggregate shuffles
    ~2k rows per task instead of ~2k rows per CORPUS row (the r13
    struct-explode spelling paid the O(d^2) expansion per row in
    interpreted expression work: measured 2.7 s at sf0.1 vs ~0.4 s
    for this kernel). b = 0 rows carry the linear sums S_a, b >= a
    rows the pairwise sums S_ab; ``c`` is the task's row count so
    N rides the same relation.
    """
    d, g = int(in_dim), int(grid)

    def _gram_kernel(batches):
        import numpy as np
        import pyarrow as pa

        gram = np.zeros((d, d), dtype=np.int64)
        lin = np.zeros(d, dtype=np.int64)
        n = 0
        for batch in batches:
            col = batch.column(0)
            if len(col) == 0:
                continue
            ln = col.value_lengths().to_numpy(zero_copy_only=False)
            if col.null_count or not np.all(ln == d):
                bad = (
                    "NULL"
                    if col.null_count
                    else str(int(ln[ln != d][0]))
                )
                raise ValueError(
                    f"embedding_covariance: expected {d}-d embedding, "
                    f"got {bad}"
                )
            m = col.flatten().to_numpy(zero_copy_only=False).reshape(-1, d)
            # same IEEE op order as the SQL spelling: x * grid in
            # double, floor, then int64 — exact parity per component
            s = np.floor(m * g).astype(np.int64)
            gram += s.T @ s
            lin += s.sum(axis=0)
            n += s.shape[0]
        if n == 0:
            return
        iu = np.triu_indices(d)
        a_arr = np.concatenate(
            [np.arange(1, d + 1), iu[0] + 1]
        ).astype(np.int32)
        b_arr = np.concatenate(
            [np.zeros(d, dtype=np.int64), iu[1] + 1]
        ).astype(np.int32)
        p_arr = np.concatenate([lin, gram[iu]])
        c_arr = np.full(a_arr.shape[0], n, dtype=np.int64)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(a_arr, type=pa.int32()),
                pa.array(b_arr, type=pa.int32()),
                pa.array(p_arr, type=pa.int64()),
                pa.array(c_arr, type=pa.int64()),
            ],
            ["a", "b", "p", "c"],
        )

    part = emb.select(
        F.col(vec_col).cast("array<double>").alias("_v")
    ).mapInArrow(_gram_kernel, "a int, b int, p long, c long")
    agg = part.groupBy("a", "b").agg(
        F.sum("p").alias("s"), F.sum("c").alias("cnt")
    )
    s_ab = agg.where(F.col("b") > 0).select(
        "a", "b", F.col("s").alias("sab")
    )
    s_a = agg.where(F.col("b") == 0).select(
        "a", F.col("s").alias("suma"), F.col("cnt").alias("n")
    )
    dec = "decimal(38,0)"
    denom = f"cast(n as {dec}) * n * {int(grid)} * {int(grid)}"
    return (
        s_ab.join(s_a.select("a", "suma", "n"), "a")
        .join(
            s_a.select(
                F.col("a").alias("b"), F.col("suma").alias("sumb")
            ),
            "b",
        )
        .select(
            "a",
            "b",
            F.col("n").cast("bigint").alias("n"),
            F.expr(
                f"cast((cast(n as {dec}) * sab - cast(suma as {dec}) "
                f"* sumb) * {int(scale)} div ({denom}) as bigint)"
            ).alias("cov_micro"),
        )
    )


def pca_components(
    cov: DataFrame, in_dim: int = 64, top: int = 8,
    scale: int = 1_000_000,
) -> list[list[float]]:
    """The top principal axes from an :func:`embedding_covariance`
    relation: collects the dim x dim matrix (METADATA-sized — 64-d is
    2080 rows; bounded by the model dimension, never the corpus) and
    runs a driver-side symmetric eigendecomposition. Returns ``top``
    eigenvectors, largest eigenvalue first, each sign-normalized so
    the largest-magnitude component is positive (eigenvectors are
    sign-ambiguous; normalizing makes the result deterministic).

    The cross-engine exactness contract covers the COVARIANCE (the
    registered oracle); the eigensolve itself is float LAPACK — it is
    a driver-side model-fitting step like the IVF centroids, consumed
    by :func:`pca_project`, and pinned by property tests rather than
    a SQL oracle."""
    import numpy as np

    m = np.zeros((in_dim, in_dim))
    for r in cov.collect():  # bounded: in_dim * (in_dim + 1) / 2 rows
        m[r.a - 1, r.b - 1] = m[r.b - 1, r.a - 1] = (
            r.cov_micro / scale
        )
    vals, vecs = np.linalg.eigh(m)
    order = np.argsort(vals)[::-1][: int(top)]
    out = []
    for idx in order:
        v = vecs[:, idx]
        if abs(v.min()) > abs(v.max()):
            v = -v
        out.append([float(x) for x in v])
    return out


def pca_project(
    emb: DataFrame,
    components: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = JL_GRID,
) -> DataFrame:
    """(vec_id, pcs): project each embedding onto the given principal
    axes — pcs[k] = sum_i comp[k][i] * (floor(v[i]*grid)/grid), with
    the same loud dimension guard as its siblings (a wrong-length
    vector would otherwise silently truncate the fold or
    null-poison pcs), and the
    snapped-component dot product in a FIXED fold order, so the float
    result is reproducible run-to-run (float exactness across engines
    is not claimed here; the integer tiers above are the oracle-exact
    path). One narrow projection, no exchange."""
    in_dim = len(components[0])
    s = (
        f"transform(cast({vec_col} as array<double>), "
        f"x -> floor(x * {int(grid)}) / {int(grid)})"
    )
    guarded = (
        f"if(size({vec_col}) = {int(in_dim)}, {s}, "
        f"raise_error(concat('pca_project: expected {int(in_dim)}-d "
        f"embedding, got ', cast(size({vec_col}) as string))))"
    )
    # each component dot is UNROLLED into straight-line left-assoc
    # column arithmetic (as jl_project was before its Arrow kernel):
    # indexing an inlined k x in_dim literal inside an aggregate lambda
    # would re-build the literal per element evaluation (~10x
    # interpreted-HOF overhead).
    # The op sequence (0.0 + c1*s1) + c2*s2 + ... is identical to the
    # old sequential fold, so floats are reproducible run-to-run.
    dots = ", ".join(
        "cast(0.0 as double) + "
        + " + ".join(
            f"{float(x)!r} * element_at(_s, {i + 1})"
            for i, x in enumerate(row)
        )
        for row in components
    )
    return emb.select(
        F.col(id_col).alias("vec_id"), F.expr(guarded).alias("_s")
    ).select(
        "vec_id",
        F.expr(f"array({dots})").alias("pcs"),
    )


def jl_rerank_topk(
    emb: DataFrame,
    query_pred,
    k: int = 5,
    k_cand: int = 20,
    out_dim: int = 16,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = JL_GRID,
    seed: str = "jl",
    query_broadcast: bool | None = None,
    query_broadcast_rows: int = 500_000,
    salt: int = 32,
) -> DataFrame:
    """Project-then-rerank ANN: JL candidates (:func:`jl_neighbors`,
    top ``k_cand`` by projected L2) reranked by EXACT cosine over the
    full vectors — (query_id, neighbor_id, cos_sim, rerank_rank <= k).

    The two-stage shape every reduced-dimension index runs: the cheap
    16-d scan bounds the candidate set, so the expensive 64-d cosine
    touches only |queries| x k_cand pairs — corpus-size-independent
    rerank cost. The full-vector joins key on the candidate ids
    (equi-joins, AQE-sized); the candidate stage carries the counted
    gate / salted fallback through unchanged. Cosine mirrors
    :func:`~konohadataplatform_spark.operators.similarity.cosine_topk`
    op-for-op (sequential fold, dot / (qn * cn)) so an oracle replays
    the floats bit-for-bit.

    The candidate stage projects L2-NORMALIZED vectors: on the unit
    sphere |a - b|^2 = 2 - 2*cos(a, b), so projected-L2 nearest IS
    cosine nearest up to JL distortion (projecting raw vectors would
    rank by magnitude-skewed distance). The normalization
    x / sqrt(dot(v, v)) is a fixed IEEE op order both engines replay;
    the grid snap happens after, inside jl_project.

    HONEST QUALITY CONTRACT: JL distortion is eps ~ sqrt(ln n /
    out_dim) — recall of the true top-k survives only when the
    cosine GAP between the k-th and (k_cand)-th neighbor exceeds
    eps. On near-tie data (tight clusters, the fixture's shape)
    candidate recall degrades: measured recall@5 on the fixture is
    0.20 at (16 d, 20 cand) rising to 0.71 at (48 d, 50 cand) — the
    gaps there are noise-level, the worst case for any
    distance-preserving sketch. Use THIS operator as a cheap
    prefilter for threshold tasks (near-duplicate detection, where
    margins are large) or with generous k_cand; for fine ranking of
    near-ties the IVF/PQ tier is the scale path. What IS exact here
    regardless: the rerank — every returned cos_sim is the true
    cosine, and the top-k WITHIN the candidate set is exact."""
    from konohadataplatform_spark.operators.similarity import _dot

    # withColumn (not select): query_pred may reference any other
    # emb column (label, source, ...) — dropping them would narrow
    # the predicate contract vs jl_neighbors (r13 review fix). The
    # zero-norm guard is LOUD: x / 0 would project NaN -> snap to 0
    # silently in Spark (ANSI off) while an oracle errors on the
    # NaN cast — the raise_error convention instead.
    dot_sql = (
        f"aggregate(zip_with(cast({vec_col} as array<double>), "
        f"cast({vec_col} as array<double>), (a, b) -> a * b), "
        "cast(0.0 as double), (acc, x2) -> acc + x2)"
    )
    # the norm is computed ONCE per row in a preceding projection —
    # referencing the aggregate inside the transform lambda would
    # re-evaluate the full in_dim-term fold per ELEMENT (O(d^2)
    # interpreted work per row, the same hazard as the inlined literal
    # above). x / sqrt(nrm2) is the same IEEE op sequence either
    # way, so oracle floats are unchanged. The temp name is uniquified
    # so a caller column is never silently clobbered + dropped.
    nrm2 = "_nrm2"
    while nrm2 in emb.columns:
        nrm2 += "_"
    unit = (
        emb.withColumn(nrm2, F.expr(dot_sql))
        .withColumn(
            vec_col,
            F.expr(
                f"if(`{nrm2}` > 0, "
                f"transform(cast({vec_col} as array<double>), "
                f"x -> x / sqrt(`{nrm2}`)), "
                "raise_error('jl_rerank_topk: zero-norm vector — cosine "
                "is undefined; filter zero vectors upstream'))"
            ),
        )
        .drop(nrm2)
    )
    cands = jl_neighbors(
        unit, query_pred, k_cand, out_dim, in_dim, id_col, vec_col,
        grid, seed, query_broadcast, query_broadcast_rows, salt,
    ).select("query_id", "neighbor_id")
    vec = F.col(vec_col).cast("array<double>")
    sides = emb.select(
        F.col(id_col).alias("_vid"),
        vec.alias("_v"),
        F.sqrt(_dot(vec, vec)).alias("_n"),
    )
    scored = (
        cands.join(
            sides.select(
                F.col("_vid").alias("query_id"),
                F.col("_v").alias("qv"),
                F.col("_n").alias("qn"),
            ),
            "query_id",
        )
        .join(
            sides.select(
                F.col("_vid").alias("neighbor_id"),
                F.col("_v").alias("cv"),
                F.col("_n").alias("cn"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv"))
             / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.select(
        "query_id", "neighbor_id", "cos_sim",
        F.row_number().over(w).alias("rerank_rank"),
    ).where(F.col("rerank_rank") <= int(k))


def dimension_correlation(
    emb: DataFrame,
    in_dim: int = 64,
    vec_col: str = "embedding",
    grid: int = JL_GRID,
    scale: int = 1_000_000,
    top: int = 20,
) -> DataFrame:
    """(a, b, corr_sign, corr2_micro, corr_rank): the ``top`` most
    correlated dimension pairs a < b, by exact integer SQUARED
    Pearson correlation over the covariance relation —

        corr2_micro = (cov_ab^2 * scale) div (cov_aa * cov_bb)

    with the sign reported separately (sign(cov_ab) — the square
    keeps the statistic division-free and engine-exact; sqrt would
    not be). The feature-redundancy audit a pipeline runs before
    paying for all 64 embedding dimensions downstream: a pair at
    corr2 ~ scale is carrying one dimension twice.

    Zero-variance dimensions (cov_aa = 0, a constant column) are
    excluded — correlation is undefined there, and both engines
    apply the same filter rather than dividing by zero. Products
    ride decimal(38,0) (cov_micro can reach var * scale for
    unnormalized data). Ties break on (a, b) ascending.

    Scale shape: rides :func:`embedding_covariance`'s one corpus
    scan; everything after is the metadata-sized dim^2 relation —
    two self-joins and a top-k over <= in_dim*(in_dim-1)/2 rows.
    """
    cov = embedding_covariance(emb, in_dim, vec_col, grid, scale)
    off = cov.where(F.col("a") < F.col("b")).select(
        "a", "b", F.col("cov_micro").alias("cab")
    )
    diag = cov.where(F.col("a") == F.col("b")).select(
        F.col("a").alias("d"), F.col("cov_micro").alias("cdd")
    )
    dec = "decimal(38,0)"
    scored = (
        off.join(diag.select(F.col("d").alias("a"),
                             F.col("cdd").alias("caa")), "a")
        .join(diag.select(F.col("d").alias("b"),
                          F.col("cdd").alias("cbb")), "b")
        .where((F.col("caa") > 0) & (F.col("cbb") > 0))
        .select(
            "a",
            "b",
            F.signum("cab").cast("int").alias("corr_sign"),
            F.expr(
                f"cast(cast(cab as {dec}) * cab * {int(scale)} "
                f"div (cast(caa as {dec}) * cbb) as bigint)"
            ).alias("corr2_micro"),
        )
    )
    w = Window.orderBy(
        F.col("corr2_micro").desc(), F.col("a").asc(), F.col("b").asc()
    )
    # metadata-sized relation: the single-partition rank window is
    # over <= dim^2/2 rows, never corpus data
    return scored.select(
        "a", "b", "corr_sign", "corr2_micro",
        F.row_number().over(w).cast("int").alias("corr_rank"),
    ).where(F.col("corr_rank") <= int(top))
