"""Deduplication operators for LLM training-data pipelines (beyond-
reference surface, BASELINE.json north star).

Four tiers, all shared-nothing / shuffle-disciplined so they hold at
100 TB:

- ``exact_dedup``           — md5(text) hash-groupBy. One shuffle on the
  16-byte digest, never on the document body.
- ``jaccard_similarity_join`` — EXACT n-gram-shingle set-similarity
  self-join using prefix filtering (AllPairs/PPJoin family): for
  threshold t a pair can only match if they share one of each doc's
  |S|-ceil(t*|S|)+1 *rarest* shingles, so the inverted index only
  carries short prefixes and hot shingles never blow up the join.
  Exact results — this is the oracle-checkable scale path.
- ``minhash_lsh_candidates`` / ``minhash_dedup`` — MinHash signatures
  (64 xxhash64 permutations) banded into LSH buckets; candidates are
  verified with exact Jaccard. Sub-quadratic; the standard 100 TB
  near-dup design (probabilistic recall, so rows-only vs the oracle).
- ``simhash`` / ``simhash_candidates`` — 64-bit SimHash with banded
  Hamming lookup.

Everything is built-in column functions (xxhash64, explode, array ops)
— JVM-side, no Python UDFs anywhere.

Lineage trade-off: ``connected_components`` (every
``checkpoint_every`` rounds) and the n-gram set of
``cross_source_overlap`` are ``localCheckpoint``-ed. That truncates a plan
that would otherwise grow with every round or be tokenized once per
consumer, but the checkpointed blocks live unreplicated on the
executors that computed them and have no lineage to recompute from:
losing one of those executors before the caller is done fails the job
instead of re-running the rounds. ``cache()`` would recompute, but
keeps the whole plan (deep enough to overflow the JVM stack when
rendered after ~10 label rounds) and a CacheManager entry.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per exact text; count duplicates.

    Shuffles only (digest, id) pairs — at 100 TB the shuffle payload is
    ~24 bytes/doc regardless of document size.
    """
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def normalized_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Normalization-then-exact dedup (the CCNet / RefinedWeb pass
    that runs BEFORE fuzzy dedup): lowercase, map every digit to
    ``0``, strip everything outside ``[a-z0-9 ]``, collapse space
    runs, trim — then hash-groupBy the normalized form. Catches the
    near-copies exact dedup misses (case flips, punctuation edits,
    timestamps / view counters in boilerplate) at exact-dedup cost.

    Returns one row per normalized equivalence class:
    ``(norm_hash, kept_doc_id, n_copies, n_distinct_raw)`` —
    ``n_distinct_raw`` counts the distinct RAW texts the class
    collapsed, so ``n_distinct_raw > 1`` rows are exactly the yield
    normalization added over :func:`exact_dedup`.

    Scale shape: identical to :func:`exact_dedup` — the normalization
    is one codegen projection (three regexp_replace + lower + trim,
    zero Python), and only (16-byte digest, raw digest, id) rows reach
    the exchange; document bodies never shuffle. The regexes use only
    ASCII character classes so Java (Spark) and RE2 (DuckDB) agree
    byte-for-byte.
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col(text_col)), "[0-9]", "0"),
                "[^a-z0-9 ]",
                "",
            ),
            " +",
            " ",
        )
    )
    return (
        df.select(
            F.md5(norm.cast("binary")).alias("norm_hash"),
            F.md5(F.col(text_col).cast("binary")).alias("_raw_hash"),
            F.col(id_col),
        )
        .groupBy("norm_hash")
        .agg(
            F.min(id_col).alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("_raw_hash").alias("n_distinct_raw"),
        )
    )


def _spread(df: DataFrame) -> DataFrame:
    """Ensure CPU-heavy per-row stages use the full cluster.

    A small input (one parquet file locally; a handful of splits after
    heavy filtering on a cluster) would otherwise pin the interpreted
    higher-order-function work (shingling, minhash lambdas) to a few
    tasks. One round-robin shuffle of raw rows is cheap relative to the
    compute it parallelizes — but ONLY when the input is actually
    under-split: a 100 TB corpus already has thousands of scan splits,
    and a blanket repartition would round-robin the full corpus for
    nothing, so the shuffle is gated on the input's partition count.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def ngram_decontaminate(
    docs: DataFrame,
    eval_pred: Column,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_broadcast: bool | None = None,
    eval_broadcast_docs: int = 100_000,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with an eval split (the GPT-3/Llama 13-gram-overlap method,
    here parameterized).

    ``eval_pred`` partitions the corpus into eval (True) and training
    rows. Returns one row per *contaminated* training doc with the
    count of distinct eval n-grams it contains.

    Scale shape — COUNTED GATE (r12, the semantic_decontaminate /
    connected_components convention): the eval DOC count is measured
    first. At or below ``eval_broadcast_docs`` (a benchmark suite by
    contract — gram count is doc-count x per-doc grams, bounded by
    doc length) the distinct-gram set broadcasts and the training
    side streams map-side with NO shuffle of training grams. Above
    the bound the hint is dropped and the gram join shuffles both
    sides hash-partitioned (AQE may still broadcast if the measured
    gram relation is small — e.g. many short eval docs). Results are
    identical either way; only the exchange strategy changes. Gram
    formation is a codegen'd array expression (sequence/slice/
    array_join), exploded only after array_distinct.

    The gate probe is LIMIT-bounded (r12 ADVICE): it scans only until
    ``eval_broadcast_docs + 1`` eval docs are found, not the full
    corpus — and it still triggers one Spark job at construction;
    callers that already know the split size (or need a fully lazy
    plan) pass ``eval_broadcast`` explicitly to skip it.
    """
    from konohadataplatform_spark.operators.text import word_ngrams

    words = F.split(F.trim(F.col(text_col)), " ")
    grams = (
        _spread(docs)
        .select(F.col(id_col), eval_pred.alias("_is_eval"), words.alias("w"))
        .filter(F.size("w") >= n)
        .select(
            id_col,
            "_is_eval",
            F.explode(F.array_distinct(word_ngrams(F.col("w"), n))).alias("gram"),
        )
    )
    eval_grams = grams.filter(F.col("_is_eval")).select("gram").distinct()
    train = grams.filter(~F.col("_is_eval"))
    if eval_broadcast is None:
        from konohadataplatform_spark.operators.gating import (
            probe_within,
        )

        eval_broadcast = probe_within(
            docs.filter(eval_pred).select(id_col),
            eval_broadcast_docs,
        )
    ev_side = F.broadcast(eval_grams) if eval_broadcast else eval_grams
    return (
        train.join(ev_side, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_eval_grams"))
    )


# --------------------------------------------------------------------------
# shingling
# --------------------------------------------------------------------------
def hashed_shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingles) with distinct word n-gram shingles as 64-bit
    hashes — no n-gram strings are ever materialized.

    Each token is hashed once, then each n-gram is one xxhash64 over
    the n token hashes: versus concat_ws-then-hash this skips building
    |doc| short-lived strings per document, which dominates shingling
    cost. Distinct n-grams map to distinct hashes modulo 64-bit
    collisions (negligible below ~2^32 distinct shingles).
    """
    toks = F.split(F.trim(F.col(text_col)), " ")
    gram = f"xxhash64({', '.join(f'wh[i + {j}]' for j in range(n))})"
    return (
        df.select(F.col(id_col).alias("sid"), toks.alias("w"))
        .filter(F.size("w") >= n)
        .select("sid", F.expr("transform(w, t -> xxhash64(t))").alias("wh"))
        .select(
            "sid",
            F.expr(
                f"array_distinct(transform(sequence(0, size(wh) - {n}), "
                f"i -> {gram}))"
            ).alias("shingles"),
        )
    )


# --------------------------------------------------------------------------
# exact set-similarity join (prefix filtering)
# --------------------------------------------------------------------------
def jaccard_similarity_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n: int = 3,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via prefix-filtered inverted index.

    Plan shape (all narrow or key-partitioned):
      1. shingle sets (per-row, no shuffle), then xxhash64 each shingle
         — every downstream shuffle/join/intersect moves 8-byte longs,
         not document n-gram strings (~3-4x less shuffle payload; a
         64-bit collision between distinct shingles of one compared
         pair needs ~2^32 distinct shingles per doc, so results stay
         exact in practice)
      2. global shingle document-frequency (one agg shuffle)
      3. per-doc rarity-ordered prefix of size |S| - ceil(t*|S|) + 1
      4. inverted-index self-join on prefix shingles (shuffle on shingle;
         prefixes are short and rare by construction -> no hot keys),
         with the size-ratio filter t*max(|A|,|B|) <= min(|A|,|B|)
         pruning pairs that cannot reach the threshold
      5. exact verify: join candidate pairs back to full sets, Jaccard
         via array_intersect (JVM-side), filter >= t.
    """
    # spread BEFORE shingling: the shuffle moves raw text rows, and the
    # CPU-heavy higher-order-function shingling runs on every core —
    # spreading after would leave it on however few tasks the scan has
    sets = hashed_shingle_sets(_spread(df), text_col, id_col, n).cache()
    sets.count()  # materialize: consumed by index build and verify
    # carry each doc's set size through the explode — avoids a separate
    # sizes join later
    toks = sets.select(
        F.col("sid"),
        F.size("shingles").alias("set_size"),
        F.explode("shingles").alias("sh"),
    )

    # 2. global shingle document-frequency (one agg shuffle). No global
    # rank is materialized — rarity ordering is only ever needed *per
    # doc*, so the window below partitions by sid (never a
    # single-partition global sort).
    freq = toks.groupBy("sh").agg(F.count(F.lit(1)).alias("df_cnt"))

    # 3. per-doc prefix: the |S| - ceil(t*|S|) + 1 rarest shingles
    # (ties broken by shingle text for determinism)
    with_pos = toks.join(freq, "sh").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("sid").orderBy(F.col("df_cnt"), F.col("sh"))
        ),
    )
    # cached: the self-join below consumes the prefix index twice, and
    # recomputing it would double every upstream stage
    prefixes = (
        with_pos.filter(
            F.col("pos")
            <= F.col("set_size") - F.ceil(F.lit(threshold) * F.col("set_size")) + 1
        )
        .select("sid", "set_size", "sh")
    ).cache()
    prefixes.count()

    # 4. candidate pairs from shared prefix shingles; the size-ratio
    # bound kills impossible pairs before the (expensive) verify join
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.sid") < F.col("b.sid"))
            & (
                F.least(F.col("a.set_size"), F.col("b.set_size"))
                >= F.ceil(
                    F.lit(threshold)
                    * F.greatest(F.col("a.set_size"), F.col("b.set_size"))
                )
            ),
        )
        .select(F.col("a.sid").alias("a_id"), F.col("b.sid").alias("b_id"))
        .distinct()
    )

    # 5. exact verification
    return verify_jaccard(cands, sets, threshold)


def verify_jaccard(
    cands: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard on candidate (a_id, b_id) pairs against shingle sets."""
    sa = sets.select(F.col("sid").alias("a_id"), F.col("shingles").alias("sa"))
    sb = sets.select(F.col("sid").alias("b_id"), F.col("shingles").alias("sb"))
    inter = F.array_size(F.array_intersect("sa", "sb"))
    union = F.array_size("sa") + F.array_size("sb") - inter
    return (
        cands.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------
def minhash_signatures(
    sets: DataFrame, num_perm: int = 64
) -> DataFrame:
    """(sid, sig[num_perm]) — min over xxhash64(seed_i, shingle).

    Computed as one nested higher-order expression per row (no explode,
    no shuffle): at 100 TB the signature stage is embarrassingly
    parallel map work inside whole-stage codegen.
    """
    sig = F.expr(
        f"transform(sequence(0L, {num_perm - 1}L), "
        "i -> array_min(transform(shingles, s -> xxhash64(i, s))))"
    )
    return sets.select("sid", sig.alias("sig"))


def _cap_buckets(banded: DataFrame, max_bucket: int | None) -> DataFrame:
    """Skew guard for LSH self-joins: drop (band, bucket) groups larger
    than ``max_bucket`` before pairing (see simhash_candidates)."""
    if max_bucket is None:
        return banded
    sizes = banded.groupBy("band", "bucket").count()
    small = sizes.filter(F.col("count") <= max_bucket).select("band", "bucket")
    return banded.join(small, ["band", "bucket"], "left_semi")


def minhash_lsh_candidates(
    sigs: DataFrame,
    bands: int = 16,
    num_perm: int = 64,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature; docs sharing any band bucket are candidates.
    ``max_bucket`` excludes oversized buckets (skew guard; see
    simhash_candidates)."""
    rows_per_band = num_perm // bands
    banded = sigs.select(
        "sid",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> xxhash64(slice(sig, b * {rows_per_band} + 1, {rows_per_band})))"
            )
        ).alias("band", "bucket"),
    )
    banded = _cap_buckets(banded, max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .select(F.col("a.sid").alias("a_id"), F.col("b.sid").alias("b_id"))
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidates -> exact-Jaccard verify. Probabilistic recall
    (P[detect] = 1-(1-t^r)^b), exact precision after verification.

    Shingles are 64-bit token-window hashes (hashed_shingle_sets), so
    the permutation hashing inside minhash_signatures runs over longs
    and the verify intersections never touch n-gram strings.

    ``max_bucket`` is the 100 TB skew guard (same contract as
    ``dhash_neardup_pairs(max_bucket=)``): a hot LSH band bucket —
    empty or boilerplate docs whose signatures collide — emits
    B*(B-1)/2 candidate pairs, so ONE pathological bucket can go
    quadratic in the self-join. When set, (band, bucket) groups larger
    than ``max_bucket`` are excluded before pairing; docs in a dropped
    bucket can still pair through their other ``bands - 1`` buckets,
    so recall degrades only for docs hot in EVERY band. None (the
    default) keeps exact parity with the uncapped oracle."""
    sets = hashed_shingle_sets(_spread(df), text_col, id_col, n).cache()
    sets.count()  # materialize before the self-join consumes it twice
    sigs = minhash_signatures(sets, num_perm)
    cands = minhash_lsh_candidates(sigs, bands, num_perm, max_bucket)
    return verify_jaccard(cands, sets, threshold)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over whitespace tokens (term-frequency weighted).

    ``token_hash="md5"`` uses the top 60 bits of md5 instead of
    xxhash64 — slower per token but engine-portable (any system with
    md5 reproduces the exact fingerprint bit-for-bit; this is what the
    DuckDB oracle for ``q_simhash_clusters`` recomputes). Bits 60-63
    are then always zero, an effective 60-bit SimHash."""
    if token_hash == "md5":
        h = F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long")
    elif token_hash == "xxhash64":
        h = F.xxhash64("t")
    else:
        raise ValueError(f"unknown token_hash: {token_hash!r}")
    tok = df.select(
        F.col(id_col).alias("sid"),
        F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("t"),
    ).withColumn("h", h)
    # Per-bit ONES count + one token count instead of the r5 +1/-1
    # CaseWhen sums: sum(+-1) > 0  <=>  2*ones > n_tokens (exact
    # integers, identical fingerprint). Every generated expression is
    # an F.expr STRING parsed once in the JVM — building the same trees
    # through the Column API costs ~6-8 py4j round trips per bit, which
    # measured 1.8s of the 2.1s construct time at r14 (the bench pays
    # construction on every pass). The DuckDB oracle is untouched.
    bit_sums = [
        F.expr(f"sum(shiftright(h, {i}) & 1) AS b{i}") for i in range(bits)
    ]
    agg = tok.groupBy("sid").agg(*bit_sums, F.expr("count(1) AS n_tok"))
    fp_sql = " | ".join(
        f"if(b{i} * 2 > n_tok, shiftleft(1L, {i}), 0L)" for i in range(bits)
    )
    return agg.select("sid", F.expr(f"({fp_sql}) AS simhash"))


def simhash_candidates(
    hashes: DataFrame,
    bands: int = 4,
    bits: int = 64,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup candidates: pairs sharing any of `bands` 16-bit slices
    (guarantees recall of pairs with Hamming distance < bands).

    ``max_bucket`` is the 100 TB skew guard: a bucket of size B emits
    B^2/2 pairs, and boilerplate-heavy corpora can drop a visible
    fraction of all documents into one bucket (e.g. a shared header
    dominating one 16-bit slice) — one task then owns a quadratic
    blow-up. When set, buckets larger than ``max_bucket`` are excluded
    from the self-join (one extra count + semi-join, both metadata-
    narrow), trading bounded recall loss on degenerate keys for
    bounded work. Off by default so exact oracle parity holds."""
    width = bits // bands
    mask = (1 << width) - 1
    banded = hashes.select(
        "sid",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    banded = _cap_buckets(banded, max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .select(F.col("a.sid").alias("a_id"), F.col("b.sid").alias("b_id"))
        .distinct()
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR via bit_count (JVM built-in)."""
    return F.bit_count(a.bitwiseXOR(b))


# --------------------------------------------------------------------------
# Near-dup clustering: connected components over the pair graph
# --------------------------------------------------------------------------
def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 25,
    checkpoint_every: int = 8,
    driver_solve_max_edges: int = 200_000,
) -> DataFrame:
    """(node, component) where component = min node id reachable.

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels; converges in
    O(component diameter) rounds (near-dup clusters are near-cliques,
    so 2-3). Each round is one join + one groupBy — at 100 TB the
    edge list is pairs-sized (tiny relative to the corpus) and labels
    are (node, long) rows.

    Edge lists at or below ``driver_solve_max_edges`` (counted against
    the materialized cache) skip the loop entirely: one bounded collect
    + driver union-find, identical output. Pass ``0`` to force the
    distributed path.

    The distributed path raises ``RuntimeError`` if ``max_iter`` rounds
    exhaust with labels still changing (a chain-shaped component with
    diameter > max_iter): unconverged labels would silently split one
    component into several, so the failure is loud — raise ``max_iter``
    for path-like graphs.

    Every ``checkpoint_every`` rounds the label relation is
    localCheckpointed: each round nests another join under the plan, and
    past ~10 rounds the accumulated tree is deep enough to overflow the
    JVM stack just *rendering* it (same contract as
    :func:`~konohadataplatform_spark.operators.graph.pagerank`'s
    ``checkpoint_every``, but on by default here because high-diameter
    inputs are exactly when callers raise ``max_iter``).
    """
    if max_iter < 1:
        raise ValueError(
            f"connected_components: max_iter must be >= 1, got {max_iter}"
        )
    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).cache()
    # COUNTED gate (the cross_corpus_contamination / IVF-collect
    # contract): near-dup edge lists are usually minuscule next to the
    # corpus that produced them, and the iterative loop pays 3-5 whole
    # Spark jobs of scheduling overhead regardless of data size. At or
    # below the bound (default 200k edges ~ 3 MB of longs) the
    # components solve driver-side with union-find in ONE collect of
    # the already-materialized cache; above it — billions of pairs on
    # a crawl-scale corpus — the distributed min-label loop below runs
    # exactly as before. max_iter/convergence semantics only apply to
    # the distributed path (union-find has no iteration bound).
    n_edges = edges.count()
    if n_edges <= driver_solve_max_edges:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edges.collect():
            s, d = row["src"], row["dst"]
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[rs] = rd
        comp_min: dict = {}
        for node in parent:
            r = find(node)
            m = comp_min.get(r)
            if m is None or node < m:
                comp_min[r] = node
        out_schema = T.StructType(
            [
                T.StructField("node", edges.schema["src"].dataType),
                T.StructField("component", edges.schema["src"].dataType),
            ]
        )
        edges.unpersist()
        return pairs.sparkSession.createDataFrame(
            [(n, comp_min[find(n)]) for n in parent], out_schema
        )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .cache()
    )
    labels.count()
    for it in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            .cache()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            chk = new_labels.localCheckpoint(eager=True)
            new_labels.unpersist()
            labels = chk
    else:
        labels.unpersist()
        raise RuntimeError(
            f"connected_components: {changed} labels still changing after "
            f"max_iter={max_iter} rounds (component diameter exceeds "
            f"max_iter); raise max_iter — returning unconverged labels "
            f"would silently split components"
        )
    return labels.select(F.col("node"), F.col("label").alias("component"))


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n: int = 3,
) -> DataFrame:
    """Cluster near-duplicate documents and pick a canonical keeper.

    Exact pair discovery (prefix-filtered Jaccard join) -> connected
    components -> every clustered doc mapped to its component's min id.
    Documents with no near-dup stay their own representative.
    """
    pairs = jaccard_similarity_join(df, text_col, id_col, threshold, n)
    comp = connected_components(pairs)
    all_docs = df.select(F.col(id_col).alias("node"))
    return (
        all_docs.join(comp, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("component"), F.col("node")).alias("cluster_rep"),
        )
    )


# --------------------------------------------------------------------------
# Incremental corpus dedup: dedupe a new batch against a persisted index
# --------------------------------------------------------------------------
def _band_buckets(index: DataFrame, bands: int, num_perm: int) -> DataFrame:
    """(sid, band, bucket) rows from a (sid, shingles, sig) index."""
    rows_per_band = num_perm // bands
    return index.select(
        "sid",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> xxhash64(slice(sig, b * {rows_per_band} + 1, {rows_per_band})))"
            )
        ).alias("band", "bucket"),
    )


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
) -> DataFrame:
    """Build the persistable dedup index for a document batch:
    (sid, shingles: array<long>, sig: array<long>).

    The index is what a 100 TB ingest pipeline stores in a catalog
    table instead of re-shingling the corpus per batch: signatures
    drive LSH candidate generation, the hashed shingle sets drive
    exact verification. Both are O(tokens) longs — the raw text never
    needs to be re-read for dedup.

    One projection, ZERO joins: sig derives from the shingles column
    in the same select (a sets-vs-sigs self-join here would cost two
    sid exchanges + a sort-merge join per micro-batch for rows that
    were never apart).
    """
    sets = hashed_shingle_sets(_spread(df), text_col, id_col, n)
    sig = F.expr(
        f"transform(sequence(0L, {num_perm - 1}L), "
        "i -> array_min(transform(shingles, s -> xxhash64(i, s))))"
    )
    return sets.select("sid", "shingles", sig.alias("sig"))


def incremental_minhash_dedup(
    corpus_index: DataFrame,
    new_index: DataFrame,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Near-dup pairs involving the NEW batch: new-vs-corpus and
    new-vs-new, without touching corpus documents that collide with
    nothing.

    Candidate generation joins the new batch's band buckets against
    (corpus ∪ new) buckets — the shuffle is keyed on (band, bucket),
    and only bucket-colliding corpus rows flow into verification.

    NOTE: this one-shot form re-explodes the FULL corpus index per
    call (bands× row blow-up) and shuffles it — fine for occasional
    batch jobs over a static corpus, WRONG inside a micro-batch loop.
    A streaming pipeline must persist the exploded buckets once and
    use :func:`prebucketed_candidates` + :func:`verify_jaccard`
    instead (see streaming/ingest.py), where the corpus side is a
    scan + broadcast probe with no explode and no Exchange.

    Returns (a_id, b_id, jaccard), exact precision after verification.
    """
    all_index = corpus_index.unionByName(new_index)
    nb = _band_buckets(new_index, bands, num_perm).alias("n")
    ab = _band_buckets(all_index, bands, num_perm).alias("c")
    cands = (
        nb.join(
            ab,
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bucket") == F.col("c.bucket"))
            & (F.col("n.sid") != F.col("c.sid")),
        )
        .select(
            F.least(F.col("n.sid"), F.col("c.sid")).alias("a_id"),
            F.greatest(F.col("n.sid"), F.col("c.sid")).alias("b_id"),
        )
        .distinct()
    )
    return verify_jaccard(cands, all_index.select("sid", "shingles"), threshold)


def band_bucket_keys(
    index: DataFrame, bands: int = 16, num_perm: int = 64
) -> DataFrame:
    """(bkey, sid) rows from a (sid, shingles, sig) index — the
    PERSISTABLE exploded form of :func:`_band_buckets`.

    The band id is folded into the bucket hash (``xxhash64(band,
    band_hash)``) so downstream joins have ONE long equi-key instead of
    a compound (band, bucket) pair: a corpus-side store is then two
    longs per row — 16 bytes × bands per document, cheap enough to keep
    materialized forever — and every probe is a single-key hash join.
    Cross-band collisions need an xxhash64 collision and are washed out
    by exact-Jaccard verification anyway.
    """
    rows_per_band = num_perm // bands
    return index.select(
        "sid",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> xxhash64(b, xxhash64(slice("
                f"sig, b * {rows_per_band} + 1, {rows_per_band}))))"
            )
        ).alias("bkey"),
    )


def prebucketed_candidates(
    corpus_buckets: DataFrame,
    new_index: DataFrame,
    bands: int = 16,
    num_perm: int = 64,
    broadcast_new: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup CANDIDATE pairs for a new batch against a persisted,
    pre-exploded (bkey, sid) bucket store — the incremental-ingest
    fast path.

    Scale contract (the reason this exists): the corpus side is
    **scan + broadcast-hash probe only** — no explode (the banding was
    materialized once, at append time) and no Exchange (the batch's
    bucket keys are broadcast, so corpus rows never shuffle). Per
    micro-batch the corpus cost is one columnar scan of two long
    columns; everything downstream (pair distinct, verification) is
    sized by collisions, not by the corpus. Duplicate (bkey, sid) rows
    in the store (checkpoint-replay re-appends) are harmless: the
    ``distinct()`` collapses the duplicated pairs.

    With ``broadcast_new=True`` (the streaming default) the batch side
    rides a broadcast, which assumes micro-batches are bounded (a
    10k-doc batch × 16 bands is ~2.5 MB broadcast). For a backfill too
    large to broadcast, pass ``broadcast_new=False``: both joins
    become shuffle joins keyed on ``bkey`` — the corpus side then
    exchanges, but only its two long columns (the pre-exploded store
    still saves the bands× explode), and nothing needs to fit in one
    executor.

    ``max_bucket`` is the skew guard for HOT CORPUS BUCKETS (same
    contract as ``minhash_dedup(max_bucket=)`` / ``dhash_neardup_pairs
    (max_bucket=)``): a boilerplate bucket accreting millions of
    corpus sids would emit bucket-size pairs for EVERY colliding batch
    doc, every batch, forever. When set, bkeys whose total membership
    (batch-matched corpus rows + batch rows) exceeds ``max_bucket``
    are dropped before pairing. The size count runs on the
    COLLISION-FILTERED corpus rows (broadcast semi-probe first), so
    the corpus-side contract — one scan, no explode, no Exchange — is
    unchanged; docs dropped here can still pair through their other
    bands.

    Returns (a_id, b_id) UNVERIFIED pairs (a_id < b_id) covering both
    new-vs-corpus and new-vs-new; feed them to :func:`verify_jaccard`.
    """
    nb = band_bucket_keys(new_index, bands, num_perm)

    def _maybe_bcast(df):
        return F.broadcast(df) if broadcast_new else df

    corpus_side = corpus_buckets
    if max_bucket is not None:
        hits = corpus_buckets.join(
            _maybe_bcast(nb.select("bkey").distinct()), "bkey", "left_semi"
        )
        total = (
            hits.select("bkey")
            .unionByName(nb.select("bkey"))
            .groupBy("bkey")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        ok = total.filter(F.col("_n") <= max_bucket).select("bkey")
        # hits and ok are collision-sized, not corpus-sized
        corpus_side = hits.join(F.broadcast(ok), "bkey", "left_semi")
        nb = nb.join(F.broadcast(ok), "bkey", "left_semi")

    vs_corpus = (
        corpus_side.alias("c")
        .join(
            _maybe_bcast(nb.alias("n")),
            (F.col("c.bkey") == F.col("n.bkey"))
            & (F.col("c.sid") != F.col("n.sid")),
        )
        .select(
            F.least(F.col("c.sid"), F.col("n.sid")).alias("a_id"),
            F.greatest(F.col("c.sid"), F.col("n.sid")).alias("b_id"),
        )
    )
    vs_new = (
        nb.alias("a")
        .join(
            # both sides are the (bounded) batch — broadcasting one
            # keeps the in-batch self-join shuffle-free too
            _maybe_bcast(nb.alias("b")),
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .select(F.col("a.sid").alias("a_id"), F.col("b.sid").alias("b_id"))
    )
    return vs_corpus.unionByName(vs_new).distinct()


def exact_substring_spans(
    docs: DataFrame,
    k: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication profile (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" ExactSubstr
    shape, Spark-first): per document, the maximal character spans whose
    every ``k``-char window also occurs in ANOTHER document.

    Returns (doc_id, n_dup_spans, dup_chars, longest_span) — 0/0/0 rows
    are kept for clean documents.

    Method: char ``k``-shingles at every position, md5-hashed; corpus
    document-frequency (distinct docs per shingle); positions whose
    shingle has df >= 2 are "duplicated"; consecutive duplicated
    positions merge into islands (a run p..q covers chars p..q+k-1).
    This is the declarative equivalent of the suffix-array scan: the
    suffix array finds the same maximal repeated spans, this finds them
    with two aggregations and a per-document window.

    100 TB shape: shingle rows carry (8-byte digest, doc_id, pos) — the
    TEXT never enters an exchange (digests computed scan-side). The df
    aggregate is partial+final on the digest key; hot boilerplate
    shingles produce large df counts, not large groups of carried text.
    The island merge windows per doc_id — bounded by ONE document's
    positions, never corpus-scale (same bound class as per-doc sort
    anywhere). For the removal (not just profiling) variant, join spans
    back and substring-slice the text per doc.
    """
    from pyspark.sql.window import Window

    n = F.length(F.col(text_col))
    shingles = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("_t"),
            n.alias("_n"),
        )
        .where(F.col("_n") >= k)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    # 60-bit digest (15 hex digits of the md5 as one
                    # bigint): same narrow-shuffle / collision contract
                    # as exact_substring_rewrite(narrow_digest=True)
                    f"transform(sequence(0, _n - {int(k)}),"
                    f" p -> struct(p AS pos, "
                    f"cast(conv(substring(md5(substring(_t, p + 1, "
                    f"{int(k)})), 1, 15), 16, 10) as bigint) AS h))"
                )
            ).alias("s"),
        )
        .select("doc_id", "s.pos", "s.h")
    )
    dfreq = shingles.groupBy("h").agg(
        F.countDistinct("doc_id").alias("df")
    )
    dup = (
        shingles.join(dfreq, "h")
        .where(F.col("df") >= 2)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = dup.withColumn(
        "_isl", F.col("pos") - F.row_number().over(w)
    )
    spans = islands.groupBy("doc_id", "_isl").agg(
        F.min("pos").alias("s_start"),
        (F.max("pos") + F.lit(int(k) - 1)).alias("s_end"),
    )
    profile = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
        F.sum(F.col("s_end") - F.col("s_start") + 1)
        .cast("bigint")
        .alias("dup_chars"),
        F.max(F.col("s_end") - F.col("s_start") + 1)
        .cast("bigint")
        .alias("longest_span"),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(profile, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
            F.coalesce("longest_span", F.lit(0)).alias("longest_span"),
        )
    )


def exact_substring_rewrite(
    docs: DataFrame,
    k: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
    narrow_digest: bool = True,
) -> DataFrame:
    """Exact-substring duplicate REMOVAL (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    ExactSubstr *rewrite*, not just the profile): every character
    covered by a non-first occurrence of a duplicated ``k``-char
    window is cut out of the text; each document's surviving character
    ranges are re-joined in order. The globally-first occurrence of
    every window (lowest ``(doc_id, pos)``) is never a cut trigger —
    one copy of each duplicated substring remains in the corpus,
    within-document repeats included.

    Returns (doc_id, n_cut_spans, removed_chars, kept_text) for EVERY
    input doc; ``length(text) = removed_chars + length(kept_text)``
    (mass conservation, pytest-guarded). Docs shorter than ``k`` chars
    (and NULL text) pass through untouched.

    Composition of :func:`exact_substring_spans` (the profile) and
    :func:`chunk_dedup_rewrite` (the reassembly discipline):

    1. char ``k``-shingles (doc_id, pos, digest) at every position —
       digests computed scan-side, the TEXT never enters an exchange.
       With ``narrow_digest`` (default) the digest is the first 15 hex
       digits of the md5 conv'd to one BIGINT — the shuffle row drops
       from (long, int, 32-char string) to three numerics, cutting the
       operator's dominant exchange ~5×. The 60-bit space admits
       false collisions (a false collision cuts one <= k-char span
       that wasn't a duplicate): expected false-cut spans ~= n^2/2^61
       for n distinct shingles — at 10^12 shingles (~1 TB of text per
       digest domain) that is ~5e5 spans, ~0.00005% of characters,
       noise next to the real duplication rate. Pass
       ``narrow_digest=False`` for the full 128-bit md5 when even
       that is unacceptable;
    2. first-occurrence winner per digest by packing (doc_id, pos)
       into one int64 (``doc_id * 10^9 + pos``) and taking MIN — a
       combiner-friendly aggregate, so a boilerplate window with 10^9
       copies collapses map-side (the same skew posture as
       ``chunk_dedup_rewrite``'s packed winner);
    3. a position is CUT iff its packed key is not its digest's
       minimum (a digest seen once is trivially its own minimum, so
       unique text is never touched);
    4. cut positions merge into disjoint spans with a gap-aware
       two-window pass per doc (lag + running sum): runs closer than
       ``k`` chars would produce OVERLAPPING [pos, pos+k-1] spans, so
       a new span only starts when the gap to the previous cut
       position exceeds ``k - 1`` — guaranteeing disjoint spans with
       >= 1 surviving char between them, which makes removed_chars
       exact (the profile's islands may overlap; these cannot);
    5. each doc joins its sorted span list on unique doc_id (unskewed)
       and re-slices its own text with one higher-order ``aggregate``
       — span text itself never shuffles.

    All windows partition by doc_id — bounded by ONE document's cut
    positions, never corpus-scale. Bounds (runtime-guarded): doc ids
    must be non-negative ints < ~9.2e9 and documents < 10^9 chars for
    the packed key.
    """
    kk = int(k)
    pack = 1_000_000_000
    n = F.length(F.col(text_col))
    if narrow_digest:
        hexpr = (
            f"cast(conv(substring(md5(substring(_t, p + 1, {kk})), 1, 15),"
            f" 16, 10) as bigint)"
        )
    else:
        hexpr = f"md5(substring(_t, p + 1, {kk}))"
    shingles = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("_t"),
            n.alias("_n"),
        )
        .where(F.col("_n") >= kk)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, _n - {kk}),"
                    f" p -> struct(p AS pos, {hexpr} AS h))"
                )
            ).alias("s"),
        )
        .select(
            "doc_id",
            "s.pos",
            "s.h",
            # packed-key guard: a negative / oversized doc_id would
            # silently corrupt ANOTHER doc's output downstream, so
            # fail loudly scan-side (one comparison per row — noise
            # next to the md5)
            F.expr(
                f"if(doc_id >= 0 and doc_id < {(1 << 63) // pack}, "
                f"doc_id * {pack}L + pos, "
                f"raise_error(concat('exact_substring_rewrite: doc_id ', "
                f"cast(doc_id as string), ' outside [0, 9.2e9) packed-key bound')))"
            ).alias("pk"),
        )
    )
    firsts = shingles.groupBy("h").agg(F.min("pk").alias("fk"))
    cuts = (
        shingles.join(firsts, "h")
        .where(F.col("pk") != F.col("fk"))
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grouped = cuts.withColumn(
        "_new",
        F.when(
            F.col("pos") - F.lag("pos").over(w) > kk - 1, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_isl",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = grouped.groupBy("doc_id", "_isl").agg(
        F.min("pos").cast("int").alias("s"),
        (F.max("pos") + F.lit(kk - 1)).cast("int").alias("e"),
    )
    span_lists = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cut_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("removed_chars"),
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("_spans"),
    )
    kept = F.expr(
        f"""aggregate(
          _spans,
          struct(cast(0 as int) as cur, cast('' as string) as acc),
          (st, sp) -> struct(
            cast(sp.e + 1 as int) as cur,
            concat(st.acc, substring({text_col}, st.cur + 1, sp.s - st.cur)) as acc),
          st -> concat(st.acc,
                       substring({text_col}, st.cur + 1,
                                 length({text_col}) - st.cur)))"""
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
        .join(span_lists, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_cut_spans", F.lit(0)).alias("n_cut_spans"),
            F.coalesce("removed_chars", F.lit(0)).alias("removed_chars"),
            F.when(F.col("_spans").isNull(), F.col(text_col))
            .otherwise(kept)
            .alias("kept_text"),
        )
    )


def word_chunk_index(
    docs: DataFrame,
    chunk_words: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, w, i): one row per fixed ``chunk_words``-word chunk of
    each document, carrying the doc's word array ``w`` so callers
    slice chunk text with ``slice(w, i*cw + 1, cw)`` — the SHARED
    chunk geometry for the rewrite and the passage store (one
    definition, no drift). A NULL text yields NO chunk rows: without
    the guard, ``size(NULL)`` is -1 and ``sequence(0, -1)`` explodes
    to [0, -1], whose packed key (doc_id*1e6 - 1) would corrupt the
    PREVIOUS doc's output downstream."""
    cw = int(chunk_words)
    w = F.split(F.trim(F.col(text_col)), " ")
    return docs.select(F.col(id_col).alias("doc_id"), w.alias("w")).select(
        "doc_id",
        "w",
        F.explode(F.expr(
            f"if(w is null, array(), "
            f"sequence(0, cast((size(w) + {cw} - 1) / {cw} as int) - 1))"
        )).alias("i"),
    )


def chunk_dedup_rewrite(
    docs: DataFrame,
    chunk_words: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus REWRITE that drops every repeated word-chunk except its
    first occurrence (the C4 / "one copy survives" transform — the
    removal step that ``q_chunk_dedup``'s profile only measures).

    Documents are split into fixed ``chunk_words``-word chunks; for each
    distinct chunk text the globally-first occurrence (lowest
    ``(doc_id, chunk_index)``) is kept and every other copy is deleted;
    each document's surviving chunks are re-joined in order. A document
    whose every chunk appeared earlier elsewhere rewrites to ''.

    Returns (doc_id, n_chunks, n_kept, kept_text) for EVERY input doc.

    100 TB shape — three exchanges, text moves exactly once:
      1. (digest → min key) partial+final aggregate. The first-occurrence
         winner per digest is recovered by packing (doc_id, chunk_index)
         into one int64 (doc_id * 1_000_000 + i) and taking MIN — a
         combiner-friendly aggregate, so a boilerplate chunk with 10^9
         copies collapses map-side instead of flooding one reducer, and
         NO join back to the chunk relation is needed (the winner's
         coordinates unpack from the min itself).
      2. Winner markers (doc_id, i) — ints only — shuffle by doc_id.
      3. The docs relation joins the marker lists on its unique doc_id
         (unskewed) and re-slices surviving chunks from its own word
         array; chunk text itself never enters an exchange.
    Bound: documents must have < 10^6 chunks (32M words at the default
    width) for the packed key; raise ``chunk_words`` for longer docs.
    Doc ids must be non-negative ints < ~9.2e12 — runtime-guarded
    (``raise_error`` scan-side) because a violation would silently
    attribute chunks to the wrong document.
    NULL text is a zero-chunk doc: (doc_id, 0, 0, '').
    """
    w = F.split(F.trim(F.col(text_col)), " ")
    base = docs.select(F.col(id_col).alias("doc_id"), w.alias("w"))
    n_chunks = F.expr(
        f"if(w is null, 0, "
        f"cast((size(w) + {int(chunk_words)} - 1) / {int(chunk_words)} as int))"
    )
    chunks = word_chunk_index(docs, chunk_words, text_col, id_col).select(
        "doc_id",
        "i",
        F.md5(
            F.array_join(F.expr(f"slice(w, i * {int(chunk_words)} + 1, {int(chunk_words)})"), " ")
        ).alias("digest"),
    )
    # packed-key guard: a negative or oversized doc_id would silently
    # attribute this doc's chunks to ANOTHER doc after unpacking, so
    # fail loudly scan-side (same contract as exact_substring_rewrite)
    packed = F.expr(
        f"if(doc_id >= 0 and doc_id < {(1 << 63) // 1_000_000}, "
        f"doc_id * 1000000L + i, "
        f"raise_error(concat('chunk_dedup_rewrite: doc_id ', "
        f"cast(doc_id as string), ' outside [0, 9.2e12) packed-key bound')))"
    )
    first = chunks.groupBy("digest").agg(F.min(packed).alias("fk"))
    winners = first.select(
        F.expr("fk div 1000000").alias("doc_id"),
        (F.col("fk") % F.lit(1_000_000)).cast("int").alias("i"),
    )
    keep_by_doc = winners.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("i")).alias("keep")
    )
    return (
        base.join(keep_by_doc, "doc_id", "left")
        .select(
            "doc_id",
            n_chunks.cast("bigint").alias("n_chunks"),
            # size(NULL) is -1, not NULL — branch explicitly for docs
            # whose every chunk appeared earlier elsewhere
            F.when(F.col("keep").isNull(), F.lit(0))
            .otherwise(F.size("keep"))
            .cast("bigint")
            .alias("n_kept"),
            F.when(F.col("keep").isNull(), F.lit("")).otherwise(
                F.expr(
                    f"array_join(transform(keep, i -> "
                    f"array_join(slice(w, i * {int(chunk_words)} + 1, {int(chunk_words)}), ' ')), ' ')"
                )
            ).alias("kept_text"),
        )
    )


# --------------------------------------------------------------------------
# Cluster representative selection by QUALITY (r9): keep the best doc
# per near-dup cluster, not the lowest id
# --------------------------------------------------------------------------
def cluster_best_representative(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
    threshold: float = 0.8,
    n: int = 3,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """(cluster_rep, n_members, kept_doc_id, kept_quality): per
    near-dup cluster, the member that MAXIMIZES ``quality_col`` (ties
    to the LOWEST doc_id) — the selection production dedup pipelines
    actually run (keep the longest / highest-scoring copy, drop the
    truncated mirrors), vs :func:`dedup_clusters`' arrival-order
    min-id keeper.

    The argmax is a single packed-int64 MAX aggregate —
    ``quality * 2^32 + (2^32 - 1 - doc_id)`` — so cluster skew
    collapses map-side exactly like ``chunk_dedup_rewrite``'s winner
    key: a boilerplate cluster with 10^6 members contributes one
    partial-aggregate row per input partition, never a window or a
    per-cluster sort. Bounds (runtime-guarded scan-side, violations
    would silently crown the wrong winner): 0 <= doc_id < 2^32,
    0 <= quality < 2^31.

    ``clusters``: optional PRECOMPUTED ``(id_col, cluster_rep)``
    relation — the :func:`dedup_clusters` output shape. The normal
    composition (a pipeline that already ran near-dup clustering)
    passes it here and skips the prefix-filter Jaccard join and the
    iterative connected components entirely; the argmax is then the
    only work. Without it the convenience path clusters internally
    (one docs-sized left join — the component labels fold straight
    onto the quality projection, no intermediate keeper relation).
    """
    quality = df.select(F.col(id_col), F.col(quality_col).alias("_q"))
    if clusters is None:
        comp = connected_components(
            jaccard_similarity_join(df, text_col, id_col, threshold, n)
        )
        joined = quality.join(
            comp.withColumnRenamed("node", id_col), id_col, "left"
        ).select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias(
                "cluster_rep"
            ),
            "_q",
        )
    else:
        joined = clusters.select(F.col(id_col), "cluster_rep").join(
            quality, id_col
        )
    lim_id, lim_q = 1 << 32, 1 << 31
    packed = F.expr(
        f"if({id_col} >= 0 and {id_col} < {lim_id} "
        f"and _q >= 0 and _q < {lim_q}, "
        f"_q * {lim_id}L + ({lim_id - 1}L - {id_col}), "
        f"raise_error(concat('cluster_best_representative: (doc_id=', "
        f"cast({id_col} as string), ', quality=', cast(_q as string), "
        f"') outside packed-argmax bounds')))"
    )
    return joined.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.max(packed).alias("_p"),
    ).select(
        "cluster_rep",
        "n_members",
        (F.lit(lim_id - 1) - F.col("_p") % F.lit(lim_id))
        .cast("bigint")
        .alias("kept_doc_id"),
        F.expr(f"_p div {lim_id}").cast("bigint").alias("kept_quality"),
    )


# --------------------------------------------------------------------------
# Fuzzy cross-corpus decontamination (r9): MinHash-LSH candidates
# between the training corpus and an eval benchmark, exact-Jaccard
# verified — the GPT-3/Llama-style FUZZY eval-set scrub, vs the exact
# n-gram bloom pass in q_bloom_decontaminate
# --------------------------------------------------------------------------
BENCH_SID_OFFSET = 1 << 40


def cross_corpus_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_broadcast: bool | None = None,
    bench_broadcast_rows: int = 5_000_000,
) -> DataFrame:
    """(doc_id, bench_id, jaccard): training-corpus documents whose
    shingle overlap with some benchmark document reaches ``threshold``
    — flag (or drop) these before training so eval stays honest.

    Scale shape (corpus >> benchmark, the only realistic geometry):
    the corpus side is ONE minhash projection + a broadcast hash probe
    of the benchmark's band buckets — the corpus never shuffles for
    candidate generation, and only bucket-colliding corpus docs reach
    exact-Jaccard verification (collision-sized joins). The benchmark
    index (sids offset into a disjoint id space; corpus ids are
    runtime-guarded < 2^40) rides in broadcasts — a 100k-doc eval
    suite × 16 bands is ~25 MB. COUNTED GATE (r12, the
    probe_broadcast_rows arithmetic): the broadcast only applies while
    ``|benchmark| * bands <= bench_broadcast_rows``; a larger
    benchmark side drops the hint and the bucket join shuffles on
    bkey (identical candidates, different exchange strategy).

    Recall follows the LSH banding curve: at threshold 0.8 with
    64 perms / 16 bands a qualifying pair is missed with probability
    (1 - 0.8^4)^16 ≈ 2e-4, vanishing as similarity rises — and true
    contamination is near-verbatim. Lower thresholds need more bands
    (same knob contract as minhash_dedup).
    """
    guarded = corpus.select(
        F.expr(
            f"if({id_col} >= 0 and {id_col} < {BENCH_SID_OFFSET}, {id_col}, "
            f"raise_error(concat('cross_corpus_contamination: corpus "
            f"{id_col} ', cast({id_col} as string), "
            f"' collides with the benchmark sid space')))"
        ).alias(id_col),
        F.col(text_col).alias(text_col),
    )
    # the benchmark side gets the same guard: a negative (or >= 2^40)
    # benchmark id would offset its sid out of the disjoint bench space
    # and silently misattribute pairs / corrupt bench_id recovery
    bguarded = benchmark.select(
        F.expr(
            f"if({id_col} >= 0 and {id_col} < {BENCH_SID_OFFSET}, {id_col}, "
            f"raise_error(concat('cross_corpus_contamination: benchmark "
            f"{id_col} ', cast({id_col} as string), "
            f"' outside [0, 2^40)')))"
        ).alias(id_col),
        F.col(text_col).alias(text_col),
    )
    ci = minhash_index(guarded, text_col, id_col, n, num_perm)
    bi = minhash_index(bguarded, text_col, id_col, n, num_perm).select(
        (F.col("sid") + F.lit(BENCH_SID_OFFSET)).alias("sid"),
        "shingles",
        "sig",
    )
    cb = band_bucket_keys(ci, bands, num_perm)
    bb = band_bucket_keys(bi, bands, num_perm)
    bb_keys = bb.withColumnRenamed("sid", "_bsid")
    if bench_broadcast is None:
        from konohadataplatform_spark.operators.gating import (
            probe_within,
        )

        # rows * bands <= bound  <=>  rows <= bound div bands
        bench_broadcast = probe_within(
            benchmark, int(bench_broadcast_rows) // max(1, int(bands))
        )
    if bench_broadcast:
        bb_keys = F.broadcast(bb_keys)
    cands = (
        cb.join(bb_keys, "bkey")
        .select(F.col("sid").alias("a_id"), F.col("_bsid").alias("b_id"))
        .distinct()
    )
    sets = ci.select("sid", "shingles").unionByName(
        bi.select("sid", "shingles")
    )
    pairs = verify_jaccard(cands, sets, threshold)
    return pairs.select(
        F.col("a_id").alias("doc_id"),
        (F.col("b_id") - F.lit(BENCH_SID_OFFSET)).alias("bench_id"),
        "jaccard",
    )


# --------------------------------------------------------------------------
# cross-partition content overlap (corpus-audit matrix)
# --------------------------------------------------------------------------
def cross_source_overlap(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Pairwise shingle-overlap matrix between corpus slices — which
    sources republish which (mirror detection, the data-card "overlap
    between subsets" table in Datasheets/Dolma-style corpus reports).

    For every unordered pair of ``group_col`` values, over each side's
    DISTINCT word n-gram shingle sets:

    (source_a, source_b, shared_shingles, n_a, n_b,
     containment_micro = shared * 1e6 div min(n_a, n_b),
     jaccard_micro     = shared * 1e6 div (n_a + n_b - shared))

    Pairs sharing no shingle are absent (inner join semantics). All
    outputs are integers — exact SQL-oracle parity.

    Plan shape: docs explode to (group, shingle) and distinct ONCE
    (shuffle bounded by distinct-shingle x group mass, far below
    corpus text); per-group set sizes are a tiny aggregate; the pair
    count is a self-join on the shingle key whose fanout per shingle
    is bounded by the number of GROUPS (sources), not documents — a
    shingle shared by all g sources yields at most g*(g-1)/2 pair
    rows, so corpus growth adds rows linearly, never quadratically.
    At 100 TB swap the string shingle for hashed_shingle_sets' 64-bit
    digests (same plan, 8-byte keys); strings are kept here only for
    engine-portable oracle replay.
    """
    toks = F.split(F.trim(F.col(text_col)), " ")
    sh = F.expr(
        f"array_distinct(transform(sequence(0, size(w) - {n}), i -> "
        f"concat_ws(' ', {', '.join(f'w[i + {j}]' for j in range(n))})))"
    )
    # r15: the explode+distinct subtree feeds THREE consumers (sizes,
    # both self-join sides) — one lazy-checkpointed materialization
    # instead of three tokenizations of the corpus (the bm25/lexical
    # tf-reuse pattern, guide §2.4/§5; before-plan: 3 parquet scans)
    grams = (
        df.select(F.col(group_col).alias("grp"), toks.alias("w"))
        .filter(F.size("w") >= n)
        .select("grp", F.explode(sh).alias("gram"))
        .distinct()
    ).localCheckpoint(eager=False)
    sizes = grams.groupBy("grp").agg(F.count(F.lit(1)).alias("n_set"))
    a = grams.select(F.col("grp").alias("source_a"), "gram")
    b = grams.select(F.col("grp").alias("source_b"), "gram")
    pairs = (
        a.join(b, "gram")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
    sa = sizes.select(
        F.col("grp").alias("source_a"), F.col("n_set").alias("n_a")
    )
    sb = sizes.select(
        F.col("grp").alias("source_b"), F.col("n_set").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("shared_shingles").cast("bigint").alias(
                "shared_shingles"
            ),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr(
                "shared_shingles * 1000000 DIV least(n_a, n_b)"
            ).cast("bigint").alias("containment_micro"),
            F.expr(
                "shared_shingles * 1000000 DIV (n_a + n_b - shared_shingles)"
            ).cast("bigint").alias("jaccard_micro"),
        )
    )
