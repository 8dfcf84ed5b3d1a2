"""Lexical retrieval: inverted index build + integer-exact TF-IDF
top-k search (beyond-reference surface).

The embedding side of similarity search lives in
``operators/similarity.py`` (brute-force / LSH / IVF); THIS module is
the sparse/lexical side a training-data pipeline pairs with it:
near-duplicate *query* lookup, contamination probes phrased as search,
"find the corpus docs most similar to this eval prompt".

Engine-portability is engineered the same way as the rest of the repo:
scores are EXACT INTEGERS — ``idf_scaled = (N * SCALE) // df`` (integer
division) and ``score = sum(qtf * tf * idf_scaled)`` — so top-k ranking
with a (score DESC, doc_id ASC) tie-break is bit-for-bit reproducible
in any engine, with no float summation order to control.

Scale shapes (the 100 TB contract):

- The index build is one (doc, term) partial-agg + a TWO-PHASE
  posting cap (local top-k per input partition keyed on
  spark_partition_id, then a merge of capped lists) — no per-term
  window anywhere, so a stop-word term never lands in one task,
  never sorts its full posting list, and never materializes an
  unbounded array.
- Search joins QUERY terms (small side, broadcast) against the corpus
  postings; hot terms are pruned by ``df_cap_frac`` (stop-word cap,
  reproduced in the oracle so the result stays bit-exact) so the term
  join cannot skew. Per-query candidate sets are bounded by the docs
  sharing a rare term; for adversarial per-query fan-out compose with
  the salted ranking helpers in ``operators/ranking.py``.
- The tf relation (and bm25's dl) is a lazy ``localCheckpoint``: it
  materializes once inside the first consuming job, and its blocks
  free with the DataFrame. The trade-off is lineage: the blocks live
  unreplicated on the executors that computed them and cannot be
  recomputed, so losing one of those executors (a crash, a
  decommissioned node, dynamic allocation scaling it away) before the
  query finishes fails the query instead of re-running the
  tokenization. A ``cache()`` would recompute, at the cost of a fill
  job and a CacheManager entry that outlives the call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SCALE = 1_000_000


def gram_array_sql(arr: str, n: int) -> str:
    """SQL fragment: the array of space-joined word ``n``-grams of the
    word-array column ``arr`` (empty array for NULL/short inputs).
    THE single definition of gram construction — ngram_tokens and the
    classifier's per-row scorer both expand it, so the bit-for-bit
    margin-parity contract between the exploded and per-row paths
    can't drift."""
    if n < 1:
        raise ValueError("n must be >= 1")
    parts = ", ' ', ".join(f"{arr}[i + {j}]" for j in range(n))
    return (
        f"if({arr} is null or size({arr}) < {n}, array(), "
        f"transform(sequence(0, size({arr}) - {n}), i -> concat({parts})))"
    )


def ngram_tokens(docs: DataFrame, n: int = 1, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(doc_id, term) rows: whitespace word n-grams of the trimmed
    text (n=1 -> plain words). JVM-side transform/sequence — no UDF."""
    if n < 1:
        raise ValueError("n must be >= 1")
    docs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), " ").alias("_w"),
    ).where(F.size("_w") >= n)  # early prune; the expr guards again
    return docs.select(
        "doc_id", F.explode(F.expr(gram_array_sql("_w", n))).alias("term")
    )


def term_frequencies(tokens: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — base relation for index and search; one
    partial+final agg over (doc, term)."""
    return tokens.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )


def inverted_index(tokens: DataFrame, max_postings: int = 8) -> DataFrame:
    """(term, doc_freq, postings): doc_freq counts ALL docs containing
    the term; postings = the first ``max_postings`` doc_ids ascending.

    NO per-term window anywhere: a ``Window.partitionBy("term")``
    would shuffle every occurrence of the hottest term into ONE task
    (a stop word with 10^9 postings = a straggler sort + spill at
    100 TB). Instead the cap is two-phase:

    1. local: groupBy (spark_partition_id, term) — keys are uniform
       by construction, so no task ever sees more than one input
       partition's share of a hot term — keeping the partition's
       smallest ``max_postings`` doc_ids and its local count;
    2. merge: groupBy term over the CAPPED locals — at most
       ``max_postings`` doc_ids per (partition, term), so the hot
       term's final group holds <= max_postings * P candidate ids
       (bounded metadata, not the posting list) — slicing the merged
       sorted union back to ``max_postings`` and summing the counts.

    Each local top-``max_postings`` contains its partition's smallest
    ids, so the smallest ``max_postings`` of the union equals the
    global smallest ``max_postings``: the result is independent of
    partitioning. doc_freq rides the same aggregation tree as a
    partial+final count — one skew-free shuffle of raw rows, one
    shuffle of capped lists, zero windows."""
    per_doc = tokens.select("doc_id", "term").distinct()
    local = per_doc.groupBy(
        F.spark_partition_id().alias("_pid"), "term"
    ).agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.slice(
            F.sort_array(F.collect_list("doc_id")), 1, max_postings
        ).alias("_loc"),
    )
    return local.groupBy("term").agg(
        F.sum("_cnt").alias("doc_freq"),
        F.slice(
            F.sort_array(F.flatten(F.collect_list("_loc"))),
            1, max_postings,
        ).alias("postings"),
    ).select("term", "doc_freq", "postings")


def query_terms(
    docs: DataFrame,
    query_pred,
    n: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(q_id, term, qtf): the query-side term relation of the lexical
    rankers — ``docs`` filtered to ``query_pred`` and tokenized.
    Tokenizing the FILTERED slice (instead of joining the full-corpus
    tf relation against query ids) keeps the extra work proportional
    to the query split, and per-doc term frequencies are identical
    either way."""
    qtf = term_frequencies(
        ngram_tokens(docs.where(query_pred), n, text_col, id_col)
    )
    return qtf.select(
        F.col("doc_id").alias("q_id"), "term", F.col("tf").alias("qtf")
    )


# the counted gate lives in operators.gating (r13: one shared
# implementation — the r12 sweep's five hand-rolled copies drifted)
from konohadataplatform_spark.operators.gating import (  # noqa: E402
    gated_broadcast as _gated,
)


def lexical_topk(
    docs: DataFrame,
    query_pred,
    k: int = 3,
    n: int = 3,
    df_cap_frac: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_broadcast: bool | None = None,
    query_broadcast_rows: int = 500_000,
) -> DataFrame:
    """Top-k corpus docs per query doc by integer-exact TF-IDF over
    word n-grams: (q_id, hit_id, score, hit_rank).

    ``query_pred`` is a Column predicate selecting the query docs out
    of the corpus (engine-portable splits like ``doc_id % 101 == 0``).
    Terms with ``df > N // df_cap_frac`` are pruned — the stop-word
    cap that bounds the hottest join key at scale; the oracle
    reproduces the same cap, so the result is still bit-exact.

    score(q, d) = sum over shared terms of qtf * tf * ((N*SCALE)//df),
    all int64; ties broken by ascending doc_id. The query term side is
    broadcast ONLY under the r13 counted gate (``query_broadcast``
    True/False skips the count; None counts the (q_id, term) relation
    and broadcasts at or below ``query_broadcast_rows``) — a
    corpus-proportional query split (e.g. ``doc_id % 101 == 0`` over
    10^12 docs) falls back to a term-keyed shuffled join, AQE-sized,
    instead of an executor-OOM broadcast. The gate count tokenizes
    only the FILTERED query slice, so its cost is one corpus scan +
    query-proportional work. The corpus side shuffles once on the
    term key, post-pruning.

    The tf relation feeds two branches (idf, scoring), and is
    materialized ONCE via a lazy ``localCheckpoint`` (r15, the rank
    family's own pattern — guide §2.4/§5): without it the physical
    plan tokenized the corpus once per consumer (the r15 before-plan
    shows 8 parquet scans / 20 Exchanges for this query; after, each
    branch reads the one checkpointed RDD). The r14-documented
    recompute-vs-cache trade was measured against ``cache()`` —
    which adds a separate fill job and leaked the cached relation
    per call (r7 ADVICE); the lazy checkpoint materializes inside
    the first consuming job and hands its blocks to the GC with the
    DataFrame, so neither cost applies. At 100 TB the checkpoint IS
    the "tf as a materialized table" the contract promised, scoped
    to the query."""
    tf = term_frequencies(
        ngram_tokens(docs, n, text_col, id_col)
    ).localCheckpoint(eager=False)
    n_docs = docs.select(F.count(F.lit(1)).alias("n"))
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .where(F.col("df") <= F.expr(f"div(n, {int(df_cap_frac)})"))
        .select("term", F.expr(f"div(n * {SCALE}, df)").alias("idf"))
    )
    qterms = query_terms(docs, query_pred, n, text_col, id_col)
    scored = (
        tf.join(idf, "term")
        .join(_gated(qterms, query_broadcast, query_broadcast_rows), "term")
        .where(F.col("doc_id") != F.col("q_id"))
        .groupBy("q_id", "doc_id")
        .agg(F.sum(F.col("qtf") * F.col("tf") * F.col("idf")).alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.select(
            "q_id", F.col("doc_id").alias("hit_id"), "score",
            F.row_number().over(w).alias("hit_rank"),
        )
        .where(F.col("hit_rank") <= k)
    )


def doc_keywords(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` TF-IDF keywords per document —
    ``(doc_id, term, score, keyword_rank)`` — the per-doc topical
    tags a curation pipeline uses for mixture audits, topic caps, and
    cheap retrieval filters.

    Integer-exact like :func:`lexical_topk`:
    ``score = tf * div(N * SCALE, df)`` (all int64, no logs, no
    floats), ties broken by ascending term — bit-identical in any
    engine. Stop-words need no cap here: a term in every doc scores
    ``tf * SCALE`` while a once-only term scores ``N * SCALE``, so
    rarity dominates exactly as log-idf intends.

    Scale shape: one (doc, term) agg, one term-keyed df agg joined
    back on the term key, a broadcast 1-row N, and a per-doc window
    (each partition is one doc's distinct terms — bounded by doc
    length, never corpus-sized).
    """
    # same two-consumer shape as lexical_topk (idf + scoring) but NOT
    # checkpointed: n=1 tokenization is cheap enough that the r15
    # interleaved A/B measured the materialization ~0.1 s SLOWER than
    # the recompute at sf0.1 (0.93 old vs 0.99/1.04 checkpointed) —
    # the trigram rankers' win does not transfer to unigrams
    tf = term_frequencies(ngram_tokens(docs, 1, text_col, id_col))
    n_docs = docs.select(F.count(F.lit(1)).alias("n"))
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select("term", F.expr(f"div(n * {SCALE}, df)").alias("idf"))
    )
    scored = tf.join(idf, "term").select(
        "doc_id", "term", (F.col("tf") * F.col("idf")).alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return scored.select(
        "doc_id", "term", "score",
        F.row_number().over(w).alias("keyword_rank"),
    ).where(F.col("keyword_rank") <= k)


# BM25 tf-saturation ratio scale: the per-term saturated tf component
# lies in (0, k1+1]; pre-dividing it to a small int (<= 2200) keeps
# the score product qtf * idf * tf_sat bounded by qtf * N * SCALE *
# 2200 — int64-safe while N * qtf < 4.2e9 (e.g. 4 billion docs at
# unit query tf). Beyond that, shrink SCALE/BM25_TF_SCALE a decade
# each (ranking-stable: both rescale every score identically) or
# widen the sum to decimal(38,0). A raw TL-sized numerator instead of
# the pre-divided ratio would overflow ~1e6x sooner.
BM25_TF_SCALE = 1_000


def bm25_topk(
    docs: DataFrame,
    query_pred,
    k: int = 3,
    n: int = 1,
    df_cap_frac: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_broadcast: bool | None = None,
    query_broadcast_rows: int = 500_000,
) -> DataFrame:
    """Top-k corpus docs per query doc by integer-exact BM25 over
    word ``n``-grams: (q_id, hit_id, score, hit_rank). Document
    length ``dl`` is the doc's n-gram count (== word count at n=1);
    docs shorter than ``n`` words drop out of both corpus and N.

    Okapi BM25 with the standard k1=1.2, b=0.75, made engine-portable
    by clearing denominators: with k1 = 6/5 and b = 3/4,

        tf_sat = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
               = 44*tf*TL / (20*tf*TL + 6*TL + 18*dl*N)

    (multiply through by 20*TL, avgdl = TL/N), computed as ONE integer
    division scaled by ``BM25_TF_SCALE``; idf is the same rational
    ``(N*SCALE) // df`` used by :func:`lexical_topk` (monotone in the
    usual log-idf, so rankings agree), with the same ``df_cap_frac``
    stop-word cap. score(q, d) = sum of qtf * idf * tf_sat — all
    int64, ties broken by ascending doc_id, bit-reproducible in any
    engine.

    Scale shape: dl is a partial+final count per doc; (N, TL) is a
    broadcast scalar; the scoring join broadcasts the query terms only
    under the same r13 counted gate as :func:`lexical_topk`
    (``query_broadcast`` / ``query_broadcast_rows``; over the bound
    the join runs term-keyed and shuffled, AQE-sized) and shuffles
    the corpus tf relation once on the capped term key — same
    contract as :func:`lexical_topk`, including the r15 lazy
    localCheckpoint of tf (here THREE consumers — dl, idf, scoring —
    re-tokenized the corpus: 12 parquet scans / 36 Exchanges in the
    r15 before-plan; dl is checkpointed too, feeding totals and the
    tf_sat join from one doc-grain materialization). Overflow bounds
    (int64): the
    tf_sat numerator needs 44*tf*TL*1000 to fit (TL < 2e11 total
    tokens at tf ~ 1e3), and the score term qtf*idf*tf_sat needs
    N*qtf < 4.2e9 (idf <= N*SCALE, tf_sat <= 2200). Past either,
    shrink the scales a decade (ranking-stable — they multiply every
    score identically) or widen to decimal(38,0).
    """
    tf = term_frequencies(
        ngram_tokens(docs, n, text_col, id_col)
    ).localCheckpoint(eager=False)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")).localCheckpoint(
        eager=False
    )
    totals = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tl")
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(totals.select("n")))
        .where(F.col("df") <= F.expr(f"div(n, {int(df_cap_frac)})"))
        .select("term", F.expr(f"div(n * {SCALE}, df)").alias("idf"))
    )
    qterms = query_terms(docs, query_pred, n, text_col, id_col)
    tf_sat = F.expr(
        f"div(44 * tf * tl * {BM25_TF_SCALE}, "
        f"20 * tf * tl + 6 * tl + 18 * dl * n)"
    )
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", "term", tf_sat.alias("tf_sat"))
        .join(idf, "term")
        .join(_gated(qterms, query_broadcast, query_broadcast_rows), "term")
        .where(F.col("doc_id") != F.col("q_id"))
        .groupBy("q_id", "doc_id")
        .agg(F.sum(F.col("qtf") * F.col("idf") * F.col("tf_sat")).alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.select(
            "q_id", F.col("doc_id").alias("hit_id"), "score",
            F.row_number().over(w).alias("hit_rank"),
        )
        .where(F.col("hit_rank") <= k)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k_const: int = 60,
    topk: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Reciprocal Rank Fusion over N per-query rankings — the standard
    hybrid-retrieval combiner (lexical BM25 + vector kNN). Each input
    is (q_id, hit_id, rnk); output (q_id, hit_id, rrf_score,
    hybrid_rank <= topk).

    rrf(q, d) = sum over rankings of scale // (k_const + rnk) — the
    classic 1/(k+rank) with the division scaled to EXACT int64, so
    fusion is bit-reproducible even though the upstream similarity
    scores may be floats (only their integer RANKS enter). A doc
    missing from one ranking simply contributes nothing (union, not
    join — no nulls to special-case).

    Scale: inputs are top-k-per-query relations (bounded, not corpus
    relations); one groupBy on (q_id, hit_id) and a per-query window
    over <= N*k rows per query."""
    if not rankings:
        raise ValueError("rankings must be non-empty")
    contribs = [
        r.select(
            "q_id",
            "hit_id",
            F.expr(f"div({int(scale)}, {int(k_const)} + rnk)").alias("_c"),
        )
        for r in rankings
    ]
    u = contribs[0]
    for c in contribs[1:]:
        u = u.unionByName(c)
    scored = u.groupBy("q_id", "hit_id").agg(F.sum("_c").alias("rrf_score"))
    w = Window.partitionBy("q_id").orderBy(
        F.col("rrf_score").desc(), F.col("hit_id").asc()
    )
    return scored.select(
        "q_id", "hit_id", "rrf_score",
        F.row_number().over(w).alias("hybrid_rank"),
    ).where(F.col("hybrid_rank") <= topk)
