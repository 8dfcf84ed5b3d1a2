"""Text-analysis operators for LLM training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language-ID,
quality scoring, token counting, document fingerprinting — all pure
`pyspark.sql.functions` column expressions, so they run JVM-side inside
whole-stage codegen with zero Python overhead, and scale linearly with
a 100 TB `documents` table (no shuffle: all per-row).

Cross-engine determinism: token counts use separator counting
(length-based) rather than `split()` because split()'s trailing-empty
semantics differ across engines; fingerprints use md5 (identical hex in
Spark and DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword markers for the n-gram/stopword heuristic.
# Chosen to be deterministic and cheap (substring containment), not
# linguistically deep — the operator contract is the point.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "fr": [" le ", " la ", " et "],
    "es": [" el ", " los ", " y "],
    "de": [" der ", " die ", " und "],
    "zh": ["的", "是", "了"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]


def token_count(text: Column) -> Column:
    """Whitespace token count via separator counting (engine-portable)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1
    )


def distinct_token_count(text: Column) -> Column:
    """Unique whitespace tokens (split is safe mid-string)."""
    return F.array_size(F.array_distinct(F.split(F.trim(text), " ")))


def marker_hits(text: Column, marker: str) -> Column:
    """Occurrences of a marker substring (overlap-free, like replace)."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(marker), F.lit(""))))
        / F.length(F.lit(marker))
    ).cast("int")


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are common-English stopwords."""
    hits = None
    for w in STOPWORDS:
        h = marker_hits(text, f" {w} ")
        hits = h if hits is None else hits + h
    return hits / F.nullif(token_count(text), F.lit(0))


def quality_score(text: Column, n_chars: Column) -> Column:
    """Composite [0,1] quality score: length band + lexical diversity
    + stopword presence. Deterministic, expressible in ANSI SQL."""
    toks = token_count(text)
    uniq_ratio = distinct_token_count(text) / F.nullif(toks, F.lit(0))
    len_ok = F.when((n_chars >= 100) & (n_chars <= 20000), 1.0).otherwise(0.5)
    sw = stopword_ratio(text)
    sw_ok = F.when((sw > 0.0) & (sw < 0.6), 1.0).otherwise(0.5)
    return (len_ok + uniq_ratio + sw_ok) / F.lit(3.0)


def predict_lang(text: Column) -> Column:
    """Marker-vote language ID: argmax of per-language marker hits,
    ties broken by language code order ('und' if no marker hits)."""
    scores = []
    for lang, markers in LANG_MARKERS.items():
        s = None
        for m in markers:
            h = marker_hits(text, m)
            s = h if s is None else s + h
        scores.append((lang, s))
    best = F.lit("und")
    best_score = F.lit(0)
    # Iterate in reverse so earlier languages win ties (strict >).
    for lang, s in reversed(scores):
        take = s > best_score
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(take, s).otherwise(best_score)
    return best


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint (md5 hex — portable)."""
    return F.md5(text.cast("binary"))


def word_ngrams(words: Column, n: int) -> Column:
    """Overlapping word n-grams as space-joined strings.

    Pure JVM array expression (sequence + slice + array_join inside
    whole-stage codegen): no explode until the caller asks for one, so
    a 100 TB scan pays zero Python and zero shuffle to form grams.
    Yields size(words) - n + 1 grams (empty array when the doc is
    shorter than n words).
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )
    # sequence(1, 0) would yield the DESCENDING [1, 0] and slice would
    # reject start 0 — short docs must short-circuit to an empty array
    return F.when(F.size(words) < n, F.array().cast("array<string>")).otherwise(
        grams
    )


def repetition_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, §A1.1).

    Per document: the duplicate-word fraction (1 - distinct/total) and
    the fraction of non-space characters covered by the most frequent
    word 2-gram (ties broken by lexicographically smallest gram, so the
    result is engine-portable). Docs with < 2 words are excluded.

    Scale shape: one explode keyed by (doc, gram), a partial-agg count,
    and a per-doc window — every stage is partitioned by doc_id, so the
    plan is embarrassingly parallel at corpus scale; no global state.
    The char-fraction numerator is computed as exact integer math cast
    once before a single IEEE division (bit-identical across engines).
    """
    from pyspark.sql import Window

    from konohadataplatform_spark.operators.dedup import _spread

    t = F.trim(F.col(text_col))
    base = (
        _spread(df).select(
            F.col(id_col),
            t.alias("tt"),
            F.split(t, " ").alias("w"),
        )
        .filter(F.size("w") >= 2)
    )
    dup = base.select(
        id_col,
        "tt",
        (
            F.lit(1.0)
            - F.size(F.array_distinct("w")).cast("double") / F.size("w")
        ).alias("dup_word_frac"),
        F.explode(word_ngrams(F.col("w"), 2)).alias("gram"),
    )
    counts = dup.groupBy(id_col, "tt", "dup_word_frac", "gram").agg(
        F.count("*").alias("cnt")
    )
    top = Window.partitionBy(id_col).orderBy(F.desc("cnt"), F.asc("gram"))
    return (
        counts.withColumn("rn", F.row_number().over(top))
        .filter(F.col("rn") == 1)
        .select(
            id_col,
            "dup_word_frac",
            F.col("gram").alias("top_2gram"),
            F.col("cnt").alias("top_2gram_cnt"),
            (
                (F.col("cnt") * F.length(F.replace(F.col("gram"), F.lit(" "), F.lit("")))).cast("double")
                / F.length(F.replace(F.col("tt"), F.lit(" "), F.lit("")))
            ).alias("top_2gram_char_frac"),
        )
    )


def word_entropy(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document unigram (word) Shannon entropy in bits.

    A standard pretraining quality signal: near-zero entropy flags
    degenerate/boilerplate docs, unusually high entropy flags noise.
    Rounded to 6 decimals because log2 is a transcendental whose last
    ulp (and float summation order) may differ across engines — the
    only non-exact arithmetic in this module.

    Scale shape: explode → two hash aggregations keyed by doc_id (the
    (doc, word) partial agg combines map-side), then a doc-keyed join —
    all stages partition on doc_id, nothing global.
    """
    # No _spread here: the single-word explode is cheap enough that the
    # round-robin shuffle of full text costs more than it parallelizes
    # (measured 0.54s vs 1.39s at sf0.1); the post-explode aggs already
    # fan out across the cluster.
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("word"),
    )
    counts = words.groupBy(id_col, "word").agg(F.count("*").alias("cnt"))
    totals = counts.groupBy(id_col).agg(
        F.sum("cnt").alias("n_tokens"), F.count("*").alias("n_distinct")
    )
    p = F.col("cnt").cast("double") / F.col("n_tokens")
    return (
        counts.join(totals, id_col)
        .groupBy(id_col, "n_tokens", "n_distinct")
        .agg(F.round(-F.sum(p * F.log2(p)), 6).alias("word_entropy"))
    )


def boilerplate_coverage(
    df: DataFrame, n: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-level boilerplate signal: per doc, the fraction of its
    distinct word n-grams that also occur in at least one OTHER doc
    (document frequency >= 2). High coverage marks template/boilerplate
    pages — a standard pretraining removal heuristic (C4 family).

    Scale shape: grams are formed codegen-side and deduped per doc
    before the explode, so the shuffle carries each (doc, gram) once.
    The document-frequency aggregation and the join back both hash on
    `gram` — Catalyst reuses the exchange, so the whole operator costs
    one gram-keyed shuffle plus the final doc_id-keyed agg. The single
    division happens once on exact integer counts (bit-portable).
    """
    from konohadataplatform_spark.operators.dedup import _spread

    words = F.split(F.trim(F.col(text_col)), " ")
    g = (
        _spread(df)
        .select(F.col(id_col), words.alias("w"))
        .filter(F.size("w") >= n)
        .select(
            id_col, F.explode(F.array_distinct(word_ngrams(F.col("w"), n))).alias("gram")
        )
    )
    dfreq = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    common = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast("bigint")
    return (
        g.join(dfreq, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            common.alias("n_common_grams"),
            (common.cast("double") / F.count(F.lit(1))).alias("boilerplate_frac"),
        )
    )


def unigram_surprisal(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """CCNet-style perplexity filter primitive: each doc's mean
    surprisal (-log2 p) under the corpus's own unigram LM. Low-
    surprisal docs are boilerplate/repetitive; extreme values are
    noise — the standard cheap stand-in for a KenLM perplexity score.

    Scale shape: token stream shuffles once on `word` for the corpus
    frequency agg and the join-back reuses that exchange; the corpus
    total is a 1-row broadcast. Final agg keys on doc_id. Rounded 6dp
    (log2 + float-sum order are the non-exact ops).
    """
    w = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("word"),
    )
    cf = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tot = cf.agg(F.sum("c").cast("double").alias("t"))
    p = F.col("c").cast("double") / F.col("t")
    return (
        w.join(cf, "word")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(-F.sum(F.log2(p)) / F.count(F.lit(1)), 6).alias(
                "unigram_surprisal"
            ),
        )
    )


# GPT-2-family pre-tokenizer shape, restricted to ASCII classes so the
# Java (Spark) and RE2 (DuckDB) engines match byte-for-byte:
# contraction tails, space-prefixed letter runs, digit runs, punctuation
# runs, whitespace runs. The coarse BPE-proxy token count every data
# pipeline budgets with before a real tokenizer sees the text.
BPE_SPLIT_PATTERN = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_token_count(text: Column, pattern: str = BPE_SPLIT_PATTERN) -> Column:
    """Pre-tokenizer token count (BPE-ish regex) — JVM-side
    regexp_extract_all inside codegen, no Python, no explode."""
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.75,
) -> DataFrame:
    """Interpolated-bigram LM surprisal — the next step up from
    :func:`unigram_surprisal` toward CCNet's KenLM perplexity filter:
    each doc's mean ``-log2(lam * P(w_i|w_{i-1}) + (1-lam) * P(w_i))``
    over its bigram positions, with ``P_bi = c(prev,word)/c(prev)``
    and ``P_uni = c(word)/total`` estimated on the corpus itself.
    Docs with fewer than 2 tokens drop out (no bigram positions).

    Scale shape: bigram formation is a codegen array expression (no
    positional self-join); counts are two gram-keyed aggs whose
    exchanges the join-back reuses; the corpus total is a 1-row
    broadcast; the final agg keys on doc_id. Rounded 6dp (log2 +
    float-sum order are the non-exact ops, same policy as the unigram
    form).
    """
    toks = F.split(F.trim(F.col(text_col)), " ")
    pairs = (
        df.select(F.col(id_col), toks.alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            id_col,
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2), "
                    "i -> struct(w[i] AS prev, w[i + 1] AS word))"
                )
            ).alias("bg"),
        )
        .select(id_col, F.col("bg.prev").alias("prev"),
                F.col("bg.word").alias("word"))
    )
    uni = (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    tot = uni.agg(F.sum("cu").cast("double").alias("t"))
    cb = pairs.groupBy("prev", "word").agg(F.count(F.lit(1)).alias("cb"))
    cup = uni.select(F.col("word").alias("prev"), F.col("cu").alias("cup"))
    # expression order mirrors the oracle exactly: lam*(cb/cup) +
    # (1-lam)*(cu/t) — same IEEE ops in the same order
    mix = (
        F.lit(lam) * (F.col("cb").cast("double") / F.col("cup").cast("double"))
        + F.lit(1.0 - lam) * (F.col("cu").cast("double") / F.col("t"))
    )
    return (
        pairs.join(cb, ["prev", "word"])
        .join(cup, "prev")
        .join(uni, "word")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.sum(F.log2(mix)) / F.count(F.lit(1)), 6).alias(
                "bigram_surprisal"
            ),
        )
    )


def trigram_backoff_surprisal(
    df: DataFrame,
    train_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """Stupid-backoff trigram-LM surprisal (Brants et al. 2007) — the
    engine-portable stand-in for CCNet's KenLM perplexity filter:
    train counts on the ``train_pred`` reference split, score every
    OTHER doc's trigram positions with

    ``S(w|u,v) = c(uvw)/c(uv)``                    if the trigram was seen,
    ``        alpha * c(vw)/c(v)``                 else if the bigram was,
    ``        alpha^2 * (c(w)+1)/(N+V)``           else (add-one unigram floor),

    and return per scored doc ``(doc_id, n_trigrams, surprisal)`` with
    ``surprisal = -mean log2 S`` rounded 6dp (same float policy as
    :func:`bigram_surprisal`). Docs with fewer than 3 tokens drop out.

    Unlike :func:`bigram_surprisal` (self-estimated, so every gram is
    seen and backoff never fires), the held-out split makes the backoff
    ladder real: fluent text stays on the trigram rung, gibberish falls
    to the unigram floor — exactly the head/middle/tail signal CCNet
    buckets on.

    Scale shape: trigram/bigram/unigram formation are codegen array
    expressions (no positional self-joins); the three count tables are
    gram-keyed aggs (vocab-sized, far smaller than the corpus); the
    score side shuffles once per gram key for the five left join-backs;
    (N, V) is a broadcast 1-row relation. The final agg keys on doc_id.
    """
    toks = F.split(F.trim(F.col(text_col)), " ")
    train = df.filter(train_pred)
    score = df.filter(~train_pred)

    def _grams(src: DataFrame, n: int, names: list[str]) -> DataFrame:
        fields = ", ".join(
            f"w[i + {j}] AS {names[j]}" for j in range(n)
        )
        return (
            src.select(F.col(id_col), toks.alias("w"))
            .filter(F.size("w") >= n)
            .select(
                id_col,
                F.explode(
                    F.expr(
                        f"transform(sequence(0, size(w) - {n}), "
                        f"i -> struct({fields}))"
                    )
                ).alias("g"),
            )
            .select(id_col, *[F.col(f"g.{c}").alias(c) for c in names])
        )

    tri = (
        _grams(train, 3, ["u", "v", "w"])
        .groupBy("u", "v", "w")
        .agg(F.count(F.lit(1)).alias("c3"))
    )
    bi = (
        _grams(train, 2, ["a", "b"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    uni = (
        train.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    totals = uni.agg(
        F.sum("c1").cast("double").alias("n_tok"),
        F.count(F.lit(1)).cast("double").alias("v_size"),
    )

    pos = _grams(score, 3, ["u", "v", "w"])
    joined = (
        pos.join(tri, ["u", "v", "w"], "left")
        .join(
            bi.select(
                F.col("a").alias("u"), F.col("b").alias("v"),
                F.col("c2").alias("cuv"),
            ),
            ["u", "v"],
            "left",
        )
        .join(
            bi.select(
                F.col("a").alias("v"), F.col("b").alias("w"),
                F.col("c2").alias("cvw"),
            ),
            ["v", "w"],
            "left",
        )
        .join(
            uni.select(F.col("word").alias("v"), F.col("c1").alias("cv")),
            "v",
            "left",
        )
        .join(
            uni.select(F.col("word").alias("w"), F.col("c1").alias("cw")),
            "w",
            "left",
        )
        .crossJoin(F.broadcast(totals))
    )
    # expression order mirrors the oracle exactly (same IEEE ops)
    s = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("cuv").cast("double"),
        )
        .when(
            F.col("cvw").isNotNull(),
            F.lit(alpha)
            * (F.col("cvw").cast("double") / F.col("cv").cast("double")),
        )
        .otherwise(
            F.lit(alpha * alpha)
            * (
                (F.coalesce(F.col("cw"), F.lit(0)).cast("double") + F.lit(1.0))
                / (F.col("n_tok") + F.col("v_size"))
            )
        )
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.round(-F.sum(F.log2(s)) / F.count(F.lit(1)), 6).alias("surprisal"),
    )


def vocab_stats(df: DataFrame, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """Per-group vocabulary stats (Heaps-law inputs): token count,
    distinct-word count, and type-token ratio — the corpus-composition
    dashboard a mixture designer reads. Two word-keyed aggs, exact
    integer math, one final division."""
    w = df.select(
        F.col(group_col),
        F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("word"),
    )
    return (
        w.groupBy(group_col, "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(group_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            (F.count(F.lit(1)).cast("double") / F.sum("c")).alias(
                "type_token_ratio"
            ),
        )
    )


def canonicalize(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Text canonicalization TRANSFORM (not just detection): lowercase,
    then collapse adjacent duplicate tokens ("the the the" -> "the" —
    the stutter artifact of OCR/scraped corpora). Returns before/after
    token counts and the md5 of the cleaned text, all computed by pure
    JVM array expressions — zero shuffle, zero Python, linear scan."""
    words = F.split(F.trim(F.lower(F.col(text_col))), " ")
    cleaned = F.filter(
        words, lambda w, i: (i == 0) | (w != F.element_at(words, i))
    )
    return df.select(
        F.col(id_col),
        F.size(words).alias("n_before"),
        F.size(cleaned).alias("n_after"),
        F.md5(F.array_join(cleaned, " ").cast("binary")).alias("canonical_md5"),
    )


def context_windows(
    df: DataFrame,
    window: int = 64,
    stride: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, win_id, start_tok, n_toks, chunk): overlapping
    fixed-size token windows — the training-example slicer for
    next-token pretraining (stride < window gives overlapping
    contexts, the HF ``return_overflowing_tokens`` shape).

    Contract: window starts at every ``k * stride < n_tokens``;
    ``n_toks = min(window, n_tokens - start)``, so the final windows
    are remainders (callers filter ``n_toks`` if they want only full
    windows). Empty/NULL docs yield no rows. Deterministic — no
    randomness, no state.

    Scale shape: one explode over per-doc offsets (``n/stride`` rows
    per doc) with the chunk re-sliced from the doc's OWN token array
    in the same projection — zero joins, zero shuffles; the output is
    partitioned exactly like the input scan.
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    t = F.coalesce(F.trim(F.col(text_col)), F.lit(""))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(t, " ").alias("_w"),
        # repo-wide single-space tokenization; '' -> zero tokens
        F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, " "))).alias(
            "_n"
        ),
    )
    return (
        base.filter(F.col("_n") >= 1)
        .select(
            "doc_id",
            "_w",
            "_n",
            F.explode(
                F.expr(f"sequence(0, ceil(_n / {int(stride)}) - 1)")
            ).alias("win_id"),
        )
        .filter(F.col("win_id") * stride < F.col("_n"))
        .select(
            "doc_id",
            F.col("win_id").cast("bigint").alias("win_id"),
            (F.col("win_id") * stride).cast("bigint").alias("start_tok"),
            F.least(
                F.lit(int(window)), F.col("_n") - F.col("win_id") * stride
            ).cast("bigint").alias("n_toks"),
            F.expr(
                f"concat_ws(' ', slice(_w, win_id * {int(stride)} + 1, "
                f"least({int(window)}, _n - win_id * {int(stride)})))"
            ).alias("chunk"),
        )
    )


def span_corrupt(
    df: DataFrame,
    mask_rate: float = 0.15,
    span: int = 3,
    seed: str = "t5",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """T5/UL2-style span-corruption example prep, deterministically:
    (doc_id, corrupted, targets, n_spans, n_masked_toks).

    Tokens partition into fixed blocks of ``span``; each block masks
    iff a salted md5 draw over (seed, doc_id, block) lands under
    ``mask_rate`` (expected coverage = mask_rate exactly, no RNG
    state — the same rerunnable/engine-portable contract as
    ``mixture_sample``). Consecutive masked blocks merge into ONE
    span: ``corrupted`` replaces each span with ``<extra_id_k>``,
    ``targets`` is the T5 decoder string ``<extra_id_0> span0 tokens
    <extra_id_1> span1 tokens ...``. A rerun — on any engine — masks
    the identical spans, which is what makes distributed preprocessing
    resumable and its train/val splits stable.

    Scale shape: one projection of higher-order expressions over the
    doc's own token array (the block-mask array is computed once per
    doc, then indexed) — zero joins, zero shuffles, zero UDFs;
    scan-speed like the other example-prep passes.
    """
    if not (0.0 <= mask_rate <= 1.0):
        raise ValueError(f"mask_rate outside [0, 1]: {mask_rate}")
    if span < 1:
        raise ValueError("span must be >= 1")
    lim = 1 << 60
    thr = int(mask_rate * lim)
    L = int(span)
    t = F.coalesce(F.trim(F.col(text_col)), F.lit(""))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(t, " ").alias("_w"),
        F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, " "))).alias(
            "_n"
        ),
    )
    # per-block mask verdicts, computed once: mb[b+1] = block b masked
    mb = (
        f"transform(sequence(0, cast(ceil(_n / {L}) as int) - 1), "
        f"b -> cast(conv(substring(md5(concat('{seed}', ':', "
        f"cast(doc_id as string), ':', cast(b as string))), 1, 15), "
        f"16, 10) as bigint) < {thr}L)"
    )
    # span-start blocks (masked, previous block unmasked), in order
    starts = (
        "filter(sequence(0, size(_mb) - 1), "
        "b -> get(_mb, b) and (b = 0 or not get(_mb, b - 1)))"
    )
    sentinel = (
        "concat('<extra_id_', "
        "cast(array_position(_st, i div {L}) - 1 as string), '>')"
    ).format(L=L)
    corrupted = (
        f"concat_ws(' ', flatten(transform(sequence(0, _n - 1), i -> "
        f"if(not get(_mb, i div {L}), array(element_at(_w, i + 1)), "
        f"if(i % {L} = 0 and array_contains(_st, i div {L}), "
        f"array({sentinel}), array())))))"
    )
    targets = (
        f"concat_ws(' ', flatten(transform(sequence(0, _n - 1), i -> "
        f"if(not get(_mb, i div {L}), array(), "
        f"if(i % {L} = 0 and array_contains(_st, i div {L}), "
        f"array({sentinel}, element_at(_w, i + 1)), "
        f"array(element_at(_w, i + 1)))))))"
    )
    n_masked = (
        f"aggregate(sequence(0, _n - 1), 0L, "
        f"(acc, i) -> acc + if(get(_mb, i div {L}), 1L, 0L))"
    )
    return (
        base.withColumn("_mb", F.expr(mb))
        .withColumn("_st", F.expr(starts))
        .select(
            "doc_id",
            F.when(F.col("_n") == 0, F.lit(""))
            .otherwise(F.expr(corrupted))
            .alias("corrupted"),
            F.when(F.col("_n") == 0, F.lit(""))
            .otherwise(F.expr(targets))
            .alias("targets"),
            F.coalesce(F.size("_st"), F.lit(0)).cast("bigint").alias(
                "n_spans"
            ),
            F.coalesce(
                F.when(F.col("_n") == 0, F.lit(0)).otherwise(
                    F.expr(n_masked)
                ),
                F.lit(0),
            ).cast("bigint").alias("n_masked_toks"),
        )
    )


def data_card(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row corpus "data card" (Gebru et al. datasheet headline
    numbers): doc/token/char totals, language and source cardinality,
    exact-duplicate mass, and null-text count — the summary block a
    dataset release publishes and a pipeline asserts SLAs against.

    All exact integer aggregation in ONE pass over the corpus plus one
    digest-keyed distinct (the duplicate count); the single division
    (mean tokens per doc) happens once on the final row. At 100 TB:
    one scan, two exchanges (global agg + distinct digest), output is
    one row.
    """
    toks = F.split(F.trim(F.col(text_col)), " ")
    base = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(text_col).alias("n_with_text"),
        F.sum(
            F.when(F.col(text_col).isNotNull(), F.size(toks)).otherwise(
                F.lit(0)
            )
        ).alias("total_tokens"),
        F.sum(
            F.coalesce(F.length(text_col).cast("long"), F.lit(0))
        ).alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct(F.md5(F.col(text_col).cast("binary"))).alias(
            "n_distinct_texts"
        ),
    )
    return base.select(
        "n_docs",
        "n_with_text",
        "total_tokens",
        "total_chars",
        "n_langs",
        "n_sources",
        "n_distinct_texts",
        (F.col("n_with_text") - F.col("n_distinct_texts")).alias(
            "n_exact_dup_docs"
        ),
        (
            F.col("total_tokens").cast("double") / F.col("n_docs")
        ).alias("mean_doc_tokens"),
    )


def boilerplate_strip_rewrite(
    df: DataFrame,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boilerplate-line REMOVAL (the transform behind
    :func:`boilerplate_coverage`'s detection — the CCNet/RefinedWeb
    nav-bar / cookie-banner strip): a non-empty line appearing in
    ``min_docs`` or more distinct documents is corpus boilerplate;
    every occurrence is cut and the remaining lines reassemble in
    original order. Returns
    ``(doc_id, n_lines, n_stripped, cleaned_text)`` (empty lines are
    structure, never stripped, and docs may come back empty).

    Scale shape: the line-frequency relation groups on a 60-bit md5
    digest (never the line text) and keeps only lines crossing the
    ``min_docs`` bar. The join back carries NO broadcast hint
    (the r10 weak spot): the frequent-line set is corpus-derived and
    UNBOUNDED — on exactly the corpora this operator targets
    (CCNet/RefinedWeb nav-bar stripping over a crawl) it is billions
    of digests, far past any executor's broadcast budget. AQE picks
    the strategy at runtime — broadcast when the set is actually
    small, a shuffled hash join on the uniformly-distributed digest
    when it is not (both sides hash on ``_h``; no skew, no hot key).
    The reassembly groupBy carries each doc's kept lines exactly once
    (a rewrite must move its text once); collect_list entries are
    (index, line) structs sorted per doc — bounded by doc size, no
    corpus-wide window anywhere.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("li", "line"),
    ).withColumn(
        "_h",
        F.expr(
            "cast(conv(substring(md5(trim(line)), 1, 15), 16, 10) "
            "as bigint)"
        ),
    ).withColumn("_empty", F.trim(F.col("line")) == "")
    freq = (
        lines.filter(~F.col("_empty"))
        .groupBy("_h")
        .agg(F.countDistinct(id_col).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_h", F.lit(True).alias("_bp"))
    )
    tagged = lines.join(freq, "_h", "left").withColumn(
        "_keep", F.col("_bp").isNull() | F.col("_empty")
    )
    return tagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.when(~F.col("_keep"), 1)).alias("n_stripped"),
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(if(_keep, "
                "struct(li, line), null))), s -> s.line)"
            ),
            "\n",
        ).alias("cleaned_text"),
    )


# --------------------------------------------------------------------------
# Unicode script profiling
# --------------------------------------------------------------------------
# Script blocks as (lo, hi) codepoint ranges. Declared order is the
# dominance tie-break precedence (first listed wins a tie), and the
# literals are shared with SQL oracles via script_class_{java,re2}().
SCRIPT_BLOCKS: list[tuple[str, tuple[tuple[int, int], ...]]] = [
    ("latin", ((0x0041, 0x005A), (0x0061, 0x007A), (0x00C0, 0x024F))),
    ("cyrillic", ((0x0400, 0x04FF),)),
    ("greek", ((0x0370, 0x03FF),)),
    ("arabic", ((0x0600, 0x06FF), (0x0750, 0x077F))),
    ("hebrew", ((0x0590, 0x05FF),)),
    ("devanagari", ((0x0900, 0x097F),)),
    ("cjk", ((0x4E00, 0x9FFF), (0x3400, 0x4DBF))),
    ("kana", ((0x3040, 0x309F), (0x30A0, 0x30FF))),
    ("hangul", ((0xAC00, 0xD7AF), (0x1100, 0x11FF))),
]


def script_class_java(ranges: tuple[tuple[int, int], ...]) -> str:
    """Java-regex character class body for a set of codepoint ranges."""
    return "".join(f"\\u{lo:04X}-\\u{hi:04X}" for lo, hi in ranges)


def script_class_re2(ranges: tuple[tuple[int, int], ...]) -> str:
    """RE2 (DuckDB) character class body for the same ranges."""
    return "".join(f"\\x{{{lo:04X}}}-\\x{{{hi:04X}}}" for lo, hi in ranges)


def script_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Unicode script histogram + dominant script.

    The pre-lang-id routing signal real multilingual pipelines compute
    first (CLD3/fastText both start from script detection): character
    counts per major script block, plus digit/whitespace/other buckets,
    and the dominant script (most characters; ties break by the fixed
    SCRIPT_BLOCKS order, 'none' when no script character appears).

    Counts come from `length(text) - length(regexp_replace(text,
    '[block]', ''))` — whole-stage-codegen JVM regex per block, one
    projection, zero shuffles; the plan is a pure map over the corpus
    scan. All outputs are integers (exact parity with any SQL oracle).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    total = F.length(t)

    def cnt(class_body: str) -> F.Column:
        return total - F.length(F.regexp_replace(t, f"[{class_body}]", ""))

    script_cols = {
        name: cnt(script_class_java(ranges))
        for name, ranges in SCRIPT_BLOCKS
    }
    n_digit = cnt("0-9")
    n_space = cnt(" \\t\\n\\r")
    covered = n_digit + n_space
    for c in script_cols.values():
        covered = covered + c

    mx = F.greatest(*script_cols.values())
    dominant = F.lit("none")
    # reversed: build the CASE chain so the FIRST declared block wins
    for name in [n for n, _ in reversed(SCRIPT_BLOCKS)]:
        dominant = F.when(
            (mx > 0) & (script_cols[name] == mx), F.lit(name)
        ).otherwise(dominant)

    out = df.select(
        F.col(id_col).alias("doc_id"),
        total.cast("bigint").alias("n_chars_total"),
        *[
            c.cast("bigint").alias(f"n_{name}")
            for name, c in script_cols.items()
        ],
        n_digit.cast("bigint").alias("n_digit"),
        n_space.cast("bigint").alias("n_space"),
        (total - covered).cast("bigint").alias("n_other"),
        dominant.alias("dominant_script"),
    )
    return out


# --------------------------------------------------------------------------
# contrastive training-example builder
# --------------------------------------------------------------------------
def contrastive_pairs(
    df: DataFrame,
    window: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(anchor, positive) example builder for contrastive embedding
    training — the "independent cropping" recipe (Contriever, Izacard
    et al. 2022; SimCSE-adjacent): two crops of the SAME document form
    a positive pair, everything else in the batch is a negative. Here
    the crops are consecutive non-overlapping ``window``-token chunks,
    so each document with more than one chunk yields chunk_i /
    chunk_{i+1} pairs:

    (doc_id, pair_idx, anchor_text, positive_text,
     n_anchor_tokens, n_positive_tokens)

    Pair hard negatives via operators.similarity.hard_negatives when
    in-batch negatives aren't enough.

    Plan shape: chunking is one transform+posexplode projection (no
    shuffle; the slice arithmetic never copies the word array), and
    the adjacent join is a LEAD window partitioned BY DOCUMENT —
    bounded by doc size, embarrassingly parallel, no corpus-wide
    window. Text moves exactly once into the (anchor, positive) rows.
    """
    from pyspark.sql.window import Window

    chunks = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), " ").alias("w"),
    ).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(w) + {window - 1}) "
                f"DIV {window} - 1), "
                f"i -> concat_ws(' ', slice(w, i * {window} + 1, "
                f"{window})))"
            )
        ).alias("chunk_idx", "chunk_text"),
    )
    win = Window.partitionBy("doc_id").orderBy("chunk_idx")
    return (
        chunks.withColumn(
            "positive_text", F.lead("chunk_text").over(win)
        )
        .filter(F.col("positive_text").isNotNull())
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("pair_idx"),
            F.col("chunk_text").alias("anchor_text"),
            "positive_text",
            F.size(F.split(F.col("chunk_text"), " "))
            .cast("int")
            .alias("n_anchor_tokens"),
            F.size(F.split(F.col("positive_text"), " "))
            .cast("int")
            .alias("n_positive_tokens"),
        )
    )


# --------------------------------------------------------------------------
# per-slice vocabulary divergence (distribution-shift audit)
# --------------------------------------------------------------------------
def vocab_divergence(
    df: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Unigram distribution shift per corpus slice: the total-variation
    distance between each group's word distribution and the REST of the
    corpus — the mixture-design / dedup-impact audit ("which source
    speaks a different language than the pool", and "did filtering
    skew a slice"). TVD is the standard bounded [0, 1] divergence that
    needs no log (so unlike KL it stays integer-exact):

        TVD(g) = 1/2 * sum_w | c_g(w)/T_g  -  c_r(w)/T_r |

    computed with cleared denominators — every |.| term is
    ``|c_g*T_r - c_r*T_g|`` and the single division happens once at
    the end, so any SQL oracle reproduces it bit-for-bit. Words the
    group never uses are folded in algebraically (their mass is
    ``T_g * (T_r - sum of c_r over the group's OWN words)``), so the
    plan never materializes the group x full-vocab cross product.

    Returns (group_col, n_tokens_slice, n_tokens_rest, tvd_micro) —
    tvd_micro in [0, 1e6], NULL when the rest of the corpus is empty
    (single-group input).

    Scale shape: one (group, word) count, one word-keyed global count
    joined back on the word key (vocab-mass shuffle, linear), totals
    broadcast. Products ride decimal(19,0) -> decimal(38,0), exact to
    ~1e15 tokens per side; past that the final DIV saturates decimal38
    before int64 ever wraps.
    """
    dec = "decimal(19,0)"
    w = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("word"),
    ).filter(F.col("word") != "")
    gc = w.groupBy("grp", "word").agg(F.count(F.lit(1)).alias("c"))
    wc = gc.groupBy("word").agg(F.sum("c").alias("cw"))
    tot = gc.groupBy("grp").agg(F.sum("c").alias("tg"))
    tt = tot.agg(F.sum("tg").alias("t"))
    j = (
        gc.join(wc, "word")
        .join(F.broadcast(tot), "grp")
        .crossJoin(F.broadcast(tt))
        .select(
            "grp",
            "tg",
            (F.col("t") - F.col("tg")).alias("tr"),
            F.col("c"),
            (F.col("cw") - F.col("c")).alias("cr"),
        )
    )
    a = j.groupBy("grp", "tg", "tr").agg(
        F.sum(
            F.abs(
                F.col("c").cast(dec) * F.col("tr").cast(dec)
                - F.col("cr").cast(dec) * F.col("tg").cast(dec)
            )
        ).alias("s1"),
        F.sum("cr").alias("m"),
    )
    num = F.col("s1") + F.col("tg").cast(dec) * (
        F.col("tr").cast(dec) - F.col("m").cast(dec)
    )
    return a.select(
        F.col("grp").alias(group_col),
        F.col("tg").cast("bigint").alias("n_tokens_slice"),
        F.col("tr").cast("bigint").alias("n_tokens_rest"),
        F.when(
            F.col("tr") > 0,
            (num * F.lit(1_000_000)).alias("_n"),
        ).alias("_num"),
    ).select(
        group_col,
        "n_tokens_slice",
        "n_tokens_rest",
        F.expr(
            "CAST(_num DIV (CAST(2 AS decimal(19,0)) "
            "* CAST(n_tokens_slice AS decimal(19,0)) "
            "* CAST(n_tokens_rest AS decimal(19,0))) AS BIGINT)"
        ).alias("tvd_micro"),
    )
