"""BPE merge training over a document corpus (beyond-reference
surface): the byte-pair-encoding trainer every LLM tokenizer pipeline
runs before anything else (Sennrich et al. 2016; GPT-2/RoBERTa-style
word-level pre-tokenization).

Algorithm (classic corpus BPE):

1. collapse the corpus to word frequencies — (word, freq) — and seed
   each word's token list with its characters;
2. repeat ``n_merges`` times: count adjacent token pairs weighted by
   word frequency, pick the most frequent pair (ties: lexicographic
   lowest (left, right) — a deterministic rule both engines replay),
   then rewrite every word, merging non-overlapping occurrences of the
   pair GREEDILY LEFT-TO-RIGHT (the HuggingFace/GPT-2 convention:
   "aaa" under merge (a,a) becomes ["aa", "a"]).

Everything is exact integer counts and deterministic tie-breaks, so a
SQL oracle reproduces the merge table bit-for-bit.

The 100 TB shape — why this layout IS the scalable BPE trainer:

- the ONLY corpus-scale job is the word-frequency aggregate (one
  partial+final groupBy of tokens); everything after runs on the
  VOCAB-sized (word, freq, tokens) relation — millions of rows at web
  scale, not billions of documents;
- that relation is collected once and the merges are learned in
  Python on the driver: no Spark job per merge, so a merge costs its
  pass over the vocabulary, not a job launch. The limit is driver
  memory, and it counts bytes, not rows: every word is held as a
  Python token list, so a vocabulary of unusually long words costs
  more per row. Spark's own guard applies to the fetch: a vocabulary
  whose serialized rows exceed ``spark.driver.maxResultSize`` fails
  the collect with an error (the Python token lists then built from
  the rows take several times their serialized size).

Why not a Spark job chain per merge (a pair-count aggregate plus a
cached greedy rewrite each): timed against the driver loop at 4
merges, it was slower up to 30k distinct words and faster only from
about 100k, and at 16 merges or more it ran out of a 1g driver heap
even on 1k words.

Greedy left-to-right selection: scan the pair's match positions
ascending, take a match unless it overlaps the previously taken one
(i == last_taken + 1). The DuckDB oracle replays the same rule as a
list_reduce fold over the match positions, bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F


def word_frequencies(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, freq): whitespace words of the trimmed text, empty
    strings dropped. The one corpus-scale aggregate of BPE training."""
    return (
        docs.select(
            F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_pair(toks: list[str], left: str, right: str) -> list[str]:
    """``toks`` with every (left, right) occurrence merged greedily
    left to right."""
    out: list[str] = []
    i, n = 0, len(toks)
    while i < n:
        if i + 1 < n and toks[i] == left and toks[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def _train_on_driver(
    rows: list[Row], n_merges: int
) -> tuple[list[tuple[int, str, str, int]], list[tuple[str, int, list[str]]]]:
    """The merge loop over the collected (word, freq, toks) rows:
    freq-weighted adjacent pair counts as Python ints, the top pair by
    ``desc(cnt), asc(l), asc(r)`` in Spark's binary (UTF-8 byte)
    string order, a stop when no pair remains, and the greedy
    left-to-right rewrite. Returns (merges, final (word, freq, toks)
    rows)."""
    state = [(r["word"], r["freq"], list(r["toks"])) for r in rows]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for _, freq, toks in state:
            for pair in zip(toks, toks[1:]):
                counts[pair] = counts.get(pair, 0) + freq
        if not counts:  # vocabulary fully merged
            break
        (l, r), cnt = min(
            counts.items(),
            key=lambda kv: (
                -kv[1], kv[0][0].encode("utf-8"), kv[0][1].encode("utf-8")
            ),
        )
        merges.append((rank, l, r, cnt))
        state = [(w, f, _merge_pair(t, l, r)) for w, f, t in state]
    return merges, state


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Train ``n_merges`` BPE merges on the corpus.

    Returns (merges, words): ``merges`` is the learned merge table
    [(merge_rank, left, right, pair_count)] — rank 1 first — and
    ``words`` the final (word, freq, toks) vocabulary state with all
    merges applied (a DataFrame over the driver's rows; reuse it to
    encode or continue training).

    The word-frequency aggregate runs in Spark; its (word, freq, toks)
    rows are collected once and the merges learned in Python on the
    driver, with no Spark job per merge. The whole vocabulary must fit
    in driver memory, which depends on its bytes, not its row count:
    unusually long words cost more per row.
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    words = word_frequencies(docs, text_col).withColumn(
        "toks", F.split("word", "")
    )
    merges, state = _train_on_driver(words.collect(), n_merges)
    return merges, words.sparkSession.createDataFrame(state, words.schema)


def bpe_encode_stats(words: DataFrame) -> DataFrame:
    """One-row corpus stats for a trained vocabulary state:
    (n_words, vocab_size, total_tokens) — total corpus tokens under
    the current merges (freq-weighted) and the distinct-token count."""
    toks = words.select(
        "freq", F.size("toks").alias("n"), F.explode("toks").alias("tok")
    )
    return toks.agg(
        F.countDistinct("tok").alias("vocab_size"),
    ).crossJoin(
        words.agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.col("freq") * F.size("toks")).alias("total_tokens"),
        )
    ).select("n_words", "vocab_size", "total_tokens")


def bpe_encode_docs(
    docs: DataFrame,
    words: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus with a trained vocabulary state:
    (doc_id, n_words, n_bpe_tokens) per document.

    This is the production BPE-encode shape: because merge application
    is a pure function of the word, the trained (word, toks) relation
    IS the memoization table — encoding a document is a word-level
    JOIN against it, not a re-run of the merge loop per token. At
    100 TB the vocab side is millions of rows (broadcast or bucketed
    on word); the corpus side shuffles once on the word key at most —
    here Spark picks the join strategy via AQE.

    Words absent from the vocabulary (possible when encoding NEW text
    with a vocab trained elsewhere) fall back to character count —
    exactly what a char-seeded BPE does for OOV words.
    """
    doc_words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("word"),
    ).where(F.col("word") != "")
    vocab = words.select("word", F.size("toks").alias("n_toks"))
    return (
        doc_words.join(vocab, "word", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_toks"), F.length("word")).alias("n_toks"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_toks").alias("n_bpe_tokens"),
        )
    )


def tokenizer_fertility(
    docs: DataFrame,
    words: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer fertility audit per corpus slice (Ács 2019; the
    standard multilingual-tokenizer health check): BPE tokens per
    whitespace word and characters per BPE token, aggregated by
    ``group_col`` (language, source, domain...).

    A tokenizer trained on one distribution "fragments" others —
    fertility (tokens/word) far above the training slice's means the
    slice pays more sequence length per content unit, which skews both
    token-budgeted shard packing and per-language quota math. This
    surfaces that in one integer-exact relation:

    (group, n_docs, total_words, total_bpe_tokens, total_chars,
     bpe_per_word_micro, chars_per_token_micro) — ratios are
    integer-scaled (1e6) single divisions, so SQL-oracle parity is
    exact.

    Plan shape: reuses :func:`bpe_encode_docs`' memoized word-join
    counts (the vocab relation IS the memo table), then one groupBy on
    the slice key — corpus text never shuffles, only (doc_id, counts).
    """
    counts = bpe_encode_docs(docs, words, text_col=text_col, id_col=id_col)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("grp"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("_nchars"),
    )
    per_doc = base.join(counts, "doc_id", "left").select(
        "grp",
        "_nchars",
        F.coalesce("n_words", F.lit(0)).alias("_nw"),
        F.coalesce("n_bpe_tokens", F.lit(0)).alias("_nt"),
    )
    agg = per_doc.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nw").alias("total_words"),
        F.sum("_nt").alias("total_bpe_tokens"),
        F.sum("_nchars").alias("total_chars"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("total_words").cast("bigint").alias("total_words"),
        F.col("total_bpe_tokens").cast("bigint").alias("total_bpe_tokens"),
        F.col("total_chars").cast("bigint").alias("total_chars"),
        F.when(
            F.col("total_words") > 0,
            F.expr("total_bpe_tokens * 1000000 DIV total_words"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("bpe_per_word_micro"),
        F.when(
            F.col("total_bpe_tokens") > 0,
            F.expr("total_chars * 1000000 DIV total_bpe_tokens"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("chars_per_token_micro"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer trainer (round 12 — the SentencePiece/Kudo 2018
# half of the production tokenizer space, next to BPE above).
# ---------------------------------------------------------------------------

def _unigram_pos(words: DataFrame) -> DataFrame:
    """(word, freq, i): one row per 1-based character position."""
    return words.select(
        "word",
        "freq",
        F.explode(F.expr("sequence(1, length(word))")).alias("i"),
    )


def _unigram_candidates(
    words: DataFrame, max_piece_len: int
) -> DataFrame:
    """(word, freq, i, l, piece): every multi-char substring of every
    word, lengths 2..max_piece_len — the unigram seed lattice. Sized
    |vocab| x word_len x max_piece_len (vocab-scale, never
    corpus-scale: words are already frequency-collapsed)."""
    L = int(max_piece_len)
    return (
        _unigram_pos(words)
        .select(
            "word",
            "freq",
            "i",
            F.explode(
                F.expr(
                    f"if(length(word) - i + 1 >= 2, "
                    f"sequence(2, least({L}, length(word) - i + 1)), "
                    "cast(array() as array<int>))"
                )
            ).alias("l"),
        )
        .withColumn(
            "piece", F.expr("substring(word, i, l)")
        )
    )


# greedy longest-match walk over the per-position best-piece lengths:
# fold positions ascending, take position x iff it is exactly where
# the previous taken piece ends. Position 1 is always taken (init).
# The same fold, spelled in DuckDB list_reduce, drives the oracle —
# both engines replay identical segmentations.
_UNIGRAM_WALK = """
transform(
  aggregate(
    sequence(1, size(plens)), array(1),
    (acc, x) -> if(x = element_at(acc, -1)
                       + element_at(plens, element_at(acc, -1)),
                   concat(acc, array(x)), acc)),
  j -> substring(word, j, element_at(plens, j)))
"""


def _unigram_segment_state(
    words: DataFrame, cand: DataFrame, vocab: DataFrame
) -> DataFrame:
    """(word, freq, toks): segment every word with the current piece
    vocabulary by GREEDY LONGEST MATCH (ties impossible: one best
    length per position), single characters implicitly in-vocab (the
    SentencePiece character-coverage rule) — so segmentation is total
    and deterministic.

    Plan: the candidate lattice semi-joins the vocab on `piece` (AQE
    broadcasts the vocab side — it is vocab_size rows), a per-(word,
    pos) max picks the longest match, and one fold per word walks the
    lattice. Every relation is vocab-scale; corpus text is never
    touched here.
    """
    matched = (
        cand.join(vocab.select("piece"), "piece", "left_semi")
        .groupBy("word", "i")
        .agg(F.max("l").alias("_ml"))
    )
    best = _unigram_pos(words).join(matched, ["word", "i"], "left").select(
        "word",
        "freq",
        "i",
        F.coalesce("_ml", F.lit(1)).alias("plen"),
    )
    return (
        best.groupBy("word", "freq")
        .agg(
            F.array_sort(F.collect_list(F.struct("i", "plen"))).alias("_bp")
        )
        .withColumn("plens", F.expr("transform(_bp, x -> x.plen)"))
        .withColumn("toks", F.expr(_UNIGRAM_WALK))
        .select("word", "freq", "toks")
    )


def unigram_train(
    docs: DataFrame,
    vocab_size: int = 50,
    max_piece_len: int = 3,
    iters: int = 1,
    min_usage: int = 2,
    seed_mult: int = 4,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Train a unigram-LM (SentencePiece-style) piece vocabulary —
    the deterministic, integer-exact hard-EM variant:

    1. SEED: every multi-char substring (lengths 2..max_piece_len) of
       the frequency-collapsed word list, freq-weighted; keep the
       ``seed_mult * vocab_size`` most frequent (ties: lexicographic
       piece) with at least ``min_usage`` occurrences — the "make a
       big seed vocab from frequent substrings" step of Kudo 2018 §3.2;
    2. ``iters`` x (SEGMENT, COUNT, PRUNE): segment every word by
       greedy longest match against the current vocab (single chars
       always available — character coverage), count freq-weighted
       piece usage in the realized segmentation, prune to the
       ``vocab_size`` highest-usage multi-char pieces (usage >=
       ``min_usage``; ties lexicographic). Hard (Viterbi-style) counts
       instead of full forward-backward expectations keep every step
       exact integer arithmetic — the same determinism contract as
       :func:`bpe_train`, which is what lets a SQL oracle replay
       training bit-for-bit;
    3. final SEGMENT under the surviving vocabulary.

    Returns (vocab, words): ``vocab`` = (piece_rank, piece, usage)
    ranked by the final pruning round's usage; ``words`` = (word,
    freq, toks) — the same memoized vocabulary-state shape
    :func:`bpe_train` returns, so :func:`bpe_encode_docs` /
    :func:`tokenizer_fertility` consume either tokenizer's output
    unchanged (the BPE-vs-unigram comparison is one union away).

    The 100 TB shape, exactly like BPE's: the ONLY corpus-scale job is
    the word-frequency aggregate; the candidate lattice, every
    segmentation, and every usage count run on vocab-sized relations
    (millions of distinct words, not billions of documents). Per
    round: one semi-join + two vocab-sized aggregates. The final top-K
    prune is a global sort-limit of a vocab-bounded relation.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if max_piece_len < 2:
        raise ValueError("max_piece_len must be >= 2")
    words = word_frequencies(docs, text_col).cache()
    cand = _unigram_candidates(words, max_piece_len).cache()
    seed_size = int(seed_mult) * int(vocab_size)
    vocab = (
        cand.groupBy("piece")
        .agg(F.sum("freq").alias("usage"))
        .where(F.col("usage") >= int(min_usage))
        .orderBy(F.desc("usage"), F.asc("piece"))
        .limit(seed_size)
        .select("piece")
    )
    prev_cache: DataFrame | None = None
    vocab_rel: DataFrame | None = None
    for _ in range(iters):
        seg = _unigram_segment_state(words, cand, vocab)
        usage = (
            seg.select("freq", F.explode("toks").alias("piece"))
            .where(F.length("piece") >= 2)
            .groupBy("piece")
            .agg(F.sum("freq").alias("usage"))
        )
        vocab_rel = (
            usage.where(F.col("usage") >= int(min_usage))
            .orderBy(F.desc("usage"), F.asc("piece"))
            .limit(int(vocab_size))
            .cache()
        )
        vocab_rel.count()  # materialize before dropping the parent
        if prev_cache is not None:
            prev_cache.unpersist()
        prev_cache = vocab_rel
        vocab = vocab_rel.select("piece")
    from pyspark.sql.window import Window

    # vocab-sized relation: the single-partition rank window is
    # metadata, not data (the bpe merge-table convention)
    final_vocab = vocab_rel.withColumn(
        "piece_rank",
        F.row_number()
        .over(Window.orderBy(F.desc("usage"), F.asc("piece")))
        .cast("int"),
    ).select("piece_rank", "piece", F.col("usage").cast("bigint").alias("usage"))
    words_state = _unigram_segment_state(words, cand, vocab)
    # the lifecycle contract bpe_train keeps too: nothing lingers in
    # the CacheManager — hand the results to the GC via localCheckpoint
    # (blocks free when the caller drops the frames), then release
    # every cache
    final_vocab = final_vocab.localCheckpoint(eager=True)
    words_state = words_state.localCheckpoint(eager=True)
    vocab_rel.unpersist()
    cand.unpersist()
    words.unpersist()
    return final_vocab, words_state


# ---------------------------------------------------------------------------
# Unigram-LM EM expectation pass (round 13 — one rung up from the
# hard-EM greedy-longest trainer above, per the r12 verdict).
# ---------------------------------------------------------------------------

def _em_alpha_terms(L: int) -> str:
    """Forward-DP fold body: at step x (computing A[x], the count of
    segmentations of the prefix of length x-1), sum the paths arriving
    via a piece of each length l."""
    return " + ".join(
        f"if(x - 1 >= {ln} and array_contains("
        f"element_at(lens, x - {ln}), {ln}), "
        f"element_at(acc, x - {ln}), 0L)"
        for ln in range(1, L + 1)
    )


def _em_beta_terms(L: int) -> str:
    """Backward-DP fold body (reversed storage: acc[m] = B[n+2-m])."""
    return " + ".join(
        f"if({ln} < m and array_contains("
        f"element_at(lens, size(lens) + 2 - m), {ln}), "
        f"element_at(acc, m - {ln}), 0L)"
        for ln in range(1, L + 1)
    )


def unigram_em_usage(
    words: DataFrame,
    cand: DataFrame,
    vocab: DataFrame,
    max_piece_len: int = 3,
    scale: int = 1_000_000,
    max_word_len: int = 48,
) -> DataFrame:
    """(piece, usage_em): EXPECTED piece usage under the uniform-path
    segmentation model — the integer-exact EM expectation step the r12
    hard-EM trainer lacked (Kudo 2018 §3.2 runs EM with forward-
    backward expectations; the full algorithm weights paths by piece
    probabilities, which needs float log-space — this variant weights
    all segmentations EQUALLY, keeping every quantity an exact int64
    a SQL oracle replays bit-for-bit).

    Forward-backward by path COUNTING: per word, ``A[i]`` = number of
    segmentations of the prefix ending before position ``i`` and
    ``B[j]`` = number of segmentations of the suffix from ``j``
    (single characters always available — coverage — plus the vocab's
    multi-char pieces); the expected count of an occurrence of piece
    (i, l) is ``A[i] * B[i+l] / A[n+1]``, emitted scaled:

        usage_em(piece) = sum over words, occurrences of
            freq * ((A[i] * B[i+l] * scale) div A[n+1])

    Both DP folds are pure column expressions (aggregate over the
    position sequence, the piece-length sum unrolled at plan time),
    so the whole pass runs on the VOCAB-sized lattice — the bpe_train
    contract: no corpus-scale job anywhere here.

    Exactness bound: ``A[n+1] * scale`` must fit int64. Path counts
    grow ~1.84^n (the L=3 tribonacci rate), so words longer than
    ``max_word_len`` = 48 would overflow (1.84^48 * 1e6 ~ 5e18) —
    guarded with a loud raise_error (the lang_temperature_quota
    convention); web-scale callers pre-split absurd tokens or lower
    ``scale``.
    """
    L = int(max_piece_len)
    matched = cand.join(vocab.select("piece"), "piece", "left_semi")
    per_start = matched.groupBy("word", "i").agg(
        F.sort_array(F.collect_list("l")).alias("_ls")
    )
    pos = _unigram_pos(words)
    lens_rows = pos.join(per_start, ["word", "i"], "left").select(
        "word",
        "freq",
        "i",
        F.concat(
            F.array(F.lit(1)),
            F.coalesce("_ls", F.expr("cast(array() as array<int>)")),
        ).alias("ls"),
    )
    lattice = (
        lens_rows.groupBy("word", "freq")
        .agg(F.array_sort(F.collect_list(F.struct("i", "ls"))).alias("_p"))
        .withColumn("lens", F.expr("transform(_p, x -> x.ls)"))
        .drop("_p")
        .withColumn(
            "lens",
            F.expr(
                f"if(size(lens) <= {int(max_word_len)}, lens, "
                "raise_error(concat('unigram_em_usage: word longer than "
                f"{int(max_word_len)} chars — path count * scale would "
                "overflow int64; pre-split the token or lower scale: ', "
                "word)))"
            ),
        )
        .withColumn(
            "alpha",
            F.expr(
                "aggregate(sequence(2, size(lens) + 1), array(1L), "
                f"(acc, x) -> concat(acc, array({_em_alpha_terms(L)})))"
            ),
        )
        .withColumn(
            "beta",
            F.expr(
                "aggregate(sequence(2, size(lens) + 1), array(1L), "
                f"(acc, m) -> concat(acc, array({_em_beta_terms(L)})))"
            ),
        )
    )
    exp_expr = F.expr(
        "freq * ((element_at(alpha, i) * "
        "element_at(beta, size(lens) + 2 - (i + l)) * "
        f"{int(scale)}L) div element_at(alpha, size(lens) + 1))"
    )
    # per-occurrence terms are bounded by the max_word_len guard at
    # ~5e18 — already most of int64 — so the SUM accumulates in
    # decimal(38,0) (the importance_weights convention) and converts
    # back to int64 LOUDLY: a non-ANSI bigint sum would wrap silently,
    # while the DuckDB oracle's CAST(SUM(e) AS BIGINT) (HUGEINT sum)
    # raises — this keeps both engines loud on the same inputs.
    return (
        matched.join(lattice.select("word", "lens", "alpha", "beta"), "word")
        .select("piece", exp_expr.alias("_e"))
        .groupBy("piece")
        .agg(F.sum(F.col("_e").cast("decimal(38,0)")).alias("_ue"))
        .select(
            "piece",
            F.expr(
                "if(_ue between -9223372036854775808 and "
                "9223372036854775807, cast(_ue as bigint), "
                "raise_error(concat('unigram_em_usage: expected usage "
                "overflows int64 for piece ', piece)))"
            ).alias("usage_em"),
        )
    )


def _emp_alpha_terms(L: int) -> str:
    """Probability-weighted forward-DP fold body: like
    :func:`_em_alpha_terms` but each arriving path is multiplied by the
    piece's probability (``wts[j][l]``; 0.0 encodes unavailability, so
    no array_contains test is needed). All ops are IEEE
    exactly-rounded (+, *), so a SQL oracle replays the floats
    bit-for-bit."""
    return " + ".join(
        f"if(x - 1 >= {ln}, element_at(acc, x - {ln}) * "
        f"element_at(element_at(wts, x - {ln}), {ln}), "
        "cast(0.0 as double))"
        for ln in range(1, L + 1)
    )


def _emp_beta_terms(L: int) -> str:
    """Probability-weighted backward-DP fold body (reversed storage:
    acc[m] = B[n+2-m], each term weighted by wts[j][l])."""
    return " + ".join(
        f"if({ln} < m, "
        f"element_at(element_at(wts, size(wts) + 2 - m), {ln}) * "
        f"element_at(acc, m - {ln}), cast(0.0 as double))"
        for ln in range(1, L + 1)
    )


def unigram_em_prob_usage(
    words: DataFrame,
    cand: DataFrame,
    vocab_probs: DataFrame,
    max_piece_len: int = 3,
    scale: int = 1_000_000,
    max_word_len: int = 48,
    char_floor: float = 1e-6,
) -> DataFrame:
    """(piece, usage_emp): expected piece usage under the
    PROBABILITY-WEIGHTED segmentation model — the full Kudo 2018 §3.2
    E-step the uniform-path pass (:func:`unigram_em_usage`)
    approximates. ``vocab_probs`` is (piece, p double); paths are
    weighted by the product of their pieces' probabilities:

        A[1] = 1;  A[i] = sum_l A[i-l] * p(piece at i-l, len l)
        B[n+1] = 1; B[j] = sum_l p(piece at j, len l) * B[j+l]
        E[occurrence (i, l)] = A[i] * p * B[i+l] / A[n+1]

    Single characters are always available (coverage) at the
    ``char_floor`` backoff probability — the candidate lattice only
    holds multi-char pieces, so an unmatched character never zeroes a
    word's likelihood (SentencePiece's unseen-character penalty plays
    the same role).

    ENGINE-PORTABILITY CONTRACT (why no log-space): the DP uses only
    +, *, / — IEEE exactly-rounded ops every engine computes
    bit-identically in a pinned evaluation order — where log/exp
    (java.lang.Math vs C libm) differ in final ulps across engines.
    Underflow is bounded: A[n+1] >= char_floor^n >= 1e-288 at the
    ``max_word_len`` = 48 guard, inside double range. Each
    per-occurrence expectation (<= 1) is snapped to ``scale`` micro
    units BEFORE the cross-row sum, so the aggregation is integer —
    exact and order-independent under Spark's nondeterministic
    reduction order (a raw float SUM would not be reproducible).
    The sum accumulates in decimal(38,0) with a loud int64 conversion,
    the :func:`unigram_em_usage` convention.
    """
    L = int(max_piece_len)
    matched = cand.join(vocab_probs, "piece")
    per_start = matched.groupBy("word", "i").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("l"), F.col("p")))
        ).alias("_pm")
    )
    pos = _unigram_pos(words)
    floor_sql = repr(float(char_floor))
    wts_rows = pos.join(per_start, ["word", "i"], "left").select(
        "word",
        "freq",
        "i",
        F.expr(
            f"transform(sequence(1, {L}), m -> "
            f"coalesce(element_at(_pm, m), "
            f"if(m = 1, cast({floor_sql} as double), "
            "cast(0.0 as double))))"
        ).alias("ws"),
    )
    lattice = (
        wts_rows.groupBy("word", "freq")
        .agg(F.array_sort(F.collect_list(F.struct("i", "ws"))).alias("_p"))
        .withColumn("wts", F.expr("transform(_p, x -> x.ws)"))
        .drop("_p")
        .withColumn(
            "wts",
            F.expr(
                f"if(size(wts) <= {int(max_word_len)}, wts, "
                "raise_error(concat('unigram_em_prob_usage: word longer "
                f"than {int(max_word_len)} chars — the forward mass "
                "would leave double range; pre-split the token: ', "
                "word)))"
            ),
        )
        .withColumn(
            "alpha",
            F.expr(
                "aggregate(sequence(2, size(wts) + 1), "
                "array(cast(1.0 as double)), "
                f"(acc, x) -> concat(acc, array({_emp_alpha_terms(L)})))"
            ),
        )
        .withColumn(
            "beta",
            F.expr(
                "aggregate(sequence(2, size(wts) + 1), "
                "array(cast(1.0 as double)), "
                f"(acc, m) -> concat(acc, array({_emp_beta_terms(L)})))"
            ),
        )
    )
    exp_expr = F.expr(
        "freq * cast(floor((((element_at(alpha, i) * "
        "element_at(element_at(wts, i), l)) * "
        "element_at(beta, size(wts) + 2 - (i + l))) / "
        f"element_at(alpha, size(wts) + 1)) * {int(scale)}.0) as bigint)"
    )
    return (
        matched.join(lattice.select("word", "wts", "alpha", "beta"), "word")
        .select("piece", exp_expr.alias("_e"))
        .groupBy("piece")
        .agg(F.sum(F.col("_e").cast("decimal(38,0)")).alias("_ue"))
        .select(
            "piece",
            F.expr(
                "if(_ue between -9223372036854775808 and "
                "9223372036854775807, cast(_ue as bigint), "
                "raise_error(concat('unigram_em_prob_usage: expected "
                "usage overflows int64 for piece ', piece)))"
            ).alias("usage_emp"),
        )
    )


def unigram_train_em_prob(
    docs: DataFrame,
    vocab_size: int = 50,
    max_piece_len: int = 3,
    min_usage: int = 2,
    seed_mult: int = 4,
    scale: int = 1_000_000,
    text_col: str = "text",
    char_floor: float = 1e-6,
    want_words: bool = True,
) -> tuple[DataFrame, DataFrame | None]:
    """Unigram-LM training with ONE probability-weighted EM iteration
    (the :func:`unigram_train_em` ladder's last rung): seed as usual,
    estimate initial piece probabilities from the uniform-path
    expected usages (p0 = usage_em / sum(usage_em) — exact-int inputs,
    one exactly-rounded division), run the weighted E-step
    (:func:`unigram_em_prob_usage`), keep the ``vocab_size`` best by
    expected usage, decode greedy-longest. Further EM iterations are
    the same operator re-applied to the re-normalized usages; one
    iteration is the registered, oracle-checked contract.

    Returns (vocab, words) in the :func:`unigram_train` shapes
    (vocab usage = scaled weighted expected usage)."""
    if max_piece_len < 2:
        raise ValueError("max_piece_len must be >= 2")
    words = word_frequencies(docs, text_col).cache()
    cand = _unigram_candidates(words, max_piece_len).cache()
    seed_size = int(seed_mult) * int(vocab_size)
    seed = (
        cand.groupBy("piece")
        .agg(F.sum("freq").alias("usage"))
        .where(F.col("usage") >= int(min_usage))
        .orderBy(F.desc("usage"), F.asc("piece"))
        .limit(seed_size)
        .select("piece")
    )
    em0 = unigram_em_usage(
        words, cand, seed, max_piece_len=max_piece_len, scale=scale
    )
    # 1-row total: the scalar-broadcast convention (see
    # tests/test_broadcast_audit.py). Accumulate in decimal(38,0) and
    # convert loudly — a non-ANSI bigint SUM would wrap silently while
    # the DuckDB oracle's CAST(SUM AS BIGINT) raises (the same
    # loud/loud symmetry unigram_em_usage keeps).
    tot = em0.agg(
        F.sum(F.col("usage_em").cast("decimal(38,0)")).alias("_td")
    ).select(
        F.expr(
            "if(_td between -9223372036854775808 and "
            "9223372036854775807, cast(_td as bigint), "
            "raise_error('unigram_train_em_prob: total expected usage "
            "overflows int64'))"
        ).alias("_tot")
    )
    probs = em0.crossJoin(F.broadcast(tot)).select(
        "piece",
        (
            F.col("usage_em").cast("double") / F.col("_tot").cast("double")
        ).alias("p"),
    )
    emp = unigram_em_prob_usage(
        words,
        cand,
        probs,
        max_piece_len=max_piece_len,
        scale=scale,
        char_floor=char_floor,
    )
    vocab_rel = (
        emp.where(F.col("usage_emp") >= int(min_usage) * int(scale))
        .orderBy(F.desc("usage_emp"), F.asc("piece"))
        .limit(int(vocab_size))
        .cache()
    )
    vocab_rel.count()
    from pyspark.sql.window import Window

    final_vocab = vocab_rel.withColumn(
        "piece_rank",
        F.row_number()
        .over(Window.orderBy(F.desc("usage_emp"), F.asc("piece")))
        .cast("int"),
    ).select(
        "piece_rank", "piece",
        F.col("usage_emp").cast("bigint").alias("usage"),
    )
    # want_words=False skips the final segmentation + its eager
    # checkpoint (see unigram_train_em — same dead-work contract)
    words_state = (
        _unigram_segment_state(words, cand, vocab_rel.select("piece"))
        if want_words
        else None
    )
    final_vocab = final_vocab.localCheckpoint(eager=True)
    if words_state is not None:
        words_state = words_state.localCheckpoint(eager=True)
    vocab_rel.unpersist()
    cand.unpersist()
    words.unpersist()
    return final_vocab, words_state


def unigram_train_em(
    docs: DataFrame,
    vocab_size: int = 50,
    max_piece_len: int = 3,
    min_usage: int = 2,
    seed_mult: int = 4,
    scale: int = 1_000_000,
    text_col: str = "text",
    want_words: bool = True,
) -> tuple[DataFrame, DataFrame | None]:
    """Unigram-LM training with the EM expectation prune: seed exactly
    like :func:`unigram_train`, rank the seed pieces by
    :func:`unigram_em_usage` (expected usage over ALL segmentations,
    not the single greedy path), keep the ``vocab_size`` best with
    expected usage >= ``min_usage * scale`` (the hard trainer's
    min_usage in scaled units), then decode with the deterministic
    greedy-longest segmentation — EM for estimation, Viterbi-style
    decode, the SentencePiece split.

    Returns (vocab, words) in the same shapes as :func:`unigram_train`
    (vocab usage = scaled expected usage). Same 100 TB contract: the
    word-frequency aggregate is the only corpus-scale job.

    ``want_words=False`` (r15): callers that only need the vocabulary
    skip the final greedy segmentation + its eager checkpoint job
    entirely (the words slot returns None). The lifecycle contract
    forces words_state to materialize BEFORE the caches release, so a
    discarded second return value still cost a full segmentation pass
    — dead work the flag removes. Vocab bytes are identical either
    way.
    """
    if max_piece_len < 2:
        raise ValueError("max_piece_len must be >= 2")
    words = word_frequencies(docs, text_col).cache()
    cand = _unigram_candidates(words, max_piece_len).cache()
    seed_size = int(seed_mult) * int(vocab_size)
    seed = (
        cand.groupBy("piece")
        .agg(F.sum("freq").alias("usage"))
        .where(F.col("usage") >= int(min_usage))
        .orderBy(F.desc("usage"), F.asc("piece"))
        .limit(seed_size)
        .select("piece")
    )
    em = unigram_em_usage(
        words, cand, seed, max_piece_len=max_piece_len, scale=scale
    )
    vocab_rel = (
        em.where(F.col("usage_em") >= int(min_usage) * int(scale))
        .orderBy(F.desc("usage_em"), F.asc("piece"))
        .limit(int(vocab_size))
        .cache()
    )
    vocab_rel.count()
    from pyspark.sql.window import Window

    final_vocab = vocab_rel.withColumn(
        "piece_rank",
        F.row_number()
        .over(Window.orderBy(F.desc("usage_em"), F.asc("piece")))
        .cast("int"),
    ).select(
        "piece_rank", "piece",
        F.col("usage_em").cast("bigint").alias("usage"),
    )
    words_state = (
        _unigram_segment_state(words, cand, vocab_rel.select("piece"))
        if want_words
        else None
    )
    final_vocab = final_vocab.localCheckpoint(eager=True)
    if words_state is not None:
        words_state = words_state.localCheckpoint(eager=True)
    vocab_rel.unpersist()
    cand.unpersist()
    words.unpersist()
    return final_vocab, words_state
