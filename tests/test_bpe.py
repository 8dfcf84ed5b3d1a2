"""BPE merge trainer (operators/bpe.py): greedy-overlap semantics,
deterministic tie-breaks, adversarial tokens, cache hygiene, parity
with the DuckDB oracle chain on adversarial corpora, and a job count
that does not grow with the number of merges."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from konohadataplatform_spark.operators.bpe import (
    bpe_encode_stats,
    bpe_train,
    word_frequencies,
)


def _toks(words, word):
    return list(words.where(F.col("word") == word).first()["toks"])


def test_greedy_left_to_right_overlap(spark):
    # "aaaa" under (a,a): greedy takes 0 and 2 -> [aa, aa];
    # "aaa": takes 0 only -> [aa, a]
    docs = spark.createDataFrame([(1, "aaaa aaa aaaa")], ["doc_id", "text"])
    merges, words = bpe_train(docs, 1)
    assert merges[0][1:3] == ("a", "a")
    assert _toks(words, "aaaa") == ["aa", "aa"]
    assert _toks(words, "aaa") == ["aa", "a"]


def test_tie_break_lexicographic(spark):
    # (a,b) and (b,a) both appear twice; (a,b) < (b,a) must win
    docs = spark.createDataFrame([(1, "ab ab ba ba")], ["doc_id", "text"])
    merges, _ = bpe_train(docs, 1)
    assert merges[0][1:3] == ("a", "b")


def test_merge_counts_freq_weighted(spark):
    docs = spark.createDataFrame(
        [(1, "the the"), (2, "the")], ["doc_id", "text"]
    )
    merges, _ = bpe_train(docs, 2)
    # (h,e) ties (t,h) at 3 each; lexicographic -> (h,e); then (t,he)
    assert merges[0][1:4] == ("h", "e", 3)
    assert merges[1][1:4] == ("t", "he", 3)


def test_adversarial_tokens_quoted(spark):
    # tokens containing SQL-literal metacharacters must round-trip
    # through training
    docs = spark.createDataFrame([(1, "a'b a'b a\\b a\\b")], ["doc_id", "text"])
    merges, words = bpe_train(docs, 2)
    pairs = {(m[1], m[2]) for m in merges}
    assert ("a", "'") in pairs or ("'", "b") in pairs or ("a", "\\") in pairs
    # every word fully rewritten without analysis errors
    assert words.count() == 2


def test_stops_when_fully_merged(spark):
    docs = spark.createDataFrame([(1, "ab ab")], ["doc_id", "text"])
    merges, words = bpe_train(docs, 10)
    assert len(merges) == 1  # single word collapses after one merge
    assert _toks(words, "ab") == ["ab"]


def test_no_cached_relations_leak(spark):
    """Training must leave NOTHING in the SQL CacheManager: every
    intermediate vocab state is unpersisted, and the returned final
    state is a DataFrame over the driver's rows (GC-managed, freed
    when the caller drops the DataFrame — deliberately NOT a
    CacheManager entry nobody can release)."""
    spark.catalog.clearCache()
    docs = spark.createDataFrame([(1, "aa bb aa")], ["doc_id", "text"])
    merges, words = bpe_train(docs, 2)
    words.count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_word_frequencies_drops_empties(spark):
    docs = spark.createDataFrame([(1, "  a   b  a ")], ["doc_id", "text"])
    rows = {r["word"]: r["freq"] for r in word_frequencies(docs).collect()}
    assert rows == {"a": 2, "b": 1}


def test_encode_stats_shape(spark):
    docs = spark.createDataFrame([(1, "ab ab cd")], ["doc_id", "text"])
    _, words = bpe_train(docs, 1)
    row = bpe_encode_stats(words).first()
    assert row["n_words"] == 2
    # ab -> [ab] (1 tok, freq 2), cd -> [c, d]
    assert row["total_tokens"] == 2 * 1 + 1 * 2
    assert row["vocab_size"] == 3  # ab, c, d


def test_encode_docs_memoized_join_and_oov(spark):
    from konohadataplatform_spark.operators.bpe import bpe_encode_docs

    train = spark.createDataFrame([(1, "ab ab cd")], ["doc_id", "text"])
    _, words = bpe_train(train, 1)  # merges (a,b) -> ab
    new = spark.createDataFrame(
        [(7, "ab cd"), (8, "zzz ab")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
            for r in bpe_encode_docs(new, words).collect()}
    # ab -> 1 token, cd -> 2; OOV "zzz" falls back to char count 3
    assert rows[7] == (2, 3)
    assert rows[8] == (2, 4)


def _oracle_train(texts, n_merges):
    """(merges, sorted (word, freq, toks) rows) from the DuckDB oracle
    chain that replays bpe_train for the q_bpe_* queries."""
    from konohadataplatform_spark.queries.llmdata import _bpe_oracle_chain

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        for doc in enumerate(texts):
            con.execute("INSERT INTO documents VALUES (?, ?)", doc)
        chain = _bpe_oracle_chain(n_merges)
        merges = con.execute(
            chain
            + " UNION ALL ".join(
                f"SELECT * FROM t{k}" for k in range(1, n_merges + 1)
            )
            + " ORDER BY merge_rank"
        ).fetchall()
        # a t{k} with no pair left is empty, and so is every later w{k}
        rows = con.execute(
            chain + f" SELECT word, freq, toks FROM w{len(merges)}"
        ).fetchall()
    finally:
        con.close()
    return [tuple(m) for m in merges], sorted(
        (w, f, list(t)) for w, f, t in rows
    )


@pytest.mark.parametrize(
    "texts, n_merges",
    [
        # count ties everywhere: (a,b)/(b,a)/(c,d)/(d,c) all at 2
        (["ab ba ab ba", "cd dc cd dc"], 3),
        # decomposed á (a + U+0301) and an astral character; the
        # (｡,x)/(😀,x) tie is decided by UTF-8 byte order, where U+FF61
        # sorts before U+1F600 (UTF-16 order would put 😀 first)
        (["a\u0301b a\u0301b \U0001F600\U0001F600 \U0001F600x \uFF61x"], 5),
        # SQL-literal metacharacters as tokens
        (["a'b a'b a\\b a\\b '' \\\\ '\\"], 5),
        # one-character vocabulary: no pair, no merge
        (["a a b c a"], 3),
        # more merges asked for than the vocabulary allows
        (["abc abc abd"], 10),
        # empty corpus (and a blank document)
        ([], 2),
        (["   "], 2),
    ],
    ids=[
        "ties", "unicode", "quotes", "one_char", "exhausted", "empty", "blank"
    ],
)
def test_matches_duckdb_oracle_chain(spark, texts, n_merges):
    """Equal merges and equal sorted (word, freq, toks) rows from
    bpe_train and the DuckDB oracle, an independent engine."""
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    merges, words = bpe_train(docs, n_merges)
    rows = sorted(
        (r["word"], r["freq"], list(r["toks"])) for r in words.collect()
    )
    assert (merges, rows) == _oracle_train(texts, n_merges)


def test_job_count_flat_in_merges(spark, group_jobs):
    """Training launches the same number of jobs whatever the merge
    count: the merges are learned on the driver, not one Spark job
    chain per merge."""
    docs = spark.createDataFrame(
        [(1, "abcdefghijkl abcdefghijkl")], ["doc_id", "text"]
    )
    sc = spark.sparkContext
    counts = []
    for n_merges in (2, 8):
        group = f"bpe-jobs-{n_merges}"
        sc.setJobGroup(group, group)
        try:
            merges, _ = bpe_train(docs, n_merges)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(merges) == n_merges
        counts.append(len(group_jobs(group)))
    assert counts[0] == counts[1], counts
