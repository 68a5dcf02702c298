"""Trained BPE tokenizer (operators/bpe.py): distributed substrate
(histogram + pair counts) differential-fuzzed vs the verbatim DuckDB
replay; the incremental merge loop vs an independent NAIVE
recount-per-iteration reference trainer; and the Arrow-batched encoder
vs a driver-side re-encode plus its reconstruction invariant."""

from __future__ import annotations

import random

import duckdb

from recon_spark.operators import bpe
from recon_spark.oracles import llm_sql


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _oracle(rows, sql):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    out = con.sql(sql).fetchall()
    con.close()
    return out


# ---------------------------------------------------------------- naive
# reference trainer: recount ALL pair stats from the vocabulary every
# iteration (the paper's algorithm verbatim, no incremental updates) —
# an independent implementation the fast trainer must match exactly.


def _naive_pair_stats(vocab: dict[tuple[str, ...], int]):
    stats: dict[tuple[str, str], int] = {}
    for word, freq in vocab.items():
        for i in range(len(word) - 1):
            p = (word[i], word[i + 1])
            stats[p] = stats.get(p, 0) + freq
    return stats


def _reference_train(word_freqs: dict[str, int], n_merges: int):
    """Naive trainer: full recount each iteration."""
    vocab = {tuple(w) + (bpe.END_WORD,): f for w, f in word_freqs.items()}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        stats = _naive_pair_stats(vocab)
        if not stats:
            break
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        new_vocab: dict[tuple[str, ...], int] = {}
        for w, f in vocab.items():
            nw = bpe.merge_word(w, best)
            new_vocab[nw] = new_vocab.get(nw, 0) + f
        vocab = new_vocab
    return merges


def _rand_word_freqs(rnd: random.Random, n: int) -> dict[str, int]:
    alphabet = "ab" if rnd.random() < 0.5 else "abcde"
    out: dict[str, int] = {}
    for _ in range(n):
        w = "".join(rnd.choice(alphabet) for _ in range(rnd.randrange(1, 8)))
        out[w] = out.get(w, 0) + rnd.randrange(1, 9)
    return out


def test_incremental_trainer_matches_naive_recount(spark):
    """The incremental-update merge loop must produce the exact merge
    sequence of the recount-everything reference — including on tiny
    alphabets where overlapping repeats (aaa, ababab) and vocab
    collisions (two words collapsing to one tuple) are dense."""
    rnd = random.Random(0xB9E12)
    for _trial in range(20):
        wf = _rand_word_freqs(rnd, rnd.randrange(1, 40))
        hist = spark.createDataFrame(
            [(w, n) for w, n in wf.items()], "word string, n long"
        )
        got = bpe.bpe_train(hist=hist, n_merges=30)
        want = _reference_train(wf, 30)
        assert got == want, (wf, got, want)


def test_trainer_overlap_and_collision_cases(spark):
    """Hand-picked pathologies: overlapping pairs count every adjacent
    position but merge leftmost-greedy; merged words collapsing onto a
    pre-existing vocab entry must add frequencies without double-
    counting index positions."""
    cases = [
        {"aaa": 5},                      # overlap: (a,a) counts twice/word
        {"ababab": 3, "ab": 7},          # chain merges
        {"banana": 2, "bandana": 2},
        {"aa": 1, "aaa": 1, "aaaa": 1},  # collisions after merging (a,a)
        {"a": 4},                        # single-char word: one pair (a,</w>)
    ]
    for wf in cases:
        hist = spark.createDataFrame(
            [(w, n) for w, n in wf.items()], "word string, n long"
        )
        assert bpe.bpe_train(hist=hist, n_merges=20) == _reference_train(wf, 20)


def test_substrate_differential_fuzz(spark):
    """Random ugly corpora through word_histogram + pair_counts +
    histogram_parity vs the verbatim BPE_PAIR_COUNTS_SQL replay."""
    from pyspark.sql import functions as F

    from tests.test_dedup_fuzz import _corpus

    rnd = random.Random(0xB9EFA)
    for _trial in range(3):
        rows = _corpus(rnd, 60)
        docs = _df(spark, rows)
        hist = bpe.word_histogram(docs)
        out = bpe.pair_counts(hist).crossJoin(
            F.broadcast(bpe.histogram_parity(hist))
        )
        got = sorted(tuple(r) for r in out.collect())
        want = sorted(_oracle(rows, llm_sql.BPE_PAIR_COUNTS_SQL))
        assert got == want


def test_pair_counts_empty_corpus(spark):
    """All-null / empty corpus: zero pair rows (the parity fold is
    crossJoined on the graded row, so an empty left side is fine)."""
    docs = _df(spark, [(1, None), (2, ""), (3, "  \t ")])
    assert bpe.pair_counts(bpe.word_histogram(docs)).count() == 0
    par = bpe.histogram_parity(bpe.word_histogram(docs)).first()
    assert (par.n_dist_words, par.total_words, par.hist_ck) == (0, 0, 0)


def test_encode_matches_driver_and_reconstructs(spark):
    """Distributed encode == driver-side encode_word per document, and
    concatenating a word's tokens (marker stripped) rebuilds the word."""
    rnd = random.Random(0xE4C0DE)
    rows = [
        (i, " ".join(
            "".join(rnd.choice("abcde") for _ in range(rnd.randrange(1, 9)))
            for _ in range(rnd.randrange(0, 12))
        ))
        for i in range(40)
    ] + [(100, None), (101, ""), (102, "A!B?  c9")]
    docs = _df(spark, rows)
    merges = bpe.bpe_train(docs, n_merges=40)
    ranks = {p: i for i, p in enumerate(merges)}

    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens, r.bpe_tokens)
        for r in bpe.bpe_encode(docs, merges, with_tokens=True).collect()
    }
    import re

    tok_re = re.compile("[^a-zA-Z0-9]+")
    for doc_id, text in rows:
        words = (
            [t for t in tok_re.split(str(text).lower().strip()) if t]
            if text is not None
            else []
        )
        toks: list[str] = []
        for w in words:
            enc = bpe.encode_word(w, ranks)
            assert "".join(enc).replace(bpe.END_WORD, "") == w
            # every token is either learned vocab or a raw symbol
            toks.extend(enc)
        assert got[doc_id] == (len(words), len(toks), toks), doc_id


def test_encode_zero_merges_is_char_count(spark):
    """n_merges=0 degenerates to characters + one marker per word."""
    docs = _df(spark, [(1, "ab cde")])
    r = bpe.bpe_encode(docs, []).first()
    assert (r.n_words, r.n_bpe_tokens) == (2, (2 + 1) + (3 + 1))


def test_max_words_cap_is_deterministic(spark):
    """The bounded-collect cap selects by (freq desc, word asc): capping
    at 2 keeps the two most frequent words regardless of partitioning."""
    docs = _df(
        spark,
        [(1, "zz zz zz yy yy xx"), (2, "zz yy xx ww")],
    ).repartition(4)
    merges_capped = bpe.bpe_train(docs, n_merges=10, max_words=2)
    assert merges_capped == _reference_train({"zz": 4, "yy": 3}, 10)


def test_graded_fold_matches_oracle_sf0001(spark):
    """The hosting data_mixing_weights row (with the round-12 BPE parity
    fold) end-to-end at sf0.001 vs DuckDB over the same parquet."""
    from recon_spark import registry, staging

    out = registry.QUERIES["data_mixing_weights"](spark, "/root/testdata/sf0.001")
    got = sorted(tuple(r) for r in out.collect())
    staging.release_staged()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    want = sorted(con.sql(llm_sql.MIXING_WEIGHTS_SQL).fetchall())
    con.close()
    assert got == want


def test_merge_table_roundtrip(spark):
    """merges_to_frame / merges_from_frame: rank-ordered exact
    roundtrip (the durable-artifact path), plus the implied vocab."""
    docs = _df(spark, [(1, "banana bandana cabana"), (2, "banana banana")])
    merges = bpe.bpe_train(docs, n_merges=15)
    assert merges  # non-degenerate
    frame = bpe.merges_to_frame(spark, merges)
    assert bpe.merges_from_frame(frame) == merges
    # survives a parquet write/read (what a pipeline actually persists)
    import tempfile

    with tempfile.TemporaryDirectory(prefix="bpe_merges_") as d:
        frame.write.mode("overwrite").parquet(f"{d}/merges.parquet")
        back = spark.read.parquet(f"{d}/merges.parquet")
        assert bpe.merges_from_frame(back) == merges
    assert bpe.vocab_from_merges(merges) == [a + b for a, b in merges]


def test_encode_memo_cap_does_not_change_output(spark):
    """memo_max caps the per-worker cache; outputs are identical with
    the cache effectively disabled (memo_max=1)."""
    docs = _df(spark, [(1, "banana bandana banana"), (2, "cabana banana")])
    merges = bpe.bpe_train(docs, n_merges=10)
    a = sorted(tuple(r) for r in bpe.bpe_encode(docs, merges).collect())
    b = sorted(
        tuple(r) for r in bpe.bpe_encode(docs, merges, memo_max=1).collect()
    )
    assert a == b


def test_train_input_contract_is_explicit(spark):
    """hist= is an explicit keyword, not column-name duck-typing: a
    DOCS frame that coincidentally has columns {word, n} must not be
    silently treated as a histogram, and passing both/neither inputs
    raises (ADVICE r12)."""
    import pytest

    docs_like = spark.createDataFrame(
        [("the quick brown fox", 7)], "word string, n long"
    )
    # as a docs source it tokenizes text_col (here pointed at "word"),
    # NOT the fake frequency column
    merges = bpe.bpe_train(docs_like, n_merges=5, text_col="word")
    hist_merges = bpe.bpe_train(hist=docs_like, n_merges=5)
    # tokenized: four separate words; histogram: ONE literal word with
    # spaces in it — the vocabularies (hence merges) must differ
    assert merges != hist_merges

    with pytest.raises(ValueError, match="exactly one"):
        bpe.bpe_train(docs_like, hist=docs_like)
    with pytest.raises(ValueError, match="exactly one"):
        bpe.bpe_train()
