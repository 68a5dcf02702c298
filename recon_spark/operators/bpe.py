"""Trained BPE tokenizer — byte-pair-encoding subword vocabulary
learned FROM the corpus (Sennrich, Haddow & Birch 2016, *Neural Machine
Translation of Rare Words with Subword Units*, ACL), re-expressed
Spark-first. This upgrades the static regex estimate
(:func:`~.text.bpe_token_count`) to the real pipeline need: train a
merge table on the corpus you are packing, then count/emit the actual
subword tokens that a downstream trainer would consume.

The paper's recipe decomposes into exactly one scale-heavy stage plus a
bounded model, which is what makes it Spark-shaped:

1. **Word histogram** (:func:`word_histogram`) — the ONLY stage that
   touches every row: one explode + one map-side-combinable groupBy.
   Output is vocabulary-sized (distinct words), orders of magnitude
   smaller than a 100 TB corpus.
2. **Pair counts** (:func:`pair_counts`) — iteration-0 adjacent-symbol
   statistics over the histogram: symbols are the word's characters
   plus a terminal ``</w>`` marker, pairs weighted by word frequency.
   Distributed, deterministic, DuckDB-replayable — driver-graded as a
   five-column parity fold on the ``data_mixing_weights`` row
   (oracles/llm_sql.bpe_substrate_ctes; the 50-row grading budget is
   full, so new operators ride folds). Output is bounded by
   |alphabet ∪ merged symbols|² — tiny.
3. **Merge loop** (:func:`bpe_train`) — driver-paced over the COLLECTED
   histogram, capped at ``max_words`` rows (deterministic top-k by
   frequency; the standard trainers — subword-nmt, HuggingFace —
   likewise train on an in-memory word histogram). Bounded-model
   contract, same as the DSIR/quality-clf models and the ANN
   query-side collects: the collect is vocabulary-sized, never
   corpus-sized. Incremental pair-stat updates (only words containing
   the merged pair are revisited), so the loop is O(merges ×
   affected-words), not O(merges × vocab).
4. **Encode** (:func:`bpe_encode`) — the merge table (≤ ``n_merges``
   rows) broadcasts to every executor inside one Arrow-batched
   ``mapInPandas`` stage; encoding is embarrassingly parallel with a
   per-batch word→tokens memo (real corpora repeat words heavily, so
   the memo collapses the per-row cost to per-distinct-word).

Pair-count convention: ALL adjacent positions count (a word ``aaa``
contributes 2 to pair ``(a, a)``), and a merge applies greedily
left-to-right non-overlapping (``a a a`` → ``aa a``) — both exactly the
reference algorithm's behavior. Ties in the merge loop resolve to the
lexicographically smallest ``(sym_a, sym_b)`` pair, making the merge
sequence deterministic for any corpus.

Parity discipline: the distributed substrate (histogram + pair counts)
is driver-graded against a verbatim DuckDB replay; the merge loop is
pytest-graded against an independent naive recount-per-iteration
reference trainer, and the distributed encoder against a driver-side
re-encode (tests/test_bpe.py) — same split as DSIR (graded integer
substrate, pytest float/loop layer).

Reference parity: no reference counterpart — beyond-reference
LLM-pipeline surface (tokenizer family, next to text.bpe_token_count's
regex estimate and packing's token budgeting).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.checksum import row_ck
from . import text as T

#: terminal word-boundary symbol (the paper's ``</w>``). Tokens are
#: lowercase alnum (text.TOKEN_SPLIT_RE strips everything else), so the
#: marker can never collide with a character symbol.
END_WORD = "</w>"

#: default merge-table size. Real tokenizers use 30k-100k; 200 keeps
#: the fixture corpora (bounded synthetic vocabularies) from merging
#: every word into a single symbol while still exercising multi-level
#: merges (char pairs -> morphemes -> whole short words).
BPE_MERGES = 200

#: driver-model cap: the merge loop trains on at most this many distinct
#: words (deterministic top-k by frequency desc, word asc). 50k words x
#: ~10 symbols is a ~5 MB driver model — bounded regardless of corpus
#: size; rare-tail words excluded from TRAINING are still ENCODED
#: exactly (encoding needs only the merge table).
BPE_MAX_WORDS = 50_000


def word_histogram(
    docs: DataFrame,
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Corpus word-frequency table ``(word, n)`` — the one stage that
    reads every document. Map-side combinable groupBy on the word key;
    output is vocabulary-sized. ``tokens_col`` reuses an already-staged
    token array (the corpus pipeline's single-tokenize-pass contract)."""
    toks = F.col(tokens_col) if tokens_col else T.tokens(text_col)
    return (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def symbols_expr(word: Column) -> Column:
    """Word → initial symbol sequence: characters plus the terminal
    ``</w>`` marker. Pure column algebra (no UDF)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.char_length(word)),
        lambda i: F.substring(word, i, F.lit(1)),
    )
    return F.concat(chars, F.array(F.lit(END_WORD)))


def pair_counts(hist: DataFrame) -> DataFrame:
    """Iteration-0 BPE pair statistics over a ``(word, n)`` histogram:
    one row per distinct adjacent symbol pair, ``(sym_a, sym_b,
    pair_count)`` with counts weighted by word frequency and every
    adjacent position counted (overlaps included — ``aaa`` contributes
    2×n to ``(a, a)``). Bounded output: |symbols|² at most."""
    syms = symbols_expr(F.col("word"))
    n_s = F.size(syms)
    pairs = F.zip_with(
        F.slice(syms, 1, n_s - 1),
        F.slice(syms, 2, n_s - 1),
        lambda a, b: F.struct(a.alias("sym_a"), b.alias("sym_b")),
    )
    return (
        hist.select(F.explode(pairs).alias("p"), "n")
        .groupBy(F.col("p.sym_a").alias("sym_a"), F.col("p.sym_b").alias("sym_b"))
        .agg(F.sum("n").cast("long").alias("pair_count"))
    )


def _pair_stats(vocab: dict[tuple[str, ...], int]):
    """Pair totals + inverted index pair→{word: occurrences} over a
    symbol-sequence vocabulary (driver-side, bounded)."""
    stats: dict[tuple[str, str], int] = {}
    index: dict[tuple[str, str], dict[tuple[str, ...], int]] = {}
    for word, freq in vocab.items():
        for i in range(len(word) - 1):
            pair = (word[i], word[i + 1])
            stats[pair] = stats.get(pair, 0) + freq
            index.setdefault(pair, {})
            index[pair][word] = index[pair].get(word, 0) + 1
    return stats, index


def merge_word(word: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    """Apply one merge to a symbol sequence: greedy left-to-right,
    non-overlapping (``a a a`` with pair ``(a, a)`` → ``aa a``)."""
    a, b = pair
    out: list[str] = []
    i = 0
    n = len(word)
    while i < n:
        if i < n - 1 and word[i] == a and word[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(word[i])
            i += 1
    return tuple(out)


def bpe_train(
    source: DataFrame | None = None,
    n_merges: int = BPE_MERGES,
    max_words: int = BPE_MAX_WORDS,
    text_col: str = "text",
    tokens_col: str | None = None,
    hist: DataFrame | None = None,
) -> list[tuple[str, str]]:
    """Learn a BPE merge table from a document corpus (``source``) or
    directly from a pre-built ``(word, n)`` histogram (``hist=`` —
    EXPLICIT keyword, exactly one of the two: the pre-r13 column-name
    duck-typing silently mis-read a docs frame that happened to have
    columns {word, n} as a histogram, ADVICE r12).

    Returns the ordered merge list ``[(sym_a, sym_b), ...]`` — merge
    rank = list position. Deterministic: each iteration merges the
    most frequent pair, ties to the lexicographically smallest
    ``(sym_a, sym_b)``; the ``max_words`` cap selects by
    ``(n desc, word asc)``.

    BOUNDED COLLECT: the driver materializes at most ``max_words``
    histogram rows (a top-k over the vocabulary-sized histogram —
    Spark's takeOrdered path, distributed partial top-k, never a
    corpus-sized pull). The merge loop then runs driver-side with
    incremental pair-stat updates — the same bounded-model contract as
    the DSIR/quality-clf count vectors."""
    if (source is None) == (hist is None):
        raise ValueError(
            "pass exactly one of source= (a documents frame) or"
            " hist= (a pre-built (word, n) histogram)"
        )
    if hist is None:
        hist = word_histogram(source, text_col, tokens_col)
    rows = (
        hist.orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(int(max_words))
        .collect()
    )
    return train_from_counts({r["word"]: int(r["n"]) for r in rows}, n_merges)


def train_from_counts(
    counts: dict[str, int], n_merges: int = BPE_MERGES
) -> list[tuple[str, str]]:
    """The driver-side merge loop over a plain ``word -> n`` mapping —
    the Spark-free core of :func:`bpe_train` (factored out in r14 so a
    LITERAL seed lexicon can train the oracle-replayable fertility
    model without a session). Same determinism contract: most frequent
    pair first, ties to the lexicographically smallest pair."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, n in counts.items():
        word = tuple(w) + (END_WORD,)
        # distinct words collapsing to one symbol tuple cannot happen
        # (character split is injective), so plain assignment is safe
        vocab[word] = int(n)

    stats, index = _pair_stats(vocab)
    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        if not stats:
            break
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        # incremental update: only words containing `best` change
        affected = index.pop(best, {})
        stats.pop(best, None)
        for word, _occ in affected.items():
            freq = vocab.pop(word)
            # retract the word's old pair contributions
            for i in range(len(word) - 1):
                pair = (word[i], word[i + 1])
                if pair == best:
                    continue
                stats[pair] -= freq
                if stats[pair] <= 0:
                    del stats[pair]
                idx = index.get(pair)
                if idx is not None:
                    if idx.get(word, 0) <= 1:
                        idx.pop(word, None)
                        if not idx:
                            del index[pair]
                    else:
                        idx[word] -= 1
            new_word = merge_word(word, best)
            # two distinct old words can collapse to the SAME new tuple
            # (one pre-merged form already in vocab): frequencies add,
            # but the index counts pair POSITIONS per tuple — those are
            # already registered for an existing tuple, so only add
            # index entries for a genuinely new one
            existed = new_word in vocab
            vocab[new_word] = vocab.get(new_word, 0) + freq
            for i in range(len(new_word) - 1):
                pair = (new_word[i], new_word[i + 1])
                stats[pair] = stats.get(pair, 0) + freq
                if not existed:
                    index.setdefault(pair, {})
                    index[pair][new_word] = index[pair].get(new_word, 0) + 1
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode ONE word with a trained merge table: repeatedly apply the
    lowest-rank merge present until none applies (the reference
    algorithm's apply_bpe inner loop). Driver/executor-shared helper —
    the distributed encoder calls exactly this per memoized word."""
    syms = list(word) + [END_WORD]
    while len(syms) > 1:
        best_rank = None
        best_pair = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_pair = (syms[i], syms[i + 1])
        if best_pair is None:
            break
        syms = list(merge_word(tuple(syms), best_pair))
    return syms


#: encode-memo entry cap per Python worker: heavy-tailed real
#: vocabularies (ids, typos, numerals) would otherwise grow the
#: word→tokens dict unboundedly over a partition's batches; past the
#: cap, rare-tail words are encoded without caching (correctness
#: unchanged — the memo is purely a CPU saver for repeated words)
ENCODE_MEMO_MAX = 200_000


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    with_tokens: bool = False,
    memo_max: int = ENCODE_MEMO_MAX,
) -> DataFrame:
    """Distributed encode: ``(id, n_words, n_bpe_tokens[, bpe_tokens])``
    per document. One Arrow-batched ``mapInPandas`` stage; the merge
    table (≤ n_merges rows) ships in the closure (broadcast-by-task
    serialization — kilobytes). A word→tokens memo (held for the
    partition, capped at ``memo_max`` entries) collapses repeated words
    to one encode each; past the cap, words are encoded uncached.

    Tokenization matches :func:`~.text.tokens` (lowercase, split on
    non-alnum runs) so ``n_words`` equals the battery's ``n_tokens``."""
    import re

    token_re = re.compile(T.TOKEN_SPLIT_RE)
    ranks = {pair: i for i, pair in enumerate(merges)}

    def batches(it):
        import pandas as pd

        memo: dict[str, list[str]] = {}
        for pdf in it:
            ids, n_words, n_bpe, toks_out = [], [], [], []
            for rid, text in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                words = (
                    [t for t in token_re.split(str(text).lower().strip()) if t != ""]
                    if text is not None
                    else []
                )
                total = 0
                doc_toks: list[str] = []
                for w in words:
                    enc = memo.get(w)
                    if enc is None:
                        enc = encode_word(w, ranks)
                        if len(memo) < memo_max:
                            memo[w] = enc
                    total += len(enc)
                    if with_tokens:
                        doc_toks.extend(enc)
                ids.append(rid)
                n_words.append(len(words))
                n_bpe.append(total)
                if with_tokens:
                    toks_out.append(doc_toks)
            out = {id_col: ids, "n_words": n_words, "n_bpe_tokens": n_bpe}
            if with_tokens:
                out["bpe_tokens"] = toks_out
            yield pd.DataFrame(out)

    id_type = docs.schema[id_col].dataType.simpleString()
    schema = f"`{id_col}` {id_type}, n_words long, n_bpe_tokens long"
    if with_tokens:
        schema += ", bpe_tokens array<string>"
    return docs.select(id_col, text_col).mapInPandas(batches, schema)


def histogram_parity(hist: DataFrame) -> DataFrame:
    """1-row checksum frame over the word histogram (rides the graded
    ``tokenizer_pair_counts`` row so the oracle pins the histogram too,
    not just the pair rollup): ``(n_dist_words, total_words,
    hist_ck)``."""
    return hist.agg(
        F.count(F.lit(1)).cast("long").alias("n_dist_words"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("total_words"),
        F.coalesce(F.sum(row_ck("word", "n")), F.lit(0)).cast("long").alias("hist_ck"),
    )

def pair_counts_parity(hist: DataFrame) -> DataFrame:
    """1-row checksum frame over the full pair-count table (the
    data_mixing_weights fold): ``(n_bpe_pairs, bpe_pairs_ck)``. The
    oracle recomputes every pair row from its own histogram + symbol
    split, so tokenization, the ``</w>`` marker and the weighted
    overlap-inclusive counting must all match for the sum to agree."""
    ck = row_ck("sym_a", "sym_b", "pair_count")
    return pair_counts(hist).agg(
        F.count(F.lit(1)).cast("long").alias("n_bpe_pairs"),
        F.coalesce(F.sum(ck), F.lit(0)).cast("long").alias("bpe_pairs_ck"),
    )

def merges_to_frame(spark, merges: list[tuple[str, str]]) -> DataFrame:
    """Merge table → ``(rank, sym_a, sym_b)`` DataFrame (the durable
    artifact a pipeline persists next to the corpus snapshot — parquet
    via ``df.write``, or any sink). Arrow local relation; ≤ n_merges
    rows."""
    import pandas as pd

    from pyspark.sql import types as ST

    schema = ST.StructType(
        [
            ST.StructField("rank", ST.LongType(), False),
            ST.StructField("sym_a", ST.StringType(), False),
            ST.StructField("sym_b", ST.StringType(), False),
        ]
    )
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "rank": range(len(merges)),
                "sym_a": [a for a, _ in merges],
                "sym_b": [b for _, b in merges],
            }
        ),
        schema,
    )


def merges_from_frame(df: DataFrame) -> list[tuple[str, str]]:
    """Inverse of :func:`merges_to_frame`: rank-ordered merge list from
    a ``(rank, sym_a, sym_b)`` frame (bounded collect — the table is
    n_merges rows by construction)."""
    return [
        (r["sym_a"], r["sym_b"])
        for r in df.select("rank", "sym_a", "sym_b").orderBy("rank").collect()
    ]


def vocab_from_merges(merges: list[tuple[str, str]]) -> list[str]:
    """Deterministic subword vocabulary implied by a merge table: the
    merged symbols in rank order (base characters are corpus-dependent
    and left to the histogram). Token-id assignment for a trainer is
    positional: base alphabet first (caller-ordered), then this list."""
    return [a + b for a, b in merges]
