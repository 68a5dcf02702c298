"""Cross-document duplicate-span removal (operators/spans.py): verdict
semantics, hot-safe/window-form parity, rebuild edge cases, and a seeded
differential fuzz of the round-9 grading fold (text_chunk_documents'
span parity columns) against the VERBATIM DuckDB oracle SQL."""

from __future__ import annotations

import random

import duckdb
from pyspark.sql import functions as F

from recon_spark import registry
from recon_spark.operators import spans as SP
from recon_spark.oracles import llm_sql


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_first_occurrence_kept_rest_removed(spark):
    docs = _df(
        spark,
        [
            (1, "a b c d e f g h tail one"),
            (2, "a b c d e f g h tail two"),
            (3, "pre amble pad pad pad pad pad pad a b c d e f g h"),
        ],
    )
    v = {
        (r.doc_id, r.pos): r.keep
        for r in SP.span_dedup_verdicts(docs).collect()
    }
    # the shared window is first in doc 1 pos 0; doc 3 has it at pos 1
    assert v[(1, 0)] is True
    assert v[(2, 0)] is False
    assert v[(3, 0)] is True  # its own unique first window
    assert v[(3, 1)] is False


def test_within_doc_repeat_also_removed(spark):
    """The C4 rule is corpus-wide, which includes a doc repeating its own
    span: second occurrence inside the SAME doc is removed too."""
    body = "w x y z w2 x2 y2 z2"
    docs = _df(spark, [(1, f"{body} {body} end")])
    out = SP.span_dedup(docs).collect()[0]
    assert out.n_spans == 2
    assert out.n_removed == 1
    assert out.clean_text == f"{body} end"


def test_rebuild_preserves_order_and_remainder(spark):
    docs = _df(
        spark,
        [
            (1, "a b c d e f g h m n o p q r s t tail"),
            (2, "m n o p q r s t a b c d e f g h tail"),
        ],
    )
    got = {r.doc_id: r for r in SP.span_dedup(docs).collect()}
    assert got[1].clean_text == "a b c d e f g h m n o p q r s t tail"
    assert got[1].n_removed == 0
    # doc 2's both windows are dups of doc 1's (in swapped order)
    assert got[2].n_removed == 2
    assert got[2].clean_text == "tail"


def test_short_null_empty_docs(spark):
    docs = _df(spark, [(1, "too short"), (2, None), (3, ""), (4, "   ")])
    got = {r.doc_id: r for r in SP.span_dedup(docs).collect()}
    assert set(got) == {1, 3, 4}  # null text -> no row (null token array)
    assert got[1].clean_text == "too short" and got[1].n_spans == 0
    assert got[3].clean_text == "" and got[4].clean_text == ""


def test_verdicts_match_duckdb_window_form(spark):
    """The grouped first-occurrence verdicts equal the DuckDB replay's
    row_number window form (llm_sql.SPAN_DEDUP_CTES) row for row, on a
    three-word vocabulary that makes every span hot."""
    rnd = random.Random(7)
    vocab = ["a", "b", "c"]
    rows = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(0, 30))))
        for i in range(80)
    ] + [
        # the first occurrence is the lower doc_id, not the lower pos
        (100, "q q q q q q q q z z z z z z z z"),
        (101, "z z z z z z z z"),
    ]
    docs = _df(spark, rows)
    cols = ["doc_id", "pos", "span", "keep", "n_occ"]
    a = sorted(map(tuple, SP.span_dedup_verdicts(docs).select(*cols).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE docs_aug (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs_aug VALUES (?, ?)", rows)
    b = sorted(
        con.sql(
            f"WITH {llm_sql.SPAN_DEDUP_CTES} SELECT doc_id, pos, span, keep_i = 1,"
            " count(*) OVER (PARTITION BY span) FROM sp_verdicts"
        ).fetchall()
    )
    con.close()
    assert a == b
    assert any(not t[3] for t in a)  # tiny vocab guarantees removals


def _oracle(rows, sql: str) -> list[tuple]:
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    out = con.sql(sql).fetchall()
    con.close()
    return out


def test_span_parity_fold_differential_fuzz(spark):
    """Random ugly corpora through the EXACT graded composition
    (registry.chunk_docs_with_span_parity) and the VERBATIM grading SQL
    (llm_sql.CHUNK_DOCS_SQL, docs_aug planting included), compared
    row-for-row — tokenization, span partition, first-occurrence order,
    and the rebuilt cleaned text must all agree."""
    from tests.test_dedup_fuzz import _corpus

    rnd = random.Random(0x5EEDB)
    for _trial in range(3):
        rows = _corpus(rnd, 80)
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        aug = registry.plant_duplicates(docs)
        got = sorted(
            (
                r.doc_id, r.chunk_id, r.tok_start, r.tok_end, r.n_tokens,
                r.chunk_text, r.n_span_removed, r.span_verdict_ck,
                r.span_clean_ck,
            )
            for r in registry.chunk_docs_with_span_parity(docs, aug).collect()
        )
        spark.catalog.clearCache()
        want = sorted(_oracle(rows, llm_sql.CHUNK_DOCS_SQL))
        assert got == want


def test_aligned_mode_misses_shifted_block_overlapping_catches_it(spark):
    """The r9 'What's missing #4' failure mode, planted: a 16-token
    boilerplate block appears at token offset 0 in doc 1 and offset 3 in
    doc 2, so NO aligned 8-token window of doc 2 equals any of doc 1's —
    aligned mode keeps the duplicate; stride=1 windows (any-shift
    guarantee) share the block's inner windows at every offset and the
    interval-merged rebuild removes it."""
    block = " ".join(f"b{i}" for i in range(16))
    docs = _df(
        spark,
        [
            (1, f"{block} first doc tail"),
            (2, f"pre amb le {block} second doc tail"),
        ],
    )
    aligned = {r.doc_id: r for r in SP.span_dedup(docs).collect()}
    # honest negative: the aligned default misses the shifted duplicate
    assert block in aligned[2].clean_text
    assert aligned[2].n_removed == 0
    over = {r.doc_id: r for r in SP.span_dedup(docs, stride=1).collect()}
    # first occurrence survives untouched
    assert block in over[1].clean_text
    # the shifted copy is gone; the unique surround survives (suffixes
    # diverge immediately after the block — a shared next token would
    # CORRECTLY extend the removed span by one)
    assert block not in over[2].clean_text
    assert "pre amb le" in over[2].clean_text
    assert "second doc tail" in over[2].clean_text
    assert over[2].n_removed > 0


def test_stride_catches_exactly_divisible_shifts(spark):
    """The documented stride contract, both directions: a shift of 4 IS
    caught by stride=4 (divisible), a shift of 3 is NOT — overlapping
    windows are a dial, not magic, and the docstring's divisibility
    claim is load-bearing."""
    block = " ".join(f"c{i}" for i in range(16))
    docs4 = _df(
        spark,
        [(1, f"{block} one tail"), (2, f"p1 p2 p3 p4 {block} two tail")],
    )
    got4 = {r.doc_id: r for r in SP.span_dedup(docs4, stride=4).collect()}
    assert block not in got4[2].clean_text
    assert got4[2].n_removed > 0
    docs3 = _df(
        spark,
        [(1, f"{block} one tail"), (2, f"p1 p2 p3 {block} two tail")],
    )
    got3 = {r.doc_id: r for r in SP.span_dedup(docs3, stride=4).collect()}
    assert block in got3[2].clean_text  # the honest miss at s=4
    assert got3[2].n_removed == 0


def test_overlapping_rebuild_matches_aligned_when_stride_equals_k(spark):
    """stride == k routes through the aligned rebuild; forcing the
    interval-merge path at the same geometry must be value-identical —
    the two rebuild formulations agree wherever both are defined."""
    rnd = random.Random(0x5EEDC)
    vocab = ["a", "b", "c", "d"]
    rows = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(0, 40))))
        for i in range(60)
    ]
    docs = _df(spark, rows)
    aligned = {
        r.doc_id: (r.n_spans, r.n_removed, r.clean_text)
        for r in SP.span_dedup(docs).collect()
    }
    # interval-merge path with aligned geometry: remove each non-kept
    # window's token range — identical to dropping the window text,
    # because aligned windows never overlap. (The remainder tail is
    # never inside a window, so it survives both paths.) stride==k
    # routes the public API to the aligned rebuild, so the mask path is
    # driven directly via the replicated branch below.
    v = SP.span_dedup_verdicts(docs)
    per_doc_masked = {
        r.doc_id: (r.n_spans, r.n_removed, r.clean_text)
        for r in _masked_rebuild(docs, v, SP.SPAN_TOKENS).collect()
    }
    assert per_doc_masked == aligned


def _masked_rebuild(docs, verdicts, k):
    """span_dedup's interval-merge branch at aligned geometry (stride=k
    routes the public API to the aligned path, so the branch's exact
    expressions are replicated here against the SAME verdict frame)."""
    from recon_spark.operators import text as T

    staged = docs.select(
        F.col("doc_id"), T.tokens("text").alias("__toks")
    ).filter(F.col("__toks").isNotNull())
    per_doc = verdicts.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.count_if(~F.col("keep")).alias("n_removed"),
        F.array_sort(
            F.collect_list(F.when(~F.col("keep"), F.col("pos") * k))
        ).alias("__rm"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("keep") & (F.col("n_occ") > 1), F.col("pos") * k)
            )
        ).alias("__kp"),
    )
    rm = F.coalesce(F.col("__rm"), F.array().cast("array<int>"))
    kp = F.coalesce(F.col("__kp"), F.array().cast("array<int>"))
    clean_toks = F.filter(
        F.col("__toks"),
        lambda _tok, i: ~(
            F.exists(rm, lambda st: (st <= i) & (i < st + k))
            & ~F.exists(kp, lambda st: (st <= i) & (i < st + k))
        ),
    )
    return staged.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
        F.array_join(clean_toks, " ").alias("clean_text"),
    )


def test_overlapping_within_doc_periodic_text(spark):
    """Periodic text: 'p q r s' repeated — overlapping windows flag the
    later repeats as duplicates of the earlier offsets; the first k
    tokens (the global first occurrences' coverage) must survive."""
    docs = _df(spark, [(1, " ".join(["p", "q", "r", "s"] * 6))])  # 24 tokens
    out = SP.span_dedup(docs, stride=4).collect()[0]
    toks = out.clean_text.split()
    assert toks[:8] == ["p", "q", "r", "s", "p", "q", "r", "s"]
    assert out.n_removed > 0
    assert len(toks) < 24


def test_overlapping_no_dups_is_identity(spark):
    docs = _df(
        spark,
        [(1, " ".join(f"u{i}" for i in range(20))),
         (2, " ".join(f"v{i}" for i in range(5)))],
    )
    got = {r.doc_id: r for r in SP.span_dedup(docs, stride=2).collect()}
    assert got[1].clean_text == " ".join(f"u{i}" for i in range(20))
    assert got[1].n_removed == 0
    assert got[2].clean_text == " ".join(f"v{i}" for i in range(5))
    assert got[2].n_spans == 0


# --- content-defined segmentation (round 10) ---------------------------------


def test_cdc_segments_partition_tokens_and_align_anywhere(spark):
    """The CDC property the operator exists for: a duplicated block
    re-segments identically at ANY token offset (breakpoints depend on
    content only), so cdc_span_dedup removes an offset-3 shifted copy
    the aligned window form misses — without stride=1's k-times window
    blowup. Interior segments align; only partial edge segments differ."""
    block = " ".join(f"b{i}" for i in range(32))
    docs = _df(
        spark,
        [
            (1, f"{block} first doc tail"),
            (2, f"pre amb le {block} second doc tail"),
        ],
    )
    # p=4: the block's breakpoint tokens are b2 b8 b13 b16 b22 b25 b29
    # b31 (md5-determined), and 'le' in doc 2's prefix is ALSO a
    # breakpoint — so doc 2's distinct prefix self-terminates into its
    # own segment and every block segment (including the head [b0 b1
    # b2]) aligns with doc 1's and is removed; only the prefix and the
    # distinct suffix segment survive. Content decides the edges —
    # that's the whole point.
    got = {r.doc_id: r for r in SP.cdc_span_dedup(docs, p=4).collect()}
    # segments partition the stream: doc 1's rebuild with nothing
    # removed is the normalized original
    assert got[1].n_removed == 0
    assert got[1].clean_text == f"{block} first doc tail"
    assert got[2].n_removed == 8
    assert got[2].clean_text == "pre amb le second doc tail"


def test_cdc_dedup_differential_fuzz(spark):
    """Random ugly corpora through cdc_span_dedup vs the VERBATIM
    cdc_dedup_sql replay — breakpoint hashes, per-doc running segment
    count, first-occurrence order, and the rebuilt text must all agree
    (zero-slot oracle discipline, as for the bloom gate)."""
    from tests.test_dedup_fuzz import _corpus

    rnd = random.Random(0x5EEDD)
    for _trial in range(3):
        rows = _corpus(rnd, 70)
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(
            (r.doc_id, r.n_spans, r.n_removed, r.clean_text)
            for r in SP.cdc_span_dedup(docs).collect()
        )
        spark.catalog.clearCache()
        want = sorted(_oracle(rows, llm_sql.cdc_dedup_sql()))
        assert got == want


def test_cdc_matches_duckdb_window_form(spark):
    """cdc_span_dedup's grouped first-occurrence verdicts equal the
    DuckDB replay's row_number window form (llm_sql.cdc_dedup_sql) on a
    three-word vocabulary that makes every segment hot."""
    rnd = random.Random(11)
    vocab = ["a", "b", "c"]
    rows = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(0, 30))))
        for i in range(60)
    ]
    docs = _df(spark, rows)
    a = sorted(map(tuple, SP.cdc_span_dedup(docs).collect()))
    assert a == sorted(_oracle(rows, llm_sql.cdc_dedup_sql()))
    assert any(t[2] > 0 for t in a)  # tiny vocab guarantees removals


def test_cdc_short_null_empty_docs(spark):
    docs = _df(spark, [(1, "solo"), (2, None), (3, ""), (4, "   ")])
    got = {r.doc_id: r for r in SP.cdc_span_dedup(docs).collect()}
    assert set(got) == {1, 3, 4}
    assert got[1].clean_text == "solo" and got[1].n_spans == 1
    assert got[3].clean_text == "" and got[3].n_spans == 0


def _cdc_spans_oracle(rows) -> list[tuple]:
    """The DuckDB replay's ``cdc_spans`` CTE: token unnest + running
    breakpoint count window + (doc, seg) string_agg — the relational
    form of :func:`spans.cdc_spans`."""
    ctes = llm_sql.cdc_parity_ctes(src="documents")
    return sorted(_oracle(rows, f"WITH {ctes} SELECT doc_id, pos, span FROM cdc_spans"))


def test_cdc_fold_form_matches_window_form(spark):
    """The narrow per-doc array fold must be value-identical to the
    explode+window relational form the DuckDB oracle spells."""
    rnd = random.Random(17)
    vocab = ["a", "b", "c", "d", "e"]
    rows = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(0, 40))))
        for i in range(60)
    ]
    a = sorted(map(tuple, SP.cdc_spans(_df(spark, rows)).collect()))
    assert a == _cdc_spans_oracle(rows)
    assert a  # non-empty


def test_cdc_fold_linear_on_long_doc(spark):
    """ADVICE r10: the old fold accumulated segments via per-token
    ``concat(acc, array(t))`` — O(n_tokens²) array copies per doc, so a
    single 100k-token doc implied ~10^10 element copies on one task.
    The round-11 breakpoint-positions + zip_with/slice build is O(n):
    a 50k-token doc must complete quickly AND match the window form."""
    import time

    rnd = random.Random(23)
    text = " ".join("w%d" % rnd.randrange(2000) for _ in range(50_000))
    rows = [(1, text), (2, "short tail doc")]
    docs = _df(spark, rows)
    t0 = time.time()
    a = sorted(map(tuple, SP.cdc_spans(docs).collect()))
    fold_secs = time.time() - t0
    assert a == _cdc_spans_oracle(rows)
    assert len(a) > 100
    # quadratic copying would take minutes here; linear is ~1-3s
    assert fold_secs < 30
