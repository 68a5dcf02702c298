"""ExactSubstr dedup (operators/exactsubstr.py, Lee et al. 2021):
differential fuzz vs the DuckDB replay, the planted offset-shift catch
that distinguishes it from aligned windows, value-identity with the
text-carrying stride-1 path, and the graded-composition row compare."""

from __future__ import annotations

import random

import duckdb
from pyspark.sql import functions as F

from recon_spark import registry, staging
from recon_spark.operators import exactsubstr as ES
from recon_spark.operators import spans as SP
from recon_spark.oracles import llm_sql

SF = "/root/testdata/sf0.001"

_ATOMS = [
    "the quick brown fox jumps over the lazy dog again and again",
    "pack my box with five dozen liquor jugs said the printer",
    "sphinx of black quartz judge my vow cried the night owl",
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus(rnd: random.Random, n: int) -> list[tuple[int, str | None]]:
    rows: list[tuple[int, str | None]] = []
    for i in range(n):
        kind = rnd.randrange(6)
        if kind == 0:
            text: str | None = rnd.choice(_ATOMS)
        elif kind == 1:
            text = " ".join(rnd.choice(_ATOMS) for _ in range(2))
        elif kind == 2:
            # tiny vocabulary: dense window collisions incl. periodic text
            text = " ".join(
                "tok%d" % rnd.randrange(4) for _ in range(rnd.randrange(0, 30))
            )
        elif kind == 3:
            # shifted block: unique junk prefix + a shared atom
            text = (
                " ".join("pfx%d" % rnd.randrange(100) for _ in range(rnd.randrange(1, 6)))
                + " "
                + rnd.choice(_ATOMS)
            )
        elif kind == 4:
            text = None
        else:
            text = " ".join("u%d_%d" % (i, j) for j in range(rnd.randrange(0, 20)))
        rows.append((i, text))
    return rows


def _oracle(rows, sql: str) -> list[tuple]:
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    out = con.sql(sql).fetchall()
    con.close()
    return out


def test_exact_substr_differential_fuzz(spark):
    rnd = random.Random(0x5EED11)
    for l_tokens in (5, 9):
        rows = _corpus(rnd, 80)
        docs = _df(spark, rows)
        got = sorted(
            map(tuple, ES.exact_substr_dedup(docs, l_tokens=l_tokens).collect())
        )
        spark.catalog.clearCache()
        want = sorted(_oracle(rows, llm_sql.exact_substr_dedup_sql(l_tokens)))
        assert got == want
        assert any(r[2] > 0 for r in got)  # fuzz corpus must exercise removal


def test_exact_substr_matches_stride1_span_dedup(spark):
    """The fingerprint index path must be value-identical to the
    text-carrying span_dedup(stride=1) path — same verdict semantics,
    different (fixed-width) shuffle payload."""
    rnd = random.Random(0x5EED12)
    rows = _corpus(rnd, 70)
    docs = _df(spark, rows)
    a = sorted(map(tuple, ES.exact_substr_dedup(docs, l_tokens=7).collect()))
    b = sorted(map(tuple, SP.span_dedup(docs, k=7, stride=1).collect()))
    assert a == b


def test_exact_substr_shifted_block_caught_aligned_misses(spark):
    """The family's reason to exist: a >= L-token block duplicated at a
    DIFFERENT token offset is removed from the later occurrence (its
    unique surroundings survive), while aligned non-overlapping windows
    miss it; the first occurrence is never edited; docs shorter than L
    pass through untouched."""
    block = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    rows = [
        (1, block + " tail1 tail2"),
        (2, "s1 s2 s3 " + block + " end9"),  # shift 3
        (3, "short doc"),
    ]
    docs = _df(spark, rows)
    out = {r.doc_id: r for r in ES.exact_substr_dedup(docs, l_tokens=8).collect()}
    assert out[1].clean_text == block + " tail1 tail2"  # first occurrence kept
    assert out[2].n_removed > 0
    assert out[2].clean_text == "s1 s2 s3 end9"  # block gone, surroundings kept
    assert out[3].n_spans == 0 and out[3].clean_text == "short doc"
    aligned = {r.doc_id: r for r in SP.span_dedup(docs, k=8).collect()}
    assert aligned[2].n_removed == 0  # aligned windows miss the shift


def test_exact_substr_self_repetition_within_doc(spark):
    """Lee et al. also remove within-document repeats: the second copy
    of a >= L block inside ONE doc is removed, first kept."""
    block = "r1 r2 r3 r4 r5 r6"
    docs = _df(spark, [(1, block + " mid " + block)])
    out = ES.exact_substr_dedup(docs, l_tokens=6).collect()[0]
    assert out.n_removed > 0
    assert out.clean_text == block + " mid"


def test_exact_substr_graded_composition_matches_oracle(spark):
    """Row-level compare of the graded fold's underlying per-doc frame
    (registry.exact_substr_corpus_clean — docs_aug + shift plants at
    GRADE_TOKENS) against the standalone EXACT_SUBSTR_SQL, at sf0.001.
    The driver sees only the (n_esub_removed, esub_ck) checksum on
    dedup_exact_documents; this pins every row behind it."""
    got = sorted(
        map(tuple, registry.exact_substr_corpus_clean(spark, SF).collect())
    )
    staging.release_staged()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    want = sorted(con.sql(llm_sql.EXACT_SUBSTR_SQL).fetchall())
    # plant offset is corpus-DERIVED since round 12 (max base doc_id +
    # NEAR_ID_OFFSET + 1 — disjoint keyspace at any SF, ADVICE r11)
    esub_offset = con.sql(
        f"SELECT COALESCE(MAX(doc_id), 0) + {llm_sql.NEAR_ID_OFFSET} + 1 "
        "FROM documents"
    ).fetchone()[0]
    con.close()
    assert got == want
    # shift plants of >= L-token docs must lose their block copy down
    # to the unique prefix (plants of shorter docs legitimately keep
    # everything — no L-window fits inside the copied block)
    planted = [r for r in got if r[0] >= esub_offset]
    assert planted
    stripped = [r for r in planted if r[2] > 0]
    assert stripped
    base_id = lambda r: r[0] - esub_offset  # noqa: E731
    assert all(
        r[3] == f"esq{base_id(r)}a esq{base_id(r)}b esq{base_id(r)}c"
        for r in stripped
    )


def test_exact_substr_rejects_l_tokens_below_two(spark):
    """l_tokens=1 would flip span_dedup's stride==k ALIGNED rebuild path,
    whose verdict contract differs — a clear ValueError, not a deep
    AnalysisException (ADVICE r11)."""
    import pytest

    docs = _df(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="l_tokens"):
        ES.exact_substr_dedup(docs, l_tokens=1)


def test_release_staged_tracks_default_path(spark):
    """The default path (staged=None) persists a window-fingerprint frame
    the caller never receives; staging.release_staged() must release it
    (ADVICE r11 medium)."""
    staging.release_staged()  # drain anything earlier tests left
    docs = _df(spark, [(1, "a b c d e f g h"), (2, "a b c d e f g h")])
    out = ES.exact_substr_dedup(docs, l_tokens=4)
    (staged,) = staging._LEDGER
    out.collect()
    assert staged.storageLevel.useMemory  # persisted while consuming
    assert staging.release_staged() == 1
    assert not staging._LEDGER
    assert not staged.storageLevel.useMemory  # actually unpersisted

    # a caller passing its own staged frame adds no second entry
    st = ES.staged_window_fps(docs, 4)
    ES.exact_substr_dedup(docs, l_tokens=4, staged=st).collect()
    assert staging.release_staged() == 1
