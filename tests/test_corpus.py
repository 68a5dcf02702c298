"""End-to-end corpus construction (plans/corpus.py): the graded operators
composed into one pipeline must stay mutually consistent."""

from __future__ import annotations

from pyspark.sql import functions as F

from recon_spark.plans import corpus


def _docs(spark):
    rows = []
    for i in range(120):
        body = f"alpha beta gamma delta epsilon zeta doc{i} token{i % 40} " * 3
        rows.append((i, body))
    # planted exact duplicate pair and near-duplicate pair
    rows.append((900, rows[5][1]))
    rows.append((901, rows[7][1] + " tiny appended tail"))
    # quality rejects: too few tokens / symbol soup
    rows.append((910, "x"))
    rows.append((911, "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( ))))"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pipeline_consistency(spark):
    docs = _docs(spark)
    report = {r["stage"]: r["n"] for r in corpus.corpus_report(docs).collect()}
    out = corpus.build_training_corpus(docs, budget=64).collect()

    assert report["input"] == 124
    assert report["quality_pass"] == 122  # two quality rejects
    assert report["exact_unique"] == 121  # doc 900 is an exact copy
    assert report["near_dup_dropped"] >= 1  # doc 901 at least
    assert report["final"] == report["exact_unique"] - report["near_dup_dropped"]
    assert len(out) == report["final"]

    # dropped docs are really gone; canonical (min-id) members survive
    ids = {r["doc_id"] for r in out}
    assert 5 in ids and 900 not in ids
    assert 7 in ids and 901 not in ids
    assert 910 not in ids and 911 not in ids

    # packing invariants hold per split
    for split in {r["split"] for r in out}:
        rows = sorted(
            (r for r in out if r["split"] == split),
            key=lambda r: (r["bin_id"], r["bin_offset"]),
        )
        pos = 0
        for r in rows:
            assert r["bin_id"] * 64 + r["bin_offset"] == pos
            pos += r["n_tokens"]


def test_no_quality_reject_reaches_packing(spark):
    docs = _docs(spark)
    out = corpus.build_training_corpus(docs, budget=64)
    joined = out.join(
        docs.select("doc_id", F.length("text").alias("len")), "doc_id"
    )
    assert joined.filter(F.col("len") < 5).count() == 0


def test_corpus_perplexity_stage_drops_expected_fraction(spark):
    from recon_spark.plans.corpus import build_training_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    base = build_training_corpus(docs).count()
    kept = build_training_corpus(docs, perplexity_keep=0.8).count()
    # within a few docs of 80% (percentile boundary ties land either way)
    assert abs(kept - 0.8 * base) <= max(3, 0.02 * base), (kept, base)
    # surviving docs must be a subset of the unfiltered pipeline's output
    a = {r.doc_id for r in build_training_corpus(docs, perplexity_keep=0.8)
         .select("doc_id").collect()}
    b = {r.doc_id for r in build_training_corpus(docs).select("doc_id").collect()}
    assert a <= b


def test_boilerplate_span_stage_dedups_through_pipeline(spark):
    """With boilerplate_spans on, a shared 8-token license block is
    removed from every occurrence but the first BEFORE quality scoring
    and fingerprinting — changing which documents survive the pipeline
    in a way whole-doc dedup cannot (no two raw texts are equal)."""
    license8 = "licensed under the apache license version two zero"  # 8 toks
    body_a = "alpha beta gamma delta epsilon zeta eta theta"         # 8 toks
    body_b = "one two three four five six seven eight"               # 8 toks
    rows = [
        (1, f"{license8} {body_a}"),
        (2, f"{license8} {body_b}"),
        (3, body_b),
        (4, "other content entirely different from everything else"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base_ids = {r.doc_id for r in corpus.build_training_corpus(docs, budget=64).collect()}
    spark.catalog.clearCache()
    stage_ids = {
        r.doc_id
        for r in corpus.build_training_corpus(
            docs, budget=64, boilerplate_spans=8
        ).collect()
    }
    spark.catalog.clearCache()
    # without the stage no raw texts collide: everything survives
    assert base_ids == {1, 2, 3, 4}
    # with it: doc 2 loses the license block (doc 1 keeps the first
    # occurrence); doc 3 loses body_b (doc 2 pos 1 is its first
    # occurrence), goes empty, and the quality gate drops it
    assert stage_ids == {1, 2, 4}


def test_corpus_dsir_stage_keeps_target_like_survivors(spark):
    """dsir_target+dsir_keep as the LAST filter: of the cleaned
    survivors, exactly dsir_keep remain and they are the target-like
    ones (operators/dsir.py selection run on the post-dedup pool)."""
    on = [
        (i, "alpha beta gamma delta " + " ".join(f"w{i}x{j}" for j in range(8)))
        for i in range(8)
    ]
    off = [
        (100 + i, "zeta eta theta iota " + " ".join(f"q{i}y{j}" for j in range(8)))
        for i in range(8)
    ]
    docs = spark.createDataFrame(on + off, "doc_id long, text string")
    tgt = spark.createDataFrame(
        [(900 + i, "alpha beta gamma delta alpha beta") for i in range(3)],
        "doc_id long, text string",
    )
    base_ids = {
        r.doc_id for r in corpus.build_training_corpus(docs, budget=64).collect()
    }
    picked = {
        r.doc_id
        for r in corpus.build_training_corpus(
            docs, budget=64, dsir_target=tgt, dsir_keep=8
        ).collect()
    }
    assert len(picked) == 8
    assert picked <= base_ids
    assert picked == {i for i, _ in on if i in base_ids} or picked == {
        i for i, _ in on
    }
    spark.catalog.clearCache()


def test_exact_substr_stage_catches_shifted_block(spark):
    """exact_substr_tokens (r11): an offset-SHIFTED shared block — the
    case the aligned boilerplate_spans stage misses by construction —
    is removed from the later occurrence before any downstream signal,
    so the stripped doc falls to the quality gate."""
    block = "licensed under the apache license version two zero"  # 8 toks
    rows = [
        (1, f"{block} alpha beta gamma delta epsilon zeta"),
        # the block again, at token offset 3 — aligned windows miss it
        (2, f"pre1 pre2 pre3 {block}"),
        (3, "other content entirely different from everything else"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base_ids = {
        r.doc_id
        for r in corpus.build_training_corpus(docs, budget=64).collect()
    }
    spark.catalog.clearCache()
    aligned_ids = {
        r.doc_id
        for r in corpus.build_training_corpus(
            docs, budget=64, boilerplate_spans=8
        ).collect()
    }
    spark.catalog.clearCache()
    stage_ids = {
        r.doc_id
        for r in corpus.build_training_corpus(
            docs, budget=64, exact_substr_tokens=8
        ).collect()
    }
    spark.catalog.clearCache()
    assert base_ids == {1, 2, 3}
    assert aligned_ids == {1, 2, 3}  # the shift defeats aligned windows
    # ExactSubstr strips doc 2 to "pre1 pre2 pre3" (3 tokens) -> the
    # too_few_tokens quality gate drops it; doc 1 (first occurrence)
    # keeps its text
    assert stage_ids == {1, 3}


def test_near_dup_method_auto_routes_and_drops(spark):
    """round 12: near_dup_method='auto' runs the regime dispatcher as
    the near-dup stage — on this organic corpus it takes an EXACT route
    and must drop the same planted near-dup pair the minhash default
    catches (exact recall is a superset of LSH recall)."""
    import pytest

    docs = _docs(spark)
    # jaccard(doc7, doc7+tail) over 3-shingles is ~0.86; threshold 0.5
    out = corpus.build_training_corpus(
        docs, budget=64, near_dup_method="auto"
    ).collect()
    ids = {r["doc_id"] for r in out}
    assert 7 in ids and 901 not in ids          # near-dup plant dropped
    assert 5 in ids and 900 not in ids          # exact-dup stage unaffected
    base_ids = {
        r["doc_id"] for r in corpus.build_training_corpus(docs, budget=64).collect()
    }
    # exact routes can only drop MORE near-dups than LSH, never fewer
    assert ids <= base_ids
    spark.catalog.clearCache()

    with pytest.raises(ValueError, match="near_dup_method"):
        corpus.build_training_corpus(docs, near_dup_method="ppjoin")


def test_bpe_packing_stage_budgets_by_trained_subwords(spark):
    """bpe_merges: the packing stage must budget bins by the trained-BPE
    encode counts — recomputed here independently via the driver-side
    encoder — and preserve the packing invariants (offset = running sum
    within each split's deterministic stream)."""
    from recon_spark.operators import bpe
    from recon_spark.operators.packing import PACK_SALT, hash_bucket

    docs = _docs(spark)
    out = corpus.build_training_corpus(docs, budget=64, bpe_merges=25)
    rows = out.collect()
    spark.catalog.clearCache()

    baseline = {
        r["doc_id"]: r for r in corpus.build_training_corpus(docs, budget=64).collect()
    }
    spark.catalog.clearCache()
    assert {r["doc_id"] for r in rows} == set(baseline)  # same survivors

    # independent recompute of the trained counts for the survivors
    surviving = sorted(r["doc_id"] for r in rows)
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.filter(F.col("doc_id").isin(surviving)).collect()
    }
    merges = bpe.bpe_train(
        docs.filter(F.col("doc_id").isin(surviving)), n_merges=25
    )
    ranks = {p: i for i, p in enumerate(merges)}
    import re

    tok_re = re.compile("[^a-zA-Z0-9]+")

    def n_bpe(text):
        words = [t for t in tok_re.split(text.lower().strip()) if t]
        return sum(len(bpe.encode_word(w, ranks)) for w in words)

    for r in rows:
        assert r["n_tokens"] == n_bpe(texts[r["doc_id"]]), r["doc_id"]

    # packing invariant: within each split, offsets are the running sum
    # of counts in the deterministic hash-bucket stream order
    hb_rows = {
        r["doc_id"]: r["hb"]
        for r in docs.select(
            "doc_id", hash_bucket("doc_id", PACK_SALT).alias("hb")
        ).collect()
    }
    by_split: dict[str, list] = {}
    for r in rows:
        by_split.setdefault(r["split"], []).append(r)
    for split_rows in by_split.values():
        split_rows.sort(key=lambda r: (hb_rows[r["doc_id"]], r["doc_id"]))
        running = 0
        for r in split_rows:
            assert r["bin_id"] == running // 64 and r["bin_offset"] == running % 64
            running += r["n_tokens"]


def test_within_doc_cleaning_stages(spark):
    """c4_lines + dedup_paras: the pre-stages must edit/drop documents
    before any downstream signal — a page failing the C4 page rules
    disappears, and a repeated in-doc paragraph is gone from the text
    every later stage (and the packed token count) sees."""
    rows = []
    for i in range(40):
        base = f"u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g u{i}h"
        rows.append((i, f"{base} one.\n{base} two!\n{base} three?"))
    # page with too few qualifying lines -> dropped by the C4 rules
    rows.append((500, "short.\nno punct line here"))
    # duplicated paragraph inside one doc -> edited by dedup_paras
    uniq = "omega psi chi phi upsilon tau sigma rho pi"
    rows.append((501, f"{uniq} one.\n{uniq} one.\n{uniq} two more!\n"
                      f"{uniq} three again?"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    out = {
        r["doc_id"]: r
        for r in corpus.build_training_corpus(
            docs, budget=64, c4_lines=True, dedup_paras=True
        ).collect()
    }
    spark.catalog.clearCache()
    assert 500 not in out          # page-dropped by the C4 rules
    assert 501 in out and 7 in out
    # the packed token count reflects the DEDUPED text: the surviving 3
    # paragraphs carry 10+11+11 alnum tokens; the raw 4 carried 42
    assert out[501]["n_tokens"] == 32


def test_unicode_stage_unifies_duplicate_spellings(spark):
    """unicode_form='NFC' as the first stage: a decomposed-accents copy
    of a document becomes an EXACT duplicate and is dropped by the
    fingerprint dedup; without the stage both spellings survive."""
    import unicodedata

    rows = []
    for i in range(30):
        rows.append((i, f"café menu item {i} with words enough here"))
    composed = rows[3][1]
    rows.append((800, unicodedata.normalize("NFD", composed)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # near_dup_threshold=0.99: the two spellings are ~0.94-Jaccard
    # near-dups even unnormalized (the accented word tokenizes caf vs
    # cafe), so a high threshold isolates the EXACT-dedup effect the
    # normalization stage exists for
    base_ids = {
        r["doc_id"]
        for r in corpus.build_training_corpus(
            docs, budget=64, near_dup_threshold=0.99
        ).collect()
    }
    spark.catalog.clearCache()
    norm_ids = {
        r["doc_id"]
        for r in corpus.build_training_corpus(
            docs, budget=64, near_dup_threshold=0.99, unicode_form="NFC"
        ).collect()
    }
    spark.catalog.clearCache()
    assert 800 in base_ids          # raw bytes differ -> both survive
    assert 800 not in norm_ids      # normalized -> exact dup of doc 3
    assert 3 in norm_ids


def test_near_dup_default_is_auto_and_matches_minhash_on_fixture(spark):
    """Round-13 default flip (VERDICT r12 #4): build_training_corpus
    defaults to the regime-adaptive dispatcher. On the organic fixture
    corpus the probe routes to an EXACT form (amplification ~2, rich
    rare tail) and the final corpus is IDENTICAL to the previous
    'minhash' default — asserted here so the flip can never silently
    change the benched e2e output."""
    import inspect

    from recon_spark.operators import dedup
    from recon_spark.sources.tpch import load

    assert (
        inspect.signature(corpus.build_training_corpus)
        .parameters["near_dup_method"].default
        == "auto"
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents").repartition(8)
    probe: dict = {}
    sh = dedup.staged_shingles(docs, "doc_id", "text", 3)
    dedup.ngram_jaccard_auto(None, sh=sh, probe_out=probe).limit(1).collect()
    assert probe["route"] in ("count", "prefix")  # exact recall regime

    a = sorted(
        tuple(r)
        for r in corpus.build_training_corpus(docs, budget=64).collect()
    )
    spark.catalog.clearCache()
    b = sorted(
        tuple(r)
        for r in corpus.build_training_corpus(
            docs, budget=64, near_dup_method="minhash"
        ).collect()
    )
    spark.catalog.clearCache()
    assert a == b and len(a) > 0


def test_unicode_twins_through_pipeline(spark):
    """Pipeline-level version of the planted-twins claim (VERDICT r12
    #6): run the fixture generator's composed/decomposed twin corpus
    through build_training_corpus — WITHOUT unicode_form both spellings
    of every planted pair survive exact dedup (one of them should have
    died), WITH unicode_form='NFC' exactly one of each pair survives."""
    from pyspark.sql import functions as F

    from recon_spark.sources import fixtures

    aug = fixtures.unicode_twin_documents(spark, "/root/testdata/sf0.001")
    n_pairs = aug.filter(F.col("doc_id") >= 3_000_000).count()
    assert n_pairs > 0

    def planted_survivors(**kw):
        out = corpus.build_training_corpus(aug, budget=64, **kw)
        n = out.filter(F.col("doc_id") >= 2_000_000).count()
        spark.catalog.clearCache()
        return n

    raw = planted_survivors()
    nfc = planted_survivors(unicode_form="NFC")
    # without NFC both spellings of every surviving pair pass the
    # fingerprint (under-deletion: raw is exactly twice the NFC count);
    # with NFC each pair collapses to one survivor
    assert nfc > 0 and raw == 2 * nfc and nfc <= n_pairs


def test_gopher_rules_stage(spark):
    """A bullet-wall document passes the legacy 3-flag filter (plenty of
    tokens, sane word lengths, low punctuation) but fails Gopher rule 4;
    gopher_rules=True drops it, the default keeps it, and every other
    survivor is unaffected."""
    docs = _docs(spark)
    bullets = "\n".join(f"- item {i} alpha beta gamma" for i in range(25))
    docs = docs.unionByName(
        spark.createDataFrame([(920, bullets)], "doc_id long, text string")
    )
    base = {r["doc_id"] for r in corpus.build_training_corpus(docs, budget=64).collect()}
    gop = {
        r["doc_id"]
        for r in corpus.build_training_corpus(
            docs, budget=64, gopher_rules=True
        ).collect()
    }
    assert 920 in base
    assert 920 not in gop
    # the battery also rejects the short synthetic docs (word count < 50
    # where the legacy filter's floor is 5 tokens) — but never ADDS docs
    assert gop <= base
