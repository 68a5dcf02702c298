"""DuckDB renderings of the LLM-data-pipeline operators (text analysis,
dedup exact/MinHash-LSH/SimHash, similarity search), generated from the
same constants as ``recon_spark.operators.{text,dedup,similarity}`` so the
two sides cannot drift.

Hash portability: everything derives from md5 (hex string min for
MinHash, first-8-hex-chars-as-uint32 for SimHash), which is bit-identical
across engines. Float folds are explicit left-to-right ``list_reduce``
index folds, mirroring Spark's ``F.aggregate`` order exactly.
"""

from __future__ import annotations

from ..functions.normalizers import WS as _WS
from ..operators import dedup as D
from ..operators import sampling as _SAMP
from ..operators import text as T

NL = "chr(10)"

#: DuckDB rendering of the Spark BPE token pattern — the SAME Python
#: constant (operators/text.BPE_TOKEN_PATTERN), interpolated as a value
#: so its regex braces are not re-parsed by the f-strings below; RE2
#: and Java agree on every construct it uses (explicit WS class, r13).
_BPE_PAT = T.BPE_TOKEN_PATTERN


def tokens(col: str) -> str:
    return (
        f"list_filter(string_split_regex(lower(trim(CAST({col} AS VARCHAR))),"
        f" '{T.TOKEN_SPLIT_RE}'), x -> x <> '')"
    )


def _in_list(words: tuple[str, ...]) -> str:
    return "(" + ", ".join("'" + w.replace("'", "''") + "'" for w in words) + ")"


def shingles(col: str, k: int = 3) -> str:
    toks = tokens(col)
    return (
        f"(CASE WHEN len({toks}) > 0 THEN list_distinct(list_transform("
        f"range(1, greatest(len({toks}) - {k - 1}, 1) + 1),"
        f" i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' ')))"
        f" ELSE [] END)"
    )


def normalize_for_hash(col: str) -> str:
    # explicit class == Java \s (functions/normalizers.WS); RE2 \s excludes U+000B
    return rf"trim(regexp_replace(lower(CAST({col} AS VARCHAR)), '{_WS}+', ' ', 'g'))"


def fingerprint(col: str) -> str:
    return f"md5({normalize_for_hash(col)})"


def minhash_signature_from(sh_col: str, n_hashes: int = D.N_MINHASH) -> str:
    """Signature expression over an existing shingles column."""
    elems = ", ".join(
        f"list_min(list_transform({sh_col}, s -> md5(s || '#{i}')))"
        for i in range(n_hashes)
    )
    return f"(CASE WHEN len({sh_col}) > 0 THEN [{elems}] END)"


def hash32(expr: str) -> str:
    return f"CAST(CAST(concat('0x', substr(md5({expr}), 1, 8)) AS UBIGINT) AS BIGINT)"


def _splice(s: str, old: str, new: str) -> str:
    """``str.replace`` that REFUSES to no-op (ADVICE r10): composing a
    graded SQL constant from a body via replace is silent if the anchor
    string drifts after a body edit, and the failure would surface only
    as a schema mismatch in the correctness harness far from the cause.
    Raising here moves the failure to import time, at the edit."""
    if old not in s:
        raise ValueError(f"splice anchor not found in SQL body: {old[:80]!r}")
    return s.replace(old, new, 1)


def simhash_from(hs_col: str, bits: int = D.SIMHASH_BITS) -> str:
    """SimHash expression over an existing token-hash-array column."""
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter({hs_col}, h -> ((h >> {j}) & 1) = 1)) > len({hs_col})"
        f" THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    return f"(CASE WHEN len({hs_col}) > 0 THEN ({terms}) END)"


def dot(a: str, b: str) -> str:
    prods = (
        f"list_transform(range(1, len({a}) + 1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))"
    )
    return f"coalesce(list_reduce({prods}, (x, y) -> x + y), 0.0)"


def norm(a: str) -> str:
    sq = (
        f"list_transform(range(1, len({a}) + 1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))"
    )
    return f"sqrt(coalesce(list_reduce({sq}, (x, y) -> x + y), 0.0))"


def cosine(a: str, b: str) -> str:
    return (
        f"(CASE WHEN {norm(a)} * {norm(b)} > 0"
        f" THEN {dot(a, b)} / ({norm(a)} * {norm(b)}) END)"
    )


def sign_bucket(vec: str, dims: tuple[int, ...]) -> str:
    bits = " || ".join(
        f"(CASE WHEN {vec}[{d + 1}] < 0 THEN '1' ELSE '0' END)" for d in dims
    )
    return f"({bits})"


def sign_bucket_int(vec: str, dims: tuple[int, ...]) -> str:
    terms = " + ".join(
        f"(CASE WHEN {vec}[{d + 1}] < 0 THEN {1 << i} ELSE 0 END)"
        for i, d in enumerate(dims)
    )
    return f"({terms})"


# --- planted-duplicate corpus (shared Spark/SQL derivation) ------------------

#: every 50th doc gets an exact copy, every 70th a near-copy with an
#: appended suffix; ids offset so originals sort first.
EXACT_COPY_MOD = 50
NEAR_COPY_MOD = 70
COPY_ID_OFFSET = 100_000
NEAR_ID_OFFSET = 200_000
NEAR_SUFFIX = " extra trailing tokens appended here"

DOCS_AUG_CTE = f"""docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {COPY_ID_OFFSET}, text FROM documents WHERE doc_id % {EXACT_COPY_MOD} = 0
  UNION ALL
  SELECT doc_id + {NEAR_ID_OFFSET}, text || '{NEAR_SUFFIX}'
  FROM documents WHERE doc_id % {NEAR_COPY_MOD} = 0
)"""

#: every 25th embedding gets an exact copy under an offset id
EMB_COPY_MOD = 25
EMB_AUG_CTE = f"""emb_aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {COPY_ID_OFFSET}, embedding FROM embeddings
  WHERE vec_id % {EMB_COPY_MOD} = 0
)"""


# --- registered query SQL ----------------------------------------------------

_LANG_SCORES = ",\n    ".join(
    f"CAST(len(list_filter(toks, t -> t IN {_in_list(words)})) AS BIGINT) AS s_{lang}"
    for lang, words in T.LANG_STOPWORDS.items()
)
_LANG_BEST = "greatest(" + ", ".join(f"s_{lang}" for lang in T.LANG_STOPWORDS) + ")"
_LANG_CASE = (
    "CASE "
    + " ".join(f"WHEN s_{lang} = {_LANG_BEST} THEN '{lang}'" for lang in T.LANG_STOPWORDS)
    + " END"
)

_QUALITY_FLAGS = f"""list_filter([
      CASE WHEN n_tokens < {T.QUALITY_MIN_TOKENS} THEN 'too_few_tokens' END,
      CASE WHEN coalesce(mean_wl > {T.QUALITY_MAX_MEAN_WORD_LEN}, false) THEN 'mean_word_len_too_high' END,
      CASE WHEN coalesce(sym_ratio > {T.QUALITY_MAX_SYMBOL_RATIO}, false) THEN 'symbol_ratio_too_high' END
    ], x -> x IS NOT NULL)"""

# --- hashed embedding (feature-hashing trick) --------------------------------

#: graded projection dimension for the text_stats embedding column (the
#: operator default is 64; 16 keeps the oracle expression light). Every
#: intermediate value before the final normalization is an integer-valued
#: double (signed counts), so summation order cannot drift between
#: engines; bucket/sign derive from md5, bit-identical everywhere.
EMBED_GRADED_DIM = 16
_E = __import__("recon_spark.operators.embed", fromlist=["EMBED_SALT"])
EMBED_SALT = _E.EMBED_SALT


def embedding_micros(toks_col: str, dim: int = EMBED_GRADED_DIM) -> str:
    """DuckDB replay of operators/embed.py embed_texts (md5 bucket and
    sign per token, signed histogram, L2 norm), serialized as ';'-joined
    micros (NULL for token-less docs)."""
    h = f"md5('{EMBED_SALT}' || t)"
    bucket = f"CAST(CAST(concat('0x', substr({h}, 1, 8)) AS UBIGINT) % {dim} AS INT)"
    sign = (
        f"(CASE WHEN CAST(concat('0x', substr({h}, 9, 1)) AS UBIGINT) % 2 = 0"
        f" THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)"
    )
    pairs = f"list_transform({toks_col}, t -> struct_pack(b := {bucket}, s := {sign}))"
    raw = (
        f"list_transform(range(0, {dim}), i -> coalesce(list_sum("
        f"list_transform({pairs}, p -> CASE WHEN p.b = i THEN p.s"
        f" ELSE CAST(0.0 AS DOUBLE) END)), CAST(0.0 AS DOUBLE)))"
    )
    norm = f"sqrt(list_sum(list_transform({raw}, x -> x * x)))"
    return (
        f"(CASE WHEN {norm} > 0 THEN array_to_string(list_transform({raw},"
        f" x -> CAST(CAST(round(x / {norm} * 1000000) AS BIGINT) AS VARCHAR)),"
        f" ';') END)"
    )


#: bigram-LM perplexity-filter substrate (operators/lm.py, folded into
#: text_stats since round 7): an INDEPENDENT DuckDB replay of the whole
#: LM data flow — hash-split the corpus, train bigram/unigram/vocab
#: counts on the 'train' split, BOS-prefix and explode every document's
#: bigrams, LEFT-join the count tables, and aggregate the integer-exact
#: per-document substrate (everything the scorer computes before ln()).
_LM_BOS = "'<s>'"
_LM_PAIRS = (
    "list_transform(range(1, len(toks) + 1), "
    f"i -> struct_pack(w1 := list_concat([{_LM_BOS}], toks)[i], "
    f"w2 := list_concat([{_LM_BOS}], toks)[i + 1]))"
)

#: the LM-substrate CTE stack over a `base(doc_id, text, toks)` CTE —
#: shared VERBATIM by TEXT_STATS_SQL (the graded fold) and
#: LM_SUBSTRATE_SQL (the differential fuzz's standalone form), so the
#: fuzz exercises exactly the SQL the driver grades.
_LM_CTES = f"""lm_pairs AS (
  SELECT doc_id,
    CASE WHEN {hash32(f"'{_SAMP.SPLIT_SALT}' || CAST(doc_id AS VARCHAR)")} < {_SAMP.TRAIN_EDGE} THEN 'train'
         WHEN {hash32(f"'{_SAMP.SPLIT_SALT}' || CAST(doc_id AS VARCHAR)")} < {_SAMP.VAL_EDGE} THEN 'val'
         ELSE 'test' END AS split,
    unnest({_LM_PAIRS}) AS p
  FROM base WHERE len(toks) > 0
),
lm_bg AS (SELECT doc_id, split, p.w1 AS w1, p.w2 AS w2 FROM lm_pairs),
lm_ref AS (SELECT w1, w2 FROM lm_bg WHERE split = 'train'),
lm_big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM lm_ref GROUP BY 1, 2),
lm_uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM lm_ref GROUP BY 1),
lm_v AS (SELECT CAST(count(DISTINCT w2) + 1 AS BIGINT) AS v FROM lm_ref),
lm_sub AS (
  SELECT doc_id,
    CAST(count(*) AS BIGINT) AS lm_n_scored,
    CAST(sum(coalesce(c2, 0)) AS BIGINT) AS lm_sum_c2,
    CAST(sum(CASE WHEN c2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lm_unseen_bigrams,
    CAST(sum(coalesce(c1, 0)) AS BIGINT) AS lm_sum_c1,
    CAST(sum(CASE WHEN c1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lm_unseen_contexts,
    CAST(max(v) AS BIGINT) AS lm_vocab_v
  FROM lm_bg
  LEFT JOIN lm_big USING (w1, w2)
  LEFT JOIN lm_uni USING (w1)
  CROSS JOIN lm_v
  GROUP BY doc_id
)"""

#: standalone substrate query for the differential fuzz (same CTE stack
#: the driver grades through TEXT_STATS_SQL)
LM_SUBSTRATE_SQL = f"""WITH base AS (
  SELECT doc_id, text, {tokens('text')} AS toks FROM documents
),
{_LM_CTES}
SELECT * FROM lm_sub"""

#: interpolated Kneser-Ney bigram model substrate (operators/lm.py
#: train_kn_lm/kn_count_substrate, r14 — the smoothing KenLM/CCNet
#: actually runs, folded into TFIDF_SQL): an INDEPENDENT DuckDB replay
#: of the whole KN data flow — hash-split, train the bigram-TYPE
#: aggregate on 'train', derive context totals + forward/backward
#: continuation-type counts + the singleton/doubleton discount inputs
#: from it, three-way LEFT-join every document's bigrams, aggregate the
#: integer-exact per-document substrate. Self-contained over
#: `documents` (the REP_CTES pattern); only the discount/interpolation/
#: ln() float layer stays pytest-graded (the score_count_substrate
#: split verbatim).
_KN_CK = hash32(
    "CAST(doc_id AS VARCHAR) || '|' || CAST(kn_n_scored AS VARCHAR) || '|' "
    "|| CAST(kn_sum_c2 AS VARCHAR) || '|' || CAST(kn_unseen_bigrams AS VARCHAR) || '|' "
    "|| CAST(kn_sum_c1 AS VARCHAR) || '|' || CAST(kn_unseen_contexts AS VARCHAR) || '|' "
    "|| CAST(kn_sum_n1f AS VARCHAR) || '|' || CAST(kn_sum_n1b AS VARCHAR) || '|' "
    "|| CAST(kn_unseen_cont AS VARCHAR) || '|' || CAST(kn_t_types AS VARCHAR) || '|' "
    "|| CAST(kn_n1 AS VARCHAR) || '|' || CAST(kn_n2 AS VARCHAR) || '|' "
    "|| CAST(kn_v AS VARCHAR)"
)

#: the fixture vocabulary is CLOSED under the hash split (every token
#: appears in the 90% train slice), so without planting, the unseen-
#: context / unseen-continuation branches of the KN substrate would be
#: certified vacuously. Deterministic plants (the docs_aug convention):
#: every KN_PLANT_MOD-th document contributes one extra SCORING-ONLY
#: row of novel tokens under a corpus-derived offset id — the model
#: never trains on plants, so all three miss branches fire at any SF.
KN_PLANT_MOD = 10
KN_PLANT_TEXT = "zzknqa zzknqb zzknqa"

KN_CTES = f"""kn_base AS (
  SELECT doc_id, {tokens('text')} AS toks FROM documents
),
kn_pairs AS (
  SELECT doc_id,
    CASE WHEN {hash32(f"'{_SAMP.SPLIT_SALT}' || CAST(doc_id AS VARCHAR)")} < {_SAMP.TRAIN_EDGE} THEN 'train'
         WHEN {hash32(f"'{_SAMP.SPLIT_SALT}' || CAST(doc_id AS VARCHAR)")} < {_SAMP.VAL_EDGE} THEN 'val'
         ELSE 'test' END AS split,
    unnest({_LM_PAIRS}) AS p
  FROM kn_base WHERE len(toks) > 0
),
kn_bg AS (SELECT doc_id, split, p.w1 AS w1, p.w2 AS w2 FROM kn_pairs),
kn_off AS (
  SELECT CAST(coalesce(max(doc_id), 0) + {NEAR_ID_OFFSET} + 1 AS BIGINT) AS off
  FROM documents
),
kn_pbase AS (
  SELECT doc_id + off AS doc_id, {tokens(f"'{KN_PLANT_TEXT}'")} AS toks
  FROM documents CROSS JOIN kn_off WHERE doc_id % {KN_PLANT_MOD} = 0
),
kn_plant_bg AS (
  SELECT doc_id, p.w1 AS w1, p.w2 AS w2
  FROM (SELECT doc_id, toks, unnest({_LM_PAIRS}) AS p
        FROM kn_pbase WHERE len(toks) > 0)
),
kn_score_bg AS (
  SELECT doc_id, w1, w2 FROM kn_bg
  UNION ALL
  SELECT doc_id, w1, w2 FROM kn_plant_bg
),
kn_big AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
  FROM kn_bg WHERE split = 'train' GROUP BY 1, 2
),
kn_ctx AS (
  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS n1f
  FROM kn_big GROUP BY 1
),
kn_back AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM kn_big GROUP BY 1),
kn_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS t_types,
         CAST(coalesce(sum(CASE WHEN c2 = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n1,
         CAST(coalesce(sum(CASE WHEN c2 = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n2,
         CAST(count(DISTINCT w2) + 1 AS BIGINT) AS v
  FROM kn_big
),
kn_sub AS (
  SELECT doc_id,
    CAST(count(*) AS BIGINT) AS kn_n_scored,
    CAST(sum(coalesce(c2, 0)) AS BIGINT) AS kn_sum_c2,
    CAST(sum(CASE WHEN c2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kn_unseen_bigrams,
    CAST(sum(coalesce(c1, 0)) AS BIGINT) AS kn_sum_c1,
    CAST(sum(CASE WHEN c1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kn_unseen_contexts,
    CAST(sum(coalesce(n1f, 0)) AS BIGINT) AS kn_sum_n1f,
    CAST(sum(coalesce(n1b, 0)) AS BIGINT) AS kn_sum_n1b,
    CAST(sum(CASE WHEN n1b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kn_unseen_cont,
    CAST(max(t_types) AS BIGINT) AS kn_t_types,
    CAST(max(n1) AS BIGINT) AS kn_n1,
    CAST(max(n2) AS BIGINT) AS kn_n2,
    CAST(max(v) AS BIGINT) AS kn_v
  FROM kn_score_bg
  LEFT JOIN kn_big USING (w1, w2)
  LEFT JOIN kn_ctx USING (w1)
  LEFT JOIN kn_back USING (w2)
  CROSS JOIN kn_tot
  GROUP BY doc_id
),
kn_parity AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_kn_rows,
         CAST(COALESCE(SUM({_KN_CK}), 0) AS BIGINT) AS kn_ck
  FROM kn_sub
)"""

#: standalone KN substrate query (differential fuzz; the driver grades
#: the same stack through the TFIDF_SQL fold)
KN_SUBSTRATE_SQL = f"""WITH {KN_CTES}
SELECT * FROM kn_sub"""

#: Gopher n-gram repetition battery replay (operators/repetition.py) —
#: rides TEXT_STATS_SQL as a round-9 zero-slot parity fold. One UNION
#: branch per n builds overlapping grams over the SAME token arrays;
#: top gram = max (count, gram) struct (ties -> lexicographically
#: largest, identical to Spark's struct max); the checksum covers the
#: whole INTEGER substrate (counts + char sums), the graded surface —
#: the float ratios are a single division over these integers and stay
#: pytest-graded (operators/lm.py split).
from ..operators import repetition as _REP  # noqa: E402

_REP_GRAM_BRANCHES = "\n  UNION ALL\n".join(
    f"""  SELECT doc_id, total_chars, {n} AS n,
    array_to_string(list_slice(toks, i + 1, i + {n}), ' ') AS gram
  FROM (SELECT doc_id, toks, total_chars,
        unnest(range(0, len(toks) - {n} + 1)) AS i FROM rep_nz)"""
    for n in _REP.ALL_NS
)

REP_CTES = f"""rep_nz AS (
  SELECT doc_id, toks, CAST(length(array_to_string(toks, ' ')) AS BIGINT) AS total_chars
  FROM (SELECT doc_id, {tokens('text')} AS toks FROM documents)
  WHERE len(toks) > 0
),
rep_grams AS (
{_REP_GRAM_BRANCHES}
),
rep_counts AS (
  SELECT doc_id, n, total_chars, gram, COUNT(*) AS cnt
  FROM rep_grams GROUP BY doc_id, n, total_chars, gram
),
rep_rolled AS (
  SELECT doc_id, n, total_chars,
         max(struct_pack(cnt := cnt, gram := gram)) AS top,
         COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt * length(gram) END), 0) AS dup_chars
  FROM rep_counts GROUP BY doc_id, n, total_chars
),
rep_sub AS (
  SELECT doc_id, CAST(n AS INT) AS n,
         CAST(struct_extract(top, 'cnt') AS BIGINT) AS top_cnt,
         CAST(struct_extract(top, 'cnt') * length(struct_extract(top, 'gram')) AS BIGINT) AS top_chars,
         CAST(dup_chars AS BIGINT) AS dup_chars,
         total_chars
  FROM rep_rolled
),
rep_parity AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rep_rows,
         CAST(COALESCE(SUM({hash32(
             "CAST(doc_id AS VARCHAR) || '|' || CAST(n AS VARCHAR) || '|' "
             "|| CAST(top_cnt AS VARCHAR) || '|' || CAST(top_chars AS VARCHAR) || '|' "
             "|| CAST(dup_chars AS VARCHAR) || '|' || CAST(total_chars AS VARCHAR)"
         )}), 0) AS BIGINT) AS rep_ck
  FROM rep_sub
)"""

TEXT_STATS_SQL = f"""WITH base AS (
  SELECT doc_id, text, {tokens('text')} AS toks FROM documents
),
{_LM_CTES},
sim_stage AS (
  SELECT doc_id, list_transform(toks, t -> {hash32('t')}) AS hs FROM base
),
sim AS (
  SELECT doc_id, {simhash_from('hs')} AS simhash FROM sim_stage
),
stats AS (
  SELECT doc_id, text, toks,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT) AS n_tokens_bpe,
    CAST(length(text) AS BIGINT) AS n_chars,
    (CASE WHEN length(text) > 0 THEN
      CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
      / length(text) END) AS sym_ratio,
    (CASE WHEN len(toks) > 0 THEN
      CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) END) AS mean_wl,
    CAST(len(list_filter(toks, t -> t IN {_in_list(T.LANG_STOPWORDS['en'])})) AS BIGINT) AS en_hits,
    {_LANG_SCORES}
  FROM base
)
SELECT doc_id, n_tokens, n_tokens_bpe, n_chars, sym_ratio AS punct_ratio,
  mean_wl AS mean_word_len,
  (CASE WHEN n_tokens > 0 THEN CAST(en_hits AS DOUBLE) / n_tokens END) AS stopword_ratio,
  (CASE WHEN {_LANG_BEST} > 0 THEN {_LANG_CASE} END) AS lang_guess,
  coalesce(array_to_string({_QUALITY_FLAGS}, ';'), '') AS quality_flags,
  CAST(3 - len({_QUALITY_FLAGS}) AS DOUBLE) / 3.0 AS quality_score,
  {fingerprint('text')} AS fingerprint,
  list_min(list_transform({shingles('text')}, s -> md5(s))) AS min_shingle_hash,
  CAST(CASE WHEN n_tokens > 0 THEN
    round(CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens * 1000000) END AS BIGINT) AS ttr_micros,
  CAST(CASE WHEN n_tokens > 0 THEN
    round(CAST(list_max(list_transform(list_distinct(toks),
      d -> len(list_filter(toks, t -> t = d)))) AS DOUBLE) / n_tokens * 1000000) END AS BIGINT) AS top_share_micros,
  {embedding_micros('toks')} AS embedding_micros,
  lm_n_scored, lm_sum_c2, lm_unseen_bigrams,
  lm_sum_c1, lm_unseen_contexts, lm_vocab_v,
  simhash
FROM stats LEFT JOIN lm_sub USING (doc_id) LEFT JOIN sim USING (doc_id)"""

#: smoothed TF-IDF top-3 terms per doc; N counts docs with >= 1 token
#: (exactly the ids present in the tf aggregate), same as the Spark side.
#: Literal +1.0 decimals are exact-integer shifts, so the DECIMAL->DOUBLE
#: promotion cannot drift.
#: per-language tokenizer fertility diagnostics (operators/text.py
#: fertility_stats, r13): exact BIGINT counters + micros ratios in the
#: SAME operation order as the Spark side ((chars/tokens)*1e6, division
#: first). strlen = UTF-8 byte length (Spark octet_length's twin).
_FERT_CTES = f"""fert AS (
  SELECT lang,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(COALESCE(sum(length(CAST(text AS VARCHAR))), 0) AS BIGINT) AS n_chars,
    CAST(COALESCE(sum(strlen(CAST(text AS VARCHAR))), 0) AS BIGINT) AS n_bytes,
    CAST(COALESCE(sum(len({tokens('text')})), 0) AS BIGINT) AS n_words,
    CAST(COALESCE(sum(len(regexp_extract_all(CAST(text AS VARCHAR),
      '{_BPE_PAT}'))), 0)
      AS BIGINT) AS n_tokens_bpe
  FROM documents GROUP BY lang
),
fert_rows AS (
  SELECT lang, n_docs, n_chars, n_bytes, n_words, n_tokens_bpe,
    (CASE WHEN n_tokens_bpe > 0 THEN
      CAST(round((CAST(n_chars AS DOUBLE) / n_tokens_bpe) * 1000000.0) AS BIGINT)
      END) AS chars_per_token_micros,
    (CASE WHEN n_words > 0 THEN
      CAST(round((CAST(n_tokens_bpe AS DOUBLE) / n_words) * 1000000.0) AS BIGINT)
      END) AS tokens_per_word_micros
  FROM fert
),
fert_parity AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_fert_rows,
         CAST(COALESCE(SUM({hash32(
             "coalesce(lang, chr(0)) || '|' || CAST(n_docs AS VARCHAR)"
             " || '|' || CAST(n_chars AS VARCHAR)"
             " || '|' || CAST(n_bytes AS VARCHAR)"
             " || '|' || CAST(n_words AS VARCHAR)"
             " || '|' || CAST(n_tokens_bpe AS VARCHAR)"
             " || '|' || CAST(coalesce(chars_per_token_micros, -1) AS VARCHAR)"
             " || '|' || CAST(coalesce(tokens_per_word_micros, -1) AS VARCHAR)"
         )}), 0) AS BIGINT) AS fert_ck
  FROM fert_rows
)"""

#: literal seed lexicon for the oracle-replayable TRAINED-BPE fertility
#: fold (r14, VERDICT r13 #6): drawn from the fixture generator's shared
#: vocabulary so the trained merges genuinely fire on corpus words at
#: every SF (the non-vacuity convention), with made-up Zipf-ish weights.
#: LITERAL on purpose — a corpus-trained model's merge table could not
#: be embedded in a static oracle SQL string; training from a fixed
#: lexicon keeps the ENCODE + fertility aggregation oracle-graded while
#: the training loop itself stays pytest-graded against the naive
#: reference trainer (the r12 substrate-fold split).
FERTILITY_LEXICON: tuple[tuple[str, int], ...] = (
    ("scan", 90), ("column", 88), ("window", 86), ("order", 85), ("sort", 84),
    ("part", 80), ("agg", 78), ("value", 76), ("line", 74), ("key", 72),
    ("join", 70), ("merge", 68), ("group", 66), ("query", 64), ("vector", 62),
    ("hash", 60), ("slow", 58), ("stream", 56), ("filter", 54), ("fast", 52),
    ("the", 50), ("spark", 48), ("batch", 46), ("table", 44), ("small", 42),
    ("data", 40), ("big", 38), ("customer", 36), ("row", 34), ("a", 32),
)

#: merge count for the fertility model — small enough that the unrolled
#: SQL replace chain stays readable, large enough that frequent fixture
#: words compress to 1-2 subwords
FERTILITY_MERGES_N = 24


def _assert_sequentially_safe(merges: list[tuple[str, str]]) -> None:
    """The oracle replays the encoder as ONE sequential pass: each merge
    applied once, in rank order, as a non-overlapping left-to-right
    string replace. That equals the real encoder's lowest-rank-first
    loop iff no later merge can create an earlier merge's constituent
    symbol (else the priority loop would revisit the earlier merge on
    the newly-formed symbol while the sequential pass has moved on).
    Single-char constituents are never created by a merge; multi-char
    constituents must come from strictly earlier merges ONLY. Raises at
    SQL-build time — the failure belongs at the lexicon edit, not in a
    correctness-harness hash mismatch."""
    outputs = [a + b for a, b in merges]
    for i, (a, b) in enumerate(merges):
        for j in range(i + 1, len(merges)):
            if outputs[j] == a or outputs[j] == b:
                raise ValueError(
                    f"merge table not sequentially safe: merge {j} "
                    f"({merges[j]!r}) creates a constituent of merge {i} "
                    f"({merges[i]!r}) — adjust FERTILITY_LEXICON/"
                    f"FERTILITY_MERGES_N"
                )


_FERTILITY_MERGES: list[tuple[str, str]] | None = None


def fertility_merges() -> list[tuple[str, str]]:
    """The trained fertility merge table (cached): pure-Python
    ``bpe.train_from_counts`` over the literal lexicon — deterministic,
    session-free, shared verbatim by the Spark fold and the oracle SQL
    below so the two sides cannot drift."""
    global _FERTILITY_MERGES
    if _FERTILITY_MERGES is None:
        from ..operators.bpe import train_from_counts

        merges = train_from_counts(dict(FERTILITY_LEXICON), FERTILITY_MERGES_N)
        _assert_sequentially_safe(merges)
        _FERTILITY_MERGES = merges
    return _FERTILITY_MERGES


def _bpe_enc_sql(word_expr: str) -> str:
    """Bracketed-symbol encode of one word as an unrolled replace chain:
    ``[c][h][a][r][</w>]`` then each merge ``(a, b)`` in rank order as
    ``replace(s, '[a][b]', '[ab]')`` — SQL replace's non-overlapping
    left-to-right semantics match merge_word exactly, and the per-symbol
    brackets stop occurrences from sharing a delimiter (a space-joined
    form would miss every other occurrence of a repeated pair). Symbols
    are alnum + '</w>' — never a bracket — so the representation is
    unambiguous."""
    expr = rf"regexp_replace({word_expr}, '(.)', '[\1]', 'g') || '[</w>]'"
    for a, b in fertility_merges():
        expr = f"replace({expr}, '[{a}][{b}]', '[{a}{b}]')"
    return expr


def trained_fert_ctes() -> str:
    """Trained-BPE fertility replay (operators/text.py
    fertility_stats_trained): per-language n_docs / n_words /
    n_word_chars / n_tokens_trained with the encoder applied from
    scratch to every word occurrence, plus the two pinned-order micros
    ratios. Factored so the differential fuzz (tests/test_fertility.py)
    runs the identical replay over random corpora."""
    toks = tokens("text")
    n_tok = (
        "CAST(length(e) - length(replace(e, '[', '')) AS BIGINT)"
    )
    return f"""tfert_doc AS (
  SELECT lang,
    CAST(COALESCE(len({toks}), 0) AS BIGINT) AS nw,
    CAST(COALESCE(list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform({toks}, w -> CAST(length(w) AS BIGINT))),
      (a, b) -> a + b), 0) AS BIGINT) AS wc,
    CAST(COALESCE(list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(list_transform({toks}, w -> {_bpe_enc_sql('w')}),
        e -> {n_tok})),
      (a, b) -> a + b), 0) AS BIGINT) AS nt
  FROM documents
),
tfert AS (
  SELECT lang,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(COALESCE(sum(nw), 0) AS BIGINT) AS n_words,
    CAST(COALESCE(sum(wc), 0) AS BIGINT) AS n_word_chars,
    CAST(COALESCE(sum(nt), 0) AS BIGINT) AS n_tokens_trained
  FROM tfert_doc GROUP BY lang
),
tfert_rows AS (
  SELECT lang, n_docs, n_words, n_word_chars, n_tokens_trained,
    (CASE WHEN n_tokens_trained > 0 THEN
      CAST(round((CAST(n_word_chars AS DOUBLE) / n_tokens_trained)
        * 1000000.0) AS BIGINT) END) AS trained_chars_per_token_micros,
    (CASE WHEN n_words > 0 THEN
      CAST(round((CAST(n_tokens_trained AS DOUBLE) / n_words)
        * 1000000.0) AS BIGINT) END) AS trained_tokens_per_word_micros
  FROM tfert
),
tfert_parity AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tfert_rows,
         CAST(COALESCE(SUM({hash32(
             "coalesce(lang, chr(0)) || '|' || CAST(n_docs AS VARCHAR)"
             " || '|' || CAST(n_words AS VARCHAR)"
             " || '|' || CAST(n_word_chars AS VARCHAR)"
             " || '|' || CAST(n_tokens_trained AS VARCHAR)"
             " || '|' || CAST(coalesce(trained_chars_per_token_micros, -1) AS VARCHAR)"
             " || '|' || CAST(coalesce(trained_tokens_per_word_micros, -1) AS VARCHAR)"
         )}), 0) AS BIGINT) AS tfert_ck
  FROM tfert_rows
)"""


def bm25_ctes() -> str:
    """BM25 retrieval replay (operators/text.bm25_topk) off the TF-IDF
    row's tf/dl/dfreq/nn substrate: derived query terms (most document-
    frequent with 2*df <= N, ties lexicographic), Lucene idf, k1/b from
    the same Python reprs, per-doc sum as a term-sorted left fold, rank
    on the micros-rounded score. Factored so the differential fuzz
    (tests/test_bm25.py) runs the identical replay over random corpora."""
    return f"""bm_tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn FROM dl),
bm_q AS (
  SELECT term, dfc FROM dfreq CROSS JOIN nn
  WHERE dfc * 2 <= nd
  ORDER BY dfc DESC, term ASC LIMIT {T.BM25_QUERY_TERMS}
),
bm_scored AS (
  SELECT tf.id, tf.term,
    ln(CAST(1.0 AS DOUBLE)
       + (CAST(nd AS DOUBLE) - dfc + CAST(0.5 AS DOUBLE))
         / (dfc + CAST(0.5 AS DOUBLE)))
    * ((CAST(tc AS DOUBLE) * CAST({T.BM25_K1 + 1.0!r} AS DOUBLE))
       / (tc + CAST({T.BM25_K1!r} AS DOUBLE)
              * (CAST(1.0 AS DOUBLE) - CAST({T.BM25_B!r} AS DOUBLE)
                 + CAST({T.BM25_B!r} AS DOUBLE)
                   * (CAST(n AS DOUBLE) / (CAST(tn AS DOUBLE) / nd))))) AS s
  FROM tf JOIN bm_q USING (term) JOIN dl USING (id)
  CROSS JOIN nn CROSS JOIN bm_tot
),
bm_doc AS (
  SELECT id, CAST(round(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(list_sort(list({{'t': term, 's': s}})), r -> r.s)),
           (a, b) -> a + b) * 1000000) AS BIGINT) AS bm25_micros
  FROM bm_scored GROUP BY id
),
bm_top AS (
  SELECT id, bm25_micros,
         row_number() OVER (ORDER BY bm25_micros DESC, id ASC) AS rank
  FROM bm_doc
),
bm_parity AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_bm25_rows,
         CAST(COALESCE(SUM({hash32(
             "CAST(id AS VARCHAR) || '|' || CAST(bm25_micros AS VARCHAR)"
             " || '|' || CAST(rank AS VARCHAR)"
         )}), 0) AS BIGINT) AS bm25_ck
  FROM bm_top WHERE rank <= {T.BM25_TOPK}
)"""


#: tf/dl/dfreq/nn substrate shared by the TF-IDF row and the BM25 fold —
#: factored so the differential fuzz composes the identical prelude
TF_SUBSTRATE_CTES = f"""toks AS (
  SELECT doc_id AS id, unnest({tokens('text')}) AS term FROM documents
),
tf AS MATERIALIZED (SELECT id, term, count(*) AS tc FROM toks GROUP BY 1, 2),
dl AS (SELECT id, CAST(sum(tc) AS BIGINT) AS n FROM tf GROUP BY 1),
dfreq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
nn AS (SELECT count(DISTINCT id) AS nd FROM tf)"""


#: token-entropy replay (operators/text.token_entropy, r14): counts off
#: the SAME tf substrate the row already replays; H = the negated
#: left fold of (c/n)*ln(c/n) in term-ascending order (explicit
#: list_reduce, the engine-portable float-fold convention), micros
#: rounded; the normalized form divides the raw H by ln(n_types).
ENT_CTES = f"""ent_agg AS (
  SELECT id, CAST(sum(tc) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         list(CAST(tc AS BIGINT) ORDER BY term) AS cs
  FROM tf GROUP BY id
),
ent_raw AS (
  SELECT id, n_tokens, n_types,
    -(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(cs, c -> (CAST(c AS DOUBLE) / n_tokens)
                               * ln(CAST(c AS DOUBLE) / n_tokens))),
      (x, y) -> x + y)) AS h_raw
  FROM ent_agg
),
ent_rows AS (
  SELECT d.doc_id,
         CAST(coalesce(r.n_tokens, 0) AS BIGINT) AS n_tokens,
         CAST(coalesce(r.n_types, 0) AS BIGINT) AS n_types,
         (CASE WHEN r.id IS NOT NULL
               THEN CAST(round(h_raw * 1000000) AS BIGINT) END) AS h_micros,
         (CASE WHEN r.n_types >= 2
               THEN CAST(round(h_raw / ln(CAST(r.n_types AS DOUBLE))
                               * 1000000) AS BIGINT) END) AS h_norm_micros
  FROM documents d LEFT JOIN ent_raw r ON r.id = d.doc_id
),
ent_parity AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_ent_rows,
         CAST(COALESCE(SUM({hash32(
             "CAST(doc_id AS VARCHAR)"
             " || '|' || CAST(n_tokens AS VARCHAR)"
             " || '|' || CAST(n_types AS VARCHAR)"
             " || '|' || CAST(coalesce(h_micros, -1) AS VARCHAR)"
             " || '|' || CAST(coalesce(h_norm_micros, -1) AS VARCHAR)"
         )}), 0) AS BIGINT) AS ent_ck
  FROM ent_rows
)"""


TFIDF_SQL = f"""WITH {TF_SUBSTRATE_CTES},
{REP_CTES},
{_FERT_CTES},
{trained_fert_ctes()},
{bm25_ctes()},
{KN_CTES},
{ENT_CTES},
scored AS (
  SELECT tf.id, tf.term,
    (CAST(tc AS DOUBLE) / n) * (ln((nd + 1.0) / (dfc + 1.0)) + 1.0) AS s
  FROM tf JOIN dl USING (id) JOIN dfreq USING (term) CROSS JOIN nn
)
SELECT id AS doc_id, term, CAST(rank AS INT) AS rank,
       CAST(round(s * 1000000) AS BIGINT) AS tfidf_micros,
       rp.n_rep_rows, rp.rep_ck, fp.n_fert_rows, fp.fert_ck,
       tfp.n_tfert_rows, tfp.tfert_ck,
       bmp.n_bm25_rows, bmp.bm25_ck,
       knp.n_kn_rows, knp.kn_ck,
       ep.n_ent_rows, ep.ent_ck
FROM (
  -- rank on the micros-rounded score (see operators/text.py): raw-double
  -- ln() near-ties could order differently across libm implementations
  SELECT *, row_number() OVER (
    PARTITION BY id ORDER BY CAST(round(s * 1000000) AS BIGINT) DESC, term
  ) AS rank
  FROM scored
) CROSS JOIN rep_parity rp CROSS JOIN fert_parity fp
CROSS JOIN tfert_parity tfp
CROSS JOIN bm_parity bmp CROSS JOIN kn_parity knp
CROSS JOIN ent_parity ep WHERE rank <= 3"""

#: corpus mixing table: per (lang, source) doc/token tallies + token
#: share of corpus — the numbers a data-mixture config is built from.
MIXING_WEIGHTS_SQL = f"""WITH per AS (
  SELECT lang, source, count(*) AS n_docs,
         CAST(sum(len({tokens('text')})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1, 2
),
tot AS (SELECT sum(n_tokens) AS t FROM per)
SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
  CAST(round(CAST(n_tokens AS DOUBLE) / t * 1000000) AS BIGINT) AS token_share_micros
FROM per CROSS JOIN tot"""

def gopher_ctes() -> str:
    """Gopher A1.1 quality-rule battery replay (operators/gopher.py,
    r14): every per-document counter, pinned-division micros ratio and
    integer-threshold rule verdict recomputed from the raw text —
    words/lines/tokens re-split, occurrence counts via the same
    length-difference trick, thresholds from the same constants. The
    checksum column list is generated from gopher.GOPHER_COLUMNS so the
    two sides cannot drift. Factored so the differential fuzz
    (tests/test_gopher.py) runs the identical replay over random
    corpora."""
    from ..operators import gopher as G

    s = "coalesce(CAST(text AS VARCHAR), '')"
    words = f"list_filter(string_split_regex({s}, '{_WS}+'), w -> w <> '')"
    lines_ = f"list_filter(string_split({s}, chr(10)), l -> trim(l) <> '')"
    bullet_pred = " OR ".join(
        f"starts_with(ltrim(l), '{p}')" for p in G.GOPHER_BULLET_PREFIXES
    )
    stoplist = "[" + ", ".join(f"'{w}'" for w in G.GOPHER_STOPWORDS) + "]"

    def occ(needle_sql: str, width: int) -> str:
        body = f"length(s) - length(replace(s, {needle_sql}, ''))"
        if width == 1:
            return f"CAST({body} AS BIGINT)"
        return f"CAST(floor(({body}) / {width}) AS BIGINT)"

    def ratio(num: str, den: str) -> str:
        return (
            f"(CASE WHEN {den} > 0 THEN CAST(round(CAST({num} AS DOUBLE)"
            f" / {den} * 1000000) AS BIGINT) END)"
        )

    rules = {
        "rule_word_count": (
            f"(n_words BETWEEN {G.GOPHER_MIN_WORDS} AND {G.GOPHER_MAX_WORDS})"
        ),
        "rule_mean_word_len": (
            f"(n_words > 0 AND mwl_micros BETWEEN {G.GOPHER_MIN_MWL_MICROS}"
            f" AND {G.GOPHER_MAX_MWL_MICROS})"
        ),
        "rule_symbol_ratio": (
            f"(n_words > 0"
            f" AND hash_ratio_micros <= {G.GOPHER_MAX_SYMBOL_RATIO_MICROS}"
            f" AND ellipsis_ratio_micros <= {G.GOPHER_MAX_SYMBOL_RATIO_MICROS})"
        ),
        "rule_bullet_lines": (
            f"(n_lines > 0"
            f" AND bullet_ratio_micros <= {G.GOPHER_MAX_BULLET_RATIO_MICROS})"
        ),
        "rule_ellipsis_lines": (
            f"(n_lines > 0 AND ellipsis_line_ratio_micros"
            f" <= {G.GOPHER_MAX_ELLIPSIS_LINE_RATIO_MICROS})"
        ),
        "rule_alpha_words": (
            f"(n_words > 0"
            f" AND alpha_ratio_micros >= {G.GOPHER_MIN_ALPHA_RATIO_MICROS})"
        ),
        "rule_stop_words": f"(n_stop_hits >= {G.GOPHER_MIN_STOP_HITS})",
    }
    keep = " AND ".join(rules.values())
    ck_parts = ["CAST(doc_id AS VARCHAR)"]
    for c in G.GOPHER_COLUMNS:
        if c.endswith("_micros"):
            ck_parts.append(f"CAST(coalesce({c}, -1) AS VARCHAR)")
        else:
            ck_parts.append(f"CAST({c} AS VARCHAR)")
    ck = " || '|' || ".join(ck_parts)
    return f"""gq_base AS (
  SELECT doc_id, {s} AS s, {words} AS words, {lines_} AS ls,
         {tokens(s)} AS toks
  FROM documents
),
gq_counts AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS n_words,
    CAST(coalesce(list_sum(list_transform(words, w -> length(w))), 0)
         AS BIGINT) AS n_word_chars,
    {occ("'#'", 1)} AS n_hash,
    ({occ("'...'", 3)} + {occ("'…'", 1)}) AS n_ellipsis,
    CAST(len(ls) AS BIGINT) AS n_lines,
    CAST(len(list_filter(ls, l -> ({bullet_pred}))) AS BIGINT)
      AS n_bullet_lines,
    CAST(len(list_filter(ls, l -> (ends_with(rtrim(l), '...')
      OR ends_with(rtrim(l), '…')))) AS BIGINT) AS n_ellipsis_lines,
    CAST(len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))
         AS BIGINT) AS n_alpha_words,
    CAST(len(list_filter({stoplist}, sw -> list_contains(toks, sw)))
         AS BIGINT) AS n_stop_hits
  FROM gq_base
),
gq_ratios AS (
  SELECT *,
    {ratio('n_word_chars', 'n_words')} AS mwl_micros,
    {ratio('n_hash', 'n_words')} AS hash_ratio_micros,
    {ratio('n_ellipsis', 'n_words')} AS ellipsis_ratio_micros,
    {ratio('n_bullet_lines', 'n_lines')} AS bullet_ratio_micros,
    {ratio('n_ellipsis_lines', 'n_lines')} AS ellipsis_line_ratio_micros,
    {ratio('n_alpha_words', 'n_words')} AS alpha_ratio_micros
  FROM gq_counts
),
gq_rows AS (
  SELECT *,
    {", ".join(f"{expr} AS {name}" for name, expr in rules.items())},
    ({keep}) AS gopher_keep
  FROM gq_ratios
),
gq_parity AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_gq_rows,
         CAST(COALESCE(SUM({hash32(ck)}), 0) AS BIGINT) AS gq_ck
  FROM gq_rows
)"""


#: ntile quality binning (deterministic total order), aggregated to the
#: 4 bin rows.
QUALITY_BINS_SQL = f"""WITH scored AS (
  SELECT doc_id,
    CAST(3 - len({_QUALITY_FLAGS}) AS DOUBLE) / 3.0 AS q
  FROM (
    SELECT doc_id, text, {tokens('text')} AS toks,
      CAST(len({tokens('text')}) AS BIGINT) AS n_tokens,
      (CASE WHEN len({tokens('text')}) > 0 THEN
        CAST(list_sum(list_transform({tokens('text')}, t -> length(t))) AS DOUBLE)
        / len({tokens('text')}) END) AS mean_wl,
      (CASE WHEN length(text) > 0 THEN
        CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
        / length(text) END) AS sym_ratio
    FROM documents
  )
),
binned AS (
  SELECT doc_id, q, ntile(4) OVER (ORDER BY q DESC, doc_id) AS bin FROM scored
)
SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n,
  CAST(round(avg(q) * 1000000) AS BIGINT) AS avg_quality_micros
FROM binned GROUP BY bin"""

#: stratified 1/10 sample per lang: hash order, exact integer-ceil quota.
#: mixture fold (round 6): the two lexicographically-smallest langs get
#: 75/25 target token shares; every double in the replay is computed in
#: the same operation order as the Spark side, and all inputs to the
#: divisions are exact (BIGINT token sums, exact weight literals).
MIXTURE_WEIGHTS = (0.75, 0.25)

def lines_parity_ctes() -> str:
    """Within-document cleaning twins (operators/lines.py): the C4 line
    filter's per-line keep predicate + page rules, and the Dolma-style
    keep-first within-doc paragraph dedup, replayed verbatim so the
    checksums on the data_sample_stratified row pin line splitting, the
    punctuation/word-count/javascript predicate, page-drop logic and the
    positional first-occurrence scan."""
    from ..operators import lines as _L

    punct = " OR ".join(
        f"ends_with(rtrim(l), '{p}')" for p in _L.TERMINAL_PUNCT if p != '"'
    ) + """ OR ends_with(rtrim(l), '"')"""
    keep = (
        f"(({punct})"
        # explicit class, not \s: RE2 \s excludes U+000B, Java's includes
        # it — same literal as operators/lines.WS_CLASS (ADVICE r12)
        f" AND len(list_filter(string_split_regex(trim(l), '{_WS}+'),"
        f" w -> w <> '')) >= {_L.C4_MIN_WORDS}"
        f" AND NOT contains(lower(l), 'javascript'))"
    )
    return f"""c4_lines AS (
  SELECT doc_id, CAST(text AS VARCHAR) AS t,
         string_split(CAST(text AS VARCHAR), chr(10)) AS ls
  FROM documents
),
c4_verdicts AS (
  SELECT doc_id,
    CASE WHEN t IS NOT NULL THEN
      coalesce(array_to_string(list_filter(ls, l -> {keep}), chr(10)), '') END AS clean_text,
    CASE WHEN t IS NOT NULL THEN CAST(len(ls) AS BIGINT) END AS n_lines,
    CASE WHEN t IS NOT NULL THEN
      CAST(len(list_filter(ls, l -> {keep})) AS BIGINT) END AS n_kept,
    coalesce(len(list_filter(ls, l -> {keep})) < {_L.C4_MIN_LINES}
             OR contains(t, '{{') OR contains(lower(t), 'lorem ipsum'),
             TRUE) AS dropped
  FROM c4_lines
),
c4_parity AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_c4_rows,
         CAST(COALESCE(SUM({hash32(
             "CAST(doc_id AS VARCHAR) || '|' || md5(coalesce(clean_text, chr(0)))"
             " || '|' || CAST(coalesce(n_lines, -1) AS VARCHAR)"
             " || '|' || CAST(coalesce(n_kept, -1) AS VARCHAR)"
             " || '|' || CAST(dropped AS VARCHAR)"
         )}), 0) AS BIGINT) AS c4_ck
  FROM c4_verdicts
),
para_split AS (
  SELECT doc_id, CAST(text AS VARCHAR) AS t,
         string_split(CAST(text AS VARCHAR), chr(10)) AS ps
  FROM documents
),
para_verdicts AS (
  SELECT doc_id,
    CASE WHEN t IS NOT NULL THEN coalesce(array_to_string(
      list_filter(ps, (p, i) -> list_position(list_slice(ps, 1, i - 1), p) = 0),
      chr(10)), '') END AS clean_text,
    CASE WHEN t IS NOT NULL THEN CAST(len(ps) AS BIGINT) END AS n_paras,
    CASE WHEN t IS NOT NULL THEN CAST(len(ps) - len(
      list_filter(ps, (p, i) -> list_position(list_slice(ps, 1, i - 1), p) = 0)
    ) AS BIGINT) END AS n_dupes
  FROM para_split
),
para_parity AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_para_rows,
         CAST(COALESCE(SUM({hash32(
             "CAST(doc_id AS VARCHAR) || '|' || md5(coalesce(clean_text, chr(0)))"
             " || '|' || CAST(coalesce(n_paras, -1) AS VARCHAR)"
             " || '|' || CAST(coalesce(n_dupes, -1) AS VARCHAR)"
         )}), 0) AS BIGINT) AS para_ck
  FROM para_verdicts
)"""


#: πps sample size for the graded fold (single-sourced: the registry's
#: Spark side reads this same constant)
PPS_K = 100


def pps_parity_ctes(k: int = PPS_K) -> str:
    """Sequential-Poisson πps sampling twin (operators/sampling.
    pps_sample, Ohlsson 1998): recompute every selected row — md5
    uniform, key = ((u + 0.5) / 2^32) / w in the exact Spark operation
    order (one addition + two IEEE divisions, correctly rounded, so
    bit-identical across engines — the reason the scheme is Ohlsson's
    u/w and not Efraimidis' transcendental u^(1/w)), the k-smallest
    selection WITH its rank order, and the nominal inclusion
    probability min(1, k*w/Σw) in micros. Weight = token count (exact
    BIGINT; the Σw double cast is exact below 2^53, so the one float
    sum is order-independent)."""
    return f"""pps_base AS (
  SELECT doc_id AS id, CAST(len({tokens('text')}) AS BIGINT) AS w,
         ((CAST({hash32("'pps:v1' || CAST(doc_id AS VARCHAR)")} AS DOUBLE) + 0.5)
          / 4294967296.0) / CAST(len({tokens('text')}) AS DOUBLE) AS key
  FROM documents
  WHERE len({tokens('text')}) > 0
),
pps_tot AS (SELECT CAST(sum(w) AS DOUBLE) AS wsum FROM pps_base),
pps_sel AS (
  SELECT id, w, row_number() OVER (ORDER BY key, id) AS rank FROM pps_base
),
pps_rows AS (
  SELECT id, w, rank,
         CAST(round(least(1.0, CAST({k} AS DOUBLE) * CAST(w AS DOUBLE) / wsum)
                    * 1000000) AS BIGINT) AS p_micros
  FROM pps_sel CROSS JOIN pps_tot WHERE rank <= {k}
),
pps_parity AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pps_rows,
         CAST(COALESCE(SUM({hash32(
             "CAST(id AS VARCHAR) || '|' || CAST(w AS VARCHAR)"
             " || '|' || CAST(rank AS VARCHAR)"
             " || '|' || CAST(p_micros AS VARCHAR)"
         )}), 0) AS BIGINT) AS pps_ck
  FROM pps_rows
)"""


STRATIFIED_SAMPLE_SQL = f"""WITH {gopher_ctes()},
b AS (
  SELECT doc_id, lang,
         {hash32("'sample:v1' || CAST(doc_id AS VARCHAR)")} AS hb
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         count(*) OVER (PARTITION BY lang) AS cnt,
         row_number() OVER (PARTITION BY lang ORDER BY hb, doc_id) AS rn
  FROM b
),
toks AS (
  SELECT doc_id, lang, CAST(len({tokens('text')}) AS BIGINT) AS n FROM documents
),
tw AS (
  SELECT lang, CASE WHEN rn2 = 1 THEN CAST({MIXTURE_WEIGHTS[0]} AS DOUBLE)
               ELSE CAST({MIXTURE_WEIGHTS[1]} AS DOUBLE) END AS w
  FROM (SELECT lang, row_number() OVER (ORDER BY lang) AS rn2
        FROM (SELECT DISTINCT lang FROM documents))
  WHERE rn2 <= 2
),
ratio AS (
  SELECT p.lang,
         ((tw.w / (SELECT sum(w) FROM tw))
          * (SELECT CAST(sum(n) AS DOUBLE) FROM toks))
         / CAST(p.st AS DOUBLE) AS ratio
  FROM (SELECT lang, sum(n) AS st FROM toks GROUP BY lang) p
  JOIN tw USING (lang)
),
copies AS (
  SELECT t.doc_id, t.lang,
         CAST(floor(ratio) AS INT)
         + CASE WHEN CAST({hash32("'mixture:v1' || CAST(t.doc_id AS VARCHAR)")} AS DOUBLE)
                     / 4294967296.0 < ratio - floor(ratio)
                THEN 1 ELSE 0 END AS n_copies
  FROM toks t JOIN ratio USING (lang)
),
{lines_parity_ctes()},
{pps_parity_ctes()},
samp AS (
  SELECT 'stratified' AS method, lang AS stratum, doc_id, 0 AS k
  FROM r WHERE rn <= (1 * cnt + 10 - 1) // 10
  UNION ALL
  SELECT 'mixture', lang, doc_id, CAST(unnest(range(0, n_copies)) AS INT)
  FROM copies WHERE n_copies > 0
)
SELECT samp.*, c4p.n_c4_rows, c4p.c4_ck, pp.n_para_rows, pp.para_ck,
       psp.n_pps_rows, psp.pps_ck, gp.n_gq_rows, gp.gq_ck
FROM samp CROSS JOIN c4_parity c4p CROSS JOIN para_parity pp
CROSS JOIN pps_parity psp CROSS JOIN gq_parity gp"""

#: eval-contamination scan: test docs sharing any 5-shingle with a train
#: doc (split replayed from the same md5 edges).
def pmi_ctes(min_count: int = T.PMI_MIN_COUNT) -> str:
    """PMI collocation replay (operators/text.pmi_collocations, r14):
    adjacent-bigram and unigram counts rebuilt from scratch, totals,
    min-count cut, and the pinned-order PMI micros
    (p_ab first, then p_a * p_b, then the ratio, then ln — the
    TF-IDF/BM25 float discipline). Factored so the differential fuzz
    (tests/test_pmi.py) runs the identical replay over random corpora."""
    toks = tokens("text")
    return f"""pmi_toks AS MATERIALIZED (
  SELECT {toks} AS toks FROM documents WHERE len({toks}) > 0
),
pmi_uni AS MATERIALIZED (
  SELECT t AS term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS t FROM pmi_toks) GROUP BY 1
),
pmi_nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_unigrams FROM pmi_uni),
pmi_bi AS MATERIALIZED (
  SELECT p['a'] AS term_a, p['b'] AS term_b, CAST(count(*) AS BIGINT) AS c_ab
  FROM (SELECT unnest(list_transform(range(1, len(toks)),
          i -> {{'a': toks[i], 'b': toks[i + 1]}})) AS p
        FROM pmi_toks WHERE len(toks) > 1)
  GROUP BY 1, 2
),
pmi_nb AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_bigrams FROM pmi_bi),
pmi_rows AS (
  SELECT term_a, term_b, c_ab, ua.c AS c_a, ub.c AS c_b,
         n_bigrams, n_unigrams,
    CAST(round(ln((CAST(c_ab AS DOUBLE) / n_bigrams)
      / ((CAST(ua.c AS DOUBLE) / n_unigrams)
         * (CAST(ub.c AS DOUBLE) / n_unigrams)))
      * 1000000) AS BIGINT) AS pmi_micros
  FROM pmi_bi
  JOIN pmi_uni ua ON ua.term = term_a
  JOIN pmi_uni ub ON ub.term = term_b
  CROSS JOIN pmi_nb CROSS JOIN pmi_nu
  WHERE c_ab >= {min_count}
),
pmi_parity AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pmi_rows,
         CAST(COALESCE(SUM({hash32(
             "term_a || '|' || term_b"
             " || '|' || CAST(c_ab AS VARCHAR)"
             " || '|' || CAST(c_a AS VARCHAR)"
             " || '|' || CAST(c_b AS VARCHAR)"
             " || '|' || CAST(n_bigrams AS VARCHAR)"
             " || '|' || CAST(n_unigrams AS VARCHAR)"
             " || '|' || CAST(pmi_micros AS VARCHAR)"
         )}), 0) AS BIGINT) AS pmi_ck
  FROM pmi_rows
)"""


def langid_ctes(k: int | None = None) -> str:
    """Rank-order langid replay (operators/langid.py, Cavnar & Trenkle
    1994): the 'train' hash split, '_'-padded char 1..3-gram explosion,
    both (count DESC, gram ASC) rankings, the out-of-place penalty
    algebra and the (dist, lang) argmin — all integer, rebuilt from
    scratch. Factored so the differential fuzz (tests/test_langid.py)
    runs the identical replay over random corpora."""
    from ..operators import langid as LID

    k = LID.LANGID_PROFILE_K if k is None else k
    ns = "[" + ", ".join(
        str(n) for n in range(1, LID.LANGID_NGRAM_MAX + 1)
    ) + "]"
    split_hash = hash32(f"'{_SAMP.SPLIT_SALT}' || CAST(doc_id AS VARCHAR)")
    ck_parts = ["CAST(doc_id AS VARCHAR)"] + [
        f"coalesce(CAST({c} AS VARCHAR), '~')" for c in LID.LANGID_COLUMNS
    ]
    ck = " || '|' || ".join(ck_parts)
    return f"""lid_base AS MATERIALIZED (
  SELECT doc_id, lang,
    CASE WHEN {split_hash} < {_SAMP.TRAIN_EDGE} THEN 'train'
         WHEN {split_hash} < {_SAMP.VAL_EDGE} THEN 'val'
         ELSE 'test' END AS split,
    {tokens('text')} AS toks
  FROM documents
),
lid_words AS (
  SELECT doc_id, lang, split, '_' || unnest(toks) || '_' AS p FROM lid_base
),
lid_grams AS MATERIALIZED (
  SELECT doc_id, lang, split, substr(p, CAST(i AS INT), CAST(n AS INT)) AS g
  FROM (
    SELECT *, unnest(range(1, length(p) - n + 2)) AS i
    FROM lid_words CROSS JOIN (SELECT unnest({ns}) AS n)
  )
),
lid_prof AS MATERIALIZED (
  SELECT lang, g, pr FROM (
    SELECT lang, g,
           row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, g) AS pr
    FROM (SELECT lang, g, count(*) AS cnt FROM lid_grams
          WHERE split = 'train' AND lang IS NOT NULL GROUP BY 1, 2)
  ) WHERE pr <= {k}
),
lid_doc_top AS MATERIALIZED (
  SELECT doc_id, g, dr FROM (
    SELECT doc_id, g,
           row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS dr
    FROM (SELECT doc_id, g, count(*) AS cnt FROM lid_grams GROUP BY 1, 2)
  ) WHERE dr <= {k}
),
lid_doc_n AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_top FROM lid_doc_top GROUP BY 1
),
lid_langs AS (SELECT DISTINCT lang FROM lid_prof),
lid_matched AS (
  SELECT dt.doc_id, p.lang,
         CAST(sum(abs(dt.dr - p.pr)) AS BIGINT) AS msum,
         CAST(count(*) AS BIGINT) AS mcnt
  FROM lid_doc_top dt JOIN lid_prof p USING (g) GROUP BY 1, 2
),
lid_cand AS (
  SELECT n.doc_id, l.lang,
         CAST(coalesce(m.msum, 0)
              + (n.n_top - coalesce(m.mcnt, 0)) * {k} AS BIGINT) AS dist
  FROM lid_doc_n n CROSS JOIN lid_langs l
  LEFT JOIN lid_matched m ON m.doc_id = n.doc_id AND m.lang = l.lang
),
lid_best AS (
  SELECT doc_id, lang AS pred_lang, dist AS best_dist FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY dist, lang) AS rn
    FROM lid_cand
  ) WHERE rn = 1
),
lid_verdicts AS (
  SELECT b.doc_id, b.lang AS true_lang, b.split, v.pred_lang, v.best_dist,
         (v.pred_lang = b.lang) AS correct
  FROM lid_base b LEFT JOIN lid_best v USING (doc_id)
),
lid_parity AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_lid_rows,
         CAST(COALESCE(SUM({hash32(ck)}), 0) AS BIGINT) AS lid_ck
  FROM lid_verdicts
)"""


CONTAMINATION_SQL = f"""WITH labeled AS (
  SELECT doc_id, text,
    CASE WHEN {hash32(f"'{_SAMP.SPLIT_SALT}' || CAST(doc_id AS VARCHAR)")} < {_SAMP.TRAIN_EDGE} THEN 'train'
         WHEN {hash32(f"'{_SAMP.SPLIT_SALT}' || CAST(doc_id AS VARCHAR)")} < {_SAMP.VAL_EDGE} THEN 'val'
         ELSE 'test' END AS split
  FROM documents
),
sh AS MATERIALIZED (SELECT doc_id AS id, split, {shingles('text', 5)} AS sh FROM labeled),
train_sh AS (
  SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE split = 'train'
),
test_idx AS (
  SELECT id, unnest(sh) AS shingle FROM sh WHERE split = 'test'
),
test_totals AS (
  SELECT id, CAST(len(list_distinct(sh)) AS BIGINT) AS n_shingles
  FROM sh WHERE split = 'test'
),
hits AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_shared,
         CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct_shared
  FROM test_idx JOIN train_sh USING (shingle)
  GROUP BY id
),
nfc_verdicts AS (
  SELECT doc_id,
    (CASE WHEN text IS NOT NULL
          THEN nfc_normalize(CAST(text AS VARCHAR)) END) AS norm_text,
    coalesce(nfc_normalize(CAST(text AS VARCHAR)) <> CAST(text AS VARCHAR),
             FALSE) AS changed,
    (CASE WHEN text IS NOT NULL
          THEN CAST(length(nfc_normalize(CAST(text AS VARCHAR))) AS BIGINT)
          END) AS n_chars_after
  FROM documents
),
nfc_parity AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nfc_rows,
         CAST(COALESCE(SUM({hash32(
             "CAST(doc_id AS VARCHAR) || '|' || md5(coalesce(norm_text, chr(0)))"
             " || '|' || CAST(changed AS VARCHAR)"
             " || '|' || CAST(coalesce(n_chars_after, -1) AS VARCHAR)"
         )}), 0) AS BIGINT) AS nfc_ck
  FROM nfc_verdicts
),
{pmi_ctes()},
{langid_ctes()}
SELECT h.id, h.n_shared, h.n_distinct_shared, t.n_shingles,
       CAST(round(CAST(h.n_distinct_shared AS DOUBLE) / t.n_shingles * 1000000)
            AS BIGINT) AS overlap_micros,
       (CAST(h.n_distinct_shared AS DOUBLE) / t.n_shingles
        >= CAST({_SAMP.CONTAM_FRAC} AS DOUBLE)) AS contaminated,
       np.n_nfc_rows, np.nfc_ck, pp.n_pmi_rows, pp.pmi_ck,
       lp.n_lid_rows, lp.lid_ck
FROM hits h JOIN test_totals t USING (id) CROSS JOIN nfc_parity np
CROSS JOIN pmi_parity pp CROSS JOIN lid_parity lp
UNION ALL
-- sentinel row: the NFC certificate must survive a zero-hit corpus
-- (ADVICE r12 — an empty hits frame would otherwise vacate the fold)
SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(0 AS BIGINT), CAST(0 AS BIGINT), FALSE,
       np.n_nfc_rows, np.nfc_ck, pp.n_pmi_rows, pp.pmi_ck,
       lp.n_lid_rows, lp.lid_ck
FROM nfc_parity np CROSS JOIN pmi_parity pp CROSS JOIN lid_parity lp"""

#: DEDUP_EXACT_SQL is defined below SIMHASH_PAIRS_SQL — since round 8 it
#: carries the SimHash banded-pair-join parity fold and reuses its CTEs.

def _band_selects(src: str = "sigs") -> str:
    """LSH band rows from a ``(id, sig)`` CTE — parameterized on the
    source name so MINHASH_LSH_SQL and the dedup_exact recall fold share
    one banding spelling (r13)."""
    return "\n  UNION ALL\n".join(
        f"""  SELECT id, sig, {b} AS band_idx,
    md5(array_to_string(list_slice(sig, {b * D.BAND_ROWS + 1}, {b * D.BAND_ROWS + D.BAND_ROWS}), '|')) AS band_hash
  FROM {src}"""
        for b in range(D.N_BANDS)
    )


_BAND_SELECTS = _band_selects()

MINHASH_LSH_SQL = f"""WITH {DOCS_AUG_CTE},
shs AS MATERIALIZED (
  SELECT doc_id AS id, {shingles('text')} AS sh FROM docs_aug
),
withsh AS MATERIALIZED (
  SELECT id, sh, {minhash_signature_from('sh')} AS sig FROM shs
  WHERE {minhash_signature_from('sh')} IS NOT NULL
),
sigs AS (SELECT id, sig FROM withsh),
banded AS MATERIALIZED (
{_BAND_SELECTS}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.id < b.id
),
pairs AS (
  SELECT c.id_a, c.id_b,
    CAST(len(list_filter(range(1, {D.N_MINHASH} + 1), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
      / {D.N_MINHASH} AS est_jaccard,
    (CASE WHEN len(list_distinct(list_concat(sa2.sh, sb2.sh))) > 0 THEN
      CAST(len(list_intersect(sa2.sh, sb2.sh)) AS DOUBLE)
      / len(list_distinct(list_concat(sa2.sh, sb2.sh))) END) AS jaccard
  FROM cand c
  JOIN sigs sa ON sa.id = c.id_a
  JOIN sigs sb ON sb.id = c.id_b
  JOIN withsh sa2 ON sa2.id = c.id_a
  JOIN withsh sb2 ON sb2.id = c.id_b
)
SELECT id_a, id_b, est_jaccard, jaccard FROM pairs WHERE jaccard >= 0.4"""

#: count-based set-similarity join (mirrors dedup.ngram_jaccard_pairs):
#: shared-shingle count == |A∩B| because shingle sets are distinct; the
#: length filter and both threshold compares are pure integer arithmetic,
#: shared via the same JACCARD_T_NUM/DEN constants as the Spark side.
#: The CTE chain is shared (ng_-prefixed names) with the DEDUP_EXACT
#: body, which since round 11 hosts the PPJoin prefix-twin parity fold
#: (it rode the benched dedup_ngram_jaccard row through round 10 —
#: ~4.4s of benched steady time for a certificate, the r10 VERDICT's
#: perf_weak #1; relocated to the correctness-only row exactly like the
#: CDC fold in commit 9868bcd).
_NGRAM_PAIRS_CTES = f"""ng_shs0 AS MATERIALIZED (
  SELECT doc_id AS id, {shingles('text')} AS sh FROM docs_aug
),
ng_shs AS (SELECT id, sh FROM ng_shs0 WHERE len(sh) > 0),
ng_idx AS MATERIALIZED (SELECT id, len(sh) AS n, unnest(sh) AS shingle FROM ng_shs),
ng_inter AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n AS na, b.n AS nb, count(*) AS i
  FROM ng_idx a JOIN ng_idx b USING (shingle)
  WHERE a.id < b.id
    AND a.n * {D.JACCARD_T_DEN} >= b.n * {D.JACCARD_T_NUM}
    AND b.n * {D.JACCARD_T_DEN} >= a.n * {D.JACCARD_T_NUM}
  GROUP BY 1, 2, 3, 4
),
ng_pairs AS MATERIALIZED (
  SELECT id_a, id_b, CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
  FROM ng_inter
  WHERE i * {D.JACCARD_T_DEN} >= (na + nb - i) * {D.JACCARD_T_NUM}
),
ng_prefix_parity AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs_prefix,
         CAST(COALESCE(SUM({hash32("CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR)")}), 0) AS BIGINT) AS prefix_pairs_ck
  FROM ng_pairs
)"""

NGRAM_JACCARD_SQL = f"""WITH {DOCS_AUG_CTE},
{_NGRAM_PAIRS_CTES}
SELECT id_a, id_b, jaccard FROM ng_pairs"""

#: parity form — the round-8 graded shape (pairs + the PPJoin prefix
#: twin's pair-count/checksum on every row), kept for the differential
#: fuzz (tests/test_dedup_fuzz.py drives
#: registry.ngram_jaccard_with_prefix_parity against THIS constant over
#: random planted corpora). The DRIVE-graded home of these two columns
#: is DEDUP_EXACT_SQL since round 11.
NGRAM_JACCARD_PARITY_SQL = f"""WITH {DOCS_AUG_CTE},
{_NGRAM_PAIRS_CTES}
SELECT p.id_a, p.id_b, p.jaccard, parity.n_pairs_prefix, parity.prefix_pairs_ck
FROM ng_pairs p CROSS JOIN ng_prefix_parity parity"""

SIMHASH_SQL = f"""WITH {DOCS_AUG_CTE},
hsx AS (
  SELECT doc_id, list_transform({tokens('text')}, t -> {hash32('t')}) AS hs
  FROM docs_aug
)
SELECT doc_id, {simhash_from('hs')} AS simhash FROM hsx"""

_H = D.SIMHASH_BITS // 2
_HMASK = (1 << _H) - 1

#: the SimHash banded pair join's CTE chain, shared by the standalone
#: SIMHASH_PAIRS_SQL (pytest value-check of q_simhash_pairs) and the
#: DEDUP_EXACT parity fold (round 8 drive-grading of the pair JOIN).
_SIMHASH_PAIRS_CTES = f"""hsx AS MATERIALIZED (
  SELECT doc_id, list_transform({tokens('text')}, t -> {hash32('t')}) AS hs
  FROM docs_aug
),
sims AS (
  SELECT doc_id AS id, {simhash_from('hs')} AS sh FROM hsx
),
nn AS MATERIALIZED (SELECT id, sh FROM sims WHERE sh IS NOT NULL),
banded AS (
  SELECT id, sh, 0 AS band_idx, sh & {_HMASK} AS band_val FROM nn
  UNION ALL
  SELECT id, sh, 1, (sh >> {_H}) & {_HMASK} FROM nn
),
cand AS (
  SELECT DISTINCT a.id AS id_a, a.sh AS sh_a, b.id AS id_b, b.sh AS sh_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
  WHERE a.id < b.id
),
sim_pairs AS (
  SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
  FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 6
)"""

SIMHASH_PAIRS_SQL = f"""WITH {DOCS_AUG_CTE},
{_SIMHASH_PAIRS_CTES}
SELECT id_a, id_b, hamming FROM sim_pairs"""

#: exact dedup + (round 8) the SimHash banded Hamming pair JOIN graded
#: as a parity fold: the oracle recomputes the pair count and a
#: 32-bit-hash checksum over (id_a, id_b, hamming) triples from its own
#: banded join, so the Spark pair join must reproduce the exact pair set
#: AND every Hamming distance for the hash to stay green.
#: Bloom-filter membership replay (operators/bloom.py) — rides
#: DEDUP_EXACT_SQL as a round-9 zero-slot parity fold: the filter is
#: built on the TRAIN hash-split's fingerprints (the same md5 coin
#: data_pack_sequences grades), every docs_aug row is probed, and the
#: oracle rebuilds the identical bitset (md5-derived probe positions;
#: bit 63's mask carried as the two's-complement negative — DuckDB
#: raises on 1<<63) — so the checksum covers the exact seen/unseen
#: verdict INCLUDING the filter's false positives (n_bloom_fp counts
#: them; the fold's n_bits is deliberately small so they exist).
from ..operators import bloom as _BL  # noqa: E402

_BL_SPLIT_COIN = hash32(f"'{_SAMP.SPLIT_SALT}' || CAST(doc_id AS VARCHAR)")
_BL_TRAIN_COND = f"({_BL_SPLIT_COIN} < {_SAMP.TRAIN_EDGE})"


def _bl_pos(j: int) -> str:
    probe = hash32(f"fingerprint || '#{j}'")
    return f"({probe} % {_BL.BLOOM_BITS})"


def _bl_word(j: int) -> str:
    return f"({_bl_pos(j)} // 64)"


def _bl_mask(j: int) -> str:
    bit = f"CAST({_bl_pos(j)} % 64 AS INT)"
    return (
        f"(CASE WHEN {bit} = 63 THEN CAST(-9223372036854775808 AS BIGINT)"
        f" ELSE (CAST(1 AS BIGINT) << {bit}) END)"
    )


_BL_TRAIN_PROBES = "\n  UNION ALL\n".join(
    f"  SELECT {_bl_word(j)} AS word, {_bl_mask(j)} AS mask FROM bl_train"
    for j in range(_BL.BLOOM_HASHES)
)
_BL_DOC_PROBES = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {_bl_word(j)} AS word, {_bl_mask(j)} AS mask"
    " FROM fp WHERE fingerprint IS NOT NULL"
    for j in range(_BL.BLOOM_HASHES)
)

BLOOM_CTES = f"""bl_train AS (
  SELECT DISTINCT fingerprint FROM fp
  WHERE {_BL_TRAIN_COND} AND fingerprint IS NOT NULL
),
bl_bitmap AS (
  SELECT word, bit_or(mask) AS bits FROM (
{_BL_TRAIN_PROBES}
  ) GROUP BY word
),
bl_hits AS (
  SELECT p.doc_id,
         count(*) FILTER (WHERE (p.mask & COALESCE(b.bits, 0)) != 0) AS nh
  FROM (
{_BL_DOC_PROBES}
  ) p LEFT JOIN bl_bitmap b USING (word)
  GROUP BY p.doc_id
),
bl_verdicts AS (
  SELECT f.doc_id,
         CASE WHEN COALESCE(h.nh, 0) = {_BL.BLOOM_HASHES} THEN 1 ELSE 0 END AS seen_i,
         CASE WHEN f.fingerprint IN (SELECT fingerprint FROM bl_train)
              THEN 1 ELSE 0 END AS member_i
  FROM fp f LEFT JOIN bl_hits h USING (doc_id)
),
bl_parity AS (
  SELECT CAST(COUNT(*) FILTER (WHERE seen_i = 1 AND member_i = 0) AS BIGINT)
           AS n_bloom_fp,
         CAST(COALESCE(SUM({hash32(
             "CAST(doc_id AS VARCHAR) || '|' || CAST(seen_i AS VARCHAR)"
         )}), 0) AS BIGINT) AS bloom_ck
  FROM bl_verdicts
)"""

#: body form WITHOUT the round-10 streaming-gate fold — the differential
#: fuzz (tests/test_dedup_fuzz.py) drives the frame-level Spark body
#: over random corpora against THIS constant; the gate replay gets its
#: own dedicated oracle test (tests/test_bloom_gate_oracle.py) because
#: it drains real availableNow streams per run. The GRADED
#: DEDUP_EXACT_SQL (defined at module end, after bloom_gate_ctes) is
#: this body CROSS JOINed with bgate_parity.
DEDUP_EXACT_BODY_SQL = f"""WITH {DOCS_AUG_CTE},
fp AS (
  SELECT doc_id, {fingerprint('text')} AS fingerprint FROM docs_aug
),
{_SIMHASH_PAIRS_CTES},
sim_parity AS (
  SELECT CAST(count(*) AS BIGINT) AS n_simhash_pairs,
         CAST(COALESCE(SUM({hash32("CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR) || '|' || CAST(hamming AS VARCHAR)")}), 0) AS BIGINT) AS simhash_pairs_ck
  FROM sim_pairs
),
{_NGRAM_PAIRS_CTES},
{BLOOM_CTES}
SELECT f.doc_id, f.fingerprint, p.n_simhash_pairs, p.simhash_pairs_ck,
       np.n_pairs_prefix, np.prefix_pairs_ck,
       bp.n_bloom_fp, bp.bloom_ck
FROM (
  SELECT doc_id, fingerprint FROM fp
  QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
) f CROSS JOIN sim_parity p CROSS JOIN ng_prefix_parity np CROSS JOIN bl_parity bp"""

_DIMS = ", ".join(str(d) for d in (0, 7, 14, 21, 28, 35, 42, 49))

TOPK_BRUTE_SQL = f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
),
c AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {cosine('qv', 'nv')} AS score
  FROM c, q WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10"""


def _ann_sql(dims: tuple[int, ...]) -> str:
    return f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         {sign_bucket('embedding', dims)} AS bucket
  FROM embeddings WHERE vec_id < 5
),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS nv,
         {sign_bucket('embedding', dims)} AS bucket
  FROM embeddings
),
scored AS (
  SELECT query_id, neighbor_id, c.bucket, {cosine('qv', 'nv')} AS score
  FROM c JOIN q USING (bucket) WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score, bucket FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10"""


ANN_LSH_SQL = _ann_sql((0, 7, 14, 21, 28, 35, 42, 49))

#: SemDeDup verdict replay (operators/semdedup.py, dominance rule) —
#: rides EMB_NEAR_DUP_SQL as a round-9 zero-slot parity fold. Same
#: deterministic lowest-id quantizer as the IVF oracle; keep-order is
#: (centroid cosine ASC NULLS LAST, vec_id) per the paper's
#: low-centroid-similarity keep policy; an item is pruned iff any
#: earlier-in-order cluster member is within SEMDEDUP_TAU.
from ..operators import semdedup as _SD  # noqa: E402

_SD_TAU = f"CAST({_SD.SEMDEDUP_TAU} AS DOUBLE)"

SEMDEDUP_CTES = f"""sd_cents AS (
  SELECT vec_id AS cell_id, embedding AS centroid
  FROM emb_aug WHERE vec_id < {_SD.SEMDEDUP_K}
),
sd_assign AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         {cosine('e.embedding', 'c.centroid')} AS centroid_sim,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cosine('e.embedding', 'c.centroid')} DESC NULLS LAST, c.cell_id
         ) AS arnk
  FROM emb_aug e CROSS JOIN sd_cents c
),
sd_cells AS (
  SELECT vec_id, embedding, cell_id, centroid_sim FROM sd_assign WHERE arnk = 1
),
sd_ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY cell_id ORDER BY centroid_sim ASC NULLS LAST, vec_id
  ) AS rnk
  FROM sd_cells
),
sd_dom AS (
  SELECT DISTINCT b.vec_id
  FROM sd_ranked a JOIN sd_ranked b
    ON a.cell_id = b.cell_id AND a.rnk < b.rnk
  WHERE {cosine('a.embedding', 'b.embedding')} >= {_SD_TAU}
),
sd_verdicts AS (
  SELECT r.vec_id, r.cell_id, r.rnk,
         CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep_i
  FROM sd_ranked r LEFT JOIN sd_dom d ON r.vec_id = d.vec_id
),
sd_parity AS (
  SELECT CAST(COUNT(*) FILTER (WHERE keep_i = 0) AS BIGINT) AS n_semdedup_pruned,
         CAST(COALESCE(SUM({hash32(
             "CAST(vec_id AS VARCHAR) || '|' || CAST(cell_id AS VARCHAR) || '|' "
             "|| CAST(rnk AS VARCHAR) || '|' || CAST(keep_i AS VARCHAR)"
         )}), 0) AS BIGINT) AS semdedup_ck
  FROM sd_verdicts
)"""

EMB_NEAR_DUP_SQL = f"""WITH {EMB_AUG_CTE},
c AS (
  SELECT vec_id AS id, embedding AS vec,
         {sign_bucket('embedding', (0, 7, 14, 21, 28, 35, 42, 49))} AS bucket
  FROM emb_aug
),
{SEMDEDUP_CTES}
SELECT a.id AS id_a, b.id AS id_b, {cosine('a.vec', 'b.vec')} AS score,
       p.n_semdedup_pruned, p.semdedup_ck
FROM c a JOIN c b ON a.bucket = b.bucket AND a.id < b.id
CROSS JOIN sd_parity p
WHERE {cosine('a.vec', 'b.vec')} >= 0.95"""


# --- IVF ANN oracle ----------------------------------------------------------

from ..operators import similarity as S  # noqa: E402

IVF_ANN_SQL = f"""WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS centroid
  FROM embeddings WHERE vec_id < {S.IVF_K}
),
c_assign AS (
  SELECT e.vec_id AS neighbor_id, e.embedding AS neighbor_vec, c.cell_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cosine('e.embedding', 'c.centroid')} DESC NULLS LAST, c.cell_id
         ) AS rnk
  FROM embeddings e CROSS JOIN cents c
),
c_cells AS (SELECT neighbor_id, neighbor_vec, cell_id FROM c_assign WHERE rnk = 1),
q_assign AS (
  SELECT e.vec_id AS query_id, e.embedding AS query_vec, c.cell_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cosine('e.embedding', 'c.centroid')} DESC NULLS LAST, c.cell_id
         ) AS rnk
  FROM embeddings e CROSS JOIN cents c
  WHERE e.vec_id < 5
),
q_cells AS (SELECT query_id, query_vec, cell_id FROM q_assign WHERE rnk <= {S.IVF_NPROBE}),
scored AS (
  SELECT q.query_id, n.neighbor_id, n.cell_id,
         {cosine('q.query_vec', 'n.neighbor_vec')} AS score
  FROM c_cells n JOIN q_cells q USING (cell_id)
  WHERE n.neighbor_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cell_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id
         ) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score, cell_id
FROM ranked WHERE rank <= 10"""


# --- multimodal feature oracle -----------------------------------------------

#: SQL replay of multimodal.fake_features over the UTF-8 payload: the
#: corpus is pure ASCII (verified range 32-121), so byte value ==
#: codepoint and Python's payload[i*n//8:(i+1)*n//8] stripe is
#: substr(text, i*n//8 + 1, stripe_len). Features round-trip through
#: FLOAT (the Spark schema is array<float>) and are compared in rounded
#: milli-units; stripe means are non-negative, so Spark HALF_UP and
#: DuckDB half-away round identically.
_STRIPE = (
    "CASE WHEN ((i+1)*n)//8 - (i*n)//8 > 0 THEN "
    "CAST(list_sum(list_transform(range((i*n)//8 + 1, ((i+1)*n)//8 + 1), "
    "j -> unicode(substr(text, j, 1)))) AS DOUBLE) / (((i+1)*n)//8 - (i*n)//8) "
    "ELSE 0.0 END"
)

def _f32(e: str) -> str:
    """Mirror the float32 round-trip the Spark array<float> schema applies."""
    return f"CAST(CAST({e} AS FLOAT) AS DOUBLE)"


#: average-pool 8 -> 4 of the extracted features (resize_feature mirror):
#: inputs go through the float32 round-trip (the Spark feature column is
#: array<float>); the pool itself stays double on both sides.
_POOLED = ", ".join(
    f"({_f32(f'feat[{2 * j + 1}]')} + {_f32(f'feat[{2 * j + 2}]')}) / CAST(2 AS DOUBLE)"
    for j in range(4)
)

MULTIMODAL_FEATURES_SQL = f"""WITH b AS (
  SELECT doc_id AS id, text, length(text) AS n FROM documents
),
f AS (
  SELECT id, 'text/plain' AS mime, CAST(n AS BIGINT) AS n_bytes,
    list_transform(range(0, 8), i -> {_STRIPE}) AS feat
  FROM b
)
SELECT id, mime, n_bytes,
  array_to_string(
    list_transform(feat,
      x -> CAST(CAST(round(CAST(CAST(x AS FLOAT) AS DOUBLE) * 1000) AS BIGINT) AS VARCHAR)),
    ';') AS feature_milli,
  array_to_string(
    list_transform([{_POOLED}],
      x -> CAST(CAST(round(x * 1000) AS BIGINT) AS VARCHAR)),
    ';') AS resized_milli
FROM f"""


#: frame-sampling replay: the corpus is pure ASCII (see above), so the
#: payload's fixed-64-byte frames are substr() slices and the uniform
#: stride picks j*(total-1)//2 are pure integer arithmetic on both sides.
_FB = 64  # multimodal.FRAME_BYTES

#: perceptual-hash replay (operators/multimodal.phash_signature /
#: phash_dedup, r14): the 28 pairwise-comparison bits over the same
#: stripe features MULTIMODAL_FEATURES_SQL replays, keeper = min id per
#: signature, dup flag — all integer/float32-order exact.
_PHASH_SIG = " + ".join(
    f"(CASE WHEN {_f32(f'feat[{i + 1}]')} > {_f32(f'feat[{j + 1}]')}"
    f" THEN {1 << b} ELSE 0 END)"
    for b, (i, j) in enumerate(
        (i, j) for i in range(8) for j in range(i + 1, 8)
    )
)

_PHASH_CTES = f"""ph_feat AS (
  SELECT id, list_transform(range(0, 8), i -> {_STRIPE}) AS feat
  FROM (SELECT doc_id AS id, text, length(text) AS n FROM documents)
),
ph_sig AS MATERIALIZED (
  SELECT id, CAST({_PHASH_SIG} AS BIGINT) AS ph FROM ph_feat
),
ph_keep AS (SELECT ph, min(id) AS keeper_id FROM ph_sig GROUP BY ph),
ph_rows AS (
  SELECT s.id, s.ph, k.keeper_id, (s.id <> k.keeper_id) AS is_dup
  FROM ph_sig s JOIN ph_keep k USING (ph)
),
ph_parity AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_ph_rows,
         CAST(COALESCE(SUM({hash32(
             "CAST(id AS VARCHAR) || '|' || CAST(ph AS VARCHAR)"
             " || '|' || CAST(keeper_id AS VARCHAR)"
             " || '|' || CAST(is_dup AS VARCHAR)"
         )}), 0) AS BIGINT) AS ph_ck
  FROM ph_rows
)"""

MULTIMODAL_FRAMES_SQL = f"""WITH b AS (
  SELECT doc_id AS id, text, length(text) AS n FROM documents
),
fr AS (
  SELECT id, text, greatest(1, (n + {_FB - 1}) // {_FB}) AS total FROM b
),
picks AS (
  SELECT id, total,
    unnest(list_sort(list_distinct([0, (total - 1) // 2, total - 1]))) AS fi,
    text
  FROM fr
),
{_PHASH_CTES}
SELECT id,
  CAST(fi AS INT) AS frame_idx,
  CAST(total AS INT) AS total_frames,
  CAST(length(substr(text, fi * {_FB} + 1, {_FB})) AS BIGINT) AS frame_len,
  md5(substr(text, fi * {_FB} + 1, {_FB})) AS frame_md5,
  pp.n_ph_rows, pp.ph_ck
FROM picks CROSS JOIN ph_parity pp"""


#: (the standalone MULTIMODAL_RESIZED_SQL was folded into
#: MULTIMODAL_FEATURES_SQL in round 5 — see resized_milli above)


# --- multi-probe LSH oracle --------------------------------------------------

from ..operators import similarity as _SIM  # noqa: E402

_MP_DIMS = _SIM.DEFAULT_SIGN_DIMS
_MP_MASKS = ", ".join(str(m) for m in _SIM.flip_masks(len(_MP_DIMS), 2))

ANN_LSH_MP_SQL = f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         {sign_bucket_int('embedding', _MP_DIMS)} AS qb
  FROM embeddings WHERE vec_id < 5
),
probes AS (
  SELECT query_id, qv, xor(qb, m.mask) AS bucket
  FROM q CROSS JOIN (SELECT unnest([{_MP_MASKS}]) AS mask) m
),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS nv,
         {sign_bucket_int('embedding', _MP_DIMS)} AS bucket
  FROM embeddings
),
scored AS (
  SELECT query_id, neighbor_id, c.bucket, {cosine('qv', 'nv')} AS score
  FROM c JOIN probes USING (bucket) WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score,
       CAST(bucket AS INT) AS bucket
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10"""


# --- ANN recall@k vs the exact baseline --------------------------------------

#: one row per approximate method: 'lsh' is the DEFAULT ann_topk_lsh
#: surface (multi-probe radius 2), 'lsh_exact' the radius=0 candidate
#: generator, 'ivf' the coarse-quantizer index. Hits against the
#: brute-force truth set, truth-set size, and the recall ratio. Reuses
#: the topk oracles verbatim as subqueries so the graded number is
#: derived from already-graded components.
# --- product-quantization ANN oracle -----------------------------------------

from ..operators import pq as _PQ  # noqa: E402

_PQ_SUB = 64 // _PQ.PQ_M  # fixture embeddings are 64-dim


def _pq_subvec(src: str, m: int) -> str:
    return (
        f"list_transform({src}[{m * _PQ_SUB + 1}:{(m + 1) * _PQ_SUB}],"
        f" x -> CAST(x AS DOUBLE))"
    )


def _pq_l2sq(a: str, b: str) -> str:
    sq = (
        f"list_transform(range(1, len({a}) + 1),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))"
    )
    return f"coalesce(list_reduce({sq}, (x, y) -> x + y), 0.0)"


_PQ_CB_BRANCHES = "\n  UNION ALL\n".join(
    f"""  SELECT {m} AS m, CAST(vec_id AS INT) AS code,
    {_pq_subvec('embedding', m)} AS codeword
  FROM embeddings WHERE vec_id < {_PQ.PQ_K}"""
    for m in range(_PQ.PQ_M)
)

_PQ_SUBS_BRANCHES = "\n  UNION ALL\n".join(
    f"  SELECT vec_id AS id, {m} AS m, {_pq_subvec('embedding', m)} AS sub"
    " FROM embeddings"
    for m in range(_PQ.PQ_M)
)

#: pinned ADC addition order: one single-row SUM per subspace, then a
#: left-to-right m=0..M-1 add — mirrors operators/pq.py's pq_topk
_PQ_PER_M = ",\n         ".join(
    f"SUM(CASE WHEN m = {m} THEN partial END) AS p{m}" for m in range(_PQ.PQ_M)
)
_PQ_SCORE = " + ".join(f"p{m}" for m in range(_PQ.PQ_M))
_PQ_SCORE = _PQ_SCORE.replace("p0 + p1", "(p0 + p1)", 1)

PQ_ANN_SQL = f"""WITH pq_cb AS (
{_PQ_CB_BRANCHES}
),
pq_subs AS (
{_PQ_SUBS_BRANCHES}
),
pq_enc AS (
  SELECT id, m, code FROM (
    SELECT s.id, s.m, c.code,
           row_number() OVER (
             PARTITION BY s.id, s.m
             ORDER BY {_pq_l2sq('s.sub', 'c.codeword')} ASC NULLS LAST, c.code
           ) AS rn
    FROM pq_subs s JOIN pq_cb c USING (m)
  ) WHERE rn = 1
),
pq_lut AS (
  SELECT s.id AS query_id, s.m, c.code, {dot('s.sub', 'c.codeword')} AS partial
  FROM pq_subs s JOIN pq_cb c USING (m)
  WHERE s.id < 5
),
pq_scored AS (
  SELECT l.query_id, e.id AS neighbor_id,
         {_PQ_PER_M}
  FROM pq_enc e JOIN pq_lut l USING (m, code)
  WHERE e.id <> l.query_id
  GROUP BY l.query_id, e.id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score FROM (
  SELECT query_id, neighbor_id, ({_PQ_SCORE}) AS score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY ({_PQ_SCORE}) DESC NULLS LAST, neighbor_id
         ) AS rank
  FROM pq_scored
) WHERE rank <= 10"""


#: IVF-PQ composition oracle: the IVF oracle's cell routing + the PQ
#: oracle's codebooks/encode/LUT, ADC-scored only inside probed cells.
#: Parameterized on the top-k cut so the exact-re-rank oracle can reuse
#: the identical body as its top-C shortlist.
def _ivfpq_sql(k: int) -> str:
    return f"""WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS centroid
  FROM embeddings WHERE vec_id < {S.IVF_K}
),
c_assign AS (
  SELECT e.vec_id AS id, c.cell_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cosine('e.embedding', 'c.centroid')} DESC NULLS LAST, c.cell_id
         ) AS rnk
  FROM embeddings e CROSS JOIN cents c
),
c_cells AS (SELECT id, cell_id FROM c_assign WHERE rnk = 1),
q_assign AS (
  SELECT e.vec_id AS query_id, c.cell_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cosine('e.embedding', 'c.centroid')} DESC NULLS LAST, c.cell_id
         ) AS rnk
  FROM embeddings e CROSS JOIN cents c
  WHERE e.vec_id < 5
),
q_cells AS (SELECT query_id, cell_id FROM q_assign WHERE rnk <= {S.IVF_NPROBE}),
pq_cb AS (
{_PQ_CB_BRANCHES}
),
pq_subs AS (
{_PQ_SUBS_BRANCHES}
),
pq_enc AS (
  SELECT id, m, code FROM (
    SELECT s.id, s.m, c.code,
           row_number() OVER (
             PARTITION BY s.id, s.m
             ORDER BY {_pq_l2sq('s.sub', 'c.codeword')} ASC NULLS LAST, c.code
           ) AS rn
    FROM pq_subs s JOIN pq_cb c USING (m)
  ) WHERE rn = 1
),
pq_lut AS (
  SELECT s.id AS query_id, s.m, c.code, {dot('s.sub', 'c.codeword')} AS partial
  FROM pq_subs s JOIN pq_cb c USING (m)
  WHERE s.id < 5
),
pq_scored AS (
  SELECT query_id, neighbor_id, cell_id,
         {_PQ_PER_M}
  FROM (
    SELECT q.query_id, e.id AS neighbor_id, q.cell_id, e.m AS m, l.partial
    FROM pq_enc e
    JOIN c_cells cc ON e.id = cc.id
    JOIN q_cells q ON cc.cell_id = q.cell_id AND e.id <> q.query_id
    JOIN pq_lut l ON l.query_id = q.query_id AND l.m = e.m AND l.code = e.code
  )
  GROUP BY query_id, neighbor_id, cell_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score, cell_id FROM (
  SELECT query_id, neighbor_id, cell_id, ({_PQ_SCORE}) AS score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY ({_PQ_SCORE}) DESC NULLS LAST, neighbor_id
         ) AS rank
  FROM pq_scored
) WHERE rank <= {k}"""


IVFPQ_ANN_SQL = _ivfpq_sql(10)

#: exact re-rank oracle (operators/pq.py ivfpq_topk_rerank — Jégou et
#: al. §V IVFADC+R): the identical IVF-PQ body cut at the top-C
#: shortlist, then TRUE cosine against the original vectors and a
#: re-rank to top-k. The cosine helper is the same expression the
#: brute-force truth set uses, so the float path is parity-proven.
IVFPQ_RERANK_SQL = f"""WITH shortlist AS (
  SELECT query_id, neighbor_id FROM ({_ivfpq_sql(_PQ.RERANK_C)})
),
rr AS (
  SELECT s.query_id, s.neighbor_id,
         {cosine('q.embedding', 'c.embedding')} AS score
  FROM shortlist s
  JOIN embeddings q ON q.vec_id = s.query_id
  JOIN embeddings c ON c.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score FROM (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY score DESC NULLS LAST, neighbor_id
         ) AS rank
  FROM rr
) WHERE rank <= 10"""


ANN_RECALL_SQL = f"""WITH truth AS (
  SELECT query_id, neighbor_id FROM ({TOPK_BRUTE_SQL})
),
cand AS (
  SELECT 'lsh_exact' AS method, query_id, neighbor_id FROM ({ANN_LSH_SQL})
  UNION ALL
  SELECT 'lsh' AS method, query_id, neighbor_id FROM ({ANN_LSH_MP_SQL})
  UNION ALL
  SELECT 'ivf' AS method, query_id, neighbor_id FROM ({IVF_ANN_SQL})
  UNION ALL
  SELECT 'pq' AS method, query_id, neighbor_id FROM ({PQ_ANN_SQL})
  UNION ALL
  SELECT 'ivfpq' AS method, query_id, neighbor_id FROM ({IVFPQ_ANN_SQL})
  UNION ALL
  SELECT 'ivfpq_rerank' AS method, query_id, neighbor_id FROM ({IVFPQ_RERANK_SQL})
  UNION ALL
  -- the Spark side runs the Arrow/BLAS matmul twin here; the oracle is
  -- the exact top-k, so the row grades green only if BLAS ranks
  -- identically to the fold-based exact path (recall 1.0 by parity)
  SELECT 'blas' AS method, query_id, neighbor_id FROM ({TOPK_BRUTE_SQL})
)
SELECT c.method,
       CAST(count(t.query_id) AS BIGINT) AS hits,
       (SELECT CAST(count(*) AS BIGINT) FROM truth) AS total,
       CAST(count(t.query_id) AS DOUBLE)
         / (SELECT count(*) FROM truth) AS recall
FROM cand c
LEFT JOIN truth t
  ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
GROUP BY c.method"""


# --- near-dup cluster resolution (connected components) ----------------------

#: transitive closure of the MinHash near-dup pairs via a recursive CTE:
#: every node's minimum reachable id is its cluster label — the same
#: deterministic labeling the Spark min-label-propagation operator
#: (operators/components.py) converges to, independent of iteration
#: order.  Reuses MINHASH_LSH_SQL verbatim so the edge set is the
#: already-graded pair list.
DEDUP_CLUSTERS_SQL = f"""WITH RECURSIVE mh AS MATERIALIZED (
  SELECT id_a, id_b FROM ({MINHASH_LSH_SQL}) lsh
),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM mh
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM mh
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id
),
comp AS (
  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS keep
FROM comp"""


# --- sequence packing (concat-and-chunk) -------------------------------------

from ..operators import packing as _PACK  # noqa: E402

#: per-split deterministic packing stream: token-count prefix sum in
#: (md5 hash, doc_id) order, chunked at the token budget. The split CASE
#: and both salts are the same constants as the Spark side. The prefix
#: sum is cast to BIGINT before the div/mod because DuckDB sums BIGINT
#: into HUGEINT.
#: 16-doc padded batches for the graded length-bucketing column
PACK_BATCH_SIZE = 16

PACK_SQL = f"""WITH b AS (
  SELECT doc_id,
    CASE WHEN {hash32(f"'{_SAMP.SPLIT_SALT}' || CAST(doc_id AS VARCHAR)")} < {_SAMP.TRAIN_EDGE} THEN 'train'
         WHEN {hash32(f"'{_SAMP.SPLIT_SALT}' || CAST(doc_id AS VARCHAR)")} < {_SAMP.VAL_EDGE} THEN 'val'
         ELSE 'test' END AS split,
    CAST(len({tokens('text')}) AS BIGINT) AS n,
    {hash32(f"'{_PACK.PACK_SALT}' || CAST(doc_id AS VARCHAR)")} AS hb
  FROM documents
)
SELECT split, doc_id, n AS n_tokens,
  CAST(sum(n) OVER w - n AS BIGINT) // {_PACK.DEFAULT_BUDGET} AS bin_id,
  CAST(sum(n) OVER w - n AS BIGINT) % {_PACK.DEFAULT_BUDGET} AS bin_offset,
  CAST((row_number() OVER (ORDER BY n, doc_id) - 1) // {PACK_BATCH_SIZE} AS BIGINT) AS batch_id
FROM b
WINDOW w AS (PARTITION BY split ORDER BY hb, doc_id ROWS UNBOUNDED PRECEDING)"""


# --- RAG chunking ------------------------------------------------------------

#: overlapping token-window chunking replay (operators/text.py
#: chunk_documents, chunk_tokens=64 / overlap=16 as registered): window
#: starts every `stride` tokens up to the last start that contributes a
#: token beyond the previous chunk's overlap tail; DuckDB range() is
#: stop-exclusive where Spark sequence() is stop-inclusive, hence the
#: `+ 1`. chunk_id is tok_start // stride (starts are exact stride
#: multiples on both sides).
CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
_CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP

#: Cross-document duplicate-SPAN removal replay (operators/spans.py,
#: C4-style boilerplate dedup at token-window granularity) — rides
#: CHUNK_DOCS_SQL as a round-9 zero-slot parity fold over docs_aug (the
#: planted copies guarantee cross-doc duplicate spans). Three parity
#: values: removed-occurrence count, a checksum over the full verdict
#: table (doc_id, pos, keep, span text — so tokenization and
#: first-occurrence order must match exactly), and a checksum over the
#: REBUILT cleaned corpus (doc_id, clean_text).
from ..operators import spans as _SP  # noqa: E402

_SPK = _SP.SPAN_TOKENS

SPAN_DEDUP_CTES = f"""sp_base AS (
  SELECT doc_id, {tokens('text')} AS toks FROM docs_aug WHERE text IS NOT NULL
),
sp_idx AS (
  SELECT doc_id, toks, unnest(range(0, len(toks) // {_SPK})) AS i FROM sp_base
),
sp_spans AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(list_slice(toks, i * {_SPK} + 1, (i + 1) * {_SPK}), ' ') AS span
  FROM sp_idx
),
sp_rn AS (
  SELECT doc_id, pos, span,
         row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
  FROM sp_spans
),
sp_verdicts AS (
  SELECT doc_id, pos, span, CASE WHEN rn = 1 THEN 1 ELSE 0 END AS keep_i FROM sp_rn
),
sp_per_doc AS (
  SELECT doc_id,
         string_agg(CASE WHEN keep_i = 1 THEN span END, ' ' ORDER BY pos) AS kept
  FROM sp_verdicts GROUP BY doc_id
),
sp_clean AS (
  SELECT b.doc_id,
         trim(concat_ws(' ', COALESCE(k.kept, ''),
           COALESCE(array_to_string(
             list_slice(b.toks, (len(b.toks) // {_SPK}) * {_SPK} + 1, len(b.toks)),
             ' '), ''))) AS clean_text
  FROM sp_base b LEFT JOIN sp_per_doc k USING (doc_id)
),
sp_parity AS (
  SELECT
    (SELECT CAST(COALESCE(SUM(1 - keep_i), 0) AS BIGINT) FROM sp_verdicts)
      AS n_span_removed,
    (SELECT CAST(COALESCE(SUM({hash32(
        "CAST(doc_id AS VARCHAR) || '|' || CAST(pos AS VARCHAR) || '|' "
        "|| CAST(keep_i AS VARCHAR) || '|' || span"
    )}), 0) AS BIGINT) FROM sp_verdicts) AS span_verdict_ck,
    (SELECT CAST(COALESCE(SUM({hash32(
        "CAST(doc_id AS VARCHAR) || '|' || clean_text"
    )}), 0) AS BIGINT) FROM sp_clean) AS span_clean_ck
)"""

def cdc_parity_ctes(src: str = "docs_aug", p: int = _SP.CDC_P) -> str:
    """CTE chain ``cdc_toked .. cdc_out, cdc_parity`` replaying the
    content-defined-segmentation dedup (operators/spans.py
    cdc_span_dedup) over ``src``: md5 breakpoint rule, per-doc running
    segment count, first-occurrence verdicts, pos-ordered rebuild, and
    a (removed-count, checksum) parity over the anchored per-doc
    output. Embed after a WITH and CROSS JOIN ``cdc_parity``."""
    ck = hash32(
        "CAST(doc_id AS VARCHAR) || '|' || CAST(n_spans AS VARCHAR) || '|' "
        "|| CAST(n_removed AS VARCHAR) || '|' || clean_text"
    )
    return f"""cdc_toked AS (
  SELECT doc_id, {tokens('text')} AS toks FROM {src}
  WHERE {tokens('text')} IS NOT NULL
),
cdc_tok AS (
  SELECT doc_id, CAST(i AS INT) AS idx, toks[CAST(i AS INT) + 1] AS tok
  FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM cdc_toked)
),
cdc_seg AS (
  SELECT doc_id, idx, tok,
    CAST(COALESCE(SUM(CASE WHEN {hash32('tok')} % {p} = 0 THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS pos
  FROM cdc_tok
),
cdc_spans AS (
  SELECT doc_id, pos, string_agg(tok, ' ' ORDER BY idx) AS span
  FROM cdc_seg GROUP BY doc_id, pos
),
cdc_verd AS (
  SELECT doc_id, pos, span,
         row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) = 1 AS keep
  FROM cdc_spans
),
cdc_per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_removed,
         string_agg(CASE WHEN keep THEN span END, ' ' ORDER BY pos) AS clean_text
  FROM cdc_verd GROUP BY doc_id
),
cdc_out AS (
  SELECT t.doc_id,
         COALESCE(d.n_spans, 0) AS n_spans,
         COALESCE(d.n_removed, 0) AS n_removed,
         COALESCE(d.clean_text, '') AS clean_text
  FROM cdc_toked t LEFT JOIN cdc_per_doc d USING (doc_id)
),
cdc_parity AS (
  SELECT CAST(COALESCE(SUM(n_removed), 0) AS BIGINT) AS n_cdc_removed,
         CAST(COALESCE(SUM({ck}), 0) AS BIGINT) AS cdc_ck
  FROM cdc_out
)"""


def cdc_dedup_sql(p: int = _SP.CDC_P) -> str:
    """Full per-doc replay of cdc_span_dedup over ``documents`` — the
    CDC differential fuzz's oracle (tests/test_spans.py)."""
    return (
        f"WITH {cdc_parity_ctes(src='documents', p=p)}\n"
        "SELECT doc_id, n_spans, n_removed, clean_text FROM cdc_out"
    )


# --- exact-substring dedup (Lee et al. 2021, round 11) -----------------------

from ..operators import exactsubstr as _ES  # noqa: E402

#: offset-SHIFTED whole-block plants for the graded ExactSubstr row:
#: every 40th document also appears with a 3-token doc-unique prefix,
#: so the shared block sits at a DIFFERENT token offset — the exact
#: case aligned-window dedup misses and stride-1 fingerprinting must
#: catch (the plant's block is removed, its unique prefix survives).
ESUB_SHIFT_MOD = 40

#: the shift-plant id offset is DERIVED from the corpus — max base
#: doc_id + NEAR_ID_OFFSET + 1 — so a plant id can never collide with a
#: real document OR a docs_aug dup plant (whose ids top out at base max
#: + NEAR_ID_OFFSET) at ANY scale factor. The r11 fixed 400_000 silently
#: merged a plant with a real document once base ids reached 400k
#: (ADVICE r11): parity still held (both engines mirrored the bug) but
#: the any-alignment certificate weakened. Keeping plants ABOVE the id
#: space (not negative) preserves keep-first semantics: the ORIGINAL
#: block stays the corpus-wide first occurrence, the plant's copy is the
#: one removed.
ESUB_OFFSET_SQL = (
    f"(SELECT COALESCE(MAX(doc_id), 0) + {NEAR_ID_OFFSET} + 1 FROM documents)"
)

ESUB_AUG_CTE = f"""esub_aug AS (
  SELECT doc_id, text FROM docs_aug
  UNION ALL
  SELECT doc_id + {ESUB_OFFSET_SQL},
         'esq' || CAST(doc_id AS VARCHAR) || 'a esq' || CAST(doc_id AS VARCHAR)
           || 'b esq' || CAST(doc_id AS VARCHAR) || 'c ' || text
  FROM documents WHERE doc_id % {ESUB_SHIFT_MOD} = 0 AND text IS NOT NULL
)"""


def exact_substr_ctes(l: int = _ES.GRADE_TOKENS, src: str = "esub_aug") -> str:
    """CTE chain ``es_base .. es_out`` replaying exact-substring dedup
    (operators/exactsubstr.py) over ``src``: md5 stride-1 window
    fingerprints, first-occurrence verdicts over the sorted index, and
    the interval-masked rebuild (a token survives unless a removed
    window covers it and no kept-DUPLICATED window does — the
    kept-copy protection shared with span_dedup's stride path)."""
    return f"""es_base AS (
  SELECT doc_id, {tokens('text')} AS toks FROM {src}
  WHERE {tokens('text')} IS NOT NULL
),
es_idx AS (
  SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - {l} + 1, 0))) AS i
  FROM es_base
),
es_wins AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         md5(array_to_string(list_slice(toks, i + 1, i + {l}), ' ')) AS fp
  FROM es_idx
),
es_rn AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY fp) AS n_occ
  FROM es_wins
),
es_lists AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_removed,
         list(pos ORDER BY pos) FILTER (WHERE rn > 1) AS rm,
         list(pos ORDER BY pos) FILTER (WHERE rn = 1 AND n_occ > 1) AS kp
  FROM es_rn GROUP BY doc_id
),
es_out AS (
  SELECT b.doc_id,
         COALESCE(e.n_spans, 0) AS n_spans,
         COALESCE(e.n_removed, 0) AS n_removed,
         COALESCE(array_to_string(list_filter(b.toks, (t, i) ->
           NOT (len(list_filter(COALESCE(e.rm, CAST([] AS INT[])),
                  st -> st <= i - 1 AND i - 1 < st + {l})) > 0
                AND len(list_filter(COALESCE(e.kp, CAST([] AS INT[])),
                  st -> st <= i - 1 AND i - 1 < st + {l})) = 0)
         ), ' '), '') AS clean_text
  FROM es_base b LEFT JOIN es_lists e USING (doc_id)
)"""


def exact_substr_dedup_sql(l: int, src: str = "documents") -> str:
    """Full per-doc replay over a bare ``src`` table — the differential
    fuzz's oracle (tests/test_exactsubstr.py)."""
    return (
        f"WITH {exact_substr_ctes(l, src)}\n"
        "SELECT doc_id, n_spans, n_removed, clean_text FROM es_out"
    )


#: graded dedup_exact_substr oracle: docs_aug plants (same-offset exact
#: + near copies) PLUS the offset-shift plants, full row-level per-doc
#: compare (not a checksum fold — the operator gets a first-class row).
EXACT_SUBSTR_SQL = f"""WITH {DOCS_AUG_CTE},
{ESUB_AUG_CTE},
{exact_substr_ctes()}
SELECT doc_id, n_spans, n_removed, clean_text FROM es_out"""


CHUNK_DOCS_SQL = f"""WITH t AS (
  SELECT doc_id, {tokens('text')} AS toks FROM documents
),
nz AS (
  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
),
starts AS (
  SELECT doc_id, toks, n,
    unnest(range(0, greatest(n - {CHUNK_OVERLAP} - 1, 0) + 1, {_CHUNK_STRIDE})) AS tok_start
  FROM nz
),
{DOCS_AUG_CTE},
{SPAN_DEDUP_CTES}
SELECT doc_id,
  CAST(tok_start // {_CHUNK_STRIDE} AS INT) AS chunk_id,
  CAST(tok_start AS BIGINT) AS tok_start,
  CAST(tok_start + least({CHUNK_TOKENS}, n - tok_start) AS BIGINT) AS tok_end,
  CAST(least({CHUNK_TOKENS}, n - tok_start) AS BIGINT) AS n_tokens,
  array_to_string(list_slice(toks, tok_start + 1, tok_start + {CHUNK_TOKENS}), ' ') AS chunk_text,
  p.n_span_removed, p.span_verdict_ck, p.span_clean_ck
FROM starts CROSS JOIN sp_parity p"""


# --- streaming ingestion gate replay (graded fold, VERDICT r8 #6) ------------
#
# The foreachBatch near-dup gate (streaming/dedup_ingest.py) is a state
# machine: verdicts for batch N depend on the signature store accepted by
# batches 0..N-1. Its replay corpus and thresholds are deterministic
# (dedup_ingest.gate_replay_* constants, imported here so the renderings
# cannot drift), so the ENTIRE three-batch evolution unrolls into one SQL
# statement: per batch, a signatures CTE, banded-index CTEs for the batch
# and the accumulated store, the four prio rules (exact-vs-store,
# near-vs-store, exact-in-batch, greedy near-in-batch), verdict
# resolution, and the next store = store + accepted. The parity CTE at
# the end folds every verdict row into (count, 32-bit checksum) — the
# same scalars the Spark side crossJoins onto streaming_dedup_events.

from ..streaming.dedup_ingest import (  # noqa: E402
    GATE_EXACT_MOD,
    GATE_EXACT_OFFSET,
    GATE_NEAR_MOD,
    GATE_NEAR_OFFSET,
    GATE_NEAR_TAIL,
    GATE_REPLAY_BATCHES,
    GATE_REPLAY_THRESHOLD,
)


def _gate_band_selects(src: str, sig: str = "sig") -> str:
    """Banded index over ``src``'s signature column — one SELECT per LSH
    band, matching operators/dedup.band_hashes exactly."""
    return "\n  UNION ALL\n".join(
        f"""  SELECT id, {sig}, {b} AS band_idx,
    md5(array_to_string(list_slice({sig}, {b * D.BAND_ROWS + 1}, {b * D.BAND_ROWS + D.BAND_ROWS}), '|')) AS band_hash
  FROM {src} WHERE {sig} IS NOT NULL"""
        for b in range(D.N_BANDS)
    )


def gate_replay_ctes(
    n_batches: int = GATE_REPLAY_BATCHES,
    threshold: float = GATE_REPLAY_THRESHOLD,
) -> str:
    """CTE chain ``gate_corpus, ..., gate_parity`` replaying the gate;
    embed after a WITH and CROSS JOIN ``gate_parity`` onto the host
    query's rows."""
    thr_num = int(threshold * D.N_MINHASH)
    agree = (
        f"len(list_filter(range(1, {D.N_MINHASH} + 1), i -> {{a}}.sig[i] = {{b}}.sig[i])) >= {thr_num}"
    )
    tail = GATE_NEAR_TAIL.replace("'", "''")
    parts = [
        f"""gate_corpus AS MATERIALIZED (
  SELECT doc_id % {n_batches} AS batch_id, doc_id AS id, text FROM documents
  UNION ALL
  SELECT (doc_id + 1) % {n_batches}, doc_id + {GATE_EXACT_OFFSET}, text
  FROM documents WHERE doc_id % {GATE_EXACT_MOD} = 0
  UNION ALL
  SELECT (doc_id + 2) % {n_batches}, doc_id + {GATE_NEAR_OFFSET}, text || '{tail}'
  FROM documents WHERE doc_id % {GATE_NEAR_MOD} = 0
)""",
        """gstore0 AS (
  SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS VARCHAR) AS fp,
         CAST(NULL AS VARCHAR[]) AS sig WHERE false
)""",
    ]
    for b in range(n_batches):
        parts.append(
            f"""gb{b}_sigs AS MATERIALIZED (
  SELECT id, {fingerprint('text')} AS fp,
         {minhash_signature_from(shingles('text'))} AS sig
  FROM gate_corpus WHERE batch_id = {b}
)"""
        )
        parts.append(
            f"gb{b}_nb AS MATERIALIZED (\n{_gate_band_selects(f'gb{b}_sigs')}\n)"
        )
        parts.append(
            f"gb{b}_pb AS MATERIALIZED (\n{_gate_band_selects(f'gstore{b}')}\n)"
        )
        a_vs = agree.format(a="n", b="p")
        a_bb = agree.format(a="a", b="c")
        parts.append(
            f"""gb{b}_hits AS (
  SELECT s.id, 0 AS prio, 'exact_dup' AS status, min(p.id) AS dup_of
  FROM gb{b}_sigs s JOIN gstore{b} p USING (fp) GROUP BY s.id
  UNION ALL
  SELECT id, 1, 'near_dup', min(dup_of) FROM (
    SELECT DISTINCT n.id, p.id AS dup_of
    FROM gb{b}_nb n JOIN gb{b}_pb p USING (band_idx, band_hash)
    WHERE {a_vs}
  ) GROUP BY id
  UNION ALL
  SELECT s.id, 2, 'exact_dup', f.dup_of
  FROM gb{b}_sigs s
  JOIN (SELECT fp, min(id) AS dup_of FROM gb{b}_sigs GROUP BY fp) f USING (fp)
  WHERE s.id > f.dup_of
  UNION ALL
  SELECT id, 3, 'near_dup', min(dup_of) FROM (
    SELECT DISTINCT a.id, c.id AS dup_of
    FROM gb{b}_nb a JOIN gb{b}_nb c USING (band_idx, band_hash)
    WHERE c.id < a.id AND {a_bb}
  ) GROUP BY id
)"""
        )
        parts.append(
            f"""gb{b}_verdicts AS MATERIALIZED (
  SELECT s.id, COALESCE(x.status, 'unique') AS status, x.dup_of,
         CAST({b} AS BIGINT) AS batch_id
  FROM gb{b}_sigs s LEFT JOIN (
    SELECT id, status, dup_of FROM (
      SELECT id, status, dup_of,
             row_number() OVER (PARTITION BY id ORDER BY prio, dup_of) AS rn
      FROM gb{b}_hits
    ) WHERE rn = 1
  ) x USING (id)
)"""
        )
        parts.append(
            f"""gstore{b + 1} AS MATERIALIZED (
  SELECT * FROM gstore{b}
  UNION ALL
  SELECT id, fp, sig FROM gb{b}_sigs
  WHERE id IN (SELECT id FROM gb{b}_verdicts WHERE status = 'unique')
)"""
        )
    all_v = "\n  UNION ALL\n".join(
        f"  SELECT * FROM gb{b}_verdicts" for b in range(n_batches)
    )
    ck = hash32(
        "CAST(id AS VARCHAR) || '|' || status || '|' || "
        "CAST(COALESCE(dup_of, -1) AS VARCHAR) || '|' || CAST(batch_id AS VARCHAR)"
    )
    parts.append(f"gate_verdicts AS (\n{all_v}\n)")
    parts.append(
        f"""gate_parity AS (
  SELECT CAST(count(*) AS BIGINT) AS n_gate_verdicts,
         CAST(COALESCE(SUM({ck}), 0) AS BIGINT) AS gate_ck
  FROM gate_verdicts
)"""
    )
    return ",\n".join(parts)


from ..streaming.bloom_gate import (  # noqa: E402
    GATE_FOLD_BITS,
    GATE_HASHES,
    GATE_INBATCH_MOD,
    GATE_INBATCH_OFFSET,
)


def bloom_gate_ctes(
    n_batches: int = GATE_REPLAY_BATCHES,
    n_bits: int = GATE_FOLD_BITS,
    n_hashes: int = GATE_HASHES,
) -> str:
    """CTE chain ``bg_corpus, ..., bgate_parity`` replaying the
    Bloom-backed streaming ingestion gate (streaming/bloom_gate.py,
    round-10 zero-slot fold): the SAME deterministic replay corpus as
    the signature gate's fold, with the batch-evolving BITSET unrolled
    as per-batch accepted-position sets — batch b's 'seen_prior'
    verdict is an all-``n_hashes``-positions-present probe against the
    positions of every PRIOR batch's accepted fingerprints, so a
    checksum mismatch means any verdict cell, any probe-position hash,
    or any step of the store evolution diverged. ``bgate_parity`` also
    counts the OVER-DROPS (seen_prior verdicts whose fingerprint no
    prior batch actually accepted — the Bloom FP trade, deliberately
    provoked by the small ``n_bits``). Embed after a WITH and CROSS
    JOIN ``bgate_parity`` onto the host query's rows."""
    tail = GATE_NEAR_TAIL.replace("'", "''")

    def pos(j: int) -> str:
        probe = hash32("fp || '#" + str(j) + "'")
        return f"({probe} % {n_bits})"

    parts = [
        f"""bg_corpus AS MATERIALIZED (
  SELECT doc_id % {n_batches} AS batch_id, doc_id AS id, text FROM documents
  UNION ALL
  SELECT (doc_id + 1) % {n_batches}, doc_id + {GATE_EXACT_OFFSET}, text
  FROM documents WHERE doc_id % {GATE_EXACT_MOD} = 0
  UNION ALL
  SELECT (doc_id + 2) % {n_batches}, doc_id + {GATE_NEAR_OFFSET}, text || '{tail}'
  FROM documents WHERE doc_id % {GATE_NEAR_MOD} = 0
  UNION ALL
  SELECT doc_id % {n_batches}, doc_id + {GATE_INBATCH_OFFSET}, text
  FROM documents WHERE doc_id % {GATE_INBATCH_MOD} = 0
)""",
        """bgpos0 AS (SELECT CAST(NULL AS BIGINT) AS pos WHERE false)""",
    ]
    def probe_union(src: str) -> str:
        return "\n    UNION ALL\n".join(
            f"    SELECT id, {pos(j)} AS pos FROM {src} WHERE fp IS NOT NULL"
            for j in range(n_hashes)
        )
    for b in range(n_batches):
        parts.append(
            f"""bgb{b}_fp AS MATERIALIZED (
  SELECT id, {fingerprint('text')} AS fp FROM bg_corpus WHERE batch_id = {b}
)"""
        )
        parts.append(
            f"""bgb{b}_hits AS (
  SELECT p.id,
         count(*) FILTER (WHERE x.pos IS NOT NULL) AS nh
  FROM (
{probe_union(f'bgb{b}_fp')}
  ) p LEFT JOIN (SELECT DISTINCT pos FROM bgpos{b}) x USING (pos)
  GROUP BY p.id
)"""
        )
        parts.append(
            f"""bgb{b}_verdicts AS MATERIALIZED (
  SELECT f.id, f.fp,
         CASE WHEN COALESCE(h.nh, 0) = {n_hashes} THEN 'seen_prior'
              WHEN f.id > fi.first_id THEN 'exact_dup_in_batch'
              ELSE 'unique' END AS status,
         CASE WHEN COALESCE(h.nh, 0) <> {n_hashes} AND f.id > fi.first_id
              THEN fi.first_id END AS dup_of,
         CAST({b} AS BIGINT) AS batch_id
  FROM bgb{b}_fp f
  LEFT JOIN bgb{b}_hits h USING (id)
  LEFT JOIN (SELECT fp, min(id) AS first_id FROM bgb{b}_fp GROUP BY fp) fi
    USING (fp)
)"""
        )
        parts.append(
            f"""bgpos{b + 1} AS MATERIALIZED (
  SELECT pos FROM bgpos{b}
  UNION
  SELECT pos FROM (
{probe_union(f'bgb{b}_fp')}
  ) WHERE id IN (SELECT id FROM bgb{b}_verdicts WHERE status = 'unique')
)"""
        )
    all_v = "\n  UNION ALL\n".join(
        f"  SELECT * FROM bgb{b}_verdicts" for b in range(n_batches)
    )
    ck = hash32(
        "CAST(id AS VARCHAR) || '|' || status || '|' || "
        "CAST(COALESCE(dup_of, -1) AS VARCHAR) || '|' || CAST(batch_id AS VARCHAR)"
    )
    parts.append(f"bgate_verdicts AS (\n{all_v}\n)")
    parts.append(
        f"""bgate_parity AS (
  SELECT CAST(count(*) AS BIGINT) AS n_bgate_verdicts,
         CAST(count(*) FILTER (
           WHERE v.status = 'seen_prior' AND NOT EXISTS (
             SELECT 1 FROM bgate_verdicts a
             WHERE a.status = 'unique' AND a.fp = v.fp
               AND a.batch_id < v.batch_id
           )
         ) AS BIGINT) AS n_bgate_overdrop,
         CAST(COALESCE(SUM({ck}), 0) AS BIGINT) AS bgate_ck
  FROM bgate_verdicts v
)"""
    )
    return ",\n".join(parts)


#: graded dedup_exact_documents oracle (round 10): the simhash +
#: bloom-membership body plus the Bloom streaming-gate replay fold —
#: every output row carries (n_bgate_verdicts, n_bgate_overdrop,
#: bgate_ck) recomputed from the unrolled batch-evolving bitset, so the
#: real foreachBatch gate's three-drain verdict table is driver-graded
#: at zero slot cost (r9 VERDICT task #6).
_ESUB_CK = hash32(
    "CAST(doc_id AS VARCHAR) || '|' || CAST(n_spans AS VARCHAR) || '|' "
    "|| CAST(n_removed AS VARCHAR) || '|' || clean_text"
)

_ESUB_PARITY_CTES = f"""{ESUB_AUG_CTE},
{exact_substr_ctes()},
es_parity AS (
  SELECT CAST(COALESCE(SUM(n_removed), 0) AS BIGINT) AS n_esub_removed,
         CAST(COALESCE(SUM({_ESUB_CK}), 0) AS BIGINT) AS esub_ck
  FROM es_out
)"""

#: round-12 fold: the regime dispatcher's chosen-path parity. The
#: organic graded corpus measures amplification ≈ 2.2 (see
#: dedup.ngram_regime_probe) — firmly the count regime — so the oracle
#: recomputes the dispatcher's pair count/checksum from ITS count-based
#: pair set and pins auto_route to 'count': a probe drift that re-routes
#: the fixture corpus, or any divergence in the routed path's pair set,
#: flips the certificate on every row.
_NGRAM_AUTO_PARITY_CTE = f"""ng_auto_parity AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs_auto,
         CAST(COALESCE(SUM({hash32("CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR)")}), 0) AS BIGINT) AS auto_pairs_ck,
         'count' AS auto_route
  FROM ng_pairs
)"""

#: r13 fold: MinHash-LSH candidate recall/precision vs the exact n-gram
#: Jaccard truth set (operators/dedup.near_dup_recall_from_shingles) —
#: banding replayed via the shared _band_selects spelling, truth = the
#: ng_pairs CTE already in this query. The micros divide exact BIGINTs
#: in the Spark operation order (CAST(h AS DOUBLE)/den*1e6).
_LSH_RECALL_CTES = f"""mh_sigs AS MATERIALIZED (
  SELECT id, {minhash_signature_from('sh')} AS sig FROM ng_shs0
  WHERE len(sh) > 0
),
mh_banded AS MATERIALIZED (
{_band_selects('mh_sigs')}
),
mh_cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM mh_banded a JOIN mh_banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.id < b.id
),
mh_counts AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM ng_pairs) AS n_nd_truth,
         (SELECT CAST(count(*) AS BIGINT) FROM mh_cand) AS n_nd_cand,
         (SELECT CAST(count(*) AS BIGINT)
          FROM (SELECT id_a, id_b FROM mh_cand
                INTERSECT SELECT id_a, id_b FROM ng_pairs)) AS n_nd_hits
),
lshr_parity AS (
  SELECT n_nd_truth, n_nd_cand, n_nd_hits,
         CASE WHEN n_nd_truth > 0 THEN CAST(round(
           CAST(n_nd_hits AS DOUBLE) / n_nd_truth * 1000000) AS BIGINT) END
           AS nd_recall_micros,
         CASE WHEN n_nd_cand > 0 THEN CAST(round(
           CAST(n_nd_hits AS DOUBLE) / n_nd_cand * 1000000) AS BIGINT) END
           AS nd_precision_micros
  FROM mh_counts
)"""

DEDUP_EXACT_SQL = _splice(
    _splice(
        _splice(
            DEDUP_EXACT_BODY_SQL,
            "\nSELECT f.doc_id, f.fingerprint,",
            f",\n{bloom_gate_ctes()},\n{cdc_parity_ctes(src='docs_aug')},\n"
            f"{_ESUB_PARITY_CTES},\n{_NGRAM_AUTO_PARITY_CTE},\n"
            f"{_LSH_RECALL_CTES}\n"
            "SELECT f.doc_id, f.fingerprint,\n"
            "       lr.n_nd_truth, lr.n_nd_cand, lr.n_nd_hits,\n"
            "       lr.nd_recall_micros, lr.nd_precision_micros,",
        ),
        "bp.n_bloom_fp, bp.bloom_ck",
        "bp.n_bloom_fp, bp.bloom_ck,\n"
        "       na.n_pairs_auto, na.auto_pairs_ck, na.auto_route,\n"
        "       cp.n_cdc_removed, cp.cdc_ck,\n"
        "       ep.n_esub_removed, ep.esub_ck,\n"
        "       bg.n_bgate_verdicts, bg.n_bgate_overdrop, bg.bgate_ck",
    ),
    "CROSS JOIN bl_parity bp",
    "CROSS JOIN bl_parity bp CROSS JOIN bgate_parity bg"
    " CROSS JOIN cdc_parity cp CROSS JOIN es_parity ep"
    " CROSS JOIN ng_auto_parity na CROSS JOIN lshr_parity lr",
)


from ..operators import dsir as _DSIR  # noqa: E402


def dsir_features_sql(n_buckets: int = _DSIR.DSIR_BUCKETS) -> str:
    """Verbatim replay of DSIR's integer substrate (operators/dsir.py
    dsir_features over ``documents``): tokenization, unigram+bigram
    feature stream, md5 bucket assignment, per-doc counts. The float
    log-weight layer is pytest-graded against numpy (same split as the
    Gopher battery's integer fold vs float flags)."""
    return f"""WITH dsir_tok AS (
  SELECT doc_id, {tokens('text')} AS toks FROM documents
  WHERE {tokens('text')} IS NOT NULL
),
dsir_feat AS (
  SELECT doc_id, unnest(list_concat(
    toks,
    CASE WHEN len(toks) >= 2
         THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
         ELSE CAST([] AS VARCHAR[]) END
  )) AS feat
  FROM dsir_tok
)
SELECT doc_id,
       CAST({hash32('feat')} % {n_buckets} AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM dsir_feat
GROUP BY doc_id, bucket"""


#: graded data_mixing_weights oracle (round 10): the mixing table plus
#: the DSIR integer-substrate fold — every row carries (n_dsir_rows,
#: dsir_ck), a checksum over the full hashed-feature table (doc_id,
#: bucket, cnt) recomputed by dsir_features_sql, so tokenization, the
#: bigram stream, md5 bucket assignment, and per-doc counts are all
#: driver-graded at zero slot cost. (The float log-weight layer stays
#: pytest-graded vs numpy — tests/test_dsir.py.)
_DSIR_CK = hash32(
    "CAST(doc_id AS VARCHAR) || '|' || CAST(bucket AS VARCHAR) || '|' "
    "|| CAST(cnt AS VARCHAR)"
)


def qclf_substrate_sql(n_buckets: int = _DSIR.DSIR_BUCKETS) -> str:
    """Verbatim replay of the quality classifier's INTEGER substrate
    (operators/quality_clf.py qclf_substrate over ``documents``): the
    DSIR hashed-feature counts joined with the rule-based battery label
    (1 iff quality_flags empty — same flag expressions the graded
    text_stats/data_quality_bins rows already pin). The float GD layer
    (weights/logits) is pytest-graded vs numpy, mirroring the DSIR
    split."""
    return f"""WITH qlab AS (
  SELECT doc_id,
    CASE WHEN len({_QUALITY_FLAGS}) = 0 THEN 1 ELSE 0 END AS label
  FROM (
    SELECT doc_id, text, {tokens('text')} AS toks,
      CAST(len({tokens('text')}) AS BIGINT) AS n_tokens,
      (CASE WHEN len({tokens('text')}) > 0 THEN
        CAST(list_sum(list_transform({tokens('text')}, t -> length(t))) AS DOUBLE)
        / len({tokens('text')}) END) AS mean_wl,
      (CASE WHEN length(text) > 0 THEN
        CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
        / length(text) END) AS sym_ratio
    FROM documents
  )
),
qfeat AS ({dsir_features_sql(n_buckets)})
SELECT f.doc_id, l.label, f.bucket, f.cnt
FROM qfeat f JOIN qlab l USING (doc_id)"""


_QCLF_CK = hash32(
    "CAST(doc_id AS VARCHAR) || '|' || CAST(label AS VARCHAR) || '|' "
    "|| CAST(bucket AS VARCHAR) || '|' || CAST(cnt AS VARCHAR)"
)

def _bpe_end_word() -> str:
    from ..operators import bpe as _BPE

    return _BPE.END_WORD


def bpe_substrate_ctes() -> str:
    """Trained-BPE substrate CTEs (operators/bpe.py): corpus word
    histogram, a 1-row histogram checksum, and the iteration-0
    adjacent-symbol pair counts (characters + terminal end-of-word
    marker, every adjacent position counted — overlaps included —
    weighted by word frequency). Shared by the standalone
    BPE_PAIR_COUNTS_SQL (differential fuzz) and the
    data_mixing_weights parity fold. The merge loop / encoder layers
    are pytest-graded against an independent naive reference trainer
    (tests/test_bpe.py) — the DSIR substrate/loop split applied
    verbatim."""
    return f"""bpe_hist AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest({tokens('text')}) AS word FROM documents)
  GROUP BY word
),
bpe_hist_par AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_dist_words,
         CAST(COALESCE(SUM(n), 0) AS BIGINT) AS total_words,
         CAST(COALESCE(SUM({hash32("word || '|' || CAST(n AS VARCHAR)")}), 0) AS BIGINT) AS hist_ck
  FROM bpe_hist
),
bpe_syms AS (
  SELECT list_append(list_transform(range(1, length(word) + 1),
                     i -> substr(word, i, 1)), '{_bpe_end_word()}') AS s, n
  FROM bpe_hist
),
bpe_pair_agg AS (
  SELECT sym_a, sym_b, CAST(SUM(n) AS BIGINT) AS pair_count
  FROM (
    SELECT s[i] AS sym_a, s[i + 1] AS sym_b, n
    FROM bpe_syms, UNNEST(range(1, len(s))) AS u(i)
  ) GROUP BY sym_a, sym_b
)"""


_BPE_PAIR_CK = hash32(
    "sym_a || '|' || sym_b || '|' || CAST(pair_count AS VARCHAR)"
)

#: standalone substrate query (pytest differential fuzz; the driver
#: grades the same substrate through the data_mixing_weights fold —
#: the 50-row grading budget is full, so new operators ride folds)
BPE_PAIR_COUNTS_SQL = f"""WITH {bpe_substrate_ctes()}
SELECT bpe_pair_agg.*, bpe_hist_par.*
FROM bpe_pair_agg CROSS JOIN bpe_hist_par"""

MIXING_WEIGHTS_SQL = f"""WITH per AS (
  SELECT lang, source, count(*) AS n_docs,
         CAST(sum(len({tokens('text')})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1, 2
),
tot AS (SELECT sum(n_tokens) AS t FROM per),
dsirf AS ({dsir_features_sql()}),
dsir_parity AS (
  SELECT CAST(count(*) AS BIGINT) AS n_dsir_rows,
         CAST(COALESCE(SUM({_DSIR_CK}), 0) AS BIGINT) AS dsir_ck
  FROM dsirf
),
qclff AS ({qclf_substrate_sql()}),
qclf_parity AS (
  SELECT CAST(count(*) AS BIGINT) AS n_qclf_rows,
         CAST(COALESCE(SUM({_QCLF_CK}), 0) AS BIGINT) AS qclf_ck
  FROM qclff
),
{bpe_substrate_ctes()},
bpe_parity AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_bpe_pairs,
         CAST(COALESCE(SUM({_BPE_PAIR_CK}), 0) AS BIGINT) AS bpe_pairs_ck
  FROM bpe_pair_agg
),
-- r13: mT5-style temperature-sampling normalizer (operators/sampling
-- temperature_mixture): the one cross-stratum float reduction is a
-- LEFT FOLD over the SORTED value list on both engines (float addition
-- is not associative); pow/division inputs are exact BIGINTs
tempz AS (
  -- FILTER mirrors Spark collect_list's native null-skipping
  SELECT list_reduce(
           list_transform(
             list_sort(list(CAST(n_tokens AS DOUBLE))
                       FILTER (WHERE n_tokens IS NOT NULL)),
             x -> pow(x, CAST({_SAMP.TEMPERATURE_ALPHA} AS DOUBLE))),
           (a, b) -> a + b) AS z
  FROM per
),
-- r14: UniMax epoch-capped allocation (operators/sampling
-- unimax_mixture, Chung et al. 2023): the cap-binding set is a PREFIX
-- of the ascending-size order, so the verdict is one BIGINT window
-- predicate — N·n_k·(m−k+1) <= B − N·Σ_{{j<k}} n_j — and the only
-- float ops are the final divisions (micros discipline)
unib AS (
  SELECT CAST(count(*) AS BIGINT) AS m, CAST(SUM(n_tokens) AS BIGINT) AS B
  FROM per WHERE n_tokens > 0
),
unir AS (
  SELECT lang, source, n_tokens AS un,
         ROW_NUMBER() OVER (ORDER BY n_tokens, lang, source) AS rk,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY n_tokens, lang, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_prev
  FROM per WHERE n_tokens > 0
),
unif AS (
  SELECT unir.*, m, B,
         CASE WHEN CAST({_SAMP.UNIMAX_EPOCHS} AS BIGINT) * un * (m - rk + 1)
                   <= B - CAST({_SAMP.UNIMAX_EPOCHS} AS BIGINT) * cum_prev
              THEN 1 ELSE 0 END AS capped
  FROM unir CROSS JOIN unib
),
unis AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN capped = 1
           THEN CAST({_SAMP.UNIMAX_EPOCHS} AS BIGINT) * un END), 0) AS BIGINT) AS S,
         CAST(COALESCE(SUM(capped), 0) AS BIGINT) AS K
  FROM unif
),
unia AS (
  SELECT lang, source,
         CAST(round((CASE WHEN capped = 1
             THEN CAST(CAST({_SAMP.UNIMAX_EPOCHS} AS BIGINT) * un AS DOUBLE)
             ELSE CAST(B - S AS DOUBLE) / CAST(m - K AS DOUBLE) END)
           / CAST(B AS DOUBLE) * 1000000.0) AS BIGINT) AS unimax_budget_micros,
         CAST(round((CASE WHEN capped = 1
             THEN CAST(CAST({_SAMP.UNIMAX_EPOCHS} AS BIGINT) * un AS DOUBLE)
             ELSE CAST(B - S AS DOUBLE) / CAST(m - K AS DOUBLE) END)
           / CAST(un AS DOUBLE) * 1000000.0) AS BIGINT) AS unimax_epochs_micros,
         CAST(capped AS INT) AS unimax_capped
  FROM unif CROSS JOIN unis
)
SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
  CAST(round(CAST(n_tokens AS DOUBLE) / t * 1000000) AS BIGINT) AS token_share_micros,
  (CASE WHEN n_tokens > 0 THEN
    CAST(round((pow(CAST(n_tokens AS DOUBLE), CAST({_SAMP.TEMPERATURE_ALPHA} AS DOUBLE)) / z)
               * 1000000.0) AS BIGINT) END) AS w_alpha_micros,
  (CASE WHEN n_tokens > 0 THEN
    CAST(round((pow(CAST(n_tokens AS DOUBLE), CAST({_SAMP.TEMPERATURE_ALPHA} AS DOUBLE)) / z)
               / (CAST(n_tokens AS DOUBLE) / t) * 1000000.0) AS BIGINT) END) AS upsample_micros,
  unimax_budget_micros, unimax_epochs_micros, unimax_capped,
  dp.n_dsir_rows, dp.dsir_ck, qp.n_qclf_rows, qp.qclf_ck,
  bp.n_bpe_pairs, bp.bpe_pairs_ck, hp.n_dist_words, hp.total_words, hp.hist_ck
FROM per CROSS JOIN tot CROSS JOIN tempz CROSS JOIN dsir_parity dp
CROSS JOIN qclf_parity qp
CROSS JOIN bpe_parity bp CROSS JOIN bpe_hist_par hp
LEFT JOIN unia USING (lang, source)"""
