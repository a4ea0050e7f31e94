"""Text-analysis expression builders (SURVEY §2.11; north-star text ops).

Every builder returns a PAIR of expression strings — ``spark`` (Spark SQL)
and ``duck`` (DuckDB SQL) — implementing identical semantics, so each
operator stays differentially testable. The dialects differ only in
higher-order-function names (transform/list_transform, …); the logic is
kept structurally identical so floating-point results agree. The SimHash
fold builders are DuckDB-only: the engine spells both sketches
relationally (operators/dedup.py::_simhash_frame, ::_simhash_wide_frame),
and only the oracle folds.

All hashing is md5-based (the one cryptographic hash both engines share),
so MinHash/SimHash signatures are deterministic and engine-independent —
no MLlib randomness, no engine-specific murmur seeds.

PERFORMANCE CONTRACT: every builder takes the *token array column name*
(``toks``), never the raw text. Callers must materialize
``split(text, ' ') AS toks`` once in a prior select (behind a REPARTITION
barrier for the expression-heavy operators) — inlining the split into an
expression that references the tokens O(n) times makes the plan O(n²) per
document (measured 10× slowdown at sf0.1).
"""

from __future__ import annotations

STOPWORDS = ("the", "a", "of", "in", "and", "to", "is")


def _stoplist_sql() -> str:
    return ", ".join(f"'{w}'" for w in STOPWORDS)


# Token materialization (the one place raw text is split). limit=-1 keeps
# trailing empty tokens — Spark's default split drops them (Java semantics)
# while DuckDB's string_split keeps them, an edge the adversarial parity
# test (tests/test_property_fidelity.py) hits on trailing-space texts.
TOKS_SPARK = "split(text, ' ', -1)"
TOKS_DUCK = "string_split(text, ' ')"


# ---------------------------------------------------------------------------
# Word 3-gram shingles (distinct), the MinHash unit. Docs with < 3 tokens
# fall back to the whole text as a single shingle.
# ---------------------------------------------------------------------------


def shingles_spark(toks: str = "toks", text: str = "text") -> str:
    return (
        f"array_distinct(CASE WHEN size({toks}) >= 3 THEN "
        f"transform(sequence(1, size({toks}) - 2), i -> "
        f"concat_ws(' ', element_at({toks}, i), element_at({toks}, i + 1), "
        f"element_at({toks}, i + 2))) ELSE array({text}) END)"
    )


def shingles_duck(toks: str = "toks", text: str = "text") -> str:
    return (
        f"list_distinct(CASE WHEN len({toks}) >= 3 THEN "
        f"list_transform(range(1, len({toks}) - 1), i -> "
        f"{toks}[i] || ' ' || {toks}[i + 1] || ' ' || {toks}[i + 2]) "
        f"ELSE [{text}] END)"
    )


# ---------------------------------------------------------------------------
# MinHash: each shingle is md5-hashed ONCE into a 56-bit BIGINT (14 hex
# chars — both engines parse it identically), then the N permutations are
# integer multiply-mod draws over that base hash:
#
#     h_s(doc) = min over shingles of (A_s * (base % P) + B_s) % P
#
# One cryptographic hash per shingle instead of N (measured 8× fewer md5
# calls = the dominant sketch cost at sf0.1); the carter-wegman permutation
# family keeps the minima independent across seeds. P = 2^31 - 1 keeps
# A_s * h < 2^62 — no bigint overflow under ANSI mode in either engine.
# ---------------------------------------------------------------------------

MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
_MINHASH_A = (1000003, 999983, 999979, 999961, 999959, 999953, 999931, 999917)
_MINHASH_B = (12345, 54321, 77777, 13579, 24680, 11111, 99991, 31415)

# Rolling 3-token shingle hash: position-weighted polynomial over per-token
# md5 ints. Builds NO shingle strings at all — the per-token md5 (short
# strings) is the only cryptographic hash; shingle identity, dedup, minhash
# permutations and the exact-Jaccard verify all run on BIGINTs. The hashed
# shingle space is 31-bit, so a ~200-shingle doc has ~1e-5 within-doc
# collision probability — and because DuckDB computes the identical ints,
# any collision is reproduced bit-for-bit by the oracle.
_SH_C = (3, 65537, 40503)  # distinct weights keep token order significant


def token_ints_spark(toks: str = "toks") -> str:
    return (
        f"transform({toks}, t -> "
        f"CAST(conv(substr(md5(t), 1, 14), 16, 10) AS BIGINT) % {MINHASH_P})"
    )


def token_ints_duck(toks: str = "toks") -> str:
    return (
        f"list_transform({toks}, t -> "
        f"CAST(concat('0x', substr(md5(t), 1, 14)) AS BIGINT) % {MINHASH_P})"
    )


def shingle_ints_spark(th: str = "th", text: str = "text") -> str:
    c0, c1, c2 = _SH_C
    return (
        f"array_distinct(CASE WHEN size({th}) >= 3 THEN "
        f"transform(sequence(1, size({th}) - 2), i -> "
        f"({c0} * element_at({th}, i) + {c1} * element_at({th}, i + 1) "
        f"+ {c2} * element_at({th}, i + 2)) % {MINHASH_P}) "
        f"ELSE array(CAST(conv(substr(md5({text}), 1, 14), 16, 10) AS BIGINT) "
        f"% {MINHASH_P}) END)"
    )


def shingle_ints_duck(th: str = "th", text: str = "text") -> str:
    c0, c1, c2 = _SH_C
    return (
        f"list_distinct(CASE WHEN len({th}) >= 3 THEN "
        f"list_transform(range(1, len({th}) - 1), i -> "
        f"({c0} * {th}[i] + {c1} * {th}[i + 1] + {c2} * {th}[i + 2]) % {MINHASH_P}) "
        f"ELSE [CAST(concat('0x', substr(md5({text}), 1, 14)) AS BIGINT) "
        f"% {MINHASH_P}] END)"
    )


def minhash_spark(seed: int, hashes: str = "sh") -> str:
    a, b = _MINHASH_A[seed], _MINHASH_B[seed]
    return f"array_min(transform({hashes}, h -> ({a} * h + {b}) % {MINHASH_P}))"


def minhash_duck(seed: int, hashes: str = "sh") -> str:
    a, b = _MINHASH_A[seed], _MINHASH_B[seed]
    return f"list_min(list_transform({hashes}, h -> ({a} * h + {b}) % {MINHASH_P}))"


# LSH banding: 8 minhashes → 2 bands of 4; docs sharing any band key are
# candidate pairs (classic shingle→minhash→band→bucket-join). The key is a
# plain '|'-joined int string: already unique per (m0..m3) tuple, so an
# extra md5 buys nothing.
N_HASHES = 8
BAND_SIZE = 4


def band_key_spark(band: int) -> str:
    cols = " || '|' || ".join(
        f"CAST(m{band * BAND_SIZE + j} AS STRING)" for j in range(BAND_SIZE)
    )
    return f"({cols})"


band_key_duck = band_key_spark  # CAST/|| are identical in both dialects


# ---------------------------------------------------------------------------
# SimHash (16-bit, md5-derived): bit p set iff the sum over tokens of
# (+1 if the p-th hex char of md5(token) has its high bit set, else -1) > 0.
# Returned as BIGINT so Hamming distance is bit_count(xor(a, b)).
# ---------------------------------------------------------------------------

_HIGH_HEX = "('8', '9', 'a', 'b', 'c', 'd', 'e', 'f')"

# Token hashes are materialized ONCE (md5 per token), then the 16 bit-sums
# read characters out of the hash strings — 16× fewer md5 calls than
# hashing inside the per-bit loop.


def token_hashes_duck(toks: str = "toks") -> str:
    return f"list_transform({toks}, t -> md5(t))"


def simhash_duck(hs: str = "hs") -> str:
    return (
        "CAST(list_sum(list_transform(range(1, 17), p -> "
        f"CASE WHEN list_sum(list_transform({hs}, h -> "
        f"CASE WHEN substr(h, p, 1) IN {_HIGH_HEX} THEN 1 ELSE -1 END)) > 0 "
        "THEN 1 << (16 - p) ELSE 0 END)) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic: stopword hit-ratio (an honest n-gram/stopword
# classifier; the synthetic corpus is English-vocabulary so it labels 'en'
# when the ratio clears a threshold, 'unk' otherwise).
# ---------------------------------------------------------------------------

_LANGID_TEMPLATE = "CASE WHEN {nhits} >= 0.02 * {ntoks} THEN 'en' ELSE 'unk' END"


def lang_id_spark(toks: str = "toks") -> str:
    return _LANGID_TEMPLATE.format(
        nhits=f"size(filter({toks}, t -> t IN ({_stoplist_sql()})))",
        ntoks=f"size({toks})",
    )


def lang_id_duck(toks: str = "toks") -> str:
    return _LANGID_TEMPLATE.format(
        nhits=f"len(list_filter({toks}, t -> t IN ({_stoplist_sql()})))",
        ntoks=f"len({toks})",
    )


# ---------------------------------------------------------------------------
# Quality score: bounded blend of length, lexical diversity, token shape,
# and stopword load — the standard cheap pre-filter for training corpora.
#
# Scored in INTEGER BASIS POINTS (0..10000) with integer division: double
# arithmetic is associativity-sensitive, and a round(x, 4) of a sum of four
# doubles can land one last-ulp apart across engines exactly on a .00005
# tie (observed at sf0.001: 2550.6003 vs 2550.6002 aggregate). Integer
# math is bit-exact everywhere; truncation is part of the score's
# definition. Components (weights 30/30/20/20):
#   length     3000 * min(ntoks, 100) / 100
#   diversity  3000 * ndistinct / ntoks
#   word shape min(2000, 2000 * (chars - ntoks + 1) / (8 * ntoks))
#   stopwords  2000 - 2000 * nstop / ntoks
# ---------------------------------------------------------------------------

_QUALITY_TEMPLATE = (
    "CAST("
    "(3000 * least({ntoks}, 100)) {div} 100 "
    "+ (3000 * {ndistinct}) {div} {ntoks} "
    "+ least(2000, (2000 * (length({text}) - {ntoks} + 1)) {div} (8 * {ntoks})) "
    "+ 2000 - (2000 * {nstop}) {div} {ntoks} "
    "AS BIGINT)"
)


def quality_spark(toks: str = "toks", text: str = "text") -> str:
    return _QUALITY_TEMPLATE.format(
        div="DIV",
        text=text,
        ntoks=f"size({toks})",
        ndistinct=f"size(array_distinct({toks}))",
        nstop=f"size(filter({toks}, t -> t IN ({_stoplist_sql()})))",
    )


def quality_duck(toks: str = "toks", text: str = "text") -> str:
    return _QUALITY_TEMPLATE.format(
        div="//",
        text=text,
        ntoks=f"len({toks})",
        ndistinct=f"len(list_distinct({toks}))",
        nstop=f"len(list_filter({toks}, t -> t IN ({_stoplist_sql()})))",
    )


# ---------------------------------------------------------------------------
# Token counting: whitespace tokens + a BPE-ish regex segmentation
# (letter runs / digit runs / single punctuation). Same RE in Java regex
# and RE2.
# ---------------------------------------------------------------------------

BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"
TOKEN_BPE_SPARK = f"size(regexp_extract_all(text, '{BPE_RE}', 0))"
TOKEN_BPE_DUCK = f"len(regexp_extract_all(text, '{BPE_RE}'))"


# ---------------------------------------------------------------------------
# Document fingerprint: min-4 of the md5'd shingle set (winnowing-style
# representative sketch), joined to a stable string.
# ---------------------------------------------------------------------------


def fingerprint_spark(shingles: str = "sh") -> str:
    return f"array_join(slice(array_sort(transform({shingles}, s -> md5(s))), 1, 4), ',')"


def fingerprint_duck(shingles: str = "sh") -> str:
    return f"array_to_string((list_sort(list_transform({shingles}, s -> md5(s))))[1:4], ',')"


# ---------------------------------------------------------------------------
# SimHash-64 (production width): bit p (1..64) reads RAW BIT (p-1) of each
# token's md5 (4 bits per hex char — 128 available, 64 used), so the
# fingerprint is 4× wider than the 16-bit teaching variant above at the
# same one-md5-per-token cost. Wider fingerprint ⇒ Hamming <= 3 becomes a
# genuinely selective near-dup predicate: the quadratic pair-count growth
# the 16-bit sketch exhibits at 100× (README §Scale) collapses to
# near-linear, which is exactly the "widen the fingerprint" knob the
# 16-bit operator documents. The fingerprint is carried as two unsigned
# 32-bit words (hi = bits 1..32, lo = bits 33..64): DuckDB's shift is
# overflow-CHECKED, so materializing bit 1 as BIGINT 1<<63 throws — the
# word split keeps every shift <= 31 and both words positive, and Hamming
# distance is just the sum of the two words' bit_count(xor).
# ---------------------------------------------------------------------------

# Per-token md5 words: the first/second 8 hex chars ARE bits 1..32 /
# 33..64 as integers — two base-16 parses per token replace 64 per-bit
# string probes; the per-bit fold is then pure integer shift/mask.


def token_words_duck(hs: str = "hs") -> str:
    return (
        f"list_transform({hs}, h -> {{'w1': CAST(concat('0x', substr(h, 1, 8)) AS BIGINT), "
        "'w2': CAST(concat('0x', substr(h, 9, 8)) AS BIGINT)})"
    )


def _simhash32_word_duck(ws: str, word: str, offset: int) -> str:
    """One 32-bit fingerprint word from the per-token packed words: bit q
    (global index) set iff Σ_tokens (2·bit_q(token) − 1) > 0."""
    contrib = f"2 * ((t.{word} >> ({offset + 32} - q)) & 1) - 1"
    return (
        f"CAST(list_sum(list_transform(range({offset + 1}, {offset + 33}), q -> "
        f"CASE WHEN list_sum(list_transform({ws}, t -> {contrib})) > 0 "
        f"THEN CAST(1 AS BIGINT) << ({offset + 32} - q) "
        "ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    )


def simhash64_hi_duck(ws: str = "ws") -> str:
    return _simhash32_word_duck(ws, "w1", 0)


def simhash64_lo_duck(ws: str = "ws") -> str:
    return _simhash32_word_duck(ws, "w2", 32)


# ---------------------------------------------------------------------------
# Relational simhash (r10, guide §4.1 "prefer codegen'd expressions"):
# the per-row nested HOF folds above evaluate an interpreted lambda per
# (bit, token) pair — 64·T evaluations per doc for the wide fingerprint,
# measured 3.4 s of q_simhash_wide's 3.7 s at sf0.1. The same integer
# arithmetic phrased RELATIONALLY — explode tokens, one whole-stage-
# codegen'd HashAggregate with one SUM per bit position, then a single
# projection packing bits — does the identical Σ(2·bit−1) > 0 test as
# 2·Σbit > n_tokens (exact integers, same result bit for bit). The
# DuckDB oracle keeps the fold spelling; the differential gate proves
# the equality. These helpers emit the SUM list and the bit-packing
# projection; the frame builders in operators/dedup.py own the
# explode/groupBy shape.
# ---------------------------------------------------------------------------


def simhash_bit_sums_spark(word: str, prefix: str, width: int = 32) -> str:
    """One SUM aggregate per bit position of ``word`` (a 32-bit int
    column): position q (1-based, MSB first) is bit (width - q)."""
    return ", ".join(
        f"sum(CAST(shiftright({word}, {width - q}) & 1 AS BIGINT)) "
        f"AS {prefix}{q}"
        for q in range(1, width + 1)
    )


def simhash_pack_spark(prefix: str, nt: str = "nt", width: int = 32) -> str:
    """Pack per-position counts back into the fingerprint word: bit q set
    iff the majority vote Σ(2·bit−1) = 2·count − n_tokens is > 0."""
    terms = " + ".join(
        f"(CASE WHEN 2 * {prefix}{q} > {nt} "
        f"THEN CAST({1 << (width - q)} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for q in range(1, width + 1)
    )
    return f"CAST({terms} AS BIGINT)"
