"""Text-analysis column functions (SURVEY §7 extensions).

Every function here exists in two synchronized forms:
- a Spark ``Column`` builder (JVM-side, whole-stage-codegen'd — no
  Python UDFs anywhere in this module), and
- a DuckDB SQL fragment builder used by the oracle queries.

Both are generated from the same Python constants (marker lists,
hash coefficients, regexes) so the two engines compute *identical*
values — the correctness gate hashes results across engines.

The shared 48-bit hash primitive is ``H48(s) = int(md5(s)[:12], 16)``:
md5 is available and bit-identical in Spark (``F.md5``) and DuckDB
(``md5()``), and 48 bits fits a BIGINT with headroom for the
linear-congruential mixing used by MinHash (a*H+b < 2^63).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- shared constants (single source of truth for both engines) ---

TOKEN_RE = r"\s+"
# variant for embedding in Spark SQL string literals (backslash is an
# escape char there, so it must be doubled); DuckDB literals keep the
# single backslash.
TOKEN_RE_SQL = r"\\s+"
PUNCT_STRIP_RE_SQL = r"[a-z0-9\\s]"

# language-ID marker words; preference order breaks score ties
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "los", "las", "una", "y", "es"],
    "zh": ["的", "是", "了", "在", "我", "不"],
}
LANG_ORDER = ["en", "de", "fr", "es", "zh"]
LANG_UNKNOWN = "und"

EN_STOPWORDS = LANG_MARKERS["en"] + ["it", "for", "on", "with", "as", "at", "by"]

# "BPE-ish" token regex: letter runs, digit runs, single other glyphs
BPE_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

# punctuation = anything that is not alnum/whitespace
PUNCT_STRIP_RE = "[a-z0-9\\s]"

MINHASH_MOD = (1 << 31) - 1  # Mersenne prime 2^31-1
# (a, b) pairs for h_k(x) = (a*x + b) mod MINHASH_MOD; a < 2^13 keeps
# a * H48 < 2^61 — no BIGINT overflow in either engine.
MINHASH_COEFS: list[tuple[int, int]] = [
    (3079, 1), (4093, 271), (5087, 577), (6151, 983),
    (7103, 1279), (8117, 1559), (1217, 1987), (2053, 2347),
    (3163, 2683), (4217, 3089), (5279, 3463), (6337, 3767),
    (7393, 4093), (1471, 4447), (2531, 4787), (3593, 5099),
]
SIMHASH_BITS = 48


def _quote_list(words: list[str]) -> str:
    return ", ".join("'" + w.replace("'", "''") + "'" for w in words)


# =====================================================================
# Spark column builders
# =====================================================================

def words(col: str) -> Column:
    """Lowercased whitespace tokens."""
    return F.split(F.lower(F.col(col)), TOKEN_RE)


def h48(c: Column) -> Column:
    """48-bit md5-prefix hash of a string column (cross-engine)."""
    return F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("long")


def token_count_ws(col: str) -> Column:
    return F.size(words(col))


def token_count_ws_sql(col: str) -> str:
    """Spark-SQL string twin of ``token_count_ws`` (for the SQL-text
    registry queries, which build their whole plan in one
    ``spark.sql`` call)."""
    return f"size(split(lower({col}), '{TOKEN_RE_SQL}'))"


# BPE regex escaped for embedding in a Spark SQL string literal
BPE_TOKEN_RE_SPARK_SQL = BPE_TOKEN_RE.replace("\\", "\\\\")


def token_count_bpe(col: str) -> Column:
    return F.size(F.regexp_extract_all(F.lower(F.col(col)), F.lit(BPE_TOKEN_RE), 0))


def token_count_bpe_sql(col: str) -> str:
    """Spark-SQL string twin of ``token_count_bpe``."""
    return (
        f"size(regexp_extract_all(lower({col}), "
        f"'{BPE_TOKEN_RE_SPARK_SQL}', 0))"
    )


def h48_sql(inner: str) -> str:
    """Spark-SQL string twin of ``h48`` over an inner SQL expression."""
    return f"cast(conv(substring(md5({inner}), 1, 12), 16, 10) as bigint)"


def fingerprint_sql(col: str) -> str:
    """Spark-SQL string twin of ``fingerprint``."""
    return h48_sql(
        f"concat_ws(' ', split(lower({col}), '{TOKEN_RE_SQL}'))"
    )


def punct_ratio(col: str) -> Column:
    stripped = F.regexp_replace(F.lower(F.col(col)), PUNCT_STRIP_RE, "")
    return F.length(stripped) / F.greatest(F.length(F.col(col)), F.lit(1))


def _marker_count(col: str, markers: list[str]) -> Column:
    lst = _quote_list(markers)
    return F.expr(
        f"size(filter(split(lower({col}), '{TOKEN_RE_SQL}'), w -> w in ({lst})))"
    )


def stopword_ratio(col: str) -> Column:
    return _marker_count(col, EN_STOPWORDS) / F.greatest(
        token_count_ws(col), F.lit(1)
    )


def _marker_count_sql(col: str, markers: list[str]) -> str:
    lst = _quote_list(markers)
    return f"size(filter(split(lower({col}), '{TOKEN_RE_SQL}'), w -> w in ({lst})))"


def language_id(col: str) -> Column:
    """n-gram-marker language heuristic with deterministic tie order.

    Composed as ONE SQL string parsed by a single ``F.expr`` — the
    Column-API ``F.when`` chain re-referenced each language's
    marker-count subtree ~|langs| times (Columns are trees, not CSE'd
    at build), making plan CONSTRUCTION the dominant cost of the
    text-profile queries (~126 ms/build profiled at r6; the string
    parse is one py4j call). The marker-count subtrees are bound ONCE
    via a single-element transform lambda (each score is a struct
    field of the bound variable, so the CASE references 5 tiny field
    reads instead of ~25 subtree copies); ``s >= greatest(others)``
    is rewritten as the equivalent ``s >= greatest(all)``
    (s >= max(s, others) iff s >= max(others)), so every branch
    shares one max. Decision order and tie preference are
    expression-for-expression the old chain (and the DuckDB twin)."""
    return F.expr(language_id_sql(col))


def language_id_sql(col: str) -> str:
    """The ``language_id`` expression as its raw Spark-SQL string (the
    SQL-text registry queries splice it directly into one
    ``spark.sql`` statement)."""
    struct_fields = ", ".join(
        f"'{lang}', {_marker_count_sql(col, LANG_MARKERS[lang])}"
        for lang in LANG_ORDER
    )
    m = "greatest(" + ", ".join(f"s.{lang}" for lang in LANG_ORDER) + ")"
    # build CASE from last preference to first so earlier langs win ties
    expr = f"'{LANG_UNKNOWN}'"
    for lang in reversed(LANG_ORDER):
        expr = (
            f"CASE WHEN s.{lang} > 0 AND s.{lang} >= {m} "
            f"THEN '{lang}' ELSE {expr} END"
        )
    return f"transform(array(named_struct({struct_fields})), s -> {expr})[0]"


def quality_score(col: str) -> Column:
    """Composite [0,1] quality heuristic: length, stopword density,
    punctuation noise. Identical formula in the DuckDB fragment.

    One-string ``F.expr`` like ``language_id`` (same rationale);
    double literals carry the ``D`` suffix so Spark SQL parses them as
    DOUBLE, not DECIMAL — int/int ``/`` is already double in Spark
    SQL, matching the Column API's Divide."""
    return F.expr(quality_score_sql(col))


def quality_score_sql(col: str) -> str:
    """The ``quality_score`` expression as its raw Spark-SQL string."""
    n_tok_i = f"size(split(lower({col}), '{TOKEN_RE_SQL}'))"
    punct = (
        f"(length(regexp_replace(lower({col}), '{PUNCT_STRIP_RE_SQL}', '')) "
        f"/ greatest(length({col}), 1))"
    )
    stop = (
        f"({_marker_count_sql(col, EN_STOPWORDS)} / greatest({n_tok_i}, 1))"
    )
    return (
        f"round(least(1.0D, log(1.0D + cast({n_tok_i} as double)) / 6.0D) "
        f"* (1.0D - {punct}) "
        f"* (0.5D + least({stop} * 2.0D, 0.5D)), 6)"
    )


def fingerprint(col: str) -> Column:
    """Token-normalized 48-bit content fingerprint."""
    return h48(F.concat_ws(" ", words(col)))


def tokens_array(col: str) -> Column:
    """Lowercased token array — the shared shingle tokenizer.

    Project this into a real column BEFORE building shingles from it:
    Catalyst does not CSE a split() referenced inside a higher-order-
    function lambda, so slicing an inline split re-tokenizes the
    document on every shingle (quadratic per-doc work, measured 2.3x
    at sf0.1)."""
    return F.expr(f"split(lower({col}), '{TOKEN_RE_SQL}')")


def shingles_from(tok: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined) over a
    pre-materialized token-array column."""
    return F.when(
        F.size(tok) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(tok) - n),
                lambda i: F.concat_ws(" ", F.slice(tok, i + F.lit(1), n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_hashes_from(tok: Column, n: int = 3) -> Column:
    """H48 of each distinct shingle of a token-array column."""
    return F.transform(
        shingles_from(tok, n),
        lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long"),
    )


def positional_kgrams(tok: Column, k: int) -> Column:
    """The k-token n-gram TEXT starting at each position
    (space-joined) — NOT distinct (within-doc repeats are duplication
    evidence): the duplicate-span family's EXACT anchor identity
    (operators/dedup's verification stage and the streaming flag path
    share this one definition; r13 — the r12 H48 anchors fabricated
    duplicate spans at ~1e13 k-grams via birthday collisions, so the
    final duplicated-anchor determination is now text-equality-based
    and hash-free). Element i is tokens [i, i+k) joined with single
    spaces; empty when the doc has < k tokens."""
    return F.when(
        F.size(tok) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(tok) - k),
            lambda i: F.concat_ws(" ", F.slice(tok, i + F.lit(1), k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def positional_kgram_hashes64(tok: Column, k: int) -> Column:
    """xxhash64 of the k-gram starting at each position — the CHEAP
    64-bit PRE-FILTER index of the duplicate-span family (8-byte
    shuffle key instead of ~50-byte gram text; collisions only ADD
    stage-1 candidates, which the text-equality verification stage
    rejects, so the hash never touches correctness)."""
    return F.when(
        F.size(tok) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(tok) - k),
            lambda i: F.xxhash64(
                F.concat_ws(" ", F.slice(tok, i + F.lit(1), k))
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))


def shingles(col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles straight from a text column.

    Convenience for tests/small inputs — the inline split inside the
    transform lambda re-evaluates per element; hot paths should
    project ``tokens_array`` first and use ``shingles_from``."""
    return shingles_from(tokens_array(col), n)


def minhash_signature(hashes: Column) -> Column:
    """MinHash signature: array of per-hash-function minima over the
    shingle-hash set. Empty set -> MINHASH_MOD sentinels."""
    parts = []
    for a, b in MINHASH_COEFS:
        parts.append(
            F.coalesce(
                F.array_min(
                    F.transform(hashes, lambda h: (h * a + b) % MINHASH_MOD)
                ),
                F.lit(MINHASH_MOD),
            )
        )
    return F.array(*parts)


def bigrams_of(w: Column) -> Column:
    """Word bigram array from an ALREADY-MATERIALIZED token array
    column, duplicates kept (repetition weighting).

    Callers must project the token array into a named column first
    (so it's a bound attribute, not an inline split() expression):
    inside a transform() lambda an inline expression is re-evaluated
    per element, turning the row cost quadratic in document length.
    element_at on a materialized array is O(1)."""
    return F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(w, i + 1), F.element_at(w, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bigrams(col: str) -> Column:
    """Word bigram array of a raw text column. Convenience wrapper —
    for hot paths project words(col) first and use bigrams_of (see
    its docstring for why)."""
    return bigrams_of(words(col))


def distinct_ratio(arr: Column) -> Column:
    """|distinct| / |all| of an array column (lexical diversity)."""
    return F.round(
        F.size(F.array_distinct(arr))
        / F.greatest(F.size(arr), F.lit(1)).cast("double"),
        6,
    )


def modal_count(arr: Column) -> Column:
    """Occurrence count of the modal element (0 for empty arrays).

    Modal count == longest equal-run in the sorted array, so this is
    array_sort + one aggregate() pass with a (prev, run, best) struct
    accumulator — O(n log n) per row, pure map, no shuffle. (The naive
    distinct×filter nested-lambda form is O(distinct·n) per row and
    was measured 100×+ slower on real documents at sf0.1.)"""
    return F.aggregate(
        F.array_sort(arr),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(acc.prev), acc.run + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc.best,
                F.when(x.eqNullSafe(acc.prev), acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )


def top_freq_frac(arr: Column) -> Column:
    """Frequency share of the modal element: count(mode) / |arr|."""
    return F.round(
        modal_count(arr) / F.greatest(F.size(arr), F.lit(1)).cast("double"),
        6,
    )


PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IPV4_RE = r"\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b"
PII_PHONE_RE = r"\+[0-9]{7,15}"
# redaction order matters: emails first (their domain may look like an
# IP), then IPs, then +phone runs
PII_PATTERNS: list[tuple[str, str]] = [
    (PII_EMAIL_RE, "<EMAIL>"),
    (PII_IPV4_RE, "<IP>"),
    (PII_PHONE_RE, "<PHONE>"),
]


def pii_count(col: Column, pattern: str) -> Column:
    """Count of non-overlapping PII regex matches in a text column.

    Patterns are restricted to the Java-regex ∩ RE2 common subset
    (character classes, bounded repeats, \\b — no alternation, no
    lookaround) so Spark and the DuckDB oracle find identical spans."""
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0))


def redact_pii(col: Column) -> Column:
    """Replace every PII match with a typed placeholder, in the fixed
    PII_PATTERNS order. Pure codegen map — no shuffle, no Python."""
    out = col
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def duck_pii_count(col: str, pattern: str) -> str:
    return f"len(regexp_extract_all({col}, '{pattern}'))"


def duck_redact_pii(col: str) -> str:
    out = col
    for pat, repl in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{repl}', 'g')"
    return out


def simhash(col: str) -> Column:
    """SimHash fingerprint over token hashes: bit i of the output is 1
    iff the sum over tokens of (+1 if bit i of the token hash else -1)
    is >= 0."""
    hs = f"transform(split(lower({col}), '{TOKEN_RE_SQL}'), t -> cast(conv(substr(md5(t), 1, 12), 16, 10) as bigint))"
    bit_terms = []
    for i in range(SIMHASH_BITS):
        vote = (
            f"aggregate({hs}, 0L, (acc, h) -> acc + "
            f"(CASE WHEN (shiftright(h, {i}) % 2) = 1 THEN 1 ELSE -1 END))"
        )
        bit_terms.append(f"(CASE WHEN {vote} >= 0 THEN {1 << i}L ELSE 0L END)")
    return F.expr(" + ".join(bit_terms))


# =====================================================================
# DuckDB oracle fragment builders (same constants, same semantics)
# =====================================================================

def duck_words(col: str) -> str:
    return f"string_split_regex(lower({col}), '\\s+')"


def duck_h48(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 12)) AS BIGINT)"


def duck_token_count_ws(col: str) -> str:
    return f"len({duck_words(col)})"


def duck_token_count_bpe(col: str) -> str:
    return f"len(regexp_extract_all(lower({col}), '{BPE_TOKEN_RE}'))"


def duck_punct_ratio(col: str) -> str:
    return (
        f"(length(regexp_replace(lower({col}), '{PUNCT_STRIP_RE}', '', 'g')) "
        f"/ CAST(greatest(length({col}), 1) AS DOUBLE))"
    )


def duck_marker_count(col: str, markers: list[str]) -> str:
    lst = _quote_list(markers)
    return f"len(list_filter({duck_words(col)}, w -> w in ({lst})))"


def duck_stopword_ratio(col: str) -> str:
    return (
        f"({duck_marker_count(col, EN_STOPWORDS)} "
        f"/ CAST(greatest({duck_token_count_ws(col)}, 1) AS DOUBLE))"
    )


def duck_language_id(col: str) -> str:
    score = {
        lang: duck_marker_count(col, LANG_MARKERS[lang]) for lang in LANG_ORDER
    }
    expr = f"'{LANG_UNKNOWN}'"
    for lang in reversed(LANG_ORDER):
        others = ", ".join(score[o] for o in LANG_ORDER if o != lang)
        expr = (
            f"CASE WHEN {score[lang]} > 0 AND {score[lang]} >= greatest({others}) "
            f"THEN '{lang}' ELSE {expr} END"
        )
    return expr


def duck_quality_score(col: str) -> str:
    n_tok = f"CAST({duck_token_count_ws(col)} AS DOUBLE)"
    return (
        f"ROUND(least(1.0, ln(1.0 + {n_tok}) / 6.0) "
        f"* (1.0 - {duck_punct_ratio(col)}) "
        f"* (0.5 + least({duck_stopword_ratio(col)} * 2.0, 0.5)), 6)"
    )


def duck_fingerprint(col: str) -> str:
    return duck_h48(f"list_aggregate({duck_words(col)}, 'string_agg', ' ')")


def duck_shingles(col: str, n: int = 3) -> str:
    w = duck_words(col)
    joined = " || ' ' || ".join(f"{w}[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len({w}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({w}) - {n - 1} + 1), "
        f"i -> {joined})) ELSE [] END"
    )


def duck_shingle_hashes(col: str, n: int = 3) -> str:
    return (
        f"list_transform({duck_shingles(col, n)}, "
        f"s -> CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT))"
    )


def duck_minhash_signature(hashes_expr: str) -> str:
    parts = []
    for a, b in MINHASH_COEFS:
        parts.append(
            f"coalesce(list_min(list_transform({hashes_expr}, "
            f"h -> (h * {a} + {b}) % {MINHASH_MOD})), {MINHASH_MOD})"
        )
    return "[" + ", ".join(parts) + "]"


def duck_simhash(col: str) -> str:
    hs = (
        f"list_transform({duck_words(col)}, "
        f"t -> CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT))"
    )
    bit_terms = []
    for i in range(SIMHASH_BITS):
        vote = (
            f"list_sum(list_transform({hs}, h -> "
            f"CASE WHEN ((h >> {i}) % 2) = 1 THEN 1 ELSE -1 END))"
        )
        bit_terms.append(
            f"(CASE WHEN coalesce({vote}, 0) >= 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        )
    return " + ".join(bit_terms)


def duck_bigrams(col: str) -> str:
    w = duck_words(col)
    return (
        f"CASE WHEN len({w}) >= 2 THEN "
        f"list_transform(range(1, len({w})), "
        f"i -> {w}[i] || ' ' || {w}[i+1]) "
        f"ELSE [] END"
    )


def duck_modal_count(arr: str) -> str:
    # quadratic list expr is fine oracle-side (sf0.01 only)
    return (
        f"coalesce(list_max(list_transform(list_distinct({arr}), "
        f"x -> len(list_filter({arr}, y -> y = x)))), 0)"
    )


def duck_distinct_ratio(arr: str) -> str:
    return (
        f"ROUND(len(list_distinct({arr})) "
        f"/ CAST(greatest(len({arr}), 1) AS DOUBLE), 6)"
    )


def duck_top_freq_frac(arr: str) -> str:
    top = (
        f"list_max(list_transform(list_distinct({arr}), "
        f"x -> len(list_filter({arr}, y -> y = x))))"
    )
    return (
        f"ROUND(coalesce({top}, 0) "
        f"/ CAST(greatest(len({arr}), 1) AS DOUBLE), 6)"
    )
