"""Text-analysis kernels for training-data pipelines: tokenization,
quality scoring, language-ID heuristic, document fingerprinting.

All pure-Catalyst (higher-order array functions over the token array —
whole-stage codegen, zero Python), except :func:`nfc_text`, the one
necessarily-Python step (Unicode NFC; Arrow-batched). Every function
has a matching
DuckDB-SQL form in ``__spark_entry__.py`` oracles; arithmetic is kept
integer/fold-left so both engines produce identical values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hashes import djb2_expr

# small fixed stopword banks — deterministic heuristic, not linguistics
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "nicht", "ein"],
    "fr": ["le", "la", "et", "les", "des", "une"],
    "es": ["el", "los", "las", "una", "que", "y"],
}

TOKEN_SPLIT_RE = r"\s+"
# BPE-ish subword regex: runs of letters, digits, or single punctuation
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column | str) -> Column:
    """whitespace tokenization; NULL and empty string → empty array
    (size() of a null array is -1 in non-ANSI Spark — never expose it)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.trim(F.coalesce(c, F.lit(""))), TOKEN_SPLIT_RE),
        lambda t: t != "",
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_token_count(col: Column | str) -> Column:
    """count of BPE-ish subword units (letters/digits/punct runs)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_RE), F.lit(0)))


def stopword_hits(col: Column | str, lang: str = "en") -> Column:
    toks = tokens(col)
    bank = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(bank, F.lower(t))))


def quality_features(col: Column | str) -> dict[str, Column]:
    """deterministic quality signals: token count, distinct ratio,
    mean token length (integer-scaled), punct count, stopword ratio.
    Ratios are scaled ×1000 and floored → integers, so Spark and the
    DuckDB oracle agree bit-for-bit."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.coalesce(c, F.lit(""))
    toks = tokens(c)
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), F.lit(0)))
    sw = stopword_hits(c, "en")
    nz = F.when(n > 0, n).otherwise(F.lit(1))
    return {
        "n_tokens": n,
        "distinct_ratio_x1000": F.floor(nd * 1000 / nz).cast("long"),
        "mean_token_len_x1000": F.floor(total_len * 1000 / nz).cast("long"),
        "punct_count": punct,
        "stopword_ratio_x1000": F.floor(sw * 1000 / nz).cast("long"),
    }


def quality_score_x1000(col: Column | str) -> Column:
    """composite quality score ∈ [0, 1000]: rewards lexical diversity
    and reasonable stopword presence, penalizes punctuation soup.
    Deterministic integer arithmetic only."""
    f = quality_features(col)
    raw = (
        f["distinct_ratio_x1000"] * 6
        + F.least(f["stopword_ratio_x1000"] * 4, F.lit(1000))
        - F.least(f["punct_count"] * 10, F.lit(500))
    )
    return F.greatest(F.lit(0), F.least(F.lit(10000), raw)).cast("long")


def lang_guess(col: Column | str) -> Column:
    """n-gram-ish language-ID heuristic: the language whose stopword
    bank scores the most hits wins; ties and zero-hit rows → 'unknown'.
    Tie-break: fixed language order (en, de, fr, es)."""
    c = F.col(col) if isinstance(col, str) else col
    scores = {lang: stopword_hits(c, lang) for lang in STOPWORDS}
    best = F.greatest(*scores.values())
    expr = F.lit("unknown")
    for lang in reversed(list(STOPWORDS)):  # earlier langs win ties
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(
            expr
        )
    return expr


def fingerprint(col: Column | str) -> Column:
    """document fingerprint: DJB2 rolling hash over the sorted distinct
    token set — stable under token reordering (near-dup canonical key)."""
    c = F.col(col) if isinstance(col, str) else col
    canon = F.array_join(F.array_sort(F.array_distinct(tokens(c))), " ")
    return djb2_expr(canon)


def repetition_x1000(col: Column | str) -> Column:
    """intra-document 3-gram repetition ∈ [0, 1000]: the fraction of
    word 3-gram OCCURRENCES that are repeats of an earlier 3-gram in
    the same doc (templated/looping text scores high — the standard
    "repetitious document" quality signal). Integer-scaled and floored,
    pure Catalyst; rows with < 3 tokens score 0."""
    from ..operators.dedup import shingle_hashes

    c = F.col(col) if isinstance(col, str) else col
    total = F.greatest(F.size(tokens(c)) - 2, F.lit(1))
    distinct = F.size(shingle_hashes(c, 3))
    return F.when(F.size(tokens(c)) < 3, F.lit(0)).otherwise(
        F.floor((total - distinct) * 1000 / total)
    ).cast("long")


# simple, cross-dialect (java regex == RE2) PII patterns — detection
# counts for training-data hygiene. Deliberately narrow:
# high-precision patterns only (an email-shaped token, an intl-ish
# phone run); recall-heavy PII systems are model-based and out of scope.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+[0-9][0-9 ()-]{7,}[0-9]",
}


def pii_counts(col: Column | str) -> dict[str, Column]:
    """per-kind PII match counts (0 when absent)."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    return {
        kind: F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).cast("long")
        for kind, pat in PII_PATTERNS.items()
    }


# The Gopher rule-set stopword bank (Rae et al. 2021, appendix A1.1 —
# the published heuristic filter suite most large text pipelines start
# from). Deliberately distinct from the language-ID banks above.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# a line "starts with a bullet" if its first non-space char is one of
_BULLET_CHARS = ("-", "*", "•")
_ELLIPSIS_RE = r"\.\.\.|…"


def gopher_flags(col: Column | str) -> dict[str, Column]:
    """the Gopher quality-rule suite as per-document boolean flags
    (True = the document PASSES that rule), plus ``n_words`` and the
    conjunction ``gopher_pass``.

    Every rule is exact integer arithmetic (ratios compared cross-
    multiplied, never divided) so the DuckDB oracle reproduces each
    flag bit-for-bit; the thresholds are the published defaults:

    - ``word_count_ok``      50 ≤ words ≤ 100,000
    - ``mean_word_len_ok``   3 ≤ mean word length ≤ 10
                             (3·n ≤ total_chars ≤ 10·n)
    - ``symbol_ratio_ok``    '#' count and '…'/'...' count each ≤ 0.1·words
    - ``bullet_ok``          ≤ 90% of non-empty lines start with a bullet
    - ``ellipsis_ok``        ≤ 30% of non-empty lines end with an ellipsis
    - ``alpha_ratio_ok``     ≥ 80% of words contain an [A-Za-z] letter
    - ``stopword_ok``        ≥ 2 distinct bank stopwords present

    Pure Catalyst (token/line arrays + HOFs — whole-stage codegen, no
    Python). Empty/NULL text fails ``word_count_ok`` and therefore
    ``gopher_pass``; line rules treat a document with no non-empty
    lines as having one line so the ≤-comparisons stay total."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    toks = tokens(c)
    n = F.size(toks).cast("long")
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    n_alpha = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    ).cast("long")
    n_hash = F.size(F.regexp_extract_all(c, F.lit("#"), F.lit(0))).cast(
        "long"
    )
    n_ell = F.size(
        F.regexp_extract_all(c, F.lit(_ELLIPSIS_RE), F.lit(0))
    ).cast("long")
    lines = F.filter(F.split(c, "\n"), lambda ln: F.trim(ln) != "")
    n_lines = F.greatest(F.size(lines).cast("long"), F.lit(1).cast("long"))
    n_bullet = F.size(
        F.filter(
            lines,
            lambda ln: F.substring(F.ltrim(ln), 1, 1).isin(*_BULLET_CHARS),
        )
    ).cast("long")
    n_ell_end = F.size(
        F.filter(
            lines,
            lambda ln: F.endswith(F.rtrim(ln), F.lit("..."))
            | F.endswith(F.rtrim(ln), F.lit("…")),
        )
    ).cast("long")
    lowered = F.transform(toks, F.lower)
    bank = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop_types = F.size(
        F.filter(bank, lambda w: F.array_contains(lowered, w))
    ).cast("long")
    flags = {
        "n_words": n,
        "word_count_ok": (n >= 50) & (n <= 100_000),
        "mean_word_len_ok": (total_len >= 3 * n)
        & (total_len <= 10 * n)
        & (n > 0),
        "symbol_ratio_ok": (n_hash * 10 <= n) & (n_ell * 10 <= n),
        "bullet_ok": n_bullet * 10 <= n_lines * 9,
        "ellipsis_ok": n_ell_end * 10 <= n_lines * 3,
        "alpha_ratio_ok": n_alpha * 10 >= n * 8,
        "stopword_ok": n_stop_types >= 2,
    }
    passed = None
    for name, f in flags.items():
        if name == "n_words":
            continue
        passed = f if passed is None else (passed & f)
    flags["gopher_pass"] = passed
    return flags


def gopher_pass(col: Column | str) -> Column:
    """True iff every Gopher rule passes — the filter-predicate form."""
    return gopher_flags(col)["gopher_pass"]


# Gopher repetition thresholds (Rae et al. 2021 appendix A1.2): a doc
# PASSES a rule when its fraction is ≤ the threshold (percent).
GOPHER_TOP_NGRAM_PCT = {2: 20, 3: 18, 4: 16}
GOPHER_DUP_NGRAM_PCT = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}


def _dup_run_stats_sql(items: str) -> str:
    """SQL text of ``struct(docc, dxc, dac, top)`` over an
    ``array<string>`` expression — duplicate-occurrence count,
    excess-occurrence chars, all-occurrence chars of duplicated values,
    and the top value's total chars (count × length). ONE in-row pass
    over the SORTED array (adjacent equality finds duplicates —
    O(k log k) per row, no shuffle, no per-element rescans of a
    computed array: the sort is a top-level child evaluated once, the
    fold sees only lambda variables). Built as one string rather than
    Column calls (r7: the Column form of the 11-fold flag suite cost
    ~1.0 s of py4j driver time per construction)."""
    return (
        f"aggregate(array_sort({items}), "
        "named_struct('prev', CAST(NULL AS STRING), "
        "'run', CAST(1 AS BIGINT), 'docc', CAST(0 AS BIGINT), "
        "'dxc', CAST(0 AS BIGINT), 'dac', CAST(0 AS BIGINT), "
        "'top', CAST(0 AS BIGINT)), "
        "(acc, x) -> IF(x = acc.prev, "
        "named_struct('prev', acc.prev, 'run', acc.run + 1, "
        "'docc', acc.docc + 1, 'dxc', acc.dxc + length(x), "
        "'dac', acc.dac + IF(acc.run = 1, 2 * length(x), length(x)), "
        "'top', greatest(acc.top, (acc.run + 1) * length(x))), "
        "named_struct('prev', x, 'run', CAST(1 AS BIGINT), "
        "'docc', acc.docc, 'dxc', acc.dxc, 'dac', acc.dac, "
        "'top', greatest(acc.top, CAST(length(x) AS BIGINT)))), "
        "acc -> named_struct('docc', acc.docc, 'dxc', acc.dxc, "
        "'dac', acc.dac, 'top', acc.top))"
    )


def _shingles_sql(toks: str, n: int) -> str:
    """SQL text of the word n-gram shingles (array<string>) of a
    token-array expression: one index-shifted ``slice`` per position
    folded by ``zip_with`` (linear cost, see
    ``operators.dedup._sliding_zip``); rows with < n tokens get their
    whole token string as the single shingle."""
    k = f"greatest(size({toks}) - {n - 1}, 0)"
    cur = f"transform(slice({toks}, 1, {k}), t -> t)"
    for j in range(2, n + 1):
        cur = (
            f"zip_with({cur}, slice({toks}, {j}, {k}), "
            "(acc, t) -> concat(acc, ' ', t))"
        )
    return f"IF(size({toks}) >= {n}, {cur}, array(array_join({toks}, ' ')))"


def gopher_repetition_flags(col: str) -> dict[str, Column]:
    """The Gopher repetition-rule suite (Rae et al. 2021 A1.2) — the
    intra-document complement of :func:`gopher_flags` (A1.1) — as
    per-document boolean flags (True = PASSES), plus the conjunction
    ``repetition_pass``:

    - ``dup_line_ok`` / ``dup_para_ok``: duplicate line / paragraph
      OCCURRENCES (beyond each value's first) ≤ 30% of lines / paras
    - ``dup_line_char_ok`` / ``dup_para_char_ok``: characters in those
      excess occurrences ≤ 20% of the document's characters
    - ``top_{2,3,4}gram_ok``: characters of the most frequent word
      n-gram (count × length) ≤ {20, 18, 16}% of document characters
    - ``dup_{5..10}gram_ok``: characters of ALL occurrences of
      duplicated word n-grams ≤ {15, 14, 13, 12, 11, 10}% of document
      characters

    Fractions are compared cross-multiplied (exact integers, no
    division). Definitional variants of the char-fraction numerators
    differ across public reimplementations (overlap-coverage vs
    occurrence-mass); this uses the occurrence-mass form — excess
    occurrences for lines/paragraphs, all occurrences of duplicated
    values for n-grams — stated here so the oracle and any reader
    agree on the exact rule. Documents with < n tokens PASS the
    n-gram rules (no n-gram exists). Pure Catalyst: per-row sorts and
    folds only — quality gating at 100 TB stays map-side CPU with no
    exchange. ``col`` is a column name; the suite is generated as SQL
    text, one ``F.expr`` per flag."""
    c = f"coalesce(`{col}`, '')"
    toks = f"filter(split(trim({c}), '\\\\s+'), t -> t != '')"
    ntok = f"size({toks})"
    dc = f"CAST(greatest(length({c}), 1) AS BIGINT)"
    lines = f"filter(split({c}, '\\n'), x -> trim(x) != '')"
    paras = f"filter(split({c}, '\\n\\n'), x -> trim(x) != '')"
    ls = _dup_run_stats_sql(lines)
    ps = _dup_run_stats_sql(paras)
    n_lines = f"greatest(CAST(size({lines}) AS BIGINT), CAST(1 AS BIGINT))"
    n_paras = f"greatest(CAST(size({paras}) AS BIGINT), CAST(1 AS BIGINT))"
    sqls: dict[str, str] = {
        "dup_line_ok": f"({ls}).docc * 100 <= {n_lines} * 30",
        "dup_line_char_ok": f"({ls}).dxc * 100 <= {dc} * 20",
        "dup_para_ok": f"({ps}).docc * 100 <= {n_paras} * 30",
        "dup_para_char_ok": f"({ps}).dxc * 100 <= {dc} * 20",
    }
    for n, pct in GOPHER_TOP_NGRAM_PCT.items():
        st = _dup_run_stats_sql(_shingles_sql(toks, n))
        sqls[f"top_{n}gram_ok"] = (
            f"({ntok} < {n}) OR (({st}).top * 100 <= {dc} * {pct})"
        )
    for n, pct in GOPHER_DUP_NGRAM_PCT.items():
        st = _dup_run_stats_sql(_shingles_sql(toks, n))
        sqls[f"dup_{n}gram_ok"] = (
            f"({ntok} < {n}) OR (({st}).dac * 100 <= {dc} * {pct})"
        )
    flags = {k: F.expr(s) for k, s in sqls.items()}
    flags["repetition_pass"] = F.expr(
        " AND ".join(f"({s})" for s in sqls.values())
    )
    return flags


# whitespace / control classes spelled out as explicit char classes:
# Java regex \s and RE2 \s disagree on vertical tab (Java includes
# \x0B, RE2 does not), so the oracle would silently diverge on it.
# Explicit classes mean both engines compile the identical automaton.
_WS_RUN_RE = r"[ \t\n\r\x0B\x0C]+"
_CTRL_RE = r"[\x00-\x08\x0E-\x1F\x7F]"


def normalize_text(col: Column | str) -> Column:
    """the standard pre-hash text cleanup every dedup/quality stage
    runs first: collapse whitespace runs (tab/newline/CR/VT/FF → one
    space, ends trimmed), strip remaining NON-whitespace control
    characters, lowercase. Pure Catalyst, NULL → ''. Whitespace is
    collapsed BEFORE control-stripping on purpose: \\n and \\t are both
    whitespace and control, and must become spaces, not vanish
    ("a\\nb" → "a b", never "ab"). Unicode canonicalization is the
    separate :func:`nfc_text` (the one Python step; compose as
    ``nfc_text(normalize_text(c))`` so lowering happens before
    combining marks are composed)."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    c = F.trim(F.regexp_replace(c, _WS_RUN_RE, " "))
    c = F.regexp_replace(c, _CTRL_RE, "")
    return F.lower(c)


def nfc_text(col: Column | str) -> Column:
    """Unicode NFC canonicalization (combining sequences → precomposed
    forms — 'a'+U+0301 and 'á' must hash identically before any dedup).
    The ONE Python step in the text suite: Spark has no built-in
    normalizer, so this is an Arrow-batched pandas UDF over
    ``unicodedata.normalize``; the DuckDB oracle's ``nfc_normalize``
    implements the same UAX #15 algorithm (parity pytest-pinned).
    NULL passes through as NULL."""
    import unicodedata

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    # no type annotations on purpose: `from __future__ import
    # annotations` stringifies them, and pandas_udf cannot resolve
    # 'pd.Series' strings against this nested scope — the returnType
    # argument alone carries the signature
    @pandas_udf(T.StringType())
    def _nfc(s):
        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    c = F.col(col) if isinstance(col, str) else col
    return _nfc(c)
