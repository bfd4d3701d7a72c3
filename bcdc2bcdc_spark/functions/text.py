"""Text-analysis functions for large-scale training-data pipelines.

All pure Column expressions (whole-stage codegen, no Python in the hot
path): token counting, quality scoring, n-gram language ID heuristic and
document fingerprinting. Designed to run over the ``documents`` table
(doc_id, text, lang, source, n_chars) but column-name agnostic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: tiny per-language stopword marker sets for the heuristic language ID —
#: n-gram/stopword evidence, highest-signal first
_LANG_MARKERS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", (" the ", " and ", " of ")),
    ("de", (" der ", " und ", " die ")),
    ("fr", (" le ", " la ", " les ")),
    ("es", (" el ", " los ", " una ")),
)


def tokens(col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization with empty-token removal."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    """Whitespace token count (size of non-empty token array)."""
    return F.size(tokens(col, lowercase=False))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: splits on whitespace AND word/punct
    boundaries (a cheap BPE proxy: alnum runs + individual symbols)."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.split(F.regexp_replace(c, r"([^\sA-Za-z0-9]+)", r" $1 "), r"\s+")
    return F.size(F.filter(pieces, lambda t: t != ""))


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are neither alphanumeric nor space."""
    c = F.col(col) if isinstance(col, str) else col
    non_alnum = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    return non_alnum / F.greatest(F.length(c), F.lit(1))


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = ("the", "a", "and", "of", "to", "in", "is")) -> Column:
    """Fraction of tokens that are (English) stopwords."""
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def mean_token_len(col: Column | str) -> Column:
    toks = tokens(col, lowercase=False)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: long enough, not punctuation
    soup, sane mean token length. Deliberately simple + deterministic —
    the shape of a C4/Gopher-rule quality filter, column-expression only."""
    c = F.col(col) if isinstance(col, str) else col
    len_ok = F.when(F.length(c) >= 100, 1.0).otherwise(F.length(c) / 100.0)
    punct_ok = 1.0 - F.least(punct_ratio(c) * 4, F.lit(1.0))
    mtl = mean_token_len(c)
    mtl_ok = F.when((mtl >= 3) & (mtl <= 12), 1.0).otherwise(0.5)
    return F.round((len_ok + punct_ok + mtl_ok) / 3.0, 4)


def lang_id(col: Column | str, default: str = "und") -> Column:
    """Heuristic language ID from stopword markers (first match wins)."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    expr = None
    for lang, markers in _LANG_MARKERS:
        cond = None
        for m in markers:
            hit = padded.contains(m)
            cond = hit if cond is None else (cond | hit)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return expr.otherwise(default)


def normalized_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    strip non-alphanumerics."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", ""), r"\s+", " "))


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 of the normalized text — robust to
    case/punctuation/whitespace-only edits (rolling-hash class; md5 keeps
    it portable to the SQL oracle)."""
    return F.md5(normalized_text(col))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full stat set in one projection (single pass)."""
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        bpe_ish_token_count(text_col).alias("n_subtokens"),
        F.round(punct_ratio(text_col), 4).alias("punct_ratio"),
        F.round(stopword_ratio(text_col), 4).alias("stopword_ratio"),
        quality_score(text_col).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fingerprint"),
    )


def rolling_fingerprint(col: Column | str, base: int = 1000003, mod: int = 2147483647) -> Column:
    """Polynomial (Rabin-Karp-style) rolling hash over the token stream:
    ``h = fold(h·B + t_i  mod M)`` with each token valued by the first two
    hex nibbles of its md5 (0..255) — ORDER-SENSITIVE, unlike the set-based
    md5 ``fingerprint``, so it distinguishes permuted documents. Pure
    column expressions (sequential array fold), portable to the SQL oracle
    via list_reduce."""
    toks = tokens(col)
    hexes = "0123456789abcdef"
    tv = F.transform(
        toks,
        lambda t: (
            (F.instr(F.lit(hexes), F.substring(F.md5(t), 1, 1)) - 1) * 16
            + (F.instr(F.lit(hexes), F.substring(F.md5(t), 2, 1)) - 1)
        ).cast("long"),
    )
    return F.aggregate(
        tv, F.lit(0).cast("long"), lambda acc, v: (acc * base + v) % mod
    )
