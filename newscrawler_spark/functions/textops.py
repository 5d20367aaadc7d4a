"""Text-analysis functions for the training-data pipeline surface:
tokenization, quality scoring, language-ID heuristic, document
fingerprinting (rolling-hash / winnowing-lite).

Everything here is pure JVM-side Column expressions (no Python UDFs in
the hot path); every hash is the cross-engine ``md5_64`` so the driver's
DuckDB oracle can recompute identical values (see xhash.py).

These generalize the reference's text handling (trim / zero-width strip /
content validation — e.g. /root/reference/news_crawler/naver_news/
naver_news.py:93, core/base.py:94-97) to corpus-scale operators a
100 TB training-data pipeline needs.

Scale notes: all ops are embarrassingly parallel per-row projections —
no shuffle at all; they pipeline into whatever scan feeds them and stay
inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..xhash import md5_64

# Tiny embedded stopword lists for the lang-ID heuristic (public-knowledge
# high-frequency function words; heuristic, not a trained model).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "los", "las", "que", "y", "un", "una"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "des"],
    "zh": ["的", "是", "在", "了", "和", "有", "不", "我"],
}

EN_STOPWORDS = LANG_MARKERS["en"] + ["it", "for", "on", "with", "as", "at"]

# BPE-ish pre-tokenization: letter runs | digit runs | single non-space
# symbol.  Same regex dialect subset works in Java (Spark) and RE2-ish
# (DuckDB) engines.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def words(col: Column | str) -> Column:
    """Whitespace tokens of a trimmed text column (array<string>): the
    one whitespace tokenizer, split exactly like the DuckDB oracles'
    string_split_regex(trim(text), '\\s+')."""
    return F.split(F.trim(_c(col)), r"\s+")


def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(words(col))


def token_count_bpe(col: Column | str) -> Column:
    """BPE-ish token count: letter/digit runs + individual symbols."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(TOKEN_REGEX), F.lit(0)))


def punct_ratio(col: Column | str) -> Column:
    """Fraction of non-space chars that are not alphanumeric."""
    c = _c(col)
    nonspace = F.length(F.regexp_replace(c, r"\s", ""))
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    return F.when(nonspace > 0, punct / nonspace).otherwise(F.lit(0.0))


def _isin_pred(values: list[str]):
    """Single-arg lambda factory (a 2-arg lambda would be treated as the
    (element, index) form by pyspark's higher-order functions)."""

    def pred(w: Column) -> Column:
        return F.lower(w).isin(*values)

    return pred


def stopword_ratio(col: Column | str) -> Column:
    """Fraction of whitespace tokens that are English stopwords."""
    ws = words(col)
    stops = F.filter(ws, _isin_pred(EN_STOPWORDS))
    return F.when(F.size(ws) > 0, F.size(stops) / F.size(ws)).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality score: length band + stopword presence +
    low punctuation (heuristic in the Gopher-rules style, public
    knowledge).  Deterministic, SQL-expressible."""
    c = _c(col)
    n_tok = token_count_ws(c)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(c) >= 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(c) <= 0.3, F.lit(0.3)).otherwise(F.lit(0.0))
    return (len_ok + stop_ok + punct_ok).cast("double")


def langid(col: Column | str) -> Column:
    """Marker-word-vote language ID over LANG_MARKERS; 'und' if no votes.

    Votes = count of marker-word occurrences per language; highest vote
    wins, ties broken by language code order (deterministic).
    """
    ws = words(col)
    lowered = F.transform(ws, F.lower)
    scores = [
        (lang, F.size(F.filter(lowered, _isin_pred(markers))))
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    best_score = F.greatest(*[s for _, s in scores])
    expr: Column | None = None
    for lang, s in scores:  # first max wins (codes sorted) → deterministic
        cond = (s == best_score) & (best_score > 0)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def shingles(col: Column | str, k: int = 3) -> Column:
    """Word k-gram shingle strings (array<string>); empty array if < k words.

    Built as a fold of ``zip_with`` over k shifted slices — O(k)
    references to the words array.  (An index-transform with
    ``element_at`` caused the split() to be re-evaluated per element
    access after CollapseProject inlining: ~150 splits/row, 25x slower.)
    """
    ws = words(col)
    n = F.size(ws)
    cnt = n - (k - 1)
    acc = F.slice(ws, 1, cnt)
    for j in range(1, k):
        acc = F.zip_with(
            acc, F.slice(ws, j + 1, cnt), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(n >= k, acc).otherwise(F.array().cast("array<string>"))


def rolling_fingerprint(col: Column | str, k: int = 5) -> Column:
    """Winnowing-lite rolling-hash fingerprint: min over word-k-gram
    hashes (md5_64).  Equal fingerprints → strong near-dup signal; used
    as a cheap pre-cluster key before pairwise verification.
    Falls back to the whole-text hash for docs shorter than k words."""
    sh = shingles(col, k)
    return F.when(
        F.size(sh) > 0,
        F.array_min(F.transform(sh, lambda s: md5_64(s))),
    ).otherwise(md5_64(F.trim(_c(col))))


SIMHASH_BITS = 60  # md5_64 yields 60 usable bits — use them all


