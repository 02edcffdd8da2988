"""Text-analysis column expressions (north-star extension).

Language-ID, quality scoring, token counting, and document
fingerprinting over the ``documents`` table — all as native Column
expressions so the hot path stays in whole-stage codegen.  Every
function is deterministic and SQL-expressible (DuckDB oracle twins live
in ``__spark_entry__.oracle_sql``).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# Tokenization / counting
# ---------------------------------------------------------------------------


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of trimmed, lowercased text (empty array for
    empty/NULL-ish input)."""
    t = F.lower(F.trim(_c(text)))
    return F.when(F.length(t) > 0, F.split(t, r"\s+")).otherwise(
        F.array().cast("array<string>")
    )


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish token estimate: count of word/number/punctuation chunks
    via regex — a cheap, deterministic proxy for tokenizer cost used to
    budget training data (real BPE runs off-cluster)."""
    # count word/number chunks + standalone punctuation marks
    return F.regexp_count(_c(text), F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]")).cast("int")


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

#: Tiny multilingual stopword inventory for ratio features.  Chosen for
#: determinism, not linguistic completeness.
STOPWORDS: tuple[str, ...] = (
    "the", "a", "and", "of", "to", "in", "is", "it",
    "der", "die", "das", "und", "ist",
    "le", "la", "les", "et", "est",
    "el", "los", "las", "es",
)


def punct_ratio(text: Column | str) -> Column:
    """Fraction of non-whitespace characters that are punctuation."""
    t = _c(text)
    nonspace = F.length(F.regexp_replace(t, r"\s", ""))
    punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    return F.when(nonspace > 0, punct.cast("double") / nonspace).otherwise(F.lit(0.0))


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of whitespace tokens that are known stopwords.

    Counted with ONE codegen'd ``regexp_count`` over the whole text —
    a token matches iff a stopword appears delimited by start/end or
    whitespace (lookahead keeps the trailing delimiter unconsumed so
    adjacent stopwords both count).  The array formulation
    (``F.filter`` lambda per token) evaluates interpreted per element
    and was the hottest expression in quality scoring."""
    t = F.lower(F.trim(_c(text)))
    pattern = r"(^|\s)(" + "|".join(sorted(STOPWORDS)) + r")(?=\s|$)"
    hits = F.regexp_count(t, F.lit(pattern))
    n = F.size(tokens(text))
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def mean_token_length(text: Column | str) -> Column:
    """Mean token length — proxy for gibberish / boilerplate detection.

    Identity used: tokens are the text minus its whitespace, so
    ``sum(length(token)) == length(regexp_replace(t, '\\s', ''))`` —
    one codegen'd regex instead of an interpreted array-fold
    (``F.aggregate`` lambdas evaluate per element outside codegen;
    this was the hottest expression in the token-stats sweep)."""
    t = F.lower(F.trim(_c(text)))
    n = F.size(tokens(text))
    total = F.length(F.regexp_replace(t, r"\s", ""))
    return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: rewards prose-like token
    length, some stopwords, low punctuation noise.  A filtering
    pipeline thresholds this; the components are exposed separately so
    thresholds stay auditable."""
    mtl = mean_token_length(text)
    sw = stopword_ratio(text)
    pr = punct_ratio(text)
    length_ok = F.when((mtl >= 3.0) & (mtl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    sw_ok = F.when(sw >= 0.05, F.lit(1.0)).otherwise(F.lit(0.7))
    pr_ok = F.when(pr <= 0.2, F.lit(1.0)).otherwise(F.lit(0.4))
    return F.round(length_ok * sw_ok * pr_ok, 4)


# ---------------------------------------------------------------------------
# Language ID (n-gram / stopword heuristic)
# ---------------------------------------------------------------------------

#: Per-language marker words with weights; the language with the
#: highest hit count wins (ties → lexicographic first).  A real
#: pipeline swaps in fastText off-cluster; the *dataflow* (score map →
#: argmax) is what this models.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "with", "for"),
    "de": ("der", "die", "das", "und", "ist", "mit"),
    "fr": ("le", "la", "les", "et", "est", "avec"),
    "es": ("el", "los", "las", "es", "con", "para"),
}


def lang_marker_hits(text: Column | str, lang: str) -> Column:
    """Count of tokens that are markers for *lang*."""
    toks = tokens(text)
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda w: F.array_contains(markers, w)))


def lang_id(text: Column | str) -> Column:
    """Heuristic language guess: argmax of marker hits, 'und'
    (undetermined) when nothing matches."""
    scores = [(lang, lang_marker_hits(text, lang)) for lang in sorted(LANG_MARKERS)]
    best_score = F.greatest(*[s for _, s in scores])
    result = F.lit("und")
    # reversed so earlier (lexicographically first) language wins ties
    for lang, score in reversed(scores):
        result = F.when((score == best_score) & (best_score > 0), F.lit(lang)).otherwise(
            result
        )
    return result


# ---------------------------------------------------------------------------
# Fingerprinting
# ---------------------------------------------------------------------------


def content_fingerprint(text: Column | str) -> Column:
    """Exact-content fingerprint: xxhash64 of the normalized text
    (whitespace-collapsed, lowercased) — survives formatting noise."""
    norm = F.regexp_replace(F.lower(F.trim(_c(text))), r"\s+", " ")
    return F.xxhash64(norm)


#: Polynomial rolling-hash base for the vectorized winnowing path
#: (FNV-1a 64-bit prime); arithmetic wraps mod 2^64 in numpy uint64,
#: which is exactly the modulus we want.
_WINNOW_BASE = 1099511628211


def winnow_fingerprints_py(data: bytes, k: int = 8, window: int = 4) -> list[int]:
    """Pure-numpy winnowing fingerprints of a byte string: polynomial
    k-gram hashes, min of each sliding *window*, sorted distinct,
    returned as signed int64.  Shared by the Arrow UDF below and the
    unit tests' independent reference implementation.

    Edge semantics match the md5 expression twin
    (``winnowing_fingerprints_verified``): shorter-than-k input yields
    one gram (the whole string), fewer-than-*window* grams yield one
    window (min over all grams); empty input hashes the empty gram.
    """
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    buf = np.frombuffer(data, dtype=np.uint8)
    base = np.uint64(_WINNOW_BASE)
    with np.errstate(over="ignore"):  # uint64 wraparound is the modulus
        if len(buf) >= k:
            w = sliding_window_view(buf, k).astype(np.uint64)
            pows = np.empty(k, dtype=np.uint64)
            pows[-1] = 1
            for i in range(k - 2, -1, -1):
                pows[i] = pows[i + 1] * base  # wraps mod 2^64
            grams = w @ pows  # uint64 matmul wraps mod 2^64
        else:
            h = np.uint64(0)
            for b in buf.astype(np.uint64):
                h = h * base + b
            grams = np.array([h], dtype=np.uint64)
        if len(grams) >= window:
            mins = sliding_window_view(grams, window).min(axis=1)
        else:
            mins = grams.min(keepdims=True)
    return np.sort(np.unique(mins).view(np.int64)).tolist()


def _winnow_udf(k: int, window: int):
    """Arrow-batched scalar Pandas UDF computing winnowing fingerprints
    per text value (cached per (k, window) so repeated plans reuse one
    UDF object)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def fps(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            norm = t.strip(" ").lower().encode("utf-8")
            out.append(winnow_fingerprints_py(norm, k, window))
        return pd.Series(out)

    return fps


_WINNOW_UDF_CACHE: dict[tuple[int, int], object] = {}


def winnowing_fingerprints(text: Column | str, k: int = 8, window: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    hash all k-grams, keep the minimum hash of each sliding window of
    *window* consecutive k-gram hashes, dedup.  Robust partial-overlap
    detection at a fraction of full-shingle storage.

    Production path: an Arrow-batched Pandas UDF whose inner loop is
    numpy (strided k-gram hashing, strided window minima) — per-doc
    independent, no shuffle, ~50x the throughput of the first-cut
    higher-order-lambda expression, which ran on Spark's INTERPRETED
    expression path at ~45 us/gram (68 s for sf0.1's 1.5M grams).
    The algorithm itself (gram slicing, window minima, dedup) is proven
    against a DuckDB oracle by ``winnowing_fingerprints_verified`` with
    an md5 gram hash both engines can compute; this byte-gram
    rolling-hash path is pinned to the reference implementation above
    by tests (tests/test_round5.py)."""
    key = (k, window)
    if key not in _WINNOW_UDF_CACHE:
        _WINNOW_UDF_CACHE[key] = _winnow_udf(k, window)
    return _WINNOW_UDF_CACHE[key](_c(text))


# ---------------------------------------------------------------------------
# String similarity (entity resolution)
# ---------------------------------------------------------------------------


def jaro_winkler_py(a: str, b: str) -> float:
    """Textbook Jaro-Winkler similarity (Winkler 1990): Jaro with the
    standard match window floor(max/2)-1 and half-transposition count,
    plus the common-prefix boost (p=0.1, prefix capped at 4) applied
    only when jaro > 0.7.  Empty-vs-empty is 0.0.  Fuzz-verified
    bit-identical to DuckDB's ``jaro_winkler_similarity`` over 9,000
    random and real-fixture string pairs (tests/test_round5.py), which
    is what makes the UDF oracle-checkable."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    if a == b:
        return 1.0
    win = max(la, lb) // 2 - 1
    if win < 0:
        win = 0
    ma = [False] * la
    mb = [False] * lb
    m = 0
    for i in range(la):
        lo, hi = max(0, i - win), min(lb, i + win + 1)
        for j in range(lo, hi):
            if not mb[j] and a[i] == b[j]:
                ma[i] = mb[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(la):
        if ma[i]:
            while not mb[k]:
                k += 1
            if a[i] != b[k]:
                t += 1
            k += 1
    t //= 2
    j = (m / la + m / lb + (m - t) / m) / 3
    if j <= 0.7:
        return j
    l = 0
    for x, y in zip(a[:4], b[:4]):
        if x == y:
            l += 1
        else:
            break
    return j + l * 0.1 * (1 - j)


def jaro_winkler(a: Column | str, b: Column | str) -> Column:
    """Arrow-batched Jaro-Winkler column (NULL if either side NULL).
    Python-per-pair is the right shape here: the function is
    branch-heavy on short strings (no numpy win), and callers are
    expected to BLOCK first so the pair volume is bounded — see
    jaro_winkler_part_pairs for the blocked self-join pattern."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def jw(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if x is None or y is None else jaro_winkler_py(x, y)
                for x, y in zip(xs, ys)
            ],
            dtype="float64",
        )

    return jw(_c(a), _c(b))
