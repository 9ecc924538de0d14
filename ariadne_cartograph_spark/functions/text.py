"""Text-analysis column functions (SURVEY.md §2.7 U5 + north-star
"text analysis" operators: token counting, quality scoring, language
ID, fingerprinting).

Everything here returns Column expression trees built from
`pyspark.sql.functions` — JVM-side, whole-stage-codegen'd, no Python
UDFs in the hot path. At 100 TB these run at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small English-ish stopword list for quality scoring. Deliberately
# tiny & fixed: the score is a filter signal, not linguistics.
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def tokens(text: Column | str, pattern: str = r"\s+") -> Column:
    """Whitespace tokenization → array<string>."""
    return F.split(F.col(text) if isinstance(text, str) else text, pattern)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("long")


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count: splits on whitespace AND between
    letter/digit/punctuation class transitions — a cheap stand-in for a
    BPE tokenizer's fragment count (useful for token budgeting)."""
    t = F.col(text) if isinstance(text, str) else text
    # Insert breaks at class transitions, then count pieces.
    marked = F.regexp_replace(t, r"([a-zA-Z])([0-9])|([0-9])([a-zA-Z])", r"$1$3 $2$4")
    marked = F.regexp_replace(marked, r"([a-zA-Z0-9])([^\sa-zA-Z0-9])", r"$1 $2")
    marked = F.regexp_replace(marked, r"([^\sa-zA-Z0-9])([a-zA-Z0-9])", r"$1 $2")
    return F.size(F.split(F.trim(marked), r"\s+")).cast("long")


def avg_word_length(text: Column | str) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda w: F.length(w).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return total / F.size(toks)


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS)])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(sw, w)))
    return n_stop.cast("double") / F.size(toks)


def _bind(value: Column, body) -> Column:
    """Evaluate ``value`` ONCE per row and pass it to ``body`` as a
    bound lambda variable: transform(array(v), x -> body(x))[1].

    Column expressions have no let-binding, and referencing a subtree
    from inside a higher-order-function lambda re-inlines (re-evaluates)
    it per element — measured 3-20× slowdowns for shingle builders. The
    single-element-array transform is the standard workaround."""
    return F.element_at(F.transform(F.array(value), body), 1)


def word_shingles(text: Column | str, n: int = 3, sep: str = " ") -> Column:
    """Distinct word n-gram shingles → array<string>. Array-native
    (transform over index sequence), no explode/shuffle; the token
    array is let-bound so tokenization runs once per row, not per
    gram."""

    def grams(toks: Column) -> Column:
        k = F.size(toks) - (n - 1)
        idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0)))
        return F.when(
            k >= 1,
            F.transform(idx, lambda i: F.concat_ws(sep, F.slice(toks, i + 1, n))),
        ).otherwise(F.array().cast("array<string>"))

    return F.array_distinct(_bind(tokens(text), grams))


def hashed_word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as xxhash64 longs — the fast twin
    of word_shingles for set-similarity ops. Tokens are hashed once and
    gram hashes combine n consecutive token hashes, so no gram STRINGS
    are ever built (measured ~20× cheaper than concat_ws-per-gram).
    Tokens contain no whitespace, so distinct token n-tuples ↔ distinct
    gram strings bijectively; set sizes match word_shingles modulo
    negligible 64-bit collisions."""
    def grams(th: Column) -> Column:
        k = F.size(th) - (n - 1)
        idx = F.sequence(F.lit(1), F.greatest(k, F.lit(1)))
        return F.when(
            k >= 1,
            F.transform(
                idx, lambda i: F.xxhash64(*[F.element_at(th, i + j) for j in range(n)])
            ),
        ).otherwise(F.array().cast("array<bigint>"))

    hashed = _bind(tokens(text), lambda toks: F.transform(toks, lambda t: F.xxhash64(t)))
    return F.array_distinct(_bind(hashed, grams))


def char_ngrams(text: Column | str, n: int = 3) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    k = F.length(t) - (n - 1)
    idx = F.sequence(F.lit(1), F.greatest(k, F.lit(1)))
    grams = F.when(k >= 1, F.transform(idx, lambda i: F.substring(t, i, F.lit(n))))\
        .otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def fingerprint_md5(text: Column | str) -> Column:
    """Content fingerprint for exact dedup — stable across engines."""
    return F.md5(F.col(text) if isinstance(text, str) else text)


def _fold_min_shingles(text: Column | str, window: int, hash_fn, acc_type: str) -> Column:
    """min of ``hash_fn`` over all word ``window``-shingles as ONE
    aggregate fold over start indices — no shingle array, no distinct
    pass, no hash array is ever materialized (min over all shingles ==
    min over distinct shingles; ``least`` skips the NULL seed). Docs
    below ``window`` tokens fall back to ``hash_fn(text)``."""
    t = F.col(text) if isinstance(text, str) else text

    def mins(toks: Column) -> Column:
        k = F.size(toks) - (window - 1)
        return F.when(
            k >= 1,
            F.aggregate(
                F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
                F.lit(None).cast(acc_type),
                lambda acc, i: F.least(
                    acc, hash_fn(F.concat_ws(" ", F.slice(toks, i, window)))
                ),
            ),
        ).otherwise(hash_fn(t))

    return _bind(tokens(t), mins)


def rolling_fingerprint(text: Column | str, window: int = 8) -> Column:
    """Winnowing-style document fingerprint: min of xxhash64 over word
    ``window``-shingles — a single stable 64-bit summary that is robust
    to small edits (public winnowing scheme, Schleimer et al. 2003).
    Computed as a fold (:func:`_fold_min_shingles`)."""
    return _fold_min_shingles(text, window, F.xxhash64, "bigint")


def rolling_fingerprint_md5(text: Column | str, window: int = 8) -> Column:
    """Cross-engine-checkable twin of :func:`rolling_fingerprint`: min
    of md5-hex over the same word ``window``-shingles (fixed-width
    lowercase hex, so the string min IS the numeric min). xxhash64 is
    the scale scheme (8-byte signatures); this twin exists so the
    winnowing pipeline itself can be value-hash checked against a SQL
    oracle — same pattern as simhash_md5_near_dup_pairs."""
    return _fold_min_shingles(text, window, F.md5, "string")


# ---------------------------------------------------------------------------
# Language ID: char-frequency heuristic. Scores each candidate language
# by overlap between the doc's frequent character bigrams and a small
# per-language profile. Pure column math (no UDF).
# ---------------------------------------------------------------------------

LANG_PROFILES: dict[str, list[str]] = {
    # Tiny, public-knowledge bigram profiles — enough to separate
    # broad languages on real text; on synthetic word-soup it simply
    # produces a deterministic score.
    "en": ["th", "he", "in", "er", "an", "re", "on", "at", "en", "nd"],
    "de": ["en", "er", "ch", "de", "ei", "nd", "te", "in", "ie", "ge"],
    "fr": ["es", "le", "de", "en", "re", "nt", "on", "er", "te", "el"],
    "es": ["de", "en", "el", "la", "os", "es", "ar", "ue", "ra", "as"],
}


def lang_scores(text: Column | str) -> Column:
    """map<string,double> of per-language overlap scores.

    score(lang) = |distinct bigrams(doc) ∩ profile(lang)| / |profile|.
    A profile bigram is in the doc's distinct-bigram set iff it occurs
    as a substring, so the intersect size is computed WITHOUT building
    the doc's bigram array at all: one ``contains`` per profile bigram
    (JVM String.indexOf inside whole-stage codegen) summed per
    language. The earlier form materialized the O(len) bigram array +
    array_distinct + one array_intersect per language — 83.8 s at sf1
    for this entry; ~40 substring scans per row are linear, cache-local
    passes over the text and value-identical to the intersect (each
    profile bigram counts once whether it occurs once or many times).
    The lowered text is let-bound so ``lower`` runs once per row."""
    lo = F.lower(F.col(text) if isinstance(text, str) else text)

    def body(t: Column) -> Column:
        entries = []
        for lang, profile in LANG_PROFILES.items():
            hits: Column | None = None
            for p in profile:
                h = F.when(F.contains(t, F.lit(p)), 1).otherwise(0)
                hits = h if hits is None else hits + h
            entries.extend([F.lit(lang), hits.cast("double") / len(profile)])
        return F.create_map(*entries)

    # coalesce('') mirrors the bigram form's NULL behavior: a NULL text
    # had an EMPTY gram array (char_ngrams' when() falls to otherwise),
    # i.e. all-zero scores, not NULL scores.
    return _bind(F.coalesce(lo, F.lit("")), body)


def lang_id(text: Column | str) -> Column:
    """Best-scoring language code (deterministic tie-break by code)."""
    scores = lang_scores(text)
    arr = F.map_entries(scores)  # array<struct<key,value>>
    best = F.array_max(
        F.transform(arr, lambda e: F.struct(e["value"].alias("v"), e["key"].alias("k")))
    )
    # array_max on struct compares fieldwise: value desc wins... max by
    # (v, k); ties on v resolved by max k — flip key ordering for
    # determinism is fine since profiles differ.
    return best["k"]


def normalize_text(text: Column | str) -> Column:
    """Canonical normalization before exact dedup (the C4-style
    lowercase / strip-punctuation / collapse-whitespace pass): catches
    duplicates that differ only in case, punctuation, or spacing. Kept
    to operations both engines express identically (lower, two
    regexp_replace passes, trim)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(t), "[^a-z0-9 ]", ""), " +", " "
        )
    )
