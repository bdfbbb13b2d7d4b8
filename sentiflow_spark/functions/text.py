"""Text-analysis primitives for large-scale corpus processing
(SURVEY §7.2 M5): tokenization, token statistics, quality scoring,
language identification, document fingerprinting.

All pure Column expressions — JVM-side, codegen'd, no Python in the hot
path — with DuckDB-fragment twins for the oracle. At 100 TB these run
as a single scan projection: no shuffle, no UDF serialization.

Tokenizers are defined once, here. Each is a private ``_Tokenizer``
(regex, lowercase-or-not) pair that renders both its Spark Column
(``word_tokens``) and its DuckDB twin (``duck_word_tokens``), so a
query and its oracle cannot drift apart on how text splits. Query
modules call these helpers and never restate a tokenizer regex
(tests/test_plans.py lints for it).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F


class _Tokenizer(NamedTuple):
    regex: str
    lower: bool

    def col(self, text: Column) -> Column:
        return F.regexp_extract_all(
            F.lower(text) if self.lower else text, F.lit(self.regex), 0
        )

    def sql(self, t: str) -> str:
        # The twin follows Spark where the engines differ (U+0001 to
        # U+2FFFF checked): Spark's lower() maps İ to i + U+0307 where
        # DuckDB's drops the dot, and Java's \s has \v where RE2's does not.
        src = f"lower(replace({t}, '\u0130', 'i\u0307'))" if self.lower else t
        regex = self.regex.replace("\\s", "\\s\\v").replace("\\S", "[^\\s\\v]")
        return f"regexp_extract_all({src}, '{regex}')"


# Word tokens are ASCII letter runs, lowercased (the shingle/term
# alphabet) or with case kept; BPE-ish tokens are word / number / single
# punctuation, a deterministic proxy for subword count.
_WORDS = _Tokenizer("[a-zA-Z]+", lower=True)
_CASED_WORDS = _WORDS._replace(lower=False)
_BPE = _Tokenizer("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]", lower=False)
_WS = _Tokenizer("\\S+", lower=False)
_PUNCT = _Tokenizer("[^a-zA-Z0-9\\s]", lower=False)

word_tokens, duck_word_tokens = _WORDS.col, _WORDS.sql
cased_word_tokens, duck_cased_word_tokens = _CASED_WORDS.col, _CASED_WORDS.sql
ws_tokens, duck_ws_tokens = _WS.col, _WS.sql

# Tiny per-language stopword marker sets for the n-gram/stopword-hit
# language heuristic. Deliberately small + disjoint so the heuristic is
# deterministic and SQL-expressible.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "que", "los", "una"],
    "fr": ["le", "les", "des", "est", "dans"],
}

STOPWORDS_EN = ["the", "a", "of", "to", "and", "in", "is", "it", "for", "on"]


def word_count(text: Column) -> Column:
    return F.size(cased_word_tokens(text))


def duck_word_count(t: str) -> str:
    return f"len({duck_cased_word_tokens(t)})"


def token_count(text: Column) -> Column:
    return F.size(_BPE.col(text))


def duck_token_count(t: str) -> str:
    return f"len({_BPE.sql(t)})"


def _count_hits(text: Column, words: list[str]) -> Column:
    """Occurrences of any marker word (word-bounded) in lowercased text."""
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 0))


def lang_id(text: Column, langs: dict[str, list[str]] | None = None) -> Column:
    """Heuristic language id: argmax of marker-word hit counts, 'und'
    (undetermined) when nothing matches. Ties break by language code
    order for determinism."""
    langs = langs or LANG_MARKERS
    # Build (hits, code) structs, pick max by (hits, reversed code order).
    best_code = F.lit("und")
    best_hits = F.lit(0)
    for code in sorted(langs, reverse=True):  # earlier codes win ties
        hits = _count_hits(text, langs[code])
        take = hits >= F.greatest(best_hits, F.lit(1))
        best_code = F.when(take, F.lit(code)).otherwise(best_code)
        best_hits = F.when(take, hits).otherwise(best_hits)
    return best_code


def duck_lang_id(text_expr: str, langs: dict[str, list[str]] | None = None) -> str:
    langs = langs or LANG_MARKERS
    expr_code, expr_hits = "'und'", "0"
    for code in sorted(langs, reverse=True):
        pat = r"\b(" + "|".join(langs[code]) + r")\b"
        hits = f"len(regexp_extract_all(lower({text_expr}), '{pat}'))"
        expr_code = (
            f"CASE WHEN {hits} >= greatest({expr_hits}, 1) THEN '{code}' "
            f"ELSE {expr_code} END"
        )
        expr_hits = f"greatest({expr_hits}, {hits})"
    return expr_code


def quality_components(text: Column) -> dict[str, Column]:
    """The (regex-heavy) raw counts behind quality_score. Project these
    in their OWN select in hot paths, then combine with
    quality_from_components — otherwise the score expression's multiple
    references to n_words re-run the tokenizer regex per reference
    (same CollapseProject pitfall as shingles_from_tokens)."""
    return {
        "n_chars": F.length(text),
        "n_words": word_count(text),
        "n_punct": F.size(_PUNCT.col(text)),
        "n_stop": _count_hits(text, STOPWORDS_EN),
    }


def quality_from_components(
    n_chars: Column, n_words: Column, n_punct: Column, n_stop: Column
) -> Column:
    """Deterministic quality heuristic in [0,1]: rewards moderate
    length, words over punctuation, and stopword presence (fluency
    proxy). Exact rational arithmetic → identical across engines."""
    len_score = F.least(n_chars, F.lit(500)).cast("double") / 500.0
    word_ratio = n_words.cast("double") / F.greatest(n_words + n_punct, F.lit(1))
    stop_ratio = F.least(
        n_stop.cast("double") / F.greatest(n_words, F.lit(1)), F.lit(0.5)
    ) * 2.0
    return (len_score + word_ratio + stop_ratio) / 3.0


def quality_score(text: Column) -> Column:
    """One-shot quality score (fine for single-reference projections;
    see quality_components for the hot-path two-step)."""
    c = quality_components(text)
    return quality_from_components(
        c["n_chars"], c["n_words"], c["n_punct"], c["n_stop"]
    )


def duck_quality_score(t: str) -> str:
    n_words = duck_word_count(t)
    n_punct = f"len({_PUNCT.sql(t)})"
    stop_pat = r"\b(" + "|".join(STOPWORDS_EN) + r")\b"
    n_stop = f"len(regexp_extract_all(lower({t}), '{stop_pat}'))"
    len_score = f"CAST(least(length({t}), 500) AS DOUBLE) / 500.0"
    word_ratio = f"CAST({n_words} AS DOUBLE) / greatest({n_words} + {n_punct}, 1)"
    stop_ratio = f"least(CAST({n_stop} AS DOUBLE) / greatest({n_words}, 1), 0.5) * 2.0"
    return f"(({len_score}) + ({word_ratio}) + ({stop_ratio})) / 3.0"


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-MATERIALIZED token
    array column. Callers must project the token array in its own
    select first: inlining the regex here lets CollapseProject
    substitute it into every element_at reference — 3(n-1)+2 regex
    evaluations per document, measured 16x slower at sf0.1."""
    m = F.size(toks) - (n - 1)
    grams = F.when(
        m >= 1,
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k) for k in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # guard: sequence(1, m<1) would count DOWN in Spark, and element_at
    # past the end throws under ANSI — short docs yield [] instead
    return F.array_distinct(grams)


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles straight from text (1-based
    element_at, so the Spark and DuckDB renderings are symmetric).
    Prefer word_tokens + shingles_from_tokens across a projection
    boundary in hot paths — see shingles_from_tokens."""
    return shingles_from_tokens(word_tokens(text), n)


def duck_shingles(t: str, n: int = 3) -> str:
    toks = duck_word_tokens(t)
    parts = " || ' ' || ".join(f"__t[i+{k}]" if k else "__t[i]" for k in range(n))
    return (
        f"list_distinct(list_transform(generate_series(1, greatest(len({toks})-{n - 1}, 0)), "
        f"i -> {parts}))".replace("__t", toks)
    )


def fingerprint_canon(text: Column) -> Column:
    """The canonical string the document fingerprint hashes: lowercase,
    collapse non-alnum runs to single spaces, trim. Exposed separately
    from :func:`fingerprint` so callers that need a row to be a PURE
    FUNCTION of the fingerprint (e.g. st_curation_admit's streaming
    dedup, whose emitted metrics must be identical for every text that
    collides on the fingerprint) can compute those metrics on exactly
    the string that gets hashed."""
    return F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))


def fingerprint(text: Column) -> Column:
    """Canonical document fingerprint: lowercase, collapse non-alnum
    runs, md5. Equal fingerprints == near-identical documents modulo
    casing/punctuation/whitespace — the exact-dedup key."""
    return F.md5(fingerprint_canon(text))


def duck_fingerprint_canon(t: str) -> str:
    return f"trim(regexp_replace(lower({t}), '[^a-z0-9]+', ' ', 'g'))"


def duck_fingerprint(t: str) -> str:
    return f"md5({duck_fingerprint_canon(t)})"


def bpe_learn(
    word_freqs: dict[str, int], n_merges: int
) -> list[tuple[str, str]]:
    """Driver-side BPE merge loop (Sennrich et al., ACL 2016) over an
    ALREADY-AGGREGATED word-frequency dict — the bounded-metadata
    companion of the distributed pair count in ``txt_bpe_pairs``. At
    100 TB the corpus never comes to the driver: one partial-agg scan
    produces the Zipf-bounded vocabulary (the same shape production
    tokenizer trainers collect), and the O(V * merges) loop here runs
    over that metadata exactly like the k-centroid loop in k-means.
    Ties break by (count desc, pair asc), matching txt_bpe_pairs'
    ordering, so the learned merge table is deterministic."""
    segs: dict[tuple[str, ...], int] = {
        (*word, "</w>"): f for word, f in word_freqs.items()
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in segs.items():
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        joined = best[0] + best[1]
        out: dict[tuple[str, ...], int] = {}
        for syms, f in segs.items():
            new: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    new.append(joined)
                    i += 2
                else:
                    new.append(syms[i])
                    i += 1
            out[tuple(new)] = out.get(tuple(new), 0) + f
        segs = out
    return merges
