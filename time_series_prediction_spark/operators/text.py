"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference scope (SURVEY §7.1.8): the operators a 100 TB text
corpus needs before model training — tokenization stats, quality
scoring, language identification, fingerprinting. All native Column
expressions: per-document math is embarrassingly parallel, no
shuffles, no Python.

Determinism: every score is a closed-form IEEE expression over exact
integers (token counts, marker counts), so results are reproducible
across engines and partitionings — required by the DuckDB correctness
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: small English stopword set used by quality scoring (deterministic)
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

#: per-language marker tokens for the n-gram/marker language heuristic.
#: Ordered dict-of-markers; ties resolve in this priority order.
LANG_MARKERS: dict[str, str] = {
    "en": " the ",
    "fr": " le ",
    "de": " der ",
    "es": " el ",
    "zh": "的",
}


def token_count(text: str = "text") -> Column:
    return F.expr(f"size(split({text}, ' '))")


def bpe_ish_token_count(text: str = "text") -> Column:
    """Sub-word-ish token estimate: word-piece segmentation by a
    regex that splits on non-alphanumerics AND every 4-char chunk of
    long words — a deterministic stand-in for BPE token budgeting
    (real tokenizers aren't in this image)."""
    # ceil(len/4) per word, summed
    return F.expr(
        f"aggregate(transform(split({text}, ' '), "
        f"w -> CAST(ceil(length(w) / 4.0D) AS BIGINT)), 0L, (a, v) -> a + v)"
    )


def avg_token_len(text: str = "text") -> Column:
    """Mean token length, exact-int closed form (single-space corpora):
    sum(len) = n_chars - (n_tokens - 1)."""
    n_tok = f"size(split({text}, ' '))"
    return F.expr(
        f"CAST(length({text}) - ({n_tok} - 1) AS DOUBLE) / CAST({n_tok} AS DOUBLE)"
    )


def stopword_count(text: str = "text") -> Column:
    quoted = ", ".join(f"'{w}'" for w in STOPWORDS)
    return F.expr(
        f"CAST(size(filter(split({text}, ' '), t -> t IN ({quoted}))) AS BIGINT)"
    )


def quality_score(text: str = "text") -> Column:
    """Composite quality score in [0, 1]:
    0.4·min(n_tokens/100, 1) + 0.3·stopword_ratio·4 (capped at 0.3)
    + 0.3·min(avg_token_len/8, 1). Deterministic closed form."""
    n_tok = f"CAST(size(split({text}, ' ')) AS DOUBLE)"
    quoted = ", ".join(f"'{w}'" for w in STOPWORDS)
    sw = f"CAST(size(filter(split({text}, ' '), t -> t IN ({quoted}))) AS DOUBLE)"
    avg_len = f"(CAST(length({text}) - ({n_tok} - 1) AS DOUBLE) / {n_tok})"
    return F.expr(
        f"0.4D * least({n_tok} / 100.0D, 1.0D) "
        f"+ least(0.3D, 0.3D * ({sw} / {n_tok}) * 4.0D) "
        f"+ 0.3D * least({avg_len} / 8.0D, 1.0D)"
    )


def marker_count(text: str, marker: str) -> str:
    """SQL fragment: occurrences of ``marker`` in ``text``
    (length-difference formula — identical on any ANSI engine)."""
    esc = marker.replace("'", "''")
    return (
        f"CAST((length({text}) - length(replace({text}, '{esc}', ''))) "
        f"/ length('{esc}') AS BIGINT)"
    )


def lang_id(text: str = "text") -> Column:
    """Marker-based language heuristic: count per-language marker
    occurrences, pick the max (ties resolve in LANG_MARKERS order).
    A real corpus pipeline would use character-n-gram profiles; the
    decision structure (argmax over per-language scores) is the same.
    """
    return F.expr(lang_id_case_sql(text))


def lang_id_case_sql(text: str = "text") -> str:
    """The lang-id argmax as a SQL fragment (shared with the DuckDB
    oracle so both engines evaluate the identical decision tree)."""
    scores = {lang: marker_count(text, m) for lang, m in LANG_MARKERS.items()}
    langs = list(scores)
    case = "CASE "
    for i, lang in enumerate(langs[:-1]):
        rest = [scores[o] for o in langs[i + 1 :]]
        rhs = f"greatest({', '.join(rest)})" if len(rest) > 1 else rest[0]
        case += f"WHEN {scores[lang]} >= {rhs} THEN '{lang}' "
    case += f"ELSE '{langs[-1]}' END"
    return case


def fingerprint(text: str = "text", n_tokens: int = 5) -> Column:
    """Document fingerprint: md5 of the first-N-token prefix — a
    cheap near-dup blocking key (md5 is identical on every engine)."""
    return F.expr(
        f"md5(array_join(slice(split({text}, ' '), 1, {n_tokens}), ' '))"
    )
