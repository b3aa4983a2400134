"""Reusable text column expressions (SURVEY.md §2.8 F1-F13, §2.10 text ops).

Everything here is a pure Column expression — JVM-side, codegen-friendly, no
Python UDFs — so these compose into any query without leaving Tungsten.

The reference's scalar surface (inputs/utils.py:11-24 youtube-id extraction,
inputs/json_to_toxic_label.py:10 sentence split) is re-expressed from public
URL-format knowledge; LLM-pipeline additions (token stats, quality score,
fingerprints, language heuristic) follow the same expression-only rule.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# ---------------------------------------------------------------------------
# Reference-derived scalar functions
# ---------------------------------------------------------------------------

# Public YouTube URL shapes: watch?v=ID, youtu.be/ID, embed/ID, shorts/ID,
# or a bare 11-char id. IDs are 11 chars of [A-Za-z0-9_-].
_YT_ID = "[A-Za-z0-9_-]{11}"
_YT_PATTERNS = (
    rf"[?&]v=({_YT_ID})",
    rf"youtu\.be/({_YT_ID})",
    rf"embed/({_YT_ID})",
    rf"shorts/({_YT_ID})",
)


def youtube_id(col: Column | str) -> Column:
    """Extract a YouTube video id from a URL or bare id (SURVEY P1).

    Mirrors the reference extractor's semantics (inputs/utils.py:11-24):
    a full-string 11-char id passes through; otherwise the first matching
    URL pattern wins; NULL when nothing matches.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.trim(c)
    bare = F.when(c.rlike(rf"^{_YT_ID}$"), c)
    candidates = [bare] + [
        F.nullif(F.regexp_extract(c, pat, 1), F.lit("")) for pat in _YT_PATTERNS
    ]
    return F.coalesce(*candidates)


# Sentence boundary: split after ., ! or ? followed by whitespace
# (inputs/json_to_toxic_label.py:10 — Java regex supports the lookbehind).
SENTENCE_BOUNDARY = r"(?<=[.!?])\s+"


def sentences(col: Column | str) -> Column:
    """Split text into trimmed, non-empty sentences (SURVEY F3 + P2)."""
    c = F.col(col) if isinstance(col, str) else col
    parts = F.split(c, SENTENCE_BOUNDARY)
    return F.filter(F.transform(parts, lambda s: F.trim(s)), lambda s: s != "")


def preview(col: Column | str, n: int = 100) -> Column:
    """Truncate long text with an ellipsis (SURVEY P7, main.py:56)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(c) > n, F.concat(F.substring(c, 1, n), F.lit("..."))).otherwise(c)


def content_id(col: Column | str, prefix: str) -> Column:
    """Deterministic record id: ``{prefix}_{12 hex of sha256(content)}``.

    The reference uses uuid4 (inputs/utils.py:8-9); content-hash ids keep the
    same shape while being reproducible, so oracle hashes match (SURVEY §7d).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(F.lit(prefix), F.lit("_"), F.substring(F.sha2(c, 256), 1, 12))


# ---------------------------------------------------------------------------
# Tokenization + text statistics (LLM-pipeline surface)
# ---------------------------------------------------------------------------

# DuckDB oracle fragment mirroring :func:`tokens` exactly — ONE definition
# shared by every oracle module so the tokenization contract cannot
# desynchronize between the dedup/textstats/corpus oracles.
DUCK_TOKENS = r"list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization to a non-empty-token array."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


# A tiny function-word table: enough signal for a deterministic, fully
# expression-based language heuristic (and for stopword-ratio quality scores).
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "is", "in"),
    "fr": ("le", "la", "et", "de", "un", "est", "dans"),
    "es": ("el", "la", "y", "de", "un", "es", "en"),
    "de": ("der", "die", "und", "von", "ein", "ist", "in"),
}


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens that are function words — a quality signal."""
    toks = tokens(col)
    hits = F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS[lang]))
    return F.when(F.size(toks) > 0, F.size(hits) / F.size(toks)).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# Fingerprints / hashes
# ---------------------------------------------------------------------------

def fingerprint(col: Column | str) -> Column:
    """Normalized content fingerprint: sha256 over lowercased,
    whitespace-collapsed text. Identical expression exists in DuckDB, so
    dedup queries built on this are oracle-checkable."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "), 256)


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Array of k-word shingles (space-joined) — MinHash/Jaccard input.

    Pure expression: slice the token array at each start offset. Docs with
    fewer than k tokens yield a single shingle of the whole text.
    """
    toks = tokens(col)
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
