"""Text-analysis primitives for training-data pipelines (pure Python).

These are the large-scale-corpus operations layered on top of the
extraction core (per the build brief): token counting, the stopword
ratio behind the language heuristic, and document fingerprinting. Each
has a deliberately SQL-expressible definition so the Spark DataFrame
version and the DuckDB oracle can compute the identical value (see
``documentai_spark.functions.text`` for the Spark column expressions and
``__spark_entry__.oracle_sql`` for the SQL mirrors).

Definitions (pinned):

- ``token_count``      — number of whitespace-delimited tokens
                         (WS_CLASS fields of the space-trimmed text).
- ``stopword_ratio``   — ASCII-boundary stopword matches over the
                         lowercased text / max(token_count, 1), 6 dp.
- ``fingerprint``      — md5 hex of the whitespace-normalized, lowercased
                         text (document fingerprint for exact dedup).
- ``shingles``         — the w-token shingle set (for MinHash / Jaccard).
"""

from __future__ import annotations

import hashlib
import re

STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be", "this", "are",
)

# Pinned stopword boundary (r7): ASCII \b — equals Spark's explicit
# [A-Za-z0-9_] lookarounds (curation.STOPWORD_PATTERN) and DuckDB RE2's
# always-ASCII \b. Python's default \b is Unicode-aware, hence re.ASCII
# (the CLAUDE.md three-engine \b rule; same treatment as core/redact).
# Pinned whitespace for fingerprint normalization: the Java-regex \s set
# [ \t\n\x0b\f\r] — identical to Python's re.ASCII \s — so the Spark column
# (operators/dedup.normalized_text), this oracle, and the DuckDB SQL
# mirrors (explicit class) collapse the exact same bytes. Python's default
# Unicode \s additionally matches \x1c-\x1f / \x85 / \xa0, which occur in
# the fixture domain (see commit e795ab0) and would diverge.
WS_CLASS = r"[ \t\n\x0b\f\r]"
_NORM_RE = re.compile(WS_CLASS + "+")


_STOPWORD_RE = re.compile(r"\b(" + "|".join(STOPWORDS) + r")\b",
                          re.ASCII)


def token_count(text: str) -> int:
    """Pinned: count of WS_CLASS-delimited fields of the space-trimmed
    text; NULL/empty -> 0. Matches curation.token_count_col and the SQL
    mirrors EXACTLY, including boundary empties (leading '\\t' yields a
    leading empty field in all three engines; Python's .split() would
    not). r7: was .split() (Unicode whitespace, no boundary empties)."""
    t = (text or "").strip(" ")
    if not t:
        return 0
    return len(_NORM_RE.split(t))


def stopword_ratio(text: str) -> float:
    """Pinned: ASCII-boundary stopword matches over the lowercased text
    / max(token_count, 1), rounded to 6 dp — the doc_lang_quality
    formulation, bit-equal across the three engines. r7: was a
    token-membership count with punctuation stripping, a different
    (unpinned) definition that diverged from the gate formulation."""
    if not text:
        return 0.0
    n_sw = len(_STOPWORD_RE.findall(text.lower()))
    return round(n_sw / max(token_count(text), 1), 6)


def normalize_for_fingerprint(text: str) -> str:
    return _NORM_RE.sub(" ", (text or "").lower()).strip()


def fingerprint(text: str) -> str:
    return hashlib.md5(normalize_for_fingerprint(text).encode("utf-8")).hexdigest()


def shingles(text: str, w: int = 3) -> set[str]:
    toks = normalize_for_fingerprint(text).split()
    if len(toks) < w:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i:i + w]) for i in range(len(toks) - w + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    if not a and not b:
        return 1.0
    inter = len(a & b)
    union = len(a | b)
    return inter / union if union else 0.0
