"""Scalar text functions of the extraction engine (SURVEY.md §2.8).

Python forms (used inside the per-doc geometry kernels and the oracle)
plus Spark-expression builders for the relationally-expressible pieces:
the IL1-flex matchers F4-F6 compile to anchored/unanchored regexes
consumed by ``rlike`` — char-wise equivalent to the reference's
character loop (/root/reference/extractor.py:249-269): expected
uppercase 'I' also accepts 'L'/'l'/'1'; all other positions are
case-insensitive equality.

Reference provenance:
- normalize_text                  /root/reference/extractor.py:218-225
- clean_label_sequence            /root/reference/extractor.py:227-233
- build_expected_masked_upper     /root/reference/extractor.py:237-247
- flex equal/contains/startswith  /root/reference/extractor.py:249-269
- ocr_norm_preserve_punct_upper   /root/reference/response_extractor.py:348-363
- letters_only                    /root/reference/extractor.py:593-596
"""

from __future__ import annotations

import re
import unicodedata
from collections.abc import Iterable
from functools import lru_cache


def nfkd_strip_controls(text: str) -> str:
    t = unicodedata.normalize("NFKD", text)
    return "".join(c for c in t if unicodedata.category(c)[0] != "C")


# normalize_text / ocr_norm are the geometry kernel's hottest scalar
# calls (every token × every label comparison). OCR vocabularies are
# highly repetitive, so memoization turns the NFKD pass into a dict hit.
@lru_cache(maxsize=65536)
def normalize_text(text: str) -> str:
    """F1: NFKD → strip controls → drop '/',' ','-' → trim non-alpha ends → upper."""
    t = nfkd_strip_controls(text)
    t = t.replace("/", "").replace(" ", "").replace("-", "")
    t = re.sub(r"^[^a-zA-Z]+", "", t)
    t = re.sub(r"[^a-zA-Z]+$", "", t)
    return t.upper()


@lru_cache(maxsize=65536)
def ocr_norm_preserve_punct_upper(text: str) -> str:
    """F7: like F1 but without the alpha edge-trim."""
    t = nfkd_strip_controls(text)
    return t.replace("/", "").replace(" ", "").replace("-", "").upper()


def clean_label_sequence(words: list[str]) -> str:
    """F2: concat of F1-normalized words, re-NFKD'd, spaces dropped."""
    joined = "".join(normalize_text(w) for w in words)
    return nfkd_strip_controls(joined).replace(" ", "")


def letters_only_upper(text: str) -> str:
    """F8."""
    return re.sub(r"[^A-Za-z]", "", nfkd_strip_controls(text)).upper()


@lru_cache(maxsize=4096)
def expected_masked(text: str) -> tuple[str, frozenset[int]]:
    """F3: normalized expected string + positions of uppercase 'I'."""
    t = nfkd_strip_controls(text)
    t = t.replace("/", "").replace(" ", "").replace("-", "").upper()
    return t, frozenset(i for i, ch in enumerate(t) if ch == "I")


@lru_cache(maxsize=4096)
def flex_regex(expected: str, anchor: str = "both") -> str:
    """Compile the expected string to an IL1-flex regex (F4-F6).

    Applied to an UPPERCASED candidate: 'I' positions → [IL1], other
    chars → literal. anchor: 'both' = F4 equality, 'none' = F5
    contains, 'start' = F6 startswith.
    """
    exp, _ = expected_masked(expected)
    body = "".join("[IL1]" if ch == "I" else re.escape(ch) for ch in exp)
    if anchor == "both":
        return f"^{body}$"
    if anchor == "start":
        return f"^{body}"
    return body


@lru_cache(maxsize=262144)
def flex_equal(expected: str, candidate: str) -> bool:
    """F4 on a raw (pre-normalized) candidate string."""
    exp, mask = expected_masked(expected)
    if len(exp) != len(candidate):
        return False
    for i, (e, c) in enumerate(zip(exp, candidate)):
        if i in mask and e == "I":
            if c not in ("I", "L", "l", "1"):
                return False
        elif e != c.upper():
            return False
    return True


@lru_cache(maxsize=262144)
def flex_contains(expected: str, haystack: str) -> bool:
    """F5: any substring of haystack flex-equals expected."""
    exp, _ = expected_masked(expected)
    m = len(exp)
    if m == 0:
        return True
    return any(flex_equal(expected, haystack[i : i + m]) for i in range(len(haystack) - m + 1))


@lru_cache(maxsize=262144)
def flex_startswith(expected: str, haystack: str) -> bool:
    """F6: prefix flex-equality."""
    exp, _ = expected_masked(expected)
    m = len(exp)
    if m == 0:
        return True
    return len(haystack) >= m and flex_equal(expected, haystack[:m])


# ---------------------------------------------------------------------------
# IL1-folded keys: the line prefilter in front of F5/F6
#
# The geometry and Q&A scanners apply F5/F6 to F1/F7-normalized tokens,
# and those are uppercased strings, so a lowercase 'l' never reaches the
# matchers and every character in them is its own ``upper()``. Folding
# 'L' and '1' onto 'I' on both sides then turns F5/F6 into plain
# substring tests of the folded strings:
#
#     flex_contains(e, c) or flex_startswith(e, c)
#         ==>  flex_key(e) in line_key([c])
#
# At an expected 'I' the candidate holds one of I/L/1, which all fold to
# 'I'; at every other position the two characters are equal. A line's
# key joins its folded tokens with NUL, which F1/F7 strip from tokens,
# so a folded word found in the key lies inside one token. A line whose
# key lacks the folded first word of a label, header or question has no
# token that F5/F6-matches that word (a merged token that F6-matches the
# whole header or question also F6-matches its first word): every
# scanner returns a run of 0 on it, and skipping it changes nothing.
# ---------------------------------------------------------------------------


def line_key(norms: Iterable[str]) -> str:
    """Folded key of one line: its tokens' F1 or F7 forms joined with
    NUL, then 'L' and '1' folded onto 'I' (two ``replace`` calls cost a
    fifth of one ``str.translate`` on line-sized strings)."""
    return "\x00".join(norms).replace("L", "I").replace("1", "I")


@lru_cache(maxsize=4096)
def flex_key(expected: str) -> str:
    """The IL1-folded F3 form of ``expected``: a substring of the
    folded key of every line holding a token that F5/F6-matches it."""
    return line_key([expected_masked(expected)[0]])


# ---------------------------------------------------------------------------
# Spark expression builders (JVM-side fast path for the relational forms)
# ---------------------------------------------------------------------------


def spark_normalize_expr(col_name: str):
    """Approximate F1 as a pure Catalyst expression (no UDF): assumes
    ASCII input (true for the synthetic fixtures; real OCR output with
    non-ASCII goes through the pandas-UDF NFKD path)."""
    from pyspark.sql import functions as F

    c = F.regexp_replace(F.col(col_name), r"[/\s\-]", "")
    c = F.regexp_replace(c, r"^[^a-zA-Z]+", "")
    c = F.regexp_replace(c, r"[^a-zA-Z]+$", "")
    return F.upper(c)


def spark_flex_match_expr(col_name: str, expected: str, anchor: str = "both"):
    """F4/F5/F6 as an ``rlike`` over the uppercased candidate column."""
    from pyspark.sql import functions as F

    return F.upper(F.col(col_name)).rlike(flex_regex(expected, anchor))


def detect_schema_variant(page1_text: str) -> str:
    """F15 — gender keyword detect on first-page text (reference
    /root/reference/extractor.py:1216-1232): earliest keyword wins;
    note "male patient information" is a substring of the female
    phrase, so both-hit resolution by index is load-bearing; default
    female."""
    norm = page1_text.lower()
    female_hit = "female patient information" in norm
    male_hit = "male patient information" in norm
    if female_hit and not male_hit:
        return "female"
    if male_hit and not female_hit:
        return "male"
    if female_hit and male_hit:
        f_idx = norm.find("female patient information")
        m_idx = norm.find("male patient information")
        return "female" if f_idx < m_idx else "male"
    return "female"
