"""Name-preprocessing functions (reference: emm/preprocessing/functions.py:31-96).

Each function is Column -> Column.  Every step is a native Spark expression
(regexp_replace / translate / lower / trim, and array higher-order functions
for abbreviation merging) except one: the NFKD transliteration long-tail in
``strip_accents_unicode``, an Arrow-batched pandas UDF (ASCII rows
short-circuit).  That UDF is the pipelines' only Python boundary; it splits
the projection around an ``ArrowEvalPython`` node.

Pipelines (reference base_name_preprocessor.py:32-80):
  preprocess_name, preprocess_with_punctuation, preprocess_merge_abbr (default),
  preprocess_merge_abbr_v0, preprocess_merge_legal_abbr
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# ---------------------------------------------------------------------------
# Accent stripping / transliteration — native translate() tables, no UDF.
# Covers Latin-1 Supplement + Latin Extended-A, Greek, and Cyrillic (the
# scripts the reference's unidecode call handles that real GT data contains,
# ref functions.py:52-53 strip_accents_unicode; non-Latin names are exercised
# by reference tests/integration/test_entity_matching.py:365-410).
# Multi-char expansions (ß->ss, θ->th, ж->zh, ...) are literal replace()
# passes; everything stays inside whole-stage codegen.
# ---------------------------------------------------------------------------
_ACCENT_SRC = (
    "ÀÁÂÃÄÅàáâãäåÇçÈÉÊËèéêëÌÍÎÏìíîïÑñÒÓÔÕÖØòóôõöøÙÚÛÜùúûüÝÿýŠšŽžŸ"
    "ĀāĂăĄąĆćĈĉĊċČčĎďĐđĒēĔĕĖėĘęĚěĜĝĞğĠġĢģĤĥĦħĨĩĪīĬĭĮįİıĴĵĶķĹĺĻļĽľŁł"
    "ŃńŅņŇňŌōŎŏŐőŔŕŖŗŘřŚśŜŝŞşŢţŤťŦŧŨũŪūŬŭŮůŰűŲųŴŵŶŷŹźŻż"
    # Greek -> Latin single-char romanization (ELOT-simplified; digraphs below)
    "ΑΒΓΔΕΖΗΙΚΛΜΝΞΟΠΡΣΤΥΩαβγδεζηικλμνξοπρστυωςΆΈΉΊΌΎΏάέήίόύώϊϋΐΰΪΫ"
    # Cyrillic -> Latin single-char (GOST-style; digraphs below)
    "АБВГДЕЁЗИЙКЛМНОПРСТУФЫЭабвгдеёзийклмнопрстуфыэІіЇїЄєҐґ"
)
_ACCENT_DST = (
    "AAAAAAaaaaaaCcEEEEeeeeIIIIiiiiNnOOOOOOooooooUUUUuuuuYyySsZzY"
    "AaAaAaCcCcCcCcDdDdEeEeEeEeEeGgGgGgGgHhHhIiIiIiIiIiJjKkLlLlLlLl"
    "NnNnNnOoOoOoRrRrRrSsSsSsTtTtTtUuUuUuUuUuUuWwYyZzZz"
    "ABGDEZEIKLMNXOPRSTUOabgdezeiklmnxoprstuosAEEIOUOaeeiouoiuiuIU"
    "ABVGDEEZIIKLMNOPRSTUFYEabvgdeeziiklmnoprstufyeIiIiEeGg"
)
assert len(_ACCENT_SRC) == len(_ACCENT_DST)

# Characters transliterated to the empty string (Cyrillic hard/soft signs).
_DELETE_CHARS = "ъЪьЬ"

_MULTI = [
    ("ß", "ss"), ("Æ", "AE"), ("æ", "ae"), ("Œ", "OE"), ("œ", "oe"),
    ("Þ", "Th"), ("þ", "th"), ("Ð", "D"), ("ð", "d"),
    # Greek digraphs
    ("Θ", "Th"), ("θ", "th"), ("Φ", "Ph"), ("φ", "ph"),
    ("Χ", "Kh"), ("χ", "kh"), ("Ψ", "Ps"), ("ψ", "ps"),
    # Cyrillic digraphs
    ("Ж", "Zh"), ("ж", "zh"), ("Х", "Kh"), ("х", "kh"),
    ("Ц", "Ts"), ("ц", "ts"), ("Ч", "Ch"), ("ч", "ch"),
    ("Щ", "Shch"), ("щ", "shch"), ("Ш", "Sh"), ("ш", "sh"),
    ("Ю", "Yu"), ("ю", "yu"), ("Я", "Ya"), ("я", "ya"),
]


def strip_accents(c: Column) -> Column:
    """Transliterate accented Latin, Greek, and Cyrillic to ASCII.

    Reference: emm/preprocessing/functions.py:52-53 (strip_accents_unicode,
    via unidecode).  Scripts outside these tables pass through unchanged;
    see ``strip_accents_unicode`` for the pandas-UDF fallback step.
    """
    for src, dst in _MULTI:
        c = F.replace(c, F.lit(src), F.lit(dst))
    return F.translate(c, _ACCENT_SRC + _DELETE_CHARS, _ACCENT_DST)


# Python mirror of the native tables, for the long-tail UDF below
# (handles chars that only reach the tables after NFKD decomposition,
# e.g. polytonic Greek ὼ -> ω -> o).
_PY_TRANS = str.maketrans(
    {**{s: d for s, d in zip(_ACCENT_SRC, _ACCENT_DST)},
     **dict(_MULTI),
     **{ch: None for ch in _DELETE_CHARS}}
)

try:
    from unidecode import unidecode as _unidecode  # optional; full parity
except ImportError:
    _unidecode = None


def _transliterate_str(x: str | None) -> str | None:
    """NFKD-decompose, strip combining marks, apply the translit tables.

    ASCII fast path: strings already transliterated by the native pass
    return immediately (the common case — the JVM tables run first)."""
    if x is None or x.isascii():
        return x
    if _unidecode is not None:
        return _unidecode(x)
    import unicodedata

    x = "".join(
        ch
        for ch in unicodedata.normalize("NFKD", x)
        if not unicodedata.combining(ch)
    )
    return x.translate(_PY_TRANS)


@pandas_udf(StringType())
def _nfkd_fallback_udf(s: pd.Series) -> pd.Series:
    return s.map(_transliterate_str)


def strip_accents_unicode(c: Column) -> Column:
    """Full-Unicode transliteration (ref functions.py:52-53
    strip_accents_unicode, via unidecode).

    Two passes: the native translate/replace tables first (Latin, Greek,
    Cyrillic — all JVM-side), then an Arrow-batched UDF that NFKD-decomposes
    whatever remains (polytonic Greek, compatibility forms, other scripts)
    and re-applies the tables.  Rows that are ASCII after the native pass
    short-circuit in the UDF, so the Python cost is Arrow transfer only
    for clean-Latin corpora.
    """
    return _nfkd_fallback_udf(strip_accents(c))


def strip_hyphens(c: Column) -> Column:
    """``[-_]`` -> space (ref functions.py:54-55)."""
    return F.regexp_replace(c, "[-_]", " ")


def strip_punctuation(c: Column) -> Column:
    """Punctuation -> space (ref functions.py:56-58; Java regex \\p{Punct},
    plus common non-ASCII quote marks \\p{Punct} misses)."""
    return F.regexp_replace(c, "[\\p{Punct}$=“”„«»‹›¨]", " ")


def insert_space_around_punctuation(c: Column) -> Column:
    """`` $1 `` around punctuation (ref functions.py:59-62)."""
    return F.regexp_replace(c, "([\\p{Punct}$=“”„«»‹›¨])", " $1 ")


def handle_lower_trim(c: Column) -> Column:
    return F.trim(F.lower(c))


def remove_extra_space(c: Column) -> Column:
    """Collapse whitespace runs; trim (ref functions.py:73-74)."""
    return F.trim(F.regexp_replace(c, "\\s+", " "))


def remove_newline(c: Column) -> Column:
    return F.regexp_replace(c, "[\\n\\r]", " ")


def replace_punctuation(c: Column) -> Column:
    """Unicode dashes -> '-' (ref functions.py:92-95)."""
    return F.regexp_replace(c, "[‐‑‒–—―−]", "-")


def replace_none(c: Column) -> Column:
    """null -> '' (ref functions.py:99-102)."""
    return F.coalesce(c, F.lit(""))


# Dutch/legal shorthand mapping (ref functions.py:37-49) — chained native regex.
_SHORTHANDS = [
    (r"\bstichting\b", "stg"),
    (r"\bvereniging\b", "ver"),
    (r"\blimited\b", "ltd"),
    (r"\bincorporated\b", "inc"),
    (r"\bcompany\b", "co"),
    (r"(\bpublic limited co\b|\bpublic ltd co\b|\bpublic ltd\b)", "plc"),
]


def map_shorthands(c: Column) -> Column:
    for pat, rep in _SHORTHANDS:
        c = F.regexp_replace(c, pat, rep)
    return c


def merge_ampersand(c: Column) -> Column:
    """``H & M`` -> ``HM`` (ref functions.py:77-80)."""
    return F.regexp_replace(
        c, "(?<![\\p{IsAlphabetic}\\d])(\\w)\\s*&\\s*(\\w)(?![\\p{IsAlphabetic}\\d])", "$1$2"
    )


# Legal-form suffix removal — own curated list (public legal-entity suffixes),
# replacing the reference's cleanco dependency (ref functions.py:81-91).
_LEGAL_FORMS = (
    "bv|nv|vof|cv|bvba|gmbh|ag|kg|ug|ohg|ab|as|aps|oy|oyj|sa|sas|sarl|sl|srl|spa|"
    "sp z o o|sp zoo|zoo|sro|plc|ltd|llc|llp|lp|inc|corp|co|company|limited|"
    "incorporated|corporation|kk|kabushiki kaisha|pty|pte|pvt|ulc|se|eurl|snc|"
    "kft|rt|doo|ad|ead|ooo|pao|oao|spol"
)
_LEGAL_RE = f"\\s\\b({_LEGAL_FORMS})\\b\\.?\\s*$"


def remove_legal_form(c: Column) -> Column:
    """Strip trailing legal-entity-form tokens (up to two, e.g. 'X B.V. Ltd')."""
    c1 = F.regexp_replace(c, _LEGAL_RE, "")
    return F.regexp_replace(c1, _LEGAL_RE, "")


# ---------------------------------------------------------------------------
# Abbreviation merging (ref abbreviation_util.py:90-139).  The Python
# functions are the specification (the aggregation blacklist and the tests
# use them); the pipeline steps are the same regex as Column expressions.
# ---------------------------------------------------------------------------
_ABBR_RUN = re.compile(r"\b(?:[A-Za-z](?:[.]\s*|\s+)){1,}[A-Za-z]\b\.?")


def _merge_abbr_str(s: str) -> str:
    """Collapse runs of single letters separated by dots/spaces: 'B. V.'->'BV'."""
    if not s:
        return s

    def _collapse(m: re.Match) -> str:
        return re.sub(r"[.\s]", "", m.group(0))

    return _ABBR_RUN.sub(_collapse, s)


_LEGAL_ABBR_SET = {
    "bv", "nv", "cv", "vof", "gmbh", "ag", "sa", "se", "kk", "plc", "ltd", "llc",
    "llp", "inc", "co", "ab", "as", "oy", "kg", "ug",
}


def _merge_legal_abbr_str(s: str) -> str:
    """Merge letter runs only when the collapsed run is a known legal form."""
    if not s:
        return s

    def _collapse(m: re.Match) -> str:
        merged = re.sub(r"[.\s]", "", m.group(0))
        return merged if merged.lower() in _LEGAL_ABBR_SET else m.group(0)

    return _ABBR_RUN.sub(_collapse, s)


# _ABBR_RUN with Python's Unicode semantics spelled out for java.util.regex:
# Python's \s is the str.isspace set (Java's is ASCII-only) and its \b is a
# boundary against [\p{L}\p{N}_]; the run starts and ends on a letter, so
# \b becomes a lookbehind before the run and a lookahead after it.
_JAVA_SPACE = (
    r"[\t\n\x0B\f\r\x1C-\x1F \x85\xA0\u1680\u2000-\u200A"
    r"\u2028\u2029\u202F\u205F\u3000]"
)
_JAVA_ABBR_RUN = (
    r"(?<![\p{L}\p{N}_])(?:[A-Za-z](?:[.]" + _JAVA_SPACE + "*|" + _JAVA_SPACE
    + r"+))+[A-Za-z](?![\p{L}\p{N}_])\.?"
)


def _merge_runs(c: Column, collapse) -> Column:
    """Rewrite every ``_ABBR_RUN`` match of ``c`` with ``collapse(run, merged)``.

    ``regexp_extract_all`` yields the n runs and ``split`` (limit -1) the
    n + 1 text pieces between them; ``zip_with`` interleaves the pieces with
    the rewritten runs (null past the last run) and ``array_join`` rejoins
    them.  Null in, null out."""
    runs = F.regexp_extract_all(c, F.lit(_JAVA_ABBR_RUN), 0)
    gaps = F.split(c, _JAVA_ABBR_RUN, -1)
    merged = F.transform(
        runs, lambda r: collapse(r, F.regexp_replace(r, "[.]|" + _JAVA_SPACE, ""))
    )
    pieces = F.zip_with(gaps, merged, lambda g, m: F.concat(g, F.coalesce(m, F.lit(""))))
    return F.array_join(pieces, "")


def merge_abbreviations(c: Column) -> Column:
    """JVM twin of :func:`_merge_abbr_str`."""
    return _merge_runs(c, lambda run, merged: merged)


def merge_legal_form_abbreviations(c: Column) -> Column:
    """JVM twin of :func:`_merge_legal_abbr_str`."""
    legal = sorted(_LEGAL_ABBR_SET)
    return _merge_runs(
        c,
        lambda run, merged: F.when(F.lower(merged).isin(legal), merged).otherwise(run),
    )


# ---------------------------------------------------------------------------
# Named pipelines (ref base_name_preprocessor.py:32-80)
# ---------------------------------------------------------------------------
PIPELINES: dict[str, list] = {
    # accent-strip, punctuation, lower, whitespace
    "preprocess_name": [
        replace_none,
        remove_newline,
        strip_accents_unicode,
        replace_punctuation,
        strip_hyphens,
        strip_punctuation,
        handle_lower_trim,
        remove_extra_space,
    ],
    "preprocess_with_punctuation": [
        replace_none,
        remove_newline,
        strip_accents_unicode,
        replace_punctuation,
        insert_space_around_punctuation,
        handle_lower_trim,
        remove_extra_space,
    ],
    # default: also merge abbreviations ('B. V.'->'bv'), map shorthands, '&'
    "preprocess_merge_abbr": [
        replace_none,
        remove_newline,
        strip_accents_unicode,
        replace_punctuation,
        merge_ampersand,
        merge_abbreviations,
        strip_hyphens,
        strip_punctuation,
        handle_lower_trim,
        map_shorthands,
        remove_extra_space,
    ],
    "preprocess_merge_abbr_v0": [
        replace_none,
        remove_newline,
        strip_accents_unicode,
        merge_abbreviations,
        strip_hyphens,
        strip_punctuation,
        handle_lower_trim,
        remove_extra_space,
    ],
    "preprocess_merge_legal_abbr": [
        replace_none,
        remove_newline,
        strip_accents_unicode,
        replace_punctuation,
        merge_ampersand,
        merge_legal_form_abbreviations,
        strip_hyphens,
        strip_punctuation,
        handle_lower_trim,
        map_shorthands,
        remove_extra_space,
    ],
}


def apply_pipeline(c: Column, pipeline: str | list = "preprocess_merge_abbr") -> Column:
    steps = PIPELINES[pipeline] if isinstance(pipeline, str) else pipeline
    for step in steps:
        c = step(c)
    return c
