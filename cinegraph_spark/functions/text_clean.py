"""Subtitle text-cleaning function library (F1-F11, SURVEY §2.3).

Behavioral parity target: the reference's ten ``@tool`` functions in
``preprocessing/preprocessing_agent.py:19-152`` and the deterministic
no-LLM chain proven equivalent in ``experiments/mozno_potikat_langchain.ipynb``
(cell 13). Each reference tool is ``re.sub`` chains + ``str.strip()``.

Architecture: every function is declared ONCE as a list of primitive ops
(regex-replace / lower / python-strip / per-line-normalize). Two builders
consume the spec:

- :func:`cleaning_fn` folds the ops into a Spark ``Column`` — pure
  ``regexp_replace``/``lower`` chains, JVM-side, whole-stage-codegen'd, no
  Python in the hot path (the 100 TB-safe path).
- :func:`cleaning_sql` folds the same ops into a DuckDB SQL expression —
  used verbatim as the correctness oracle, so Spark/oracle parity is by
  construction, not by hand-maintained duplication.

Patterns are written in the Java-regex ∩ RE2 compatible subset
(``\\d \\s \\w \\b`` classes, inline ``(?m)``/``(?i)`` flags, lazy
quantifiers — all identical in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Python str.strip() strips all whitespace (not just spaces) from both ends.
_STRIP_RE = r"(?s)^\s+|\s+$"

# An op is a tuple: ("re", pattern, repl) | ("lower",) | ("strip",)
#                 | ("normlines",)
Op = tuple

#: op-lists per cleaning function, semantics from preprocessing_agent.py.
CLEANING_SPECS: dict[str, list[Op]] = {
    # F1 — preprocessing_agent.py:71-89
    "remove_timestamps": [
        ("re", r"\d{2}:\d{2}:\d{2}[.,]\d{3}\s*-->\s*\d{2}:\d{2}:\d{2}[.,]\d{3}", ""),
        ("re", r"(?m)^\s*\d+\s*$", ""),
        ("re", r"WEBVTT.*\n?", ""),
        ("strip",),
    ],
    # F2 — preprocessing_agent.py:19-30
    "remove_brackets_content": [
        ("re", r"\[.*?\]", ""),
        ("re", r"\(.*?\)", ""),
        ("re", r"\{.*?\}", ""),
        ("strip",),
    ],
    # F3 — preprocessing_agent.py:108-116
    "remove_html_tags": [
        ("re", r"<[^>]+>", ""),
        ("strip",),
    ],
    # F4 — preprocessing_agent.py:92-105
    "remove_speaker_labels": [
        ("re", r"(?m)^[A-Z][A-Z\s]{1,20}:\s*", ""),
        ("re", r"(?m)^\w[\w\s]{1,20}:\s*", ""),
        ("re", r"<v\s+[^>]+>", ""),
        ("strip",),
    ],
    # F5 — preprocessing_agent.py:56-68 (curly + straight quotes)
    "remove_dialog_punctuation": [
        ("re", r"(?m)^\s*-+\s*", ""),
        ("re", r"\.{2,}", ""),
        ("re", r"-{2,}", ""),
        ("re", "[\"“”'‘’]+", ""),
        ("re", r"[!?,;:]+", ""),
        ("strip",),
    ],
    # F6 — preprocessing_agent.py:44-53
    "remove_newlines": [
        ("re", r"\n", " "),
        ("re", r"\r", " "),
        ("re", r" +", " "),
        ("strip",),
    ],
    # F7 — preprocessing_agent.py:33-41
    "remove_non_alphabetic": [
        ("re", r"[^a-zA-Z\s]", ""),
        ("strip",),
    ],
    # F8 — preprocessing_agent.py:143-152
    "remove_filler_words": [
        (
            "re",
            r"(?i)\b(um+|uh+|hmm+|hm+|ah+|oh+|er+|erm+|gonna|wanna|gotta|kinda|sorta|like|okay|ok|yeah|yep|nope)\b",
            "",
        ),
        ("re", r" +", " "),
        ("strip",),
    ],
    # F9 — preprocessing_agent.py:133-140
    "lowercase_text": [("lower",)],
    # F10 — preprocessing_agent.py:119-130 (per-line collapse+strip, drop
    # empty lines, join with single space)
    "normalize_whitespace": [("normlines",)],
    # F11 — clustering/utils.py:60-73 (ascii-only filter)
    "clean_titles": [
        ("re", r"[^\x00-\x7F]", ""),
    ],
}

#: The deterministic chain order (mozno_potikat_langchain.ipynb cell 13 /
#: the agent's recommended pipeline, preprocessing_agent.py:182-198).
CLEAN_STEP_ORDER: tuple[str, ...] = (
    "remove_timestamps",
    "remove_brackets_content",
    "remove_html_tags",
    "remove_speaker_labels",
    "remove_dialog_punctuation",
    "remove_newlines",
    "remove_non_alphabetic",
    "remove_filler_words",
    "lowercase_text",
    "normalize_whitespace",
)


# --- Spark builder ----------------------------------------------------------


def _apply_op_spark(col: Column, op: Op) -> Column:
    kind = op[0]
    if kind == "re":
        return F.regexp_replace(col, op[1], op[2])
    if kind == "lower":
        return F.lower(col)
    if kind == "strip":
        return F.regexp_replace(col, _STRIP_RE, "")
    if kind == "normlines":
        lines = F.split(col, r"\n")
        cleaned = F.transform(
            lines,
            lambda x: F.regexp_replace(
                F.regexp_replace(x, r" +", " "), _STRIP_RE, ""
            ),
        )
        nonempty = F.filter(cleaned, lambda x: x != F.lit(""))
        return F.array_join(nonempty, " ")
    raise ValueError(f"unknown op {op!r}")


def cleaning_fn(name: str):
    """Return fn(Column)->Column for one cleaning function by name."""
    spec = CLEANING_SPECS[name]

    def fn(col: Column) -> Column:
        for op in spec:
            col = _apply_op_spark(col, op)
        return col

    return fn


def clean_subtitles(col: Column) -> Column:
    """The full deterministic cleaning chain (``CLEAN_STEP_ORDER``) as one
    Column expression.

    Stays inside whole-stage codegen (pure regexp_replace/lower) — at 100 TB
    this is a map-only stage with zero shuffles and zero Python.
    """
    for s in CLEAN_STEP_ORDER:
        col = cleaning_fn(s)(col)
    return col


# --- DuckDB SQL builder (oracle parity) -------------------------------------


def _sql_quote(pattern: str) -> str:
    return "'" + pattern.replace("'", "''") + "'"


def _apply_op_sql(expr: str, op: Op) -> str:
    kind = op[0]
    if kind == "re":
        return f"regexp_replace({expr}, {_sql_quote(op[1])}, {_sql_quote(op[2])}, 'g')"
    if kind == "lower":
        return f"lower({expr})"
    if kind == "strip":
        return f"regexp_replace({expr}, {_sql_quote(_STRIP_RE)}, '', 'g')"
    if kind == "normlines":
        line = f"regexp_replace(regexp_replace(x, ' +', ' ', 'g'), {_sql_quote(_STRIP_RE)}, '', 'g')"
        # DuckDB's array_to_string([]) is NULL while Spark's array_join of
        # an empty array is '' — coalesce maps the wart back to '', and
        # the substr(expr,1,0) fallback ('' for non-NULL input, NULL for
        # NULL) preserves NULL-in -> NULL-out without tripling the nested
        # expression (r17 adversarial sweep)
        return (
            "coalesce(array_to_string(list_filter(list_transform("
            f"string_split({expr}, chr(10)), x -> {line}), x -> x <> ''), ' '), "
            f"substr({expr}, 1, 0))"
        )
    raise ValueError(f"unknown op {op!r}")


def cleaning_sql(name: str, expr: str) -> str:
    """DuckDB SQL expression applying one cleaning function to ``expr``."""
    for op in CLEANING_SPECS[name]:
        expr = _apply_op_sql(expr, op)
    return expr


def clean_subtitles_sql(expr: str) -> str:
    """DuckDB SQL expression for the full deterministic chain."""
    for s in CLEAN_STEP_ORDER:
        expr = cleaning_sql(s, expr)
    return expr
