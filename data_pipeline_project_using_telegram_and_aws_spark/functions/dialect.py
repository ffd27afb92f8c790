"""Presto/Athena SQL → Spark SQL text translation.

The reference declares its analytics as Athena (Presto-dialect) SQL. Spark
SQL accepts almost all of it verbatim; the three real divergences
(SURVEY.md §7 risk 1) are rewritten here so the *reference query texts*
run unchanged on this engine:

- ``date_format(ts, '%Y-…')`` MySQL patterns → JDK patterns.
- ``EXTRACT(dow FROM x)`` Presto ISO numbering (1=Mon..7=Sun) → Spark
  expression ``(weekday(x) + 1)``.
- ``EXTRACT(week FROM x)`` → ``weekofyear(x)``.
- ``CAST(AVG(x) AS INT)``: Presto's double→int cast *rounds* to nearest,
  Spark's *truncates* toward zero → rewritten to ``CAST(ROUND(AVG(x)) AS
  INT)`` (reference usage at ipynb:896).

- one-argument ``from_unixtime(x)``: Presto returns a timestamp, Spark a
  string rendered in the session zone → ``timestamp_seconds(x)``, the
  same mapping as ``datetime_shims.from_unixtime_ts``. The reference wraps
  it in ``date_format → CAST(AS timestamp)`` (ipynb:935); the Spark string
  form made that a second render/parse round trip per row, with the same
  answer, because parsing a rendered string and rendering it again gives
  that string back, DST overlaps included. The two-argument (format) form
  is left alone.

:func:`ordered_outer_select` is a text helper for callers that hint the
outermost query block (``plans/telegram_queries.py``).

This is a pragmatic regex translator scoped to the constructs the
reference uses — not a general SQL transpiler.
"""

from __future__ import annotations

import re

from .datetime_shims import translate_mysql_datetime_pattern

_DATE_FORMAT_RE = re.compile(r"date_format\s*\(([^,]+),\s*'([^']*)'\s*\)", re.IGNORECASE)
_EXTRACT_RE = re.compile(r"extract\s*\(\s*(\w+)\s+from\s+([^)]+)\)", re.IGNORECASE)
# the AVG argument may itself contain nested calls — the reference's own
# text is CAST(AVG(length(text)) AS INT) (ipynb:896). A fixed-depth regex
# here silently left deeper nestings untranslated (Spark then truncates
# where Presto rounds — caught by tests/test_sql_parity.py, invisible to
# golden corpora whose averages are whole numbers), so the rewrite walks
# the parens to ANY depth and raises on text it cannot parse rather than
# passing it through (round-5 ADVICE).
_CAST_AVG_OPEN_RE = re.compile(r"cast\s*\(\s*(avg\s*\()", re.IGNORECASE)
_FROM_UNIXTIME_OPEN_RE = re.compile(r"\bfrom_unixtime(\s*\()", re.IGNORECASE)
# a top-level ORDER BY that ends the text, and the SELECT keyword
_TRAILING_ORDER_BY_RE = re.compile(r"\border\s+by\b[^()]*$", re.IGNORECASE)
_SELECT_RE = re.compile(r"\bselect\b", re.IGNORECASE)


def _call_end(sql: str, start: int, j: int) -> tuple[int, list[int]]:
    """Walk a call's arguments from ``j``, just past its ``(``, to just past
    the matching ``)``, across any nesting. Returns that index and the
    positions of the call's top-level commas; raises on unbalanced
    parentheses, quoting ``sql`` from ``start``."""
    depth, commas = 1, []
    while j < len(sql) and depth:
        if sql[j] == "(":
            depth += 1
        elif sql[j] == ")":
            depth -= 1
        elif sql[j] == "," and depth == 1:
            commas.append(j)
        j += 1
    if depth:
        raise ValueError(
            "presto_to_spark_sql: unbalanced parentheses in "
            f"{sql[start:start + 80]!r}"
        )
    return j, commas


def _rewrite_from_unixtime(sql: str) -> str:
    """Rename every one-argument ``from_unixtime(x)`` to
    ``timestamp_seconds(x)``; the call's parens and argument are kept, so
    a nested call is renamed in turn. The two-argument form passes
    through."""
    out: list[str] = []
    i = 0
    for m in _FROM_UNIXTIME_OPEN_RE.finditer(sql):
        _, commas = _call_end(sql, m.start(), m.end())
        if not commas:
            out.append(sql[i:m.start()] + "timestamp_seconds")
            i = m.start(1)
    out.append(sql[i:])
    return "".join(out)


def ordered_outer_select(sql: str) -> int | None:
    """The index just past the last ``SELECT`` keyword when the text ends
    in an ``ORDER BY`` outside parentheses; ``None`` otherwise. Scoped to
    the reference texts, whose outermost block is their last ``SELECT``
    (CTE bodies come first) and none of which has a set operation, a
    comment or a ``LIMIT`` after its ``ORDER BY``."""
    selects = list(_SELECT_RE.finditer(sql))
    if not selects or not _TRAILING_ORDER_BY_RE.search(sql):
        return None
    return selects[-1].end()


def _rewrite_cast_avg_int(sql: str) -> str:
    """Rewrite every ``CAST(AVG(…) AS INT)`` — the AVG argument balanced
    across arbitrary nesting — to ``CAST(ROUND(AVG(…)) AS INT)``.
    ``CAST(AVG(…) AS <other type>)`` has no round-vs-truncate divergence
    and passes through unchanged; anything that *starts* like the
    pattern but cannot be parsed (unbalanced parens, malformed cast
    tail) raises instead of silently mistranslating."""
    out: list[str] = []
    i = 0
    while True:
        m = _CAST_AVG_OPEN_RE.search(sql, i)
        if not m:
            out.append(sql[i:])
            return "".join(out)
        j, _ = _call_end(sql, m.start(), m.end())
        avg_expr = sql[m.start(1):j]  # the balanced 'AVG( … )' call
        tail = re.match(r"\s+as\s+int(?:eger)?\s*\)", sql[j:], re.IGNORECASE)
        out.append(sql[i:m.start()])
        if tail is not None:
            out.append(f"CAST(ROUND({avg_expr}) AS INT)")
            i = j + tail.end()
            continue
        other = re.match(r"\s+as\s+\w+(\s*\(\s*\d+(\s*,\s*\d+)?\s*\))?\s*\)",
                         sql[j:], re.IGNORECASE)
        if other is None:
            raise ValueError(
                "presto_to_spark_sql: cannot parse CAST(AVG…) tail in "
                f"{sql[m.start():m.start() + 80]!r}"
            )
        out.append(sql[m.start():j + other.end()])
        i = j + other.end()


def presto_to_spark_sql(sql: str) -> str:
    def _fmt(m: re.Match) -> str:
        jdk = translate_mysql_datetime_pattern(m.group(2))
        return f"date_format({m.group(1)}, '{jdk}')"

    def _extract(m: re.Match) -> str:
        unit, expr = m.group(1).lower(), m.group(2).strip()
        if unit == "dow":
            return f"(weekday({expr}) + 1)"
        if unit == "week":
            return f"weekofyear({expr})"
        return f"extract({m.group(1)} FROM {expr})"

    sql = _DATE_FORMAT_RE.sub(_fmt, sql)
    sql = _EXTRACT_RE.sub(_extract, sql)
    sql = _rewrite_cast_avg_int(sql)
    sql = _rewrite_from_unixtime(sql)
    return sql
