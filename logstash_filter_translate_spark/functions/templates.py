"""Logstash ``%{field}`` sprintf templates compiled to Column expressions.

Reference behavior (event.sprintf, used by the fallback option,
lib/logstash/filters/single_value_update.rb:42-44 and
translate_spec.rb:191-207): ``%{name}`` splices the event field's value;
when the field is missing the literal ``%{name}`` text is left in place.
``%{+FORMAT}`` formats the event timestamp with a Joda-style pattern
(``%{+YYYY.MM.dd}`` — the reference's Event#sprintf grammar), and the
special ``%{+%s}`` splices epoch seconds; here the designated timestamp
column (``TranslateConfig.ts_field``, default ``warc_ts``, the corpus's
event time) plays @timestamp's role and the pattern compiles to JVM-side
``date_format``.

Compiled once at plan time into ``concat`` of literals and
``coalesce(cast(col as string), lit('%{name}'))`` pieces — a pure Catalyst
projection, no per-row Python.
"""

from __future__ import annotations

import re
from typing import List

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .paths import parse_path, path_col, path_type

_FIELD_REF = re.compile(r"%\{([^}]+)\}")


#: Joda letters that are shared grammar with Spark's DateTimeFormatter and
#: execute directly inside ``date_format`` (Joda ``Y`` year-of-era is also
#: fine — it rewrites to Java ``y``; Java's own ``Y`` is week-based and
#: BANNED by Spark >= 3.0, see _joda_computed)
_JODA_PASSTHROUGH = frozenset("GyDMdEaKhHkmsSzZ")
#: Joda week-based / era tokens Spark's formatter refuses
#: (SparkUpgradeException on Y/w/W/u/e/c since Spark 3.0) — compiled to
#: field-extraction expressions instead of format letters
_JODA_COMPUTED = frozenset("xweC")


def _tokenize_joda(pattern: str):
    """Split a Joda pattern into ('lit', text) quoted-literal segments,
    ('run', letter, count) letter runs, and ('sep', char) punctuation."""
    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "'":
            # quoted literal: verbatim through the closing quote
            # (an embedded '' is an escaped quote, not a terminator)
            j = i + 1
            while j < n:
                if pattern[j] == "'":
                    if j + 1 < n and pattern[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            yield ("lit", pattern[i : j + 1])
            i = j + 1
        elif c.isalpha():
            j = i
            while j < n and pattern[j] == c:
                j += 1
            yield ("run", c, j - i)
            i = j
        else:
            yield ("sep", c)
            i += 1


def _weekyear(ts: Column) -> Column:
    """ISO week-based year (Joda ``x``): the year that owns the row's ISO
    week — Dec 29-31 can belong to next year's week 1, Jan 1-3 to the
    previous year's week 52/53. ``weekofyear`` is ISO in both Joda and
    Spark, so the ownership correction is exactly the two edge cases."""
    w = F.weekofyear(ts)
    return (
        F.year(ts)
        + F.when((F.month(ts) == 12) & (w == 1), 1).otherwise(0)
        - F.when((F.month(ts) == 1) & (w >= 52), 1).otherwise(0)
    )


def _joda_computed(letter: str, runlen: int, ts: Column) -> Column:
    """One Joda week/era token → a zero-padded string expression. Spark
    bans the week-based format letters outright (date_format with
    ``'ww'``/``'YYYY'``-as-weekyear throws SparkUpgradeException on this
    Spark 4.1 session), so these fields come from extraction functions."""
    if letter == "x":  # weekyear; 'xx' = last two digits (Joda short form)
        val = _weekyear(ts)
        if runlen == 2:
            val = F.pmod(val, F.lit(100))
    elif letter == "w":  # week of weekyear (ISO)
        val = F.weekofyear(ts)
    elif letter == "e":  # day of week, ISO numbering Mon=1..Sun=7
        val = F.weekday(ts) + 1
    else:  # "C": century of era
        val = F.floor(F.year(ts) / 100)
    if runlen > 1:
        # Joda run length = MINIMUM digits (zero-padded, never truncated)
        return F.format_string(f"%0{runlen}d", val.cast("long"))
    return val.cast("string")


def _compile_joda(pattern: str, ts: Column) -> Column:
    """Compile a Joda pattern to a Column: maximal ``date_format`` chunks
    for shared-grammar letters, expression pieces for the week-based
    tokens Spark's formatter bans. Unknown letters raise at PLAN time
    (Spark would otherwise throw per-task at execution)."""
    pieces: List[Column] = []
    buf: List[str] = []  # pending date_format chunk

    def flush():
        if buf:
            pieces.append(F.date_format(ts, "".join(buf)))
            buf.clear()

    for tok in _tokenize_joda(pattern):
        if tok[0] == "run":
            letter, count = tok[1], tok[2]
            if letter == "Y":  # Joda year-of-era → Java 'y' (Java 'Y' is
                buf.append("y" * count)  # week-based and banned)
            elif letter in _JODA_PASSTHROUGH:
                buf.append(letter * count)
            elif letter in _JODA_COMPUTED:
                flush()
                pieces.append(_joda_computed(letter, count, ts))
            else:
                raise ValueError(
                    f"unsupported Joda pattern letter {letter!r} in "
                    f"%{{+{pattern}}} (supported: "
                    f"{''.join(sorted(_JODA_PASSTHROUGH))} Y "
                    f"{''.join(sorted(_JODA_COMPUTED))} and 'quoted' text)"
                )
        else:  # 'lit' quoted text / 'sep' punctuation: both are valid
            buf.append(tok[1])  # date_format pattern content verbatim
    flush()
    body = pieces[0] if len(pieces) == 1 else F.concat(*pieces)
    # uniform NULL semantics: NULL timestamp → NULL (concat of computed
    # pieces already NULL-propagates; this also covers all-literal patterns)
    return F.when(ts.isNotNull(), body)


def _time_ref_column(pattern: str, ts_col: str, literal: str) -> Column:
    """``%{+FORMAT}`` → Joda-pattern formatting over the designated
    timestamp column; ``%{+%s}`` → epoch seconds (the reference's special
    case). NULL timestamp degrades to the literal text, same as a missing
    field."""
    if pattern == "%s":
        formatted = F.unix_timestamp(F.col(ts_col)).cast("string")
    else:
        formatted = _compile_joda(pattern, F.col(ts_col))
    return F.coalesce(formatted, F.lit(literal))


def _field_to_column(name: str) -> Column:
    """Field reference → read column, via the canonical path machinery
    (functions/paths.py), never a dotted string: ``F.col("a.b")`` breaks
    array-index refs (``[tags][0]`` would become field '0' of an array),
    dotted bracketed segments (``[a.b]`` is ONE literal field in
    Logstash), and dotted bare names."""
    return path_col(parse_path(name))


def compile_sprintf(template: str, ts_col: str, schema: T.StructType) -> Column:
    """Compile a sprintf template to a Column over a frame of ``schema``.

    A reference whose FULL nested path is absent from ``schema`` resolves
    to the literal ``%{name}`` (Logstash leaves missing fields un-spliced)
    instead of an AnalysisException: ``%{[a][missing]}`` with column ``a``
    present degrades too, which a top-level-only check cannot see.
    ``%{+FORMAT}`` time references format ``ts_col`` (the frame's
    event-time column); they too degrade to the literal when that column
    is absent.
    """
    pieces: List[Column] = []
    pos = 0
    for m in _FIELD_REF.finditer(template):
        if m.start() > pos:
            pieces.append(F.lit(template[pos : m.start()]))
        name = m.group(1)
        if name.startswith("+"):
            if ts_col not in schema.names:
                pieces.append(F.lit(m.group(0)))
            else:
                pieces.append(_time_ref_column(name[1:], ts_col, m.group(0)))
        elif path_type(schema, parse_path(name)) is None:
            pieces.append(F.lit(m.group(0)))
        else:
            pieces.append(
                F.coalesce(
                    _field_to_column(name).cast("string"), F.lit(m.group(0))
                )
            )
        pos = m.end()
    if pos < len(template):
        pieces.append(F.lit(template[pos:]))
    if not pieces:
        return F.lit("")
    if len(pieces) == 1:
        return pieces[0]
    return F.concat(*pieces)
