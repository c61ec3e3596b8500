"""Logstash field-reference paths (``[a][b]``) compiled to Spark nested
struct reads and writes.

The reference's ``event.set("[a][b]", v)`` creates intermediate maps as
needed (single_value_update.rb:41-44; array_of_maps_value_update.rb:23-25
builds nested set paths the same way). Spark's analogue: read via chained
``getField`` / ``getItem``; write via ``withField`` chains that create or
replace struct levels. Only the bracket syntax triggers nesting — a bare
name (even one containing dots) stays a flat column, matching Logstash
where an un-bracketed name is a single top-level field.
"""

from __future__ import annotations

import re
from typing import List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BRACKETED = re.compile(r"^(\[[^\[\]]+\])+$")


def parse_path(name: str) -> List[str]:
    """``[a][b]`` → ["a", "b"]; anything else → [name] (flat)."""
    if _BRACKETED.match(name):
        return re.findall(r"\[([^\[\]]+)\]", name)
    return [name]


def _quote_top(seg: str) -> str:
    """Backtick-quote a top-level name containing dots (or backticks):
    a bracketed ``[a.b]`` segment is ONE literal field in Logstash, but a
    bare ``F.col("a.b")`` would parse the dot as struct nesting."""
    if "." in seg or "`" in seg:
        return "`" + seg.replace("`", "``") + "`"
    return seg


def path_col(path: List[str]) -> Column:
    """Read column for a parsed path; all-digit segments index into arrays
    (0-based, like Logstash field references)."""
    col = F.col(_quote_top(path[0]))
    for seg in path[1:]:
        if seg.isdigit():
            col = F.try_element_at(col, F.lit(int(seg) + 1))
        else:
            col = col.getField(seg)
    return col


def path_type(schema: T.StructType, path: List[str]) -> Optional[T.DataType]:
    """The DataType at ``path``, or None when any level is absent (also
    None when a non-struct blocks the way)."""
    cur: T.DataType = schema
    for seg in path:
        if isinstance(cur, T.StructType):
            names = {f.name: f.dataType for f in cur.fields}
            if seg not in names:
                return None
            cur = names[seg]
        elif isinstance(cur, T.ArrayType) and seg.isdigit():
            cur = cur.elementType
        else:
            return None
    return cur


def with_path(df: DataFrame, path: List[str], value: Column) -> DataFrame:
    """Write ``value`` at ``path``, creating struct levels that don't exist
    and replacing non-struct values that block the way (event.set
    semantics, single_value_update.rb:41-44).

    Literal array-index segments (``[a][0][b]``) write through an EXISTING
    ``array<...>`` level via ``F.transform`` with a position guard — the
    columnar analogue of the reference's in-place Ruby array mutation
    (array_of_maps_value_update.rb:23-25). A digit segment with no array at
    that level raises at plan time; an in-bounds row is rewritten, a NULL
    array stays NULL, and an out-of-bounds index raises a clear runtime
    error (``raise_error``) instead of silently dropping the write."""
    top = path[0]
    if len(path) == 1:
        return df.withColumn(top, value)
    top_type = path_type(df.schema, [top])
    base = (
        F.col(top)
        if isinstance(top_type, (T.StructType, T.ArrayType))
        else None
    )
    return df.withColumn(
        top, _nest(base, top_type, path[1:], value)
    )


def _nest(
    col: Optional[Column],
    ctype: Optional[T.DataType],
    rest: List[str],
    value: Column,
) -> Column:
    name = rest[0]
    if name.isdigit():
        return _nest_index(col, ctype, int(name), rest[1:], value)
    if len(rest) == 1:
        inner = value
    else:
        child_col: Optional[Column] = None
        child_type: Optional[T.DataType] = None
        if isinstance(ctype, T.StructType) and name in ctype.fieldNames():
            ct = ctype[name].dataType
            if isinstance(ct, (T.StructType, T.ArrayType)) and col is not None:
                child_col, child_type = col.getField(name), ct
        inner = _nest(child_col, child_type, rest[1:], value)
    if col is None or not isinstance(ctype, T.StructType):
        return F.struct(inner.alias(name))
    return col.withField(name, inner)


def _nest_index(
    col: Optional[Column],
    ctype: Optional[T.DataType],
    idx: int,
    rest: List[str],
    value: Column,
) -> Column:
    """Write at literal index ``idx`` of an existing array level: rebuild
    the array with ``transform`` replacing only the matching position.
    The position-guarded lambda is interpreted (not codegen) — acceptable
    for this rarely-hit write shape; the common flat/struct targets stay
    on the codegen path."""
    if idx < 0:
        raise ValueError(f"negative array index [{idx}] in target path")
    if col is None or not isinstance(ctype, T.ArrayType):
        raise ValueError(
            f"cannot write through array index [{idx}]: no array<...> "
            "column exists at this path level (the reference mutates an "
            "existing Ruby array in place; creating arrays implicitly is "
            "not supported)"
        )
    elem_t = ctype.elementType

    def new_elem(x: Column) -> Column:
        if not rest:
            return value
        et = elem_t if isinstance(elem_t, (T.StructType, T.ArrayType)) else None
        return _nest(x if et is not None else None, et, rest, value)

    transformed = F.transform(
        col, lambda x, i: F.when(i == idx, new_elem(x)).otherwise(x)
    )
    err = F.raise_error(
        F.concat(
            F.lit(f"array index [{idx}] out of bounds for target path: size="),
            F.size(col).cast("string"),
        )
    )
    return F.when(col.isNull() | (F.size(col) > idx), transformed).otherwise(err)
