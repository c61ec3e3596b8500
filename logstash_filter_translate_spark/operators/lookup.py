"""Lookup (fetch) strategies: exact, ordered first-match regex, union-regex
substitution — the three modes of the reference
(lib/logstash/filters/fetch_strategy/memory.rb:4-49).

The probe contract
------------------
Every strategy answers a lookup with a :class:`Probe` of plain Columns
``(matched, value, key, error)``; ``error`` is None where a plane cannot
fail per row. The updaters in ``operators/translate.py`` consume only this
contract, one body per updater shape:

* ``probe(x)`` — elementwise planes (the plan-embedded, hash-bucketed map
  literal and the union ``replace`` chain): a pure Column expression
  of one string key, usable inside ``transform`` lambdas with no
  per-element struct.
* ``probe_frame(df, key)`` — a scalar key, a column of ``df``: returns the
  frame (with any stashed temp columns, or the broadcast join) and its
  Probe.
* ``probe_each(df, keys, row_key)`` — an array of keys: returns the frame
  and ``each(x, i)``, the Probe of element ``i`` (value ``x``). Elementwise
  planes probe ``x`` in place; the Arrow UDF plane reads the ``i``-th
  struct of a result array aligned with ``keys``; the join plane reads the
  ``i``-th struct of an array it joins back on ``row_key`` (a column that
  identifies each row; the other planes ignore it).

:func:`build_strategy` picks the exact plane by dictionary size. Up to
``MAP_LITERAL_MAX_ENTRIES`` entries it is the bucketed map literal, whose
probe cost is one short bucket whatever the size. Only above that does the
exact join plane (:class:`ExactJoin`) run, which has no per-element form:
its scalar probe is a left-outer broadcast hash join (whole-stage codegen,
no Python), and its array probe is posexplode → join → position-sorted
collect_list, joined back on the row.

Regex / union semantics genuinely need per-row regex engines, so they share
one Arrow-vectorized pandas-UDF wrapper (:func:`_arrow_udfs`) that looks up
each distinct value once per Arrow batch. The (pattern, value) table ships
as strings and is compiled per batch inside the UDF closure, because
compiled patterns don't pickle (the reference precompiles per reload —
fetch_strategy/file.rb:34-40). Each regex pattern carries a plan-time
:func:`required_literal`; the ordered scan searches only the patterns
whose literal the value contains (or that have none).
"""

from __future__ import annotations

import json
import re
import zlib
from re import _constants, _parser
from typing import Any, Callable, List, NamedTuple, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

Pairs = Sequence[Tuple[str, Any]]

#: above this many entries the exact strategy switches from the bucketed
#: map literal to a broadcast hash join (join plane). Measured with
#: tools/microbench_exact.py (local[4]): the literal wins at 20k entries,
#: at 32k it still wins scalar probes and ties iterate_on, and at 50k it
#: loses, since even at a fixed bucket size its cost grows with the
#: dictionary.
MAP_LITERAL_MAX_ENTRIES = 32768

#: keys per bucket of the map literal; each probe scans one bucket. 8 was
#: the fastest of 4/8/16/32 in the same measurement.
BUCKET_KEYS = 8

#: temp columns a probe may add to the frame; the caller drops them
VALUE_COL = "__lfts_val"
RES_COL = "__lfts_res"
DICT_KEY = "__lfts_k"
DICT_VALUE = "__lfts_v"
ROW_ID = "__lfts_row_id"
TEMP_COLS = (VALUE_COL, RES_COL, DICT_KEY, DICT_VALUE, ROW_ID)


class Probe(NamedTuple):
    """One lookup's outcome. ``value`` and ``key`` are meaningful only
    where ``matched``; ``error`` is None for planes that cannot fail."""

    matched: Column
    value: Column
    key: Column
    error: Optional[Column] = None


def _struct_probe(s: Column) -> Probe:
    """Probe view of a ``lookup_result_type`` struct (Arrow UDF planes)."""
    return Probe(s["matched"], s["value"], s["key"], s["error"])


def ruby_to_s(value: Any) -> str:
    """Ruby-ish ``to_s`` for dictionary values/keys (bool -> true/false,
    None -> "")."""
    if value is None:
        return ""
    if value is True:
        return "true"
    if value is False:
        return "false"
    return str(value)


def _scalar_kind(v: Any) -> str:
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, str):
        return "str"
    return "nested"


_SCALAR_TYPES = {
    "str": T.StringType(),
    "bool": T.BooleanType(),
    "int": T.LongType(),
    "float": T.DoubleType(),
}


def _uniform_list_type(pairs: Pairs) -> Optional[T.DataType]:
    """ArrayType(elem) when every non-None value is a list whose non-None
    elements share one scalar kind (int+float widens to double); else None."""
    elem_kinds = set()
    for _, v in pairs:
        if v is None:
            continue
        if not isinstance(v, (list, tuple)):
            return None
        for e in v:
            if e is None:
                continue
            k = _scalar_kind(e)
            if k == "nested":
                return None
            elem_kinds.add(k)
    if not elem_kinds or elem_kinds == {"str"}:
        return T.ArrayType(T.StringType())
    if len(elem_kinds) == 1:
        return T.ArrayType(_SCALAR_TYPES[next(iter(elem_kinds))])
    if elem_kinds <= {"int", "float"}:
        return T.ArrayType(T.DoubleType())
    return None


def infer_value_type(
    pairs: Pairs, nested: str = "json"
) -> Tuple[T.DataType, Callable[[Any], Any]]:
    """Infer a single Spark type for the dictionary's value column.

    Returns (spark_type, python_converter).
    Homogeneous scalar types map directly (CSV stays string, JSON ints stay
    long — translate_spec.rb:359-379). Non-uniform or nested values:

      nested="json"  → carried as JSON strings (legacy deviation);
      nested="typed" → type-faithful: uniform lists become a real
        ``array<elem>`` column, anything else becomes a VARIANT column
        (Spark 4's schemaless value type — ``translation.e[1]`` style access
        works via variant_get, matching the reference's type fidelity for
        nested dictionary values, translate_spec.rb:237-240). The converter
        still yields JSON text for variants; the strategies wrap it in
        ``parse_json`` at plan time.
    """
    kinds = {
        _scalar_kind(v) for _, v in pairs if v is not None
    }
    if not kinds or kinds == {"str"}:
        return T.StringType(), lambda v: v
    if kinds == {"bool"}:
        return T.BooleanType(), lambda v: v
    if kinds == {"int"}:
        return T.LongType(), lambda v: v
    if kinds <= {"int", "float"}:
        return T.DoubleType(), lambda v: float(v) if v is not None else None
    if nested == "typed":
        arr = _uniform_list_type(pairs)
        if arr is not None:
            if isinstance(arr.elementType, T.DoubleType):
                # mixed int/float lists widen to array<double>; Python ints
                # must be coerced or createDataFrame's schema verification
                # rejects them at plan time
                return arr, lambda v: (
                    [None if e is None else float(e) for e in v]
                    if v is not None
                    else None
                )
            return arr, lambda v: list(v) if v is not None else None
        return T.VariantType(), _to_json
    return T.StringType(), _to_json


def _to_json(v: Any) -> Optional[str]:
    return json.dumps(v, ensure_ascii=False) if v is not None else None


def lookup_result_type(value_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("matched", T.BooleanType()),
            T.StructField("value", value_type),
            T.StructField("key", T.StringType()),
            T.StructField("error", T.StringType()),
        ]
    )


#: a miss, and the result of every null key: (matched, value, key, error)
_MISS = (False, None, None, None)


def _arrow_udfs(value_type: T.DataType, build: Callable[[], Any], lookup_one):
    """The Arrow UDF plane shared by regex and union: a scalar UDF and an
    array UDF (``iterate_on``) applying ``lookup_one(key, state)`` once to
    each distinct non-null key of an Arrow batch (for ``iterate_on``, of the
    batch's flattened elements), with ``state = build()`` made once per
    batch. ``lookup_one`` is deterministic per key, so every row holding a
    key gets that key's result. It returns ``(value, matched_key)`` or None
    for a miss; an exception inside it is contained to the rows holding
    that key as ``error`` (translate.rb:266-270). Both UDFs return
    ``lookup_result_type``."""
    result_type = lookup_result_type(value_type)
    fields = result_type.fieldNames()

    def guarded(s, state):
        try:
            hit = lookup_one(s, state)
        except Exception as exc:
            return (False, None, None, f"{type(exc).__name__}: {exc}")
        if hit is None:
            return _MISS
        return (True, hit[0], hit[1], None)

    def lookup_distinct(keys: pd.Series):
        """``(codes, results)``: the result of ``keys[i]`` is
        ``results[codes[i]]``. Null keys get pandas' code -1, which picks
        the miss appended last."""
        codes, uniques = pd.factorize(keys)
        state = build()
        return codes, [guarded(u, state) for u in uniques] + [_MISS]

    def take(values, codes):
        return pd.Series(values, dtype=object).to_numpy()[codes]

    @pandas_udf(result_type)
    def scalar(col: pd.Series) -> pd.DataFrame:
        codes, results = lookup_distinct(col)
        return pd.DataFrame({f: take(c, codes) for f, c in zip(fields, zip(*results))})

    @pandas_udf(T.ArrayType(result_type))
    def array(col: pd.Series) -> pd.Series:
        flat = [
            None if x is None else str(x)
            for arr in col
            if arr is not None
            for x in arr
        ]
        codes, results = lookup_distinct(pd.Series(flat, dtype=object))
        structs = take([dict(zip(fields, r)) for r in results], codes)
        out, pos = [], 0
        for arr in col:
            if arr is None:
                out.append(None)
            else:
                out.append(list(structs[pos : pos + len(arr)]))
                pos += len(arr)
        return pd.Series(out)

    return scalar, array


class LookupStrategy:
    """Base of the probe contract (module docstring). ``value_type``
    describes the value column. The defaults suit an elementwise plane,
    which only implements ``probe``."""

    value_type: T.DataType

    def probe(self, x: Column) -> Probe:
        raise NotImplementedError(f"{type(self).__name__} has no elementwise probe")

    def probe_frame(self, df: DataFrame, key: Column) -> Tuple[DataFrame, Probe]:
        return df, self.probe(key)

    def probe_each(
        self, df: DataFrame, keys: Column, row_key: Optional[str] = None
    ) -> Tuple[DataFrame, Callable[[Column, Column], Probe]]:
        return df, lambda x, i: self.probe(x)

    def keyed(self) -> "LookupStrategy":
        """The strategy to probe with when the caller records the matched
        key (every plane but :class:`UnionReplaceChain` can report it)."""
        return self


class _ArrowUdfPlane(LookupStrategy):
    """Probes through the ``_scalar_udf`` / ``_array_udf`` pair built by
    :func:`_arrow_udfs`; the result struct (array) lands in ``RES_COL``."""

    def probe_frame(self, df: DataFrame, key: Column) -> Tuple[DataFrame, Probe]:
        df = df.withColumn(RES_COL, self._scalar_udf(key))
        return df, _struct_probe(F.col(RES_COL))

    def probe_each(self, df: DataFrame, keys: Column, row_key: Optional[str] = None):
        df = df.withColumn(RES_COL, self._array_udf(keys))
        return df, lambda x, i: _struct_probe(F.get(F.col(RES_COL), i))


# ---------------------------------------------------------------------------
# O1 — exact match
# ---------------------------------------------------------------------------

class ExactMapLiteral(LookupStrategy):
    """Exact hash probe on a plan-embedded, hash-bucketed map literal —
    Catalyst evaluates it in codegen; zero Python
    (fetch_strategy/memory.rb:4-16).

    The deduplicated keys are split into ``ceil(n / BUCKET_KEYS)`` buckets
    by the CRC-32 of their UTF-8 bytes, and the bucket array is one
    ``from_json`` of one JSON text, which Catalyst constant-folds into a
    single ``array<map<string, T>>`` literal. A probe reads
    ``element_at(get(buckets, crc32(x) % B), x)``: ``element_at`` scans a
    map linearly, so bucketing bounds each probe to one short bucket.
    Spark's ``crc32`` of a string is the CRC-32 of its UTF-8 bytes, the
    same function as :func:`zlib.crc32`, so plan construction and the
    executors place every key in the same bucket.
    """

    def __init__(self, pairs: Pairs, nested: str = "json"):
        self.value_type, conv = infer_value_type(pairs, nested)
        if isinstance(self.value_type, T.VariantType):
            # the converter yields JSON text; embed the value itself so
            # from_json builds a real VARIANT (variant_get works on it)
            conv = lambda v: v  # noqa: E731
        # last occurrence wins, like Hash#[]= on duplicate keys
        dedup = {str(k): conv(v) for k, v in pairs}
        _check_int64(self.value_type, dedup.values())
        #: when no value is NULL, `element_at IS NOT NULL` ⇔ matched — one
        #: map probe instead of two
        self._has_null_values = any(v is None for v in dedup.values())
        self._n_buckets = max(1, -(-len(dedup) // BUCKET_KEYS))
        buckets: List[dict] = [{} for _ in range(self._n_buckets)]
        for k, v in dedup.items():
            buckets[bucket_of(k, self._n_buckets)][k] = v
        schema = T.ArrayType(T.MapType(T.StringType(), self.value_type))
        # FAILFAST: a value the schema cannot hold raises instead of
        # nulling the whole array (every key would then miss silently)
        self._buckets = (
            F.from_json(
                F.lit(json.dumps(buckets, ensure_ascii=False)),
                schema,
                {"mode": "FAILFAST"},
            )
            if dedup
            else None
        )

    def _bucket(self, k: Column) -> Column:
        if self._n_buckets == 1:
            return F.get(self._buckets, 0)
        return F.get(self._buckets, (F.crc32(k) % self._n_buckets).cast("int"))

    def _value(self, x: Column) -> Column:
        k = F.coalesce(x, F.lit(""))
        v = F.element_at(self._bucket(k), k)
        if self._has_null_values and isinstance(self.value_type, T.VariantType):
            # from_json reads a JSON null map value as a variant null; the
            # dictionary's None is SQL NULL on every other plane
            return F.when(~F.is_variant_null(v), v)
        return v

    def _probe(self, x: Column, value: Column) -> Probe:
        if self._has_null_values:
            matched = F.when(
                x.isNotNull(), F.map_contains_key(self._bucket(x), x)
            ).otherwise(F.lit(False))
        else:
            matched = x.isNotNull() & value.isNotNull()
        return Probe(matched, value, x)

    def probe(self, x: Column) -> Probe:
        if self._buckets is None:
            return Probe(F.lit(False), F.lit(None).cast(self.value_type), x)
        return self._probe(x, self._value(x))

    def probe_frame(self, df: DataFrame, key: Column) -> Tuple[DataFrame, Probe]:
        if self._buckets is None:
            return df, self.probe(key)
        # stash the value once; matched derives from it, so each row
        # probes the map once
        df = df.withColumn(VALUE_COL, self._value(key))
        return df, self._probe(key, F.col(VALUE_COL))


def bucket_of(key: str, n_buckets: int) -> int:
    """The map-literal bucket of ``key``: CRC-32 of its UTF-8 bytes, the
    value Spark's ``crc32`` computes for the same string."""
    return zlib.crc32(key.encode("utf-8")) % n_buckets


def _check_int64(value_type: T.DataType, values) -> None:
    """Reject, at plan time, an integer a bigint column cannot hold."""
    nested = isinstance(value_type, T.ArrayType)
    if not isinstance(value_type.elementType if nested else value_type, T.LongType):
        return
    for v in values:
        for e in (v or ()) if nested else (v,):
            if e is not None and not -(2**63) <= e < 2**63:
                raise ValueError(
                    f"dictionary value {e} does not fit a bigint (int64)"
                )


def pairs_frame(spark, pairs: Pairs, nested: str) -> DataFrame:
    """The (``DICT_KEY``, ``DICT_VALUE``) frame of an in-memory dictionary;
    the last occurrence of a key wins, like Hash#[]= on duplicate keys."""
    value_type, conv = infer_value_type(pairs, nested)
    dedup = {str(k): conv(v) for k, v in pairs}
    is_variant = isinstance(value_type, T.VariantType)
    schema = T.StructType(
        [
            T.StructField(DICT_KEY, T.StringType(), False),
            T.StructField(
                DICT_VALUE, T.StringType() if is_variant else value_type, True
            ),
        ]
    )
    frame = spark.createDataFrame([(k, v) for k, v in dedup.items()], schema=schema)
    if is_variant:
        # ship JSON text, parse to VARIANT plan-side (VariantVal rows
        # aren't constructible from Python)
        frame = frame.select(DICT_KEY, F.parse_json(DICT_VALUE).alias(DICT_VALUE))
    return frame


def table_frame(dict_df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """The (``DICT_KEY``, ``DICT_VALUE``) frame of a DICTIONARY TABLE — a
    (key, value) DataFrame instead of an in-memory pairs list: a
    parquet/Iceberg dimension or a derived frame, possibly too large to
    hold on the driver at all. Duplicate keys resolve deterministically
    (lowest value wins) to keep the one-value-per-key contract."""
    return (
        dict_df.select(
            F.col(key_col).cast("string").alias(DICT_KEY),
            F.col(value_col).alias(DICT_VALUE),
        )
        .groupBy(DICT_KEY)
        .agg(F.min(DICT_VALUE).alias(DICT_VALUE))
    )


class ExactJoin(LookupStrategy):
    """Exact probe as a join against a (``DICT_KEY``, ``DICT_VALUE``) frame
    (:func:`pairs_frame`, :func:`table_frame`) — the at-scale plane.

    ``broadcast``:
      * ``True`` (default) — a broadcast hash join (BroadcastHashJoinExec;
        no shuffle of the probe side, no skew exposure — hot keys cost
        nothing extra because the build side is replicated).
      * ``False`` — the dictionary is DECLARED beyond broadcast (fits no
        single machine): the dict side carries a merge join hint, so the
        pinned plan is a genuine shuffle (sort-merge) join at any data
        size — the plane a 10^9-entry dictionary runs, testable without
        materializing one. The hint survives AQE re-planning (verified
        in the pinned digest), exactly how a production job pins the
        strategy for a known-huge dimension whose size estimate can't be
        trusted not to OOM a broadcast.
    """

    def __init__(self, dict_df: DataFrame, broadcast: bool = True):
        self.value_type = dict_df.schema[DICT_VALUE].dataType
        self.broadcast = broadcast
        self.dict_df = dict_df if broadcast else dict_df.hint("merge")

    def _build_side(self) -> DataFrame:
        return F.broadcast(self.dict_df) if self.broadcast else self.dict_df

    def probe_frame(self, df: DataFrame, key: Column) -> Tuple[DataFrame, Probe]:
        """Left-outer join on the key: misses survive for the fallback
        path (O8)."""
        dim = self._build_side()
        joined = df.join(dim, key.eqNullSafe(dim[DICT_KEY]), "left")
        return joined, Probe(F.col(DICT_KEY).isNotNull(), F.col(DICT_VALUE), key)

    def probe_each(self, df: DataFrame, keys: Column, row_key: Optional[str] = None):
        """posexplode → join → collect_list(struct(pos, matched, value)) →
        array_sort, joined back on the row identity. Ordinals are restored
        by position, not by shuffle luck. The collected struct stays this
        narrow: it is what the shuffle and the aggregation buffers carry.

        ``row_key`` names a column that uniquely identifies each row (a
        natural key). It avoids both the synthetic-id determinism hazard
        (ids computed in two plan branches can diverge on non-deterministic
        scans / task retries) and the localCheckpoint materialization.
        Without it each row gets a ``monotonically_increasing_id`` over a
        lazy localCheckpoint, which pins the ids: the frame is referenced
        in two plan branches (explode side + join-back side), and the
        checkpoint makes the id assignment happen exactly once."""
        if row_key is not None:
            if row_key not in df.columns:
                raise ValueError(f"iterate_key column {row_key!r} not in DataFrame")
            base = df
        else:
            row_key = ROW_ID
            base = df.withColumn(ROW_ID, F.monotonically_increasing_id())
            base = base.localCheckpoint(eager=False)
        dim = self._build_side()
        ex = base.select(row_key, F.posexplode(keys).alias("__lfts_pos", "__lfts_elem"))
        probed = ex.join(dim, ex["__lfts_elem"].eqNullSafe(dim[DICT_KEY]), "left")
        agg = probed.groupBy(row_key).agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__lfts_pos").alias("pos"),
                        F.col(DICT_KEY).isNotNull().alias("matched"),
                        F.col(DICT_VALUE).alias("value"),
                    )
                )
            ).alias(RES_COL)
        )

        def each(x: Column, i: Column) -> Probe:
            s = F.get(F.col(RES_COL), i)
            return Probe(s["matched"], s["value"], x)

        # rows with empty arrays find no aggregate row: their NULL result
        # is never indexed
        return base.join(agg, row_key, "left"), each


# ---------------------------------------------------------------------------
# O2 — ordered first-match regex
# ---------------------------------------------------------------------------

def required_literal(pattern: str) -> Optional[str]:
    """The longest run of consecutive top-level literal characters of
    ``pattern``. Every match of the pattern contains it, so a value without
    it cannot match. None when there is no such run, when the pattern is
    case-insensitive or locale-dependent as a whole (its literals then
    match other spellings), or when it does not parse."""
    try:
        parsed = _parser.parse(pattern)
    except Exception:
        return None
    if parsed.state.flags & (re.IGNORECASE | re.LOCALE):
        return None
    best, run = "", ""
    for op, arg in parsed:
        run = run + chr(arg) if op is _constants.LITERAL else ""
        if len(run) > len(best):
            best = run
    return best or None


class RegexFirstMatch(_ArrowUdfPlane):
    """Probe each dictionary key as a regex **in insertion order**, first
    unanchored match wins (fetch_strategy/memory.rb:18-33: ordered ``detect``
    + ``source.match``). Arrow-vectorized pandas UDF (:func:`_arrow_udfs`:
    each distinct value once per batch); patterns are shipped as strings and
    compiled per batch.

    Each pattern carries its :func:`required_literal`, found at plan time;
    the ordered scan only searches a pattern whose literal is in the value
    (or that has none), which keeps dictionary order and the first match.
    No other screen runs: a value that matches nothing walks the whole
    scan.
    """

    def __init__(
        self,
        pairs: Pairs,
        fault_pattern: Optional[str] = None,
    ):
        #: ``fault_pattern``: deterministic fault injector for O10
        #: containment parity — rows whose key matches raise INSIDE the
        #: guarded per-row path, exactly how the reference's own spec
        #: exercises containment (translate_spec.rb:738-742 mocks the
        #: updater to raise; translate.rb:266-270 rescues and tags). The
        #: raise happens before any lookup so the row comes out
        #: unmatched + error → route='failed', pass-through unenriched.
        if fault_pattern is not None:
            re.compile(fault_pattern)  # fail fast at plan time
        self.value_type, conv = infer_value_type(pairs)
        table: List[Tuple[str, Any]] = [(str(k), conv(v)) for k, v in pairs]
        _check_int64(self.value_type, (v for _, v in table))
        # fail fast at plan time on invalid patterns (reference raises at
        # register when compiling — fetch_strategy/memory.rb:22)
        for k, _ in table:
            re.compile(k)
        literals = [required_literal(k) for k, _ in table]

        def build():
            compiled = [
                (re.compile(k), k, v, lit) for (k, v), lit in zip(table, literals)
            ]
            fault = re.compile(fault_pattern) if fault_pattern else None
            return compiled, fault

        def first_match(s, state):
            compiled, fault = state
            if fault is not None and fault.search(s):
                raise RuntimeError(
                    f"injected lookup fault for {s!r} "
                    "(translate_spec.rb:738-742 containment parity)"
                )
            for pat, raw_key, val, lit in compiled:
                if (lit is None or lit in s) and pat.search(s):
                    return val, raw_key
            return None

        self._scalar_udf, self._array_udf = _arrow_udfs(
            self.value_type, build, first_match
        )


# ---------------------------------------------------------------------------
# O3 — union-regex substitution
# ---------------------------------------------------------------------------

def _union_table(pairs: Pairs) -> List[Tuple[str, str]]:
    """Keys and values as strings: values are substituted into a string."""
    return [(str(k), ruby_to_s(v)) for k, v in pairs]


class UnionSubstitution(_ArrowUdfPlane):
    """``gsub(Regexp.union(keys), dict)``: single-pass replacement of every
    occurrence of every (literal-escaped) key, alternation in insertion
    order; miss ⇔ output == input (fetch_strategy/memory.rb:35-49).
    Values are coerced to strings (substitution into a string).

    The Arrow UDF plane, for any dictionary. :func:`build_strategy` picks
    :class:`UnionReplaceChain` instead when :func:`union_chain_safe`
    proves the chain equivalent."""

    def __init__(self, pairs: Pairs):
        self.value_type = T.StringType()
        table = _union_table(pairs)

        def build():
            if not table:
                return None, {}
            pat = re.compile("|".join(re.escape(k) for k, _ in table))
            return pat, dict(table)

        def substitute(s, state):
            pat, mapping = state
            if pat is None:
                return None
            first_key = []

            def repl(m):
                if not first_key:
                    first_key.append(m.group(0))
                return mapping[m.group(0)]

            out = pat.sub(repl, s)
            if out == s:  # miss ⇔ unchanged (memory.rb:43-44)
                return None
            return out, first_key[0]

        self._scalar_udf, self._array_udf = _arrow_udfs(
            self.value_type, build, substitute
        )


#: above this many keys the pairwise equivalence proof (O(n²·keylen)) is
#: too expensive at plan time AND the nested replace-chain expression tree
#: would be unreasonable — always use the Arrow UDF plane
NATIVE_MAX_KEYS = 64


def union_chain_safe(pairs: Pairs) -> bool:
    """True when a sequential JVM ``replace`` chain is provably
    equivalent to the single-pass union sub.

    Conditions (all rejections, conservative):
      - keys must not overlap each other in any text (no substring
        relations, no suffix-of-one == prefix-of-another) — otherwise
        pass order vs alternation order diverge;
      - no replacement VALUE may overlap any key in any way (key inside
        value, value inside key, value-suffix == key-prefix, key-suffix
        == value-prefix) — otherwise an inserted value can combine with
        adjacent original text to form a later key that the sequential
        chain replaces but the single-pass gsub (which never rescans
        replaced output) does not. Example: dict [("ab","c"),("cd","z")]
        on "abd" — chain gives "z", single-pass gives "cd".

    Then each source position is consumed by at most one key, replaced
    output can never re-trigger, and pass order cannot matter. The JVM
    plane keeps this hot path inside whole-stage codegen — the Arrow UDF
    plane is the fallback for interacting dictionaries (and for big
    dictionaries, where the pairwise proof itself would hang plan time).
    """
    table = _union_table(pairs)
    keys = [k for k, _ in table]
    vals = [v for _, v in table]
    if len(keys) > NATIVE_MAX_KEYS:
        return False
    if any(k == "" for k in keys):
        return False
    for i, a in enumerate(keys):
        for j, b in enumerate(keys):
            if i == j:
                continue
            if a in b:
                return False
            for cut in range(1, min(len(a), len(b))):
                if a[-cut:] == b[:cut]:
                    return False
    # an empty value DELETES the key, merging the adjacent original
    # texts — a later key can match across that junction without ever
    # overlapping the (empty) inserted value, so the boundary checks
    # below are blind to it; only a single-key dictionary is safe
    if any(v == "" for v in vals) and len(keys) > 1:
        return False
    for v in vals:
        if not v:
            continue
        for k in keys:
            if k in v or v in k:
                return False
            for cut in range(1, min(len(k), len(v))):
                if v[-cut:] == k[:cut]:  # value tail + original = key
                    return False
                if k[-cut:] == v[:cut]:  # original + value head = key
                    return False
    return True


class UnionReplaceChain(LookupStrategy):
    """The union substitution as an elementwise JVM ``replace`` chain, for
    dictionaries :func:`union_chain_safe` accepts: whole-stage codegen, no
    Python. The chain cannot report which key fired, so :meth:`keyed`
    hands key tracking to the Arrow UDF plane."""

    def __init__(self, pairs: Pairs):
        self.value_type = T.StringType()
        self._table = _union_table(pairs)

    def probe(self, x: Column) -> Probe:
        out = x
        for k, v in self._table:
            out = F.replace(out, F.lit(k), F.lit(v))
        return Probe(x.isNotNull() & (out != x), out, F.lit(None).cast("string"))

    def keyed(self) -> LookupStrategy:
        return UnionSubstitution(self._table)


def build_strategy(
    mode: str,
    pairs: Pairs,
    spark=None,
    nested: str = "json",
) -> LookupStrategy:
    """Pick the physical strategy for a logical mode.

    exact: the bucketed map literal up to ``MAP_LITERAL_MAX_ENTRIES``
    entries, the broadcast hash join above that (its dictionary frame is
    built on ``spark``, or on the active session when none is given).
    regex: the Arrow UDF plane. union: the JVM replace chain when
    :func:`union_chain_safe` proves it equivalent, else the Arrow UDF
    plane.
    ``nested``: value typing for nested dictionary values ("json" legacy
    strings | "typed" array/VARIANT columns) — exact mode only.
    """
    if mode == "exact":
        if len(pairs) > MAP_LITERAL_MAX_ENTRIES:
            spark = spark or SparkSession.active()
            return ExactJoin(pairs_frame(spark, pairs, nested))
        return ExactMapLiteral(pairs, nested=nested)
    if mode == "regex":
        return RegexFirstMatch(pairs)
    if mode == "union":
        if union_chain_safe(pairs):
            return UnionReplaceChain(pairs)
        return UnionSubstitution(pairs)
    raise ValueError(f"unknown lookup mode {mode!r}")
