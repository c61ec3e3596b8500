"""The Translate operator: dictionary-lookup enrichment over a DataFrame.

This is the Spark-native re-expression of the reference plugin's whole
filter lifecycle (lib/logstash/filters/translate.rb:183-271):
``register`` becomes plan construction (this module, driver-side),
``filter(event)`` becomes a single Catalyst projection (plus an Arrow batch
through a pandas UDF for the regex modes) — no per-event control flow
survives.

Updater shapes (translate.rb:244-250):
  - iterate_on is None                → single-value update    (O4,
    single_value_update.rb:33-47)
  - iterate_on == source              → array-of-values update (O5,
    array_of_values_update.rb:29-45)
  - iterate_on != source              → array-of-maps update   (O6,
    array_of_maps_value_update.rb:18-38)

Route vocabulary (O9, the ``filter_matched`` signal generalized to fan-out
sinks): ``matched`` | ``fallback`` | ``unmatched`` | ``failed`` | ``skipped``.
The reference's boolean "matched" signal is ``route IN (matched, fallback)``
(fallback sets matched=true — single_value_update.rb:42-45).

Each updater has one body over the lookup strategy's probe contract
(operators/lookup.py): ``probe_frame`` for a scalar key, ``probe_each`` for
an array of keys. No updater knows which plane it probes.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import TranslateConfig
from ..functions.paths import parse_path, path_col, path_type, with_path
from ..functions.templates import compile_sprintf
from ..sources.dictionary import DictionaryFile
from .lookup import (
    TEMP_COLS,
    ExactJoin,
    LookupStrategy,
    Probe,
    build_strategy,
    table_frame,
)

ROUTE_MATCHED = "matched"
ROUTE_FALLBACK = "fallback"
ROUTE_UNMATCHED = "unmatched"
ROUTE_FAILED = "failed"
ROUTE_SKIPPED = "skipped"

_SKIP = "__lfts_skip"
_KEY = "__lfts_key"
_KEYS = "__lfts_arr"
_TEMPS = (*TEMP_COLS, _SKIP, _KEY, _KEYS)


class Translate:
    """Plan-time object wiring (dictionary source, lookup strategy, updater)
    — the analogue of the reference's three strategy objects (SURVEY.md §3
    EP1).

    Parameters
    ----------
    config : validated at construction (register-time errors).
    spark : used only by the broadcast-join plane, which
        ``build_strategy`` picks for big exact dictionaries, to build the
        dictionary frame on (the active session when None).
    """

    def __init__(
        self,
        config: TranslateConfig,
        spark: Optional[SparkSession] = None,
    ):
        self.config = config.validate()
        self.spark = spark
        self._dict_file: Optional[DictionaryFile] = None
        if config.dictionary_path is not None:
            self._dict_file = DictionaryFile(
                config.dictionary_path,
                refresh_behaviour=config.refresh_behaviour,
                refresh_interval=config.refresh_interval,
                yaml_code_point_limit=config.effective_yaml_code_point_limit(),
                yaml_load_strategy=config.yaml_load_strategy,
            )
        self.strategy: LookupStrategy = self._build_strategy()

    # -- dictionary ---------------------------------------------------------
    def _pairs(self):
        if self._dict_file is not None:
            return self._dict_file.pairs
        d = self.config.dictionary or {}
        return list(d.items()) if hasattr(d, "items") else list(d)

    def _build_strategy(self) -> LookupStrategy:
        return build_strategy(
            self.config.mode,
            self._pairs(),
            spark=self.spark,
            nested=self.config.nested_values,
        )

    def refresh(self) -> bool:
        """R1-R7: driver-side reload + strategy rebuild. Returns True when
        the dictionary changed (callers re-plan / re-broadcast). The swap is
        atomic per batch — Spark's broadcast replaces the reference's
        ReentrantReadWriteLock (dictionary/file.rb:38-39)."""
        if self._dict_file is None:
            return False
        changed = self._dict_file.reload()
        if changed:
            self.strategy = self._build_strategy()
        return changed

    # -- application --------------------------------------------------------
    def apply(
        self,
        df: DataFrame,
        route_col: str = "route",
        matched_key_col: Optional[str] = None,
        iterate_key: Optional[str] = None,
    ) -> DataFrame:
        """``iterate_key``: a column that uniquely identifies each row (a
        natural key — every real table has one). The exact join plane's
        ``probe_each`` joins the rebuilt arrays back on it, keeping the
        shuffle deterministic and narrow; without it the plane falls back
        to ``monotonically_increasing_id`` over a localCheckpoint'ed input
        (correct but materializes the frame — pass the key at scale).

        The strategy is read once: ``refresh`` may swap it from a
        scheduler thread, and one plan must probe and type its target
        with the same dictionary version."""
        cfg = self.config
        strategy = self.strategy
        if cfg.iterate_on is None:
            return self._apply_single(df, strategy, route_col, matched_key_col)
        if cfg.iterate_on == cfg.resolved_source:
            return self._apply_array_of_values(df, strategy, route_col, iterate_key)
        return self._apply_array_of_maps(df, strategy, route_col, iterate_key)

    # -- helpers -------------------------------------------------------------
    @property
    def _target_path(self):
        """Parsed target: ``[a][b]`` → nested struct write (event.set builds
        nested paths — single_value_update.rb:41-44); bare names stay flat."""
        return parse_path(self.config.resolved_target)

    def _target_type(self, df: DataFrame):
        return path_type(df.schema, self._target_path)

    def _target_read(self, df: DataFrame) -> Optional[Column]:
        """Existing-target read column, or None when the path is absent."""
        if self._target_type(df) is None:
            return None
        return path_col(self._target_path)

    def _write_target(self, df: DataFrame, value: Column) -> DataFrame:
        return with_path(df, self._target_path, value)

    def _source_col_and_type(self, df: DataFrame):
        spath = parse_path(self.config.resolved_source)
        return path_col(spath), path_type(df.schema, spath)

    def _coerce_single_key(self, df: DataFrame) -> Column:
        """String-coerce the probe value: arrays use their first element
        (single_value_update.rb:5-13). ``try_element_at`` (NOT element_at)
        because Spark 4.1 ANSI mode throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT
        on an empty array; the reference coerces ``[].first.to_s`` (and a
        nil first element) to "" and proceeds — a NULL array stays NULL
        (missing field → no lookup)."""
        col, dtype = self._source_col_and_type(df)
        if isinstance(dtype, T.ArrayType):
            return F.when(
                col.isNotNull(),
                F.coalesce(
                    F.try_element_at(col, F.lit(1)).cast("string"), F.lit("")
                ),
            )
        return col.cast("string")

    def _skip_gate(self, df: DataFrame) -> Column:
        """O7 override gate: target exists (non-NULL) and override disabled →
        skip (single_value_update.rb:27-31). In-place forces override."""
        cfg = self.config
        existing = self._target_read(df)
        if cfg.resolved_override or existing is None:
            return F.lit(False)
        return existing.isNotNull()

    def _fallback_expr(self, df: DataFrame) -> Optional[Column]:
        if self.config.fallback is None:
            return None
        return compile_sprintf(
            self.config.fallback,
            ts_col=self.config.ts_field,
            # full schema: nested refs degrade to the literal when any
            # LEVEL is missing, not just the top name
            schema=df.schema,
        )

    def _out_type(self, strategy: LookupStrategy) -> T.DataType:
        """Target column type: the dictionary's value type, widened to string
        when a (string) fallback can also land there (SURVEY.md §7)."""
        vt = strategy.value_type
        if self.config.fallback is not None and not isinstance(vt, T.StringType):
            return T.StringType()
        return vt

    def _existing(self, df: DataFrame, dtype: T.DataType) -> Column:
        """The current target value as ``dtype`` (NULL when absent)."""
        read = self._target_read(df)
        return (read if read is not None else F.lit(None)).cast(dtype)

    # -- O4: single-value ----------------------------------------------------
    def _apply_single(
        self,
        df: DataFrame,
        strategy: LookupStrategy,
        route_col: str,
        matched_key_col: Optional[str],
    ) -> DataFrame:
        out_type = self._out_type(strategy)
        if matched_key_col is not None:
            strategy = strategy.keyed()
        # materialize the gate and the key BEFORE the target column is
        # overwritten — later expressions must see the ORIGINAL values
        df = df.withColumn(_SKIP, self._skip_gate(df)).withColumn(
            _KEY, self._coerce_single_key(df)
        )
        skip = F.col(_SKIP)
        df, p = strategy.probe_frame(df, F.col(_KEY))

        existing = self._existing(df, out_type)
        fb = self._fallback_expr(df)
        failed = None if p.error is None else p.error.isNotNull()

        translated = F.when(skip, existing).when(p.matched, p.value.cast(out_type))
        if fb is not None:
            miss = ~p.matched if failed is None else ~p.matched & ~failed
            translated = translated.when(miss, fb.cast(out_type))
        translated = translated.otherwise(existing)

        route = F.when(skip, F.lit(ROUTE_SKIPPED))
        if failed is not None:
            route = route.when(failed, F.lit(ROUTE_FAILED))
        route = route.when(p.matched, F.lit(ROUTE_MATCHED)).otherwise(
            F.lit(ROUTE_FALLBACK if fb is not None else ROUTE_UNMATCHED)
        )

        out = self._write_target(df, translated).withColumn(route_col, route)
        if matched_key_col is not None:
            # skip guard: the reference short-circuits BEFORE any lookup
            # on the O7 gate (single_value_update.rb:27-31) — a skipped
            # row semantically never looked anything up, so no key
            out = out.withColumn(
                matched_key_col, F.when(~skip & p.matched, p.key)
            )
        return out.drop(*_TEMPS)

    # -- O5: array-of-values --------------------------------------------------
    def _apply_array_of_values(
        self,
        df: DataFrame,
        strategy: LookupStrategy,
        route_col: str,
        iterate_key: Optional[str],
    ) -> DataFrame:
        """iterate_on == source: per-element lookup, ordinal-preserving,
        fallback prefilled at every miss position, target always written
        (array_of_values_update.rb:29-45)."""
        src, stype = self._source_col_and_type(df)
        if isinstance(stype, T.ArrayType):
            arr = F.coalesce(src, F.array().cast(stype.simpleString()))
        else:
            # CoerceOther: Array(x); Array(nil) == []
            arr = F.when(src.isNull(), F.array().cast("array<string>")).otherwise(
                F.array(src.cast("string"))
            )
        df = df.withColumn(_SKIP, self._skip_gate(df)).withColumn(
            _KEYS, F.transform(arr, lambda x: x.cast("string"))
        )
        skip, keys = F.col(_SKIP), F.col(_KEYS)
        df, each = strategy.probe_each(df, keys, iterate_key)

        out_type = self._out_type(strategy)
        fb = self._fallback_expr(df)
        fb_elem = (fb if fb is not None else F.lit(None)).cast(out_type)

        def elem(x: Column, i: Column) -> Column:
            p = each(x, i)
            return F.when(p.matched, p.value.cast(out_type)).otherwise(fb_elem)

        # target always written unless the O7 gate skipped the row
        translated = F.when(
            skip, self._existing(df, T.ArrayType(out_type))
        ).otherwise(F.transform(keys, elem))

        def rank(x: Column, i: Column) -> Column:
            p = each(x, i)
            return _route_rank(p, p.matched)

        row_rank = F.array_max(F.transform(keys, rank))
        route = (
            F.when(skip, F.lit(ROUTE_SKIPPED))
            .when(row_rank == 2, F.lit(ROUTE_FAILED))
            .when(row_rank == 1, F.lit(ROUTE_MATCHED))
        )
        if fb is not None:
            route = route.when(F.size(keys) > 0, F.lit(ROUTE_FALLBACK))
        route = route.otherwise(F.lit(ROUTE_UNMATCHED))
        return (
            self._write_target(df, translated)
            .withColumn(route_col, route)
            .drop(*_TEMPS)
        )

    # -- O6: array-of-maps -----------------------------------------------------
    def _apply_array_of_maps(
        self,
        df: DataFrame,
        strategy: LookupStrategy,
        route_col: str,
        iterate_key: Optional[str],
    ) -> DataFrame:
        """iterate_on != source: for each struct element, look up
        ``elem[source]`` and write ``elem[target]``; nil elements/values are
        skipped; fallback writes count as matched; NO override gate
        (array_of_maps_value_update.rb:14-38). A ``%{field}`` fallback is
        evaluated against the row, as the reference sprintf's against the
        full event (array_of_maps_value_update.rb:32-35)."""
        cfg = self.config
        source, target = cfg.resolved_source, cfg.resolved_target
        arr = F.col(cfg.iterate_on)

        def key_of(m: Column) -> Column:
            return m.getField(source).cast("string")

        def present(m: Column) -> Column:
            return m.getField(source).isNotNull()

        df, each = strategy.probe_each(
            df, F.transform(arr, key_of), iterate_key
        )
        out_type = self._out_type(strategy)
        fb = self._fallback_expr(df)

        def update(m: Column, i: Column) -> Column:
            p = each(key_of(m), i)
            value = F.when(p.matched, p.value.cast(out_type))
            if fb is not None:
                ok = present(m) if p.error is None else present(m) & p.error.isNull()
                value = value.when(ok, fb.cast(out_type))
            return m.withField(target, value)

        def rank(m: Column, i: Column) -> Column:
            p = each(key_of(m), i)
            hit = present(m) if fb is not None else present(m) & p.matched
            return _route_rank(p, hit)

        row_rank = F.array_max(F.transform(arr, rank))
        route = (
            F.when(arr.isNull(), F.lit(ROUTE_UNMATCHED))
            .when(row_rank == 2, F.lit(ROUTE_FAILED))
            .when(row_rank == 1, F.lit(ROUTE_MATCHED))
            .otherwise(F.lit(ROUTE_UNMATCHED))
        )
        return df.withColumns(
            {cfg.iterate_on: F.transform(arr, update), route_col: route}
        ).drop(*_TEMPS)


def _route_rank(p: Probe, hit: Column) -> Column:
    """An element's share of its row's route, maxed over the array:
    2 failed (any failed element fails the row), 1 hit, 0 neither."""
    rank = F.when(hit, F.lit(1)).otherwise(F.lit(0))
    if p.error is not None:
        rank = F.when(p.error.isNotNull(), F.lit(2)).otherwise(rank)
    return rank


def translate(
    df: DataFrame,
    spark: Optional[SparkSession] = None,
    route_col: str = "route",
    matched_key_col: Optional[str] = None,
    iterate_key: Optional[str] = None,
    **config_kwargs,
) -> DataFrame:
    """Functional convenience: ``translate(df, source=..., dictionary=...)``."""
    cfg = TranslateConfig(**config_kwargs)
    op = Translate(cfg, spark=spark or df.sparkSession)
    return op.apply(
        df,
        route_col=route_col,
        matched_key_col=matched_key_col,
        iterate_key=iterate_key,
    )


def translate_with_table(
    df: DataFrame,
    source: str,
    dict_df: DataFrame,
    key_col: str,
    value_col: str,
    target: Optional[str] = None,
    fallback: Optional[str] = None,
    override: Optional[bool] = None,
    broadcast: bool = True,
    route_col: str = "route",
    matched_key_col: Optional[str] = None,
) -> DataFrame:
    """Translate against a DICTIONARY TABLE — the exact_match semantics
    (override gate, fallback, route tagging) with the dictionary supplied
    as a (key, value) DataFrame instead of an in-memory pairs list.

    This is the form the reference cannot express (its dictionary is a
    driver-side Ruby hash loaded from a file — translate.rb:141-162) but
    a 100 TB deployment needs: the dictionary is itself a table (an
    Iceberg/parquet dimension or a derived frame), refreshed by rewriting
    the table. ``broadcast=True`` forces the broadcast-hash-join plane
    (dictionary known to fit executor memory); ``broadcast=False``
    declares the dictionary beyond broadcast — it fits no single machine,
    the case no driver-side Ruby hash can represent at all — and pins the
    genuine shuffle (sort-merge) join plane via a merge hint on the dict
    side (see ``ExactJoin``). Duplicate keys resolve deterministically
    (lowest value, ``table_frame``) to preserve the one-value-per-key
    contract.
    """
    cfg = TranslateConfig(
        source=source,
        target=target,
        dictionary={},
        fallback=fallback,
        override=override,
    )
    op = Translate(cfg, spark=df.sparkSession)
    op.strategy = ExactJoin(table_frame(dict_df, key_col, value_col), broadcast)
    return op.apply(
        df, route_col=route_col, matched_key_col=matched_key_col
    )
