"""The Translate operator: dictionary-lookup enrichment over a DataFrame.

This is the Spark-native re-expression of the reference plugin's whole
filter lifecycle (/root/reference/lib/logstash/filters/translate.rb:183-271):
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
an array of keys. The one plane-specific path is the exact join plane's
posexplode for ``iterate_on``.
"""

from __future__ import annotations

from typing import Callable, Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import TranslateConfig
from ..functions.paths import parse_path, path_col, path_type, with_path
from ..functions.templates import compile_sprintf
from ..sources.dictionary import DictionaryFile
from .lookup import (
    DICT_KEY,
    DICT_VALUE,
    RES_COL,
    TEMP_COLS,
    ExactBroadcastJoin,
    ExactFrameJoin,
    LookupStrategy,
    Probe,
    build_strategy,
)

ROUTE_MATCHED = "matched"
ROUTE_FALLBACK = "fallback"
ROUTE_UNMATCHED = "unmatched"
ROUTE_FAILED = "failed"
ROUTE_SKIPPED = "skipped"

_ID = "__lfts_row_id"
_SKIP = "__lfts_skip"
_KEY = "__lfts_key"
_KEYS = "__lfts_arr"
_TEMPS = (*TEMP_COLS, _ID, _SKIP, _KEY, _KEYS)


class Translate:
    """Plan-time object wiring (dictionary source, lookup strategy, updater)
    — the analogue of the reference's three strategy objects (SURVEY.md §3
    EP1).

    Parameters
    ----------
    config : validated at construction (register-time errors).
    spark : needed only for the broadcast-join plane, which
        ``build_strategy`` picks for big exact dictionaries.
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
                yaml_code_point_limit=(
                    config.yaml_dictionary_code_point_limit
                    if config.yaml_dictionary_code_point_limit is not None
                    else config.effective_yaml_code_point_limit()
                ),
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

    def refresh(self, force: bool = False) -> bool:
        """R1-R7: driver-side reload + strategy rebuild. Returns True when
        the dictionary changed (callers re-plan / re-broadcast). The swap is
        atomic per batch — Spark's broadcast replaces the reference's
        ReentrantReadWriteLock (dictionary/file.rb:38-39)."""
        if self._dict_file is None:
            return False
        changed = self._dict_file.reload(force=force)
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
        natural key — every real table has one). The big-dictionary explode
        plane joins the rebuilt arrays back on it, keeping the shuffle
        deterministic and narrow; without it the plane falls back to
        ``monotonically_increasing_id`` over a localCheckpoint'ed input
        (correct but materializes the frame — pass the key at scale)."""
        cfg = self.config
        if cfg.iterate_on is None:
            return self._apply_single(df, route_col, matched_key_col)
        if cfg.iterate_on == cfg.resolved_source:
            return self._apply_array_of_values(df, route_col, iterate_key)
        return self._apply_array_of_maps(df, route_col, iterate_key)

    def _row_id(self, df: DataFrame, iterate_key: Optional[str]):
        """(base_df, id_col) for the explode plane's join-back. A caller
        key avoids both the synthetic-id determinism hazard (ids computed
        in two plan branches can diverge on non-deterministic scans / task
        retries) and the localCheckpoint materialization."""
        if iterate_key is not None:
            if iterate_key not in df.columns:
                raise ValueError(
                    f"iterate_key column {iterate_key!r} not in DataFrame"
                )
            return df, iterate_key
        base = df.withColumn(_ID, F.monotonically_increasing_id())
        # pin the ids: the explode plane references this frame in two plan
        # branches (explode side + join-back side); localCheckpoint makes
        # the id assignment happen exactly once
        return base.localCheckpoint(eager=False), _ID

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
            # LEVEL is missing, not just the top name (code-review r7)
            schema=df.schema,
        )

    def _out_type(self) -> T.DataType:
        """Target column type: the dictionary's value type, widened to string
        when a (string) fallback can also land there (SURVEY.md §7)."""
        vt = self.strategy.value_type
        if self.config.fallback is not None and not isinstance(vt, T.StringType):
            return T.StringType()
        return vt

    def _existing(self, df: DataFrame, dtype: T.DataType) -> Column:
        """The current target value as ``dtype`` (NULL when absent)."""
        read = self._target_read(df)
        return (read if read is not None else F.lit(None)).cast(dtype)

    def _probe_each(
        self, df: DataFrame, keys: Column, iterate_key: Optional[str]
    ) -> Tuple[DataFrame, Callable[[Column, Column], Probe]]:
        """(df, each) over an array of string keys; ``each(x, i)`` is the
        Probe of element ``i`` (value ``x``). The join plane has no array
        form of its own and goes through the explode."""
        if isinstance(self.strategy, ExactBroadcastJoin):
            return self._explode_probe(df, keys, iterate_key)
        return self.strategy.probe_each(df, keys)

    def _explode_probe(
        self, df: DataFrame, keys: Column, iterate_key: Optional[str]
    ) -> Tuple[DataFrame, Callable[[Column, Column], Probe]]:
        """The join plane over an array of keys: posexplode → broadcast
        hash join → collect_list(struct(pos, matched, value)) → array_sort,
        joined back on the row identity (see _row_id). Ordinals are
        restored by position, not by shuffle luck. The collected struct
        stays this narrow: it is what the shuffle and the aggregation
        buffers carry."""
        base, id_col = self._row_id(df, iterate_key)
        dim = self.strategy.build_side()
        ex = base.select(id_col, F.posexplode(keys).alias("__lfts_pos", "__lfts_elem"))
        probed = ex.join(dim, ex["__lfts_elem"].eqNullSafe(dim[DICT_KEY]), "left")
        agg = probed.groupBy(id_col).agg(
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
        return base.join(agg, id_col, "left"), each

    # -- O4: single-value ----------------------------------------------------
    def _apply_single(
        self,
        df: DataFrame,
        route_col: str,
        matched_key_col: Optional[str],
    ) -> DataFrame:
        strategy = self.strategy if matched_key_col is None else self.strategy.keyed()
        # materialize the gate and the key BEFORE the target column is
        # overwritten — later expressions must see the ORIGINAL values
        df = df.withColumn(_SKIP, self._skip_gate(df)).withColumn(
            _KEY, self._coerce_single_key(df)
        )
        skip = F.col(_SKIP)
        df, p = strategy.probe_frame(df, F.col(_KEY))

        out_type = self._out_type()
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
        route_col: str,
        iterate_key: Optional[str] = None,
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
        df, each = self._probe_each(df, keys, iterate_key)

        out_type = self._out_type()
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
        route_col: str,
        iterate_key: Optional[str] = None,
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

        df, each = self._probe_each(df, F.transform(arr, key_of), iterate_key)
        out_type = self._out_type()
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
    side (see ``ExactFrameJoin``). Duplicate keys resolve
    deterministically (lowest value) to preserve the one-value-per-key
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
    op.strategy = ExactFrameJoin(dict_df, key_col, value_col, broadcast)
    return op.apply(
        df, route_col=route_col, matched_key_col=matched_key_col
    )
