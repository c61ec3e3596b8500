"""Configuration surface of the translate engine.

Mirrors the reference plugin's config options, defaults and validation
errors (reference: lib/logstash/filters/translate.rb:58-205,
213-250) but as a plain dataclass validated at plan time.

Mode matrix (translate.rb via dictionary/memory.rb:10-14):
  exact=True,  regex=False -> EXACT hash lookup          (O1)
  exact=True,  regex=True  -> ordered first-match regex  (O2)
  exact=False              -> union-regex substitution   (O3)
"""

from __future__ import annotations

from dataclasses import dataclass
from dataclasses import field as dc_field
from typing import Any, Mapping, Optional, Sequence, Tuple, Union

# 134_217_728 code points — translate.rb:197
DEFAULT_YAML_CODE_POINT_LIMIT = 134_217_728

DictionaryLike = Union[
    Mapping[str, Any],
    Sequence[Tuple[str, Any]],
]


class TranslateConfigError(ValueError):
    """Raised at plan ("register") time for invalid configuration.

    Mirrors LogStash::ConfigurationError raised in translate.rb:184-234.
    """


@dataclass
class TranslateConfig:
    # --- source / target (translate.rb:58-66,123-125,213-242) ---
    source: Optional[str] = None
    target: Optional[str] = None
    #: deprecated alias of ``source`` (translate.rb:61)
    field: Optional[str] = None
    #: deprecated alias of ``target`` (translate.rb:125)
    destination: Optional[str] = None
    #: default False (translate.rb:66); forced True for in-place translation
    override: Optional[bool] = None

    # --- dictionary (translate.rb:83,103; mutually exclusive :184-191) ---
    dictionary: Optional[DictionaryLike] = None
    dictionary_path: Optional[str] = None

    # --- lookup mode (translate.rb:145,149) ---
    exact: bool = True
    regex: bool = False

    # --- miss handling (translate.rb:162) ---
    fallback: Optional[str] = None
    #: column standing in for @timestamp in fallback ``%{+FORMAT}`` time
    #: references (Event#sprintf's Joda grammar); the input contract's
    #: event-time column by default
    ts_field: str = "warc_ts"

    # --- refresh (translate.rb:117,167) ---
    refresh_interval: int = 300
    refresh_behaviour: str = "merge"

    # --- iteration (translate.rb:178,244-250) ---
    iterate_on: Optional[str] = None

    # --- YAML guards (translate.rb:105-113,196-205) ---
    yaml_dictionary_code_point_limit: Optional[int] = None
    yaml_load_strategy: str = "one_shot"

    #: ECS-style target defaulting: when False (legacy) a missing target
    #: defaults to "translation"; when True it defaults to the source field
    #: (in-place), per translate.rb:235 and translate_spec.rb:684-721.
    ecs_compatibility: bool = False

    #: typing of nested/heterogeneous dictionary values (engine option, no
    #: reference analogue — its events are schemaless). "json": carry them
    #: as JSON strings (legacy deviation). "typed": uniform lists become a
    #: real array column; anything else becomes a Spark VARIANT so
    #: ``variant_get(translation, '$.e[1]')`` reads nested values with the
    #: reference's type fidelity (translate_spec.rb:237-240). Exact mode
    #: only; incompatible with ``fallback`` (which widens values to string).
    nested_values: str = "json"

    # ----- resolved (filled by validate()) -----
    resolved_source: str = dc_field(init=False, default="")
    resolved_target: str = dc_field(init=False, default="")
    resolved_override: bool = dc_field(init=False, default=False)
    in_place: bool = dc_field(init=False, default=False)

    def validate(self) -> "TranslateConfig":
        # dictionary XOR dictionary_path (translate.rb:184-191)
        if self.dictionary is not None and self.dictionary_path is not None:
            raise TranslateConfigError(
                "The configuration options 'dictionary' and 'dictionary_path' "
                "are mutually exclusive"
            )
        if self.dictionary is None and self.dictionary_path is None:
            # reference allows empty inline dictionary; normalize to {}
            self.dictionary = {}

        # source vs deprecated field (translate.rb:213-224)
        if self.source is not None and self.field is not None:
            raise TranslateConfigError(
                "Both 'source' and (deprecated) 'field' are set; use only "
                "'source'"
            )
        src = self.source if self.source is not None else self.field
        if src is None:
            raise TranslateConfigError("The 'source' option is required")
        self.resolved_source = src

        # target vs deprecated destination (translate.rb:226-234)
        if self.target is not None and self.destination is not None:
            raise TranslateConfigError(
                "Both 'target' and (deprecated) 'destination' are set; use "
                "only 'target'"
            )
        tgt = self.target if self.target is not None else self.destination
        if tgt is None:
            # translate.rb:235 — legacy default "translation", ECS in-place
            tgt = src if self.ecs_compatibility else "translation"
        self.resolved_target = tgt

        # in-place forces override=true (translate.rb:237-242)
        self.in_place = self.resolved_target == self.resolved_source
        if self.in_place and self.override is False:
            raise TranslateConfigError(
                "The 'override' option cannot be false when 'target' is the "
                "same as 'source' (in-place translation)"
            )
        self.resolved_override = True if self.in_place else bool(self.override)

        if self.refresh_behaviour not in ("merge", "replace"):
            raise TranslateConfigError(
                f"Unsupported refresh_behaviour {self.refresh_behaviour!r}; "
                "expected 'merge' or 'replace'"
            )
        if self.yaml_load_strategy not in ("one_shot", "streaming"):
            raise TranslateConfigError(
                f"Unsupported yaml_load_strategy {self.yaml_load_strategy!r}"
            )

        if self.nested_values not in ("json", "typed"):
            raise TranslateConfigError(
                f"Unsupported nested_values {self.nested_values!r}; "
                "expected 'json' or 'typed'"
            )
        if self.nested_values == "typed":
            if self.mode != "exact":
                raise TranslateConfigError(
                    "nested_values='typed' requires exact mode (regex/union "
                    "values are substituted into strings)"
                )
            if self.fallback is not None:
                raise TranslateConfigError(
                    "nested_values='typed' cannot be combined with "
                    "'fallback' (a string fallback widens the value column "
                    "to string); use nested_values='json'"
                )

        # code-point limit: positive, YAML-only (translate.rb:196-205)
        if self.yaml_dictionary_code_point_limit is not None:
            if self.yaml_dictionary_code_point_limit <= 0:
                raise TranslateConfigError(
                    "yaml_dictionary_code_point_limit must be positive"
                )
            if self.dictionary_path is None or not _is_yaml_path(
                self.dictionary_path
            ):
                raise TranslateConfigError(
                    "yaml_dictionary_code_point_limit is only applicable when "
                    "using a YAML dictionary_path"
                )

        return self

    @property
    def mode(self) -> str:
        """'exact' | 'regex' | 'union' — dictionary/memory.rb:10-14."""
        if self.exact and self.regex:
            return "regex"
        if self.exact:
            return "exact"
        return "union"

    def effective_yaml_code_point_limit(self) -> int:
        if self.yaml_dictionary_code_point_limit is not None:
            return self.yaml_dictionary_code_point_limit
        return DEFAULT_YAML_CODE_POINT_LIMIT


#: every option name the reference plugin accepts (translate.rb:58-205 +
#: docs/index.asciidoc:94-113); used by from_plugin_options
PLUGIN_OPTION_NAMES = {
    "source", "field", "target", "destination", "override", "dictionary",
    "dictionary_path", "exact", "regex", "fallback", "refresh_interval",
    "refresh_behaviour", "iterate_on", "yaml_dictionary_code_point_limit",
    "yaml_load_strategy", "ecs_compatibility",
}


def from_plugin_options(options: Mapping[str, Any]) -> "TranslateConfig":
    """Build a config from a reference-style plugin options hash — the same
    option names, so a logstash-filter-translate user's config block maps
    1:1 (unknown options raise, like Logstash's config validation).

    ``ecs_compatibility`` accepts the reference's "disabled"/"v1" strings
    (translate_spec.rb:684-721) or a bool.
    """
    unknown = set(options) - PLUGIN_OPTION_NAMES
    if unknown:
        raise TranslateConfigError(
            f"Unknown config option(s) for translate: {sorted(unknown)}"
        )
    opts = dict(options)
    ecs = opts.get("ecs_compatibility", False)
    if isinstance(ecs, str):
        opts["ecs_compatibility"] = ecs != "disabled"
    return TranslateConfig(**opts).validate()


def _is_yaml_path(path: str) -> bool:
    lowered = path.lower()
    return lowered.endswith(".yml") or lowered.endswith(".yaml")
