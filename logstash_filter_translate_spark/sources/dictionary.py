"""Dictionary loaders: inline, CSV, JSON, YAML (+refresh policy).

Reference parity:
  - extension dispatch: lib/logstash/filters/dictionary/file.rb:12-21
  - CSV 2-column, BOM-tolerant: dictionary/csv_file.rb:9-13
  - JSON single flat object: dictionary/json_file.rb:9-12
  - YAML one-shot with code-point limit: dictionary/yaml_file.rb:16-26,
    translate.rb:105-109,196-205
  - YAML streaming scalar-typing rules: dictionary/streaming_yaml_parser.rb:88-109
  - refresh merge/replace + mtime short-circuit + error policy:
    dictionary/file.rb:22-26,37,53-62,81-125

Ordering: insertion order of the file is preserved (list of pairs) because
the regex first-match strategy (O2) depends on it
(fetch_strategy/memory.rb:26).
"""

from __future__ import annotations

import csv
import io
import json
import logging
import os
from typing import Any, Dict, List, Optional, Tuple

logger = logging.getLogger(__name__)

Pairs = List[Tuple[str, Any]]


class DictionaryLoadError(ValueError):
    """Unparseable dictionary or unsupported file type.

    Mirrors the register-time raise in dictionary/file.rb:53-62 and the
    unknown-extension error in translate.rb:273-275.
    """


# ---------------------------------------------------------------------------
# format loaders (all return ordered (key, value) pairs; keys coerced to str)
# ---------------------------------------------------------------------------

def load_csv(path: str) -> Pairs:
    """CSV dictionary: exactly-2-column rows, BOM-tolerant UTF-8; values stay
    strings (dictionary/csv_file.rb:9-13; translate_spec.rb:370-379)."""
    pairs: Pairs = []
    with io.open(path, "r", encoding="utf-8-sig", newline="") as fh:
        for lineno, row in enumerate(csv.reader(fh), start=1):
            if not row:
                continue
            if len(row) != 2:
                raise DictionaryLoadError(
                    f"{path}:{lineno}: CSV dictionary rows must have exactly "
                    f"2 columns, got {len(row)}"
                )
            pairs.append((str(row[0]), row[1]))
    return pairs


def load_json(path: str) -> Pairs:
    """JSON dictionary: a single flat object (dictionary/json_file.rb:9-12).
    Values keep their JSON types (translate_spec.rb:329-334)."""
    with io.open(path, "r", encoding="utf-8-sig") as fh:
        content = fh.read()
    if not content.strip():
        return []
    try:
        data = json.loads(content)
    except json.JSONDecodeError as exc:
        raise DictionaryLoadError(f"{path}: invalid JSON dictionary: {exc}")
    if not isinstance(data, dict):
        raise DictionaryLoadError(
            f"{path}: JSON dictionary must be a single object"
        )
    return [(str(k), v) for k, v in data.items()]


def _yaml():
    import yaml  # deferred; baked into the env

    return yaml


def type_yaml_scalar(value: str, quoted: bool) -> Any:
    """Scalar typing rules of the streaming YAML parser
    (dictionary/streaming_yaml_parser.rb:88-109)."""
    if quoted:
        return value
    if value in ("null", "", "~"):
        return None
    if value == "true":
        return True
    if value == "false":
        return False
    stripped = value[1:] if value.startswith("-") else value
    if stripped.isdigit():
        return int(value)
    if (
        stripped.count(".") == 1
        and all(part.isdigit() for part in stripped.split("."))
        and not stripped.startswith(".")
        and not stripped.endswith(".")
    ):
        return float(value)
    return value


def load_yaml(
    path: str,
    code_point_limit: Optional[int] = None,
    strategy: str = "one_shot",
) -> Pairs:
    """YAML dictionary.

    one_shot: whole-document safe_load (dictionary/yaml_file.rb:16-26) with a
    code-point (character-count) guard enforced *before* parse
    (translate.rb:105-109). streaming: event-pull parse, pair at a time, with
    the reference's scalar typing rules (streaming_yaml_parser.rb:11-109).
    Both must load identical dictionaries (translate_spec.rb:242-255).
    """
    yaml = _yaml()
    with io.open(path, "r", encoding="utf-8-sig") as fh:
        content = fh.read()
    if code_point_limit is not None and len(content) > code_point_limit:
        raise DictionaryLoadError(
            f"{path}: YAML dictionary has {len(content)} code points, "
            f"exceeding the limit of {code_point_limit}"
        )
    if not content.strip():
        return []
    if strategy == "streaming":
        pairs = _load_yaml_streaming(content, path)
        if pairs is not None:
            return pairs
        # nested document — fall back to one-shot (same result; asserted in
        # tests, mirroring translate_spec.rb:242-255)
    try:
        data = yaml.safe_load(content)
    except yaml.constructor.ConstructorError:
        # `!!omap { ... }` in flow-mapping style (supported by the reference's
        # Psych visitor for both !!map and !!omap — yaml_visitor.rb:13-40,
        # translate_spec.rb:337-357): PyYAML's omap constructor wants a
        # sequence; an omap-tagged mapping is semantically a map here because
        # Python dicts preserve insertion order.
        try:
            data = yaml.safe_load(content.replace("!!omap", "!!map", 1))
        except yaml.YAMLError as exc:
            raise DictionaryLoadError(f"{path}: invalid YAML dictionary: {exc}")
    except yaml.YAMLError as exc:
        raise DictionaryLoadError(f"{path}: invalid YAML dictionary: {exc}")
    if isinstance(data, list):  # block-style !!omap → list of 1-entry dicts
        flat: Pairs = []
        for item in data:
            if isinstance(item, dict):
                flat.extend((str(k), v) for k, v in item.items())
            elif isinstance(item, (list, tuple)) and len(item) == 2:
                flat.append((str(item[0]), item[1]))
            else:
                raise DictionaryLoadError(
                    f"{path}: YAML dictionary must be a top-level mapping"
                )
        return flat
    if data is None:
        return []
    if not isinstance(data, dict):
        raise DictionaryLoadError(
            f"{path}: YAML dictionary must be a top-level mapping"
        )
    return [(str(k), v) for k, v in data.items()]


def _load_yaml_streaming(content: str, path: str) -> Optional[Pairs]:
    """Flat top-level mapping via the event stream; returns None when the
    document nests (caller falls back to one_shot)."""
    yaml = _yaml()
    pairs: Pairs = []
    key: Optional[str] = None
    depth = 0
    try:
        for event in yaml.parse(io.StringIO(content)):
            if isinstance(event, yaml.MappingStartEvent):
                depth += 1
                if depth > 1:
                    return None
            elif isinstance(event, yaml.MappingEndEvent):
                depth -= 1
            elif isinstance(event, (yaml.SequenceStartEvent,)):
                return None
            elif isinstance(event, yaml.AliasEvent):
                # *x alias values need anchor resolution — one_shot's
                # composer does it; consuming the event here would
                # silently drop the aliased pair
                return None
            elif isinstance(event, yaml.ScalarEvent) and depth == 0:
                # a root-scalar document is not a mapping: fall back so
                # one_shot raises the contract's DictionaryLoadError
                # instead of this parser returning an empty dict
                return None
            elif isinstance(event, yaml.ScalarEvent) and depth == 1:
                quoted = event.style in ("'", '"')
                if key is None:
                    key = str(event.value)
                else:
                    pairs.append((key, type_yaml_scalar(event.value, quoted)))
                    key = None
    except yaml.YAMLError as exc:
        raise DictionaryLoadError(f"{path}: invalid YAML dictionary: {exc}")
    return pairs


_LOADERS = {
    ".csv": lambda path, cfg: load_csv(path),
    ".json": lambda path, cfg: load_json(path),
    ".yml": lambda path, cfg: load_yaml(
        path,
        code_point_limit=cfg.get("yaml_code_point_limit"),
        strategy=cfg.get("yaml_load_strategy", "one_shot"),
    ),
}
_LOADERS[".yaml"] = _LOADERS[".yml"]


def load_dictionary_file(
    path: str,
    yaml_code_point_limit: Optional[int] = None,
    yaml_load_strategy: str = "one_shot",
) -> Pairs:
    """Dispatch by extension; unknown extension raises
    (dictionary/file.rb:12-21, translate.rb:273-275,
    translate_spec.rb:381-387)."""
    ext = os.path.splitext(path)[1].lower()
    loader = _LOADERS.get(ext)
    if loader is None:
        raise DictionaryLoadError(
            f"Dictionary {path} has a non valid format: {ext or '(none)'}; "
            "expected .csv, .json, .yml or .yaml"
        )
    return loader(
        path,
        {
            "yaml_code_point_limit": yaml_code_point_limit,
            "yaml_load_strategy": yaml_load_strategy,
        },
    )


class DictionaryFile:
    """File-backed dictionary with the reference's refresh policy.

    - first load raises on error (dictionary/file.rb:50,53-62)
    - later reloads warn and keep the previous dictionary (file.rb:116-125,
      translate_spec.rb:212-230)
    - merge overlays new entries, keeps stale ones (file.rb:81-89);
      replace rebuilds from scratch (file.rb:91-100)
    - mtime short-circuit when refresh_interval <= 300 (file.rb:37,103-114)

    Spark usage: the driver owns this object; executors only ever see the
    broadcast snapshot built from :attr:`pairs` — the broadcast swap is the
    rw-lock analogue (SURVEY.md §3 EP3).
    """

    MTIME_CHECK_MAX_INTERVAL = 300  # seconds — dictionary/file.rb:37

    def __init__(
        self,
        path: str,
        refresh_behaviour: str = "merge",
        refresh_interval: int = 300,
        yaml_code_point_limit: Optional[int] = None,
        yaml_load_strategy: str = "one_shot",
    ):
        self.path = path
        self.refresh_behaviour = refresh_behaviour
        self.refresh_interval = refresh_interval
        self.yaml_code_point_limit = yaml_code_point_limit
        self.yaml_load_strategy = yaml_load_strategy
        self._pairs: Pairs = []
        self._by_key: Dict[str, Any] = {}
        self._loaded_mtime: Optional[float] = None
        self.version = 0  # bumped on every effective reload (for swap logic)
        self._load(raise_exception=True)

    # -- read side ---------------------------------------------------------
    @property
    def pairs(self) -> Pairs:
        return list(self._pairs)

    def as_dict(self) -> Dict[str, Any]:
        return dict(self._by_key)

    def __len__(self) -> int:
        return len(self._pairs)

    # -- refresh side ------------------------------------------------------
    def reload(self, force: bool = False) -> bool:
        """Reload if the file changed (or force=True). Returns True when the
        dictionary content version advanced."""
        if not force and not self._needs_refresh():
            return False
        before = self.version
        self._load(raise_exception=False)
        return self.version != before

    def _needs_refresh(self) -> bool:
        if self.refresh_interval > self.MTIME_CHECK_MAX_INTERVAL:
            return True  # no mtime short-circuit (dictionary/file.rb:37)
        try:
            return os.stat(self.path).st_mtime != self._loaded_mtime
        except OSError:
            return True

    def _load(self, raise_exception: bool) -> None:
        try:
            mtime = os.stat(self.path).st_mtime
            new_pairs = load_dictionary_file(
                self.path,
                yaml_code_point_limit=self.yaml_code_point_limit,
                yaml_load_strategy=self.yaml_load_strategy,
            )
        except FileNotFoundError as exc:
            if raise_exception:
                raise DictionaryLoadError(
                    f"dictionary file not found: {self.path}"
                ) from exc
            logger.warning(
                "dictionary file missing, keeping previous dictionary: %s",
                self.path,
            )
            return
        except DictionaryLoadError:
            if raise_exception:
                raise
            logger.warning(
                "dictionary reload failed, keeping previous dictionary: %s",
                self.path,
            )
            return

        if self.refresh_behaviour == "merge":
            merged = dict(self._by_key)
            merged.update(dict(new_pairs))
            # preserve original insertion order for retained keys, append new
            order = [k for k, _ in self._pairs if k in merged]
            seen = set(order)
            for k, _ in new_pairs:
                if k not in seen:
                    order.append(k)
                    seen.add(k)
            result = [(k, merged[k]) for k in order]
        else:  # replace
            result = list(new_pairs)
        # content-compare before bumping: the version is the CONTENT
        # version (reload() contract), so a scheduler tick past the mtime
        # short-circuit (interval > MTIME_CHECK_MAX_INTERVAL) or a touch
        # that rewrote identical bytes reports changed=False, and
        # Translate.refresh neither rebuilds the strategy nor makes
        # callers re-broadcast.
        self._loaded_mtime = mtime
        # type-aware equality: Python == treats 1 == 1.0 == True, so
        # without the type tags a reload that only flipped a value's
        # YAML type (1 -> 1.0, true -> 1) would compare equal, skip the
        # version bump, and keep the stale typed value in the built
        # strategy until an unrelated edit. Recursive, because the same
        # coercion applies INSIDE container values ([1] == [1.0],
        # {'x': 1} == {'x': True}) and YAML values can nest arbitrarily.
        def _typed(v):
            if isinstance(v, list):
                return ("list", [_typed(x) for x in v])
            if isinstance(v, dict):
                # keys too: nested mapping KEYS are not str()-normalized
                # (only top-level lookup keys are), so {1: x} vs
                # {true: x} coerces equal without the wrap
                return (
                    "dict",
                    [(_typed(k), _typed(x)) for k, x in v.items()],
                )
            return (type(v).__name__, v)

        def _typed_pairs(pairs):
            return [(k, _typed(v)) for k, v in pairs]

        if _typed_pairs(result) == _typed_pairs(self._pairs):
            return
        self._pairs = result
        self._by_key = dict(result)
        self.version += 1
