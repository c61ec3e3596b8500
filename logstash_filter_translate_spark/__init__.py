"""logstash_filter_translate_spark — a PySpark-native translate/enrich/route/
aggregate engine with the query semantics of
logstash-plugins/logstash-filter-translate, re-expressed Spark-first.

Public API:
    TranslateConfig, Translate, translate — the core operator
    from_plugin_options                   — a TranslateConfig from Logstash
                                            plugin option names
    DictionaryFile, load_dictionary_file  — dictionary sources
    RefreshScheduler                      — refresh_interval on a timer
    windowed_route_counts                 — streaming per-route windows
    append_ivf_index                      — grow a stored ANN index
    pages / pipeline modules              — the parse→enrich→route→aggregate
                                            north-star pipeline
"""

from .config import TranslateConfig, TranslateConfigError, from_plugin_options
from .operators.translate import (
    ROUTE_FAILED,
    ROUTE_FALLBACK,
    ROUTE_MATCHED,
    ROUTE_SKIPPED,
    ROUTE_UNMATCHED,
    Translate,
    translate,
    translate_with_table,
)
from .operators.similarity import append_ivf_index
from .sources.dictionary import (
    DictionaryFile,
    DictionaryLoadError,
    load_dictionary_file,
)
from .streaming.refresh import windowed_route_counts
from .streaming.scheduler import RefreshScheduler

__all__ = [
    "TranslateConfig",
    "TranslateConfigError",
    "from_plugin_options",
    "Translate",
    "translate",
    "translate_with_table",
    "DictionaryFile",
    "DictionaryLoadError",
    "load_dictionary_file",
    "RefreshScheduler",
    "windowed_route_counts",
    "append_ivf_index",
    "ROUTE_MATCHED",
    "ROUTE_FALLBACK",
    "ROUTE_UNMATCHED",
    "ROUTE_FAILED",
    "ROUTE_SKIPPED",
]

__version__ = "0.1.0"
