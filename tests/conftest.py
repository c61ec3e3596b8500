import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from logstash_filter_translate_spark.operators import lookup  # noqa: E402
from logstash_filter_translate_spark.session import build_session  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="lfts-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/lfts-warehouse"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def testdata_dir():
    return TESTDATA


# ---------------------------------------------------------------------------
# dictionary fixture files — contents mirror the reference's spec/fixtures/*
# (spec cites in each test); written fresh per session into a tmp dir
# ---------------------------------------------------------------------------

FIXTURE_FILES = {
    "dict.csv": '"a",100\n"b",200\n"c",300\n',
    "dict.json": '{\n  "a" : 10,\n  "b" : 20,\n  "c" : 30\n}\n',
    "dict.yml": 'a : 1\nb : 2\nc : 3\nd : { "e": [1, "hello", true, "false", "1", "1.1"] }\n',
    "dict-wrong.yml": "foo: somebody said I should put a colon here: so I did\n",
    "dict.other": '"a" | 400\n"b" | 500\n"c" | 600\n',
    "regex_dict.csv": (
        '"^2[0-9][0-9]$","OK"\n"^3[0-9][0-9]$","Redirect"\n'
        '"^4[0-9][0-9]$","Client Error"\n"^5[0-9][0-9]$","Server Error"\n'
    ),
    "regex_union_dict.csv": (
        '"200","OK"\n"300","Redirect"\n"400","Client Error"\n"500","Server Error"\n'
    ),
    "tag-map-dict.yml": (
        "---\n!!map {\n"
        '  ? !!str "eight" : !!str "val-8-1|val-8-2",\n'
        '  ? !!str "five" : !!str "val-5-1|val-5-2",\n'
        '  ? !!str "four" : !!str "val-4-1|val-4-2",\n'
        '  ? !!str "nine" : !!str "val-9-1|val-9-2",\n'
        '  ? !!str "one" : !!str "val-1-1|val-1-2",\n'
        '  ? !!str "seven" : !!str "val-7-1|val-7-2",\n'
        '  ? !!str "six" : !!str "val-6-1|val-6-2",\n'
        '  ? !!str "three" : !!str "val-3-1|val-3-2",\n'
        '  ? !!str "two" : !!str "val-2-1|val-2-2",\n'
        "}\n"
    ),
    "tag-omap-dict.yml": (
        "---\n!!omap {\n"
        '  ? !!str "eight" : !!str "val-8-1|val-8-2",\n'
        '  ? !!str "nine" : !!str "val-9-1|val-9-2",\n'
        '  ? !!str "seven" : !!str "val-7-1|val-7-2",\n'
        '  ? !!str "two" : !!str "val-2-1|val-2-2",\n'
        "}\n"
    ),
    "dict_empty.csv": "",
    "dict_empty.json": "",
    "dict_empty.yml": "",
}


@pytest.fixture(scope="session")
def fixtures_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("dict_fixtures")
    for name, content in FIXTURE_FILES.items():
        (d / name).write_text(content, encoding="utf-8")
    return d


def rows_as_dicts(df):
    return [r.asDict(recursive=True) for r in df.collect()]


@contextlib.contextmanager
def exact_plane(plane):
    """Force the plane ``build_strategy`` picks for an exact dictionary
    built inside the block: ``"literal"`` (map literal) or ``"join"``
    (broadcast hash join, for any non-empty dictionary)."""
    limit = {"literal": sys.maxsize, "join": 0}[plane]
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(lookup, "MAP_LITERAL_MAX_ENTRIES", limit)
        yield
