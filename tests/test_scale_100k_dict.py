"""Reference scale parity: 100,000-entry dictionaries are the reference's
"internally tested" scale (docs/index.asciidoc:76-77,
scheduling_spec.rb:108-204) — exercise load + broadcast-join + reload."""

import os


def _write_csv(path, n, prefix="v"):
    with open(path, "w") as fh:
        for i in range(n):
            fh.write(f"k{i},{prefix}{i}\n")


def test_100k_dictionary_load_join_and_reload(spark, tmp_path):
    from logstash_filter_translate_spark import TranslateConfig
    from logstash_filter_translate_spark.operators.translate import Translate

    p = str(tmp_path / "big.csv")
    _write_csv(p, 100_000)

    op = Translate(
        TranslateConfig(source="k", dictionary_path=str(p), fallback="fb",
                        refresh_behaviour="replace"),
        spark=spark,
    )
    # 100k entries exceed the map-literal threshold → broadcast-join plane
    from logstash_filter_translate_spark.operators.lookup import (
        ExactJoin,
    )

    assert isinstance(op.strategy, ExactJoin)

    df = spark.createDataFrame(
        [(f"k{i}",) for i in range(0, 100_000, 9973)] + [("nope",)], "k string"
    )
    got = {r["k"]: r["translation"] for r in op.apply(df).collect()}
    assert got["k0"] == "v0" and got["k99730"] == "v99730"
    assert got["nope"] == "fb"

    # reload at the same scale (scheduling_spec.rb's 100k reload case)
    _write_csv(p, 100_000, prefix="w")
    st = os.stat(p)
    os.utime(p, (st.st_atime, st.st_mtime + 2))
    assert op.refresh() is True
    got2 = {r["k"]: r["translation"] for r in op.apply(df).collect()}
    assert got2["k0"] == "w0"
