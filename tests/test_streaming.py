"""Structured Streaming plane: micro-batch translate with dictionary
refresh (broadcast swap between batches), checkpointed resumable sinks,
windowed event-time aggregates."""

import os
import time

from pyspark.sql import functions as F

from logstash_filter_translate_spark import TranslateConfig
from logstash_filter_translate_spark.streaming import refresh
from logstash_filter_translate_spark.streaming.refresh import (
    StreamingTranslate,
    run_streaming_pipeline,
    windowed_route_counts,
)


def _write_dict(path, text):
    with open(path, "w") as fh:
        fh.write(text)
    st = os.stat(path)
    os.utime(path, (st.st_atime, st.st_mtime + 2))


def test_streaming_translate_with_refresh_between_batches(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    dict_path = str(tmp_path / "d.csv")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_dict(dict_path, "a,1\nb,2\n")

    spark.createDataFrame([("a",), ("b",), ("z",)], "k string").write.parquet(
        src_dir
    )

    st = StreamingTranslate(
        TranslateConfig(
            source="k", dictionary_path=dict_path, fallback="fb",
            refresh_behaviour="replace", refresh_interval=1,
        ),
        spark,
    )
    stream = spark.readStream.schema("k string").parquet(src_dir)
    q = run_streaming_pipeline(spark, stream, st, out_dir, ckpt)
    q.awaitTermination(120)

    routed = spark.read.parquet(os.path.join(out_dir, "routed"))
    got = {r["k"]: (r["translation"], r["route"]) for r in routed.collect()}
    assert got == {"a": ("1", "matched"), "b": ("2", "matched"), "z": ("fb", "fallback")}

    # second batch after a dictionary mutation: replace drops 'b'
    _write_dict(dict_path, "a,11\n")
    spark.createDataFrame([("a",), ("b",)], "k string").write.mode("append").parquet(
        src_dir
    )
    time.sleep(1)  # refresh_interval elapses: batch 1 must refresh
    q2 = run_streaming_pipeline(spark, stream, st, out_dir, ckpt)
    q2.awaitTermination(120)

    routed = spark.read.parquet(os.path.join(out_dir, "routed"))
    batch2 = routed.filter(F.col("__batch_id") >= 1)
    got2 = {r["k"]: (r["translation"], r["route"]) for r in batch2.collect()}
    assert got2 == {"a": ("11", "matched"), "b": ("fb", "fallback")}

    # checkpoint made the first batch exactly-once: 'a' appears twice total
    # (once per batch), not three times
    assert routed.filter(F.col("k") == "a").count() == 2


def test_windowed_route_counts_batch_semantics(spark):
    df = spark.createDataFrame(
        [
            ("2026-01-01 00:00:10", "matched"),
            ("2026-01-01 00:00:50", "matched"),
            ("2026-01-01 00:01:10", "fallback"),
        ],
        "ts string, route string",
    ).withColumn("warc_ts", F.to_timestamp("ts"))
    out = windowed_route_counts(df).collect()
    got = {(str(r["window_start"]), r["route"]): r["cnt"] for r in out}
    assert got == {
        ("2026-01-01 00:00:00", "matched"): 2,
        ("2026-01-01 00:01:00", "fallback"): 1,
    }


def test_streaming_dedup_state_spans_micro_batches(spark, tmp_path):
    """The stateful dedup must collapse duplicates ACROSS micro-batches:
    batch 2 re-sends batch 1's texts plus new ones; the final state keeps
    the batch-1 canonical ids and counts every occurrence."""
    from logstash_filter_translate_spark.streaming.refresh import (
        run_streaming_dedup,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    # two files → two micro-batches via maxFilesPerTrigger=1
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(10, "alpha beta"), (11, "epsilon zeta")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src + "/f2")

    schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = run_streaming_dedup(
        spark, stream, "text", "doc_id",
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    got = {
        r["doc_id"]: r["dup_cnt"]
        for r in spark.read.parquet(str(tmp_path / "out/deduped")).collect()
    }
    # "alpha beta" seen in both batches: canonical id 1, three occurrences
    assert got == {1: 3, 2: 1, 11: 1}

    # resumability: a restarted query over the same checkpoint re-emits the
    # same final state without reprocessing (no new files → no new batch)
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q2 = run_streaming_dedup(
        spark, stream2, "text", "doc_id",
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(300)
    got2 = {
        r["doc_id"]: r["dup_cnt"]
        for r in spark.read.parquet(str(tmp_path / "out/deduped")).collect()
    }
    assert got2 == got


def test_streaming_sink_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (restart with a lost/fresh checkpoint, same
    source) overwrites its own __batch_id directory instead of appending
    a duplicate copy — the sink needs no reader-side dedup to be
    exactly-once."""
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    spark.createDataFrame([("a",), ("z",)], "k string").write.parquet(src_dir)

    def run(ckpt):
        st = StreamingTranslate(
            TranslateConfig(source="k", dictionary={"a": "1"}, fallback="fb"),
            spark,
        )
        stream = spark.readStream.schema("k string").parquet(src_dir)
        q = run_streaming_pipeline(
            spark, stream, st, out_dir, str(tmp_path / ckpt)
        )
        assert q.awaitTermination(120)

    run("ckpt1")
    first = sorted(
        map(tuple, spark.read.parquet(os.path.join(out_dir, "routed"))
            .select("k", "translation", "route").collect())
    )
    run("ckpt2")  # fresh checkpoint → batch 0 replayed into the same sink
    second = sorted(
        map(tuple, spark.read.parquet(os.path.join(out_dir, "routed"))
            .select("k", "translation", "route").collect())
    )
    assert first == second  # no duplicated rows after the replay


def test_watermark_drops_late_events_in_append_mode(spark, tmp_path):
    """True streaming watermark semantics (not just the batch plane).
    Spark's append-mode aggregation finalizes+emits a window at the end
    of the batch whose (start-of-batch) watermark passed the window end,
    and DROPS rows that arrive after that eviction. Batch layout
    (maxFilesPerTrigger=1 → one micro-batch per source file):
      b0: on-time rows + a 10:25 event → watermark becomes 10:15
      b1: innocuous 10:26 row; wm 10:15 in effect → window [10:00,10:10)
          finalized and emitted with cnt=2
      b2: LATE 10:02 row — state already evicted → dropped, no
          re-emission, count stays 2
    """
    import time as _t

    src = str(tmp_path / "wm_src")

    def write(rows, mode="append"):
        spark.createDataFrame(rows, "ts string, route string").withColumn(
            "warc_ts", F.to_timestamp("ts")
        ).coalesce(1).write.mode(mode).parquet(src)
        _t.sleep(1.1)  # FileStreamSource orders batches by file mtime

    write(
        [
            ("2026-01-01 10:00:10", "matched"),
            ("2026-01-01 10:05:00", "matched"),
            ("2026-01-01 10:25:00", "matched"),
        ],
        mode="overwrite",
    )
    write([("2026-01-01 10:26:00", "matched")])
    write([("2026-01-01 10:02:00", "matched")])  # LATE

    stream = (
        spark.readStream.schema("ts string, route string, warc_ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = windowed_route_counts(stream, window="10 minutes",
                                watermark="10 minutes")
    q = (
        agg.writeStream.format("memory").queryName("wm_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    emitted = [
        (str(r["window_start"]), r["route"], r["cnt"])
        for r in spark.sql("SELECT * FROM wm_out").collect()
        if str(r["window_start"]) == "2026-01-01 10:00:00"
    ]
    # exactly ONE emission of the finalized window, without the late row
    assert emitted == [("2026-01-01 10:00:00", "matched", 2)]
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped >= 1  # the late 10:02 row was discarded by watermark


def test_replayed_batch_clears_stale_route_partitions(spark, tmp_path):
    """If a batch is replayed after a dictionary refresh changed its
    routing, the failed attempt's now-empty route sub-partition must not
    survive and double-count (an overwrite of only the partitions PRESENT
    in the retry would keep it).
    Simulated by deleting the checkpoint (forcing a batch-0 replay)
    after swapping the dictionary so the fallback route disappears."""
    import shutil

    src_dir = str(tmp_path / "src")
    dict_path = str(tmp_path / "d.csv")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_dict(dict_path, "a,1\n")
    spark.createDataFrame([("a",), ("z",)], "k string").write.parquet(src_dir)

    def run():
        st = StreamingTranslate(
            TranslateConfig(
                source="k", dictionary_path=dict_path, fallback="fb",
                refresh_behaviour="replace", refresh_interval=1,
            ),
            spark,
        )
        stream = spark.readStream.schema("k string").parquet(src_dir)
        q = run_streaming_pipeline(spark, stream, st, out_dir, ckpt)
        q.awaitTermination(120)

    run()  # attempt 1: z -> fallback partition exists
    routed = os.path.join(out_dir, "routed")
    assert os.path.isdir(os.path.join(routed, "__batch_id=0", "route=fallback"))

    # crash-before-commit: checkpoint gone, batch 0 will replay; the
    # dictionary now covers z, so no fallback partition should remain
    shutil.rmtree(ckpt)
    _write_dict(dict_path, "a,1\nz,9\n")
    run()  # attempt 2 (replay)

    got = {
        (r["k"], r["route"])
        for r in spark.read.parquet(routed).select("k", "route").collect()
    }
    assert got == {("a", "matched"), ("z", "matched")}
    assert not os.path.isdir(
        os.path.join(routed, "__batch_id=0", "route=fallback")
    )


def test_maybe_refresh_gate(spark, tmp_path, monkeypatch):
    """maybe_refresh reloads only once ``refresh_interval`` seconds have
    passed since the last refresh (or since construction), and never when
    ``refresh_interval <= 0`` (translate.rb:117)."""
    clock = [1000.0]
    monkeypatch.setattr(refresh.time, "monotonic", lambda: clock[0])
    dict_path = str(tmp_path / "d.csv")
    probe = spark.createDataFrame([("a",)], "k string")

    def streaming_translate(interval):
        _write_dict(dict_path, "a,1\n")
        st = StreamingTranslate(
            TranslateConfig(
                source="k", dictionary_path=dict_path,
                refresh_interval=interval,
            ),
            spark,
        )
        return st, lambda: st.apply(probe).first()["translation"]

    for disabled in (0, -1):
        st, translated = streaming_translate(disabled)
        _write_dict(dict_path, "a,2\n")
        clock[0] += 10**6
        assert st.maybe_refresh() is False
        assert translated() == "1"

    st, translated = streaming_translate(10)
    for version in ("2", "3"):  # the window restarts at each refresh
        _write_dict(dict_path, f"a,{version}\n")
        clock[0] += 9.5
        assert st.maybe_refresh() is False  # before the interval
        assert translated() != version
        clock[0] += 0.5
        assert st.maybe_refresh() is True  # the interval has elapsed
        assert translated() == version
