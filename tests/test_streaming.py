"""Streaming window operators: the streaming answer must equal the batch
answer over the same (bounded) input — the core Structured Streaming
correctness property."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pcap_converter_spark.io.loader import load_table
from pcap_converter_spark.streaming import windows as W

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_batch(spark):
    return load_table(spark, SF, "events")


def test_streaming_tumbling_equals_batch(spark, events_batch):
    stream = W.read_events_stream(spark, SF)
    got = W.run_available_now(W.tumbling_counts(stream), "t_tumbling").cache()

    expected = (
        events_batch.groupBy(
            F.date_trunc("hour", "ts").cast("timestamp").alias("h"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v"),
        )
        .cache()
    )
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_streaming_sessions_equal_batch_gaps_and_islands(spark, events_batch):
    stream = W.read_events_stream(spark, SF)
    got = W.run_available_now(W.session_counts(stream), "t_sessions")

    # batch gaps-and-islands (DQ21 shape) over the same data
    lagged = events_batch.withColumn(
        "prev",
        F.lag("ts").over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                "user_id"
            ).orderBy("ts", "event_id")
        ),
    )
    marked = lagged.withColumn(
        "new_s",
        F.when(
            F.col("prev").isNull() | F.expr("ts - prev > INTERVAL 30 MINUTE"),
            1,
        ).otherwise(0),
    )
    from pyspark.sql.window import Window

    sessions = marked.withColumn(
        "sid",
        F.sum("new_s").over(Window.partitionBy("user_id").orderBy("ts", "event_id")),
    )
    expected = sessions.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("t0")
    )
    # same session partitioning: session count and event totals line up
    assert got.count() == expected.count()
    assert (
        got.agg(F.sum("n_events")).first()[0]
        == expected.agg(F.sum("n_events")).first()[0]
    )

def test_streaming_sliding_equals_batch(spark, events_batch):
    stream = W.read_events_stream(spark, SF)
    got = W.run_available_now(W.sliding_counts(stream), "t_sliding").cache()
    expected = W.sliding_counts(events_batch).select(
        F.col("h").cast("timestamp").alias("h"), "event_type", "n", "v"
    ).cache()
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    # every event lands in exactly window/slide = 2 windows
    assert (
        got.agg(F.sum("n")).first()[0] == 2 * events_batch.count()
    )


def test_stream_stream_join_equals_batch(spark, events_batch):
    """Stream-stream inner join with an event-time range condition: each
    event joined to events of the SAME user within the preceding 10
    minutes — the canonical watermarked interval join. The streaming
    answer must equal the same join run in batch."""
    left = W.read_events_stream(spark, SF).withWatermark("ts", "1 hour")
    right = (
        W.read_events_stream(spark, SF)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_id"),
        )
        .withWatermark("r_ts", "1 hour")
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") < F.col("ts"))
        & (F.col("r_ts") >= F.col("ts") - F.expr("INTERVAL 10 MINUTES")),
    ).select("event_id", "r_id")
    got = W.run_available_now_append(joined, "t_ssjoin").cache()

    b = events_batch.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id"
    )
    br = b.select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    )
    expected = b.join(
        br,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") < F.col("ts"))
        & (F.col("r_ts") >= F.col("ts") - F.expr("INTERVAL 10 MINUTES")),
    ).select("event_id", "r_id").cache()
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_stage_dirs_removed_at_exit(tmp_path):
    """``stage_as_dir``'s staging dirs are removed by the module's atexit
    hook (``_cleanup_stage_dirs``) when the interpreter exits."""
    import os
    import subprocess
    import sys

    src = tmp_path / "events.parquet"
    src.write_bytes(b"stub")
    code = (
        "import os\n"
        "from pcap_converter_spark.streaming.windows import stage_as_dir\n"
        f"d = stage_as_dir({str(src)!r}, 'stage_exit_test_')\n"
        "print(d, os.path.isdir(d))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True,
        text=True, check=True, timeout=120,
    )
    d, existed = out.stdout.split()
    assert existed == "True"
    assert not os.path.exists(d)
