"""Behavioral streaming tests that have no SQL oracle (SURVEY.md C26/S4).

The S ≡ Q streaming equivalences (tumbling/sliding/session/dedup/stateful)
are covered by the oracle registry; what's left is watermark *behavior*:
late data beyond the watermark must be dropped, which needs a controlled
two-batch replay rather than a single-shot query.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ascii_hydra_spark import streaming


def _write_batch(spark, dir_, name, rows):
    df = spark.createDataFrame(rows, "event_id BIGINT, user_id BIGINT, ts STRING").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(dir_, name))


def _fresh_dirs(tmp_path, *names):
    """One new empty dir per name under the test's own `tmp_path`."""
    for n in names:
        (tmp_path / n).mkdir()
    return [str(tmp_path / n) for n in names]


def test_watermark_drops_late_data(spark, tmp_path):
    src, sink, ckpt = _fresh_dirs(tmp_path, "src", "sink", "ckpt")

    # batch 1: events up to 12:00 -> watermark advances to 11:50
    _write_batch(
        spark,
        src,
        "b1",
        [
            (1, 1, "2024-01-01 10:00:00"),
            (2, 1, "2024-01-01 10:30:00"),
            (3, 1, "2024-01-01 12:00:00"),
        ],
    )

    def run_once():
        ev = (
            spark.readStream.schema("event_id BIGINT, user_id BIGINT, ts TIMESTAMP")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*")
        )
        agg = (
            ev.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("window_start"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = {
        (r.window_start.isoformat(), r.n)
        for r in spark.read.parquet(sink).collect()
    }
    # watermark after batch1 = 12:00 - 10min = 11:50 -> only the 10:00 hour
    # window (end 11:00) is closed and emitted
    assert first == {("2024-01-01T10:00:00", 2)}

    # batch 2: one event far behind the watermark (dropped) and one that
    # closes the 12:00 window
    _write_batch(
        spark,
        src,
        "b2",
        [
            (4, 1, "2024-01-01 10:15:00"),  # late: behind 11:50 watermark
            (5, 1, "2024-01-01 13:30:00"),
        ],
    )
    run_once()
    final = {
        (r.window_start.isoformat(), r.n)
        for r in spark.read.parquet(sink).collect()
    }
    # the late 10:15 event must NOT reopen/augment the 10:00 window; the
    # 12:00 window (1 event) closes once the watermark passes 13:00
    assert ("2024-01-01T10:00:00", 3) not in final
    assert ("2024-01-01T12:00:00", 1) in final


def test_transform_with_state_max(spark, tmp_path):
    """Spark 4 transformWithStateInPandas arm of C28 — requires
    google.protobuf (TWS worker protocol), absent from this container."""
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf not usable (TWS driver-worker dependency)")
    src = str(tmp_path)
    _write_batch(
        spark,
        src,
        "b1",
        [(1, 7, "2024-01-01 10:00:00"), (2, 7, "2024-01-01 10:05:00"), (3, 8, "2024-01-01 10:06:00")],
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = (
            spark.readStream.schema("event_id BIGINT, user_id BIGINT, ts TIMESTAMP")
            .parquet(f"{src}/*")
            .withColumn("value", F.col("event_id").cast("double"))
        )
        agg = streaming.stateful_max_value(ev)
        sink = streaming.run_available_now(agg)
        got = {(r.user_id, r.max_value) for r in spark.read.parquet(sink).collect()}
        assert got == {(7, 2.0), (8, 3.0)}
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_foreach_batch_upsert_keeps_latest_per_key(spark, tmp_path):
    src, state, ckpt = _fresh_dirs(tmp_path, "src", "state", "ckpt")
    _write_batch(
        spark,
        src,
        "b1",
        [(1, 7, "2024-01-01 10:00:00"), (2, 8, "2024-01-01 10:05:00")],
    )

    def run_once():
        ev = spark.readStream.schema(
            "event_id BIGINT, user_id BIGINT, ts TIMESTAMP"
        ).parquet(f"{src}/*")
        streaming.run_foreach_batch_upsert(
            ev, key_cols=["user_id"], order_col="ts", state_dir=state, checkpoint_dir=ckpt
        )

    run_once()
    got = {(r.user_id, r.event_id) for r in spark.read.parquet(state).collect()}
    assert got == {(7, 1), (8, 2)}

    # batch 2: newer event for user 7, new user 9 — user 8 untouched
    _write_batch(
        spark,
        src,
        "b2",
        [(3, 7, "2024-01-01 11:00:00"), (4, 9, "2024-01-01 11:01:00")],
    )
    run_once()
    got = {(r.user_id, r.event_id) for r in spark.read.parquet(state).collect()}
    assert got == {(7, 3), (8, 2), (9, 4)}


def test_foreach_batch_upsert_survives_crash_mid_swap(spark, monkeypatch, tmp_path):
    """A crash between the swap's two renames leaves the previous state
    parked at its backup; the replayed batch must merge into it, not
    replace it."""
    import pytest

    src, state, ckpt = (str(tmp_path / n) for n in ("src", "state", "ckpt"))

    def run_once():
        ev = spark.readStream.schema(
            "event_id BIGINT, user_id BIGINT, ts TIMESTAMP"
        ).parquet(f"{src}/*")
        streaming.run_foreach_batch_upsert(
            ev, key_cols=["user_id"], order_col="ts", state_dir=state, checkpoint_dir=ckpt
        )

    _write_batch(
        spark, src, "b1", [(1, 7, "2024-01-01 10:00:00"), (2, 8, "2024-01-01 10:05:00")]
    )
    run_once()

    real_rename = os.rename
    failed = []

    def rename_failing_once(src_path, dst_path):
        # the swap's second rename moves the staged data onto `state`
        if dst_path == state and not failed:
            failed.append(src_path)
            raise OSError("injected crash between the swap's renames")
        real_rename(src_path, dst_path)

    monkeypatch.setattr(os, "rename", rename_failing_once)
    _write_batch(spark, src, "b2", [(3, 9, "2024-01-01 11:00:00")])
    with pytest.raises(Exception, match="injected crash"):
        run_once()
    assert failed and not os.path.exists(state)

    run_once()  # same checkpoint: the failed batch is replayed
    got = {(r.user_id, r.event_id) for r in spark.read.parquet(state).collect()}
    assert got == {(7, 1), (8, 2), (9, 3)}


def test_stream_dedup_emits_first_occurrence_only(spark, tmp_path):
    src = str(tmp_path)
    _write_batch(
        spark,
        src,
        "b1",
        [
            (1, 7, "2024-01-01 10:00:00"),
            (2, 7, "2024-01-01 10:05:00"),
            (3, 8, "2024-01-01 10:06:00"),
        ],
    )
    ev = spark.readStream.schema("event_id BIGINT, user_id BIGINT, ts TIMESTAMP").parquet(
        f"{src}/*"
    )
    deduped = streaming.stream_dedup(ev, ["user_id"]).select("user_id")
    sink = streaming.run_available_now(deduped)
    got = sorted(r.user_id for r in spark.read.parquet(sink).collect())
    assert got == [7, 8]
