"""Structured Streaming recipes (SURVEY.md C23-C28, C33).

The reference is batch-only; this module adds the streaming surface the
driver mandates, built so every streaming computation has a *batch-
equivalent formulation* that hash-matches it (S ≡ Q pattern):

- every pipeline runs under `trigger(availableNow=True)` in tests, so runs
  are replayable and terminate;
- tumbling windows ≡ date_trunc group-by; sliding ≡ slide-start explode;
  session windows ≡ gaps-and-islands SQL;
- watermarks bound state (required for any stateful op on an unbounded
  stream — at 100 TB/day the state store, not the data, is what kills jobs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ascii_hydra_spark.session import scratch_dir
from ascii_hydra_spark.sources import _swap_dir


def read_parquet_stream(spark: SparkSession, path: str) -> DataFrame:
    """Generic file-stream source over any parquet fixture file/dir —
    the read_events_stream shape without the events-specific timestamp
    normalization (schema from a batch read; single files symlinked
    into a scratch watch dir)."""
    import os

    watch_dir = path
    if os.path.isfile(path):
        watch_dir = scratch_dir("ahs_stream_src_")
        os.symlink(path, os.path.join(watch_dir, os.path.basename(path)))
    return (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .format("parquet")
        .load(watch_dir)
    )


def read_events_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """File-stream source over the events fixture.

    Spark's file-stream source watches a *directory*; the fixture is a single
    parquet file, so it is symlinked into a scratch dir (read-only on the
    fixture, no copy). Streams require an explicit schema; rather than
    hard-coding one (fixture `ts` encodings have changed across driver
    generations: ns-as-long, then timestamp[us]/NTZ), the schema is taken
    from a batch read of the same file, and `ts` is then normalized to
    session-TZ TIMESTAMP exactly like the batch catalog normalizer —
    watermarks and window operators require TIMESTAMP.
    """
    from ascii_hydra_spark.catalog import normalize_events

    return normalize_events(read_parquet_stream(spark, events_path))


def tumbling_counts(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Per-hour-window event counts + value sum. Batch-equivalent: group by
    date_trunc — see verification query `stream_tumbling_hourly`."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("value_sum"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "value_sum")
    )


def sliding_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """1-hour windows sliding every 15 minutes, counted; batch oracle:
    explode the four slide starts covering each event and group by start."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def session_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Per-user session windows (30-minute gap); batch oracle:
    gaps-and-islands (lag + cumulative new-session flag)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, keys: list[str]) -> DataFrame:
    """Streaming dropDuplicates bounded by a 1-hour watermark's state."""
    return events.withWatermark("ts", "1 hour").dropDuplicates(keys)


def run_available_now(
    stream_df: DataFrame,
    sink_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> str:
    """Run a streaming DataFrame to completion (availableNow) into an
    append-mode parquet sink; returns the sink path. Deterministic +
    replayable: the test/oracle contract for every streaming recipe."""
    sink = sink_dir or scratch_dir("ahs_sink_")
    ckpt = checkpoint_dir or scratch_dir("ahs_ckpt_")
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sink


def stream_static_join(
    stream: DataFrame,
    dim: DataFrame,
    on_left: str,
    on_right: str,
) -> DataFrame:
    """Stream inner-joined to a STATIC dimension (no watermark needed: static
    side is bounded, Spark re-broadcasts it per micro-batch). The standard
    at-scale enrichment pattern — decode user/partner/geo attributes onto
    an event stream without any state store. The dim is broadcast-hinted:
    a shuffled stream-static join would re-shuffle every micro-batch."""
    return stream.join(F.broadcast(dim), stream[on_left] == dim[on_right], "inner")


def stream_incremental_dedup(
    docs_stream: DataFrame,
    corpus_fingerprints: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Streaming arm of incremental corpus ingestion: drop stream documents
    whose content fingerprint already exists in the static corpus index,
    then dedup within the stream itself.

    The corpus side is the persisted fingerprint INDEX (32-char md5 in
    column `__fp`), never corpus text — a stream-static left_anti join,
    re-broadcast per micro-batch with no state store. The within-stream
    dedup is `dropDuplicates` keyed on the fingerprint: state is one
    32-char key per distinct new doc. At 100 TB/day bound that state with
    `dropDuplicatesWithinWatermark` on the ingest timestamp instead —
    exact-once-ever dedup across unbounded time belongs to the batch
    compaction (incremental_exact_dedup), not the stream.
    """
    fp = F.md5(F.col(text_col).cast("binary")).alias("__fp")
    s = docs_stream.select("*", fp)
    fresh = s.join(F.broadcast(corpus_fingerprints), "__fp", "left_anti")
    return fresh.dropDuplicates(["__fp"]).drop("__fp")


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
) -> DataFrame:
    """Stream-stream inner join with a time-interval condition.

    Both sides carry 1-hour watermarks (mandatory: they bound the join
    state the engine must retain — without them state grows with the
    stream). The join matches right rows in [left.ts - 5 minutes,
    left.ts]. Inner joins emit matches as both sides arrive; under
    availableNow the sink equals the batch theta join on the same inputs.
    """
    l = left.select(
        F.col(key).alias("l_key"),
        F.col("event_id").alias("l_event_id"),
        F.col("ts").alias("l_ts"),
    ).withWatermark("l_ts", "1 hour")
    r = right.select(
        F.col(key).alias("r_key"),
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
    ).withWatermark("r_ts", "1 hour")
    return l.join(
        r,
        F.expr(
            "l_key = r_key AND r_ts BETWEEN l_ts - INTERVAL 5 minutes AND l_ts"
        ),
        "inner",
    )


def stateful_max_value(events: DataFrame) -> DataFrame:
    """Per-key running max via transformWithStateInPandas (Spark 4's
    arbitrary-state API, the successor to applyInPandasWithState): typed
    ValueState, explicit processor lifecycle, RocksDB state store.

    Requires `spark.sql.streaming.stateStore.providerClass` =
    RocksDBStateStoreProvider (the transformWithState backend) AND the
    `google.protobuf` package (the TWS driver-worker protocol) — absent
    from this container, so the operator is exercised by a skip-gated test
    (tests/test_streaming.py) rather than the oracle registry;
    `stateful_running_count` (applyInPandasWithState) is the always-on
    C28 arm.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class MaxProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._mx = handle.getValueState("mx", "mx DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            mx = self._mx.get()[0] if self._mx.exists() else None
            for pdf in rows:
                batch_max = float(pdf["value"].max())
                mx = batch_max if mx is None else max(mx, batch_max)
            self._mx.update((mx,))
            yield pd.DataFrame({"user_id": [key[0]], "max_value": [mx]})

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=MaxProcessor(),
            outputStructType="user_id BIGINT, max_value DOUBLE",
            outputMode="Append",
            timeMode="None",
        )
    )


def run_foreach_batch_upsert(
    stream_df: DataFrame,
    key_cols: list[str],
    order_col: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> str:
    """Maintain a latest-row-per-key parquet table via foreachBatch.

    The standard shape for sinks that need MERGE semantics (file sinks are
    append-only): each micro-batch unions with current state, keeps the max
    `order_col` row per key (full-row tiebreak for determinism), and swaps
    the dataset in via staging-dir rename. At scale the same foreachBatch
    body targets Delta MERGE or a key-value store; the micro-batch
    orchestration, checkpointing, and exactly-once-per-batch contract are
    identical. A crash mid-swap is repaired when the batch is replayed:
    the swap restores a stranded previous state before the merge reads it.
    """
    import os

    state = state_dir or scratch_dir("ahs_upsert_")
    ckpt = checkpoint_dir or scratch_dir("ahs_upsert_ckpt_")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window, functions as F2

        spark = batch_df.sparkSession
        with _swap_dir(state) as staging:
            merged = batch_df
            has_state = os.path.isdir(state) and any(
                f.endswith(".parquet") for f in os.listdir(state)
            )
            if has_state:
                merged = spark.read.parquet(state).unionByName(batch_df)
            w = Window.partitionBy(*key_cols).orderBy(
                F2.desc(order_col), *[F2.desc(c) for c in merged.columns]
            )
            latest = (
                merged.withColumn("__rn", F2.row_number().over(w))
                .filter(F2.col("__rn") == 1)
                .drop("__rn")
            )
            latest.write.mode("overwrite").parquet(staging)

    q = (
        stream_df.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return state


def stateful_running_count(events: DataFrame) -> DataFrame:
    """Custom stateful per-key processing: cumulative event count per user
    via applyInPandasWithState (SURVEY.md C28). Emits one row per input
    batch per user with the updated total; operator mode is "append" so the
    output composes with file sinks (update-mode sinks don't exist for
    files — at scale this feeds a key-value store instead)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import pandas as pd

    out_schema = StructType.fromDDL("user_id BIGINT, total BIGINT")
    state_schema = StructType.fromDDL("total BIGINT")

    def update(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "total": [total]})

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
