"""Streaming analytics over the events stream.

The reference engine is batch-only (SURVEY.md §2.2: no streaming); this
module is the Structured Streaming extension mandated by the build plan
(SURVEY.md §7 M4): windowed aggregation with watermarked late-data
handling, session windows, within-watermark dedup, a custom stateful
operator via ``applyInPandasWithState``, and incremental cube
maintenance via ``foreachBatch``.

All transformations are source-agnostic: they take the streaming
DataFrame, so the same code runs against Kafka, file, rate, or socket
sources. Tests drive them with a file source + ``availableNow``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from implementation_of_an_etl_process_spark.sources import indexdir

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of event parquet files (schema fixed — a
    streaming scan cannot infer)."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def tumbling_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    exact_sums: bool = False,
) -> DataFrame:
    """Windowed counts/sums per event_type with late-data watermark.

    State is bounded: groups older than the watermark are finalized and
    dropped — the property that lets this run forever at firehose scale.
    ``exact_sums`` accumulates values in decimal (order-independent
    across micro-batch schedules) and emits double — needed when the
    result is compared against a batch/oracle computation.
    """
    value_sum = (
        F.sum(F.col("value").cast("decimal(20,6)")).cast("double")
        if exact_sums
        else F.sum("value")
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            value_sum.alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window event counts (each event lands in window/slide
    overlapping windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def session_windows(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    exact_sums: bool = False,
) -> DataFrame:
    """Native session windows (gap-based), the streaming analogue of the
    batch sessionization query. ``exact_sums`` as in ``tumbling_counts``
    (decimal accumulation, order-independent across session merges)."""
    value_sum = (
        F.sum(F.col("value").cast("decimal(20,6)")).cast("double")
        if exact_sums
        else F.sum("value")
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            value_sum.alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedupe_stream(
    events: DataFrame, *, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Drop duplicate events within the watermark horizon (exactly-once
    per key inside the horizon, bounded state — the streaming version of
    exact dedup)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


# --- custom stateful operator ---------------------------------------------

_USER_STATE_SCHEMA = "n_events long, total_value double"
_USER_OUT_SCHEMA = "user_id long, n_events long, total_value double"


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running event count + value total, updated per micro-batch.

    Demonstrates the arbitrary-state API the built-in windows can't
    express (cross-batch, non-windowed accumulation with explicit state
    schema). State per key is two scalars — bounded by user cardinality.
    """

    def update(
        key: tuple[Any, ...],
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_USER_OUT_SCHEMA,
        stateStructType=_USER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_totals_v2(events: DataFrame) -> DataFrame:
    """The same running totals on the Spark 4 state-v2 API
    (``transformWithStateInPandas``): typed value state via a
    ``StatefulProcessor``, the successor to applyInPandasWithState —
    with RocksDB state-store support, state TTL, and timers.

    Environment gate: the state-v2 Python protocol needs the
    ``protobuf`` package. This container doesn't ship it, so this
    raises ImportError with a clear message where it's absent; the
    semantics are pinned by ``running_user_totals`` (identical output
    contract), and the v2 test skips when protobuf is unavailable.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise ImportError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(pyspark's state-v2 worker protocol); install protobuf or "
            "use running_user_totals (applyInPandasWithState)"
        ) from e

    from pyspark.sql.streaming import StatefulProcessor

    class _RunningTotals(StatefulProcessor):
        def init(self, handle) -> None:  # noqa: ANN001
            self._state = handle.getValueState("totals", _USER_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):  # noqa: ANN001
            import pandas as pd

            if self._state.exists():
                n, total = self._state.get()
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].fillna(0.0).sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningTotals(),
        outputStructType=_USER_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# --- stream-stream interval join ------------------------------------------


def attribution_join(
    views: DataFrame,
    purchases: DataFrame,
    *,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each purchase joined to the same user's
    view events in the preceding ``attribution_window`` (classic
    attribution). Both sides are watermarked and the join condition
    bounds event-time distance, so Spark can expire join state — the
    requirement for an unbounded stream-stream join to run forever
    (state per side is O(watermark x arrival rate), not O(stream)).
    """
    v = (
        views.select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    p = (
        purchases.select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return v.join(
        p,
        F.expr(
            f"""
            v_user = p_user AND
            view_ts <= purchase_ts AND
            view_ts >= purchase_ts - INTERVAL {attribution_window}
            """
        ),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        "purchase_ts",
        "view_ts",
        "purchase_value",
    )


# --- incremental cube maintenance -----------------------------------------


def merge_cube_batch(
    batch: DataFrame,
    state_dir: str,
    *,
    dims: list[str],
    measure_sums: list[str],
    key_cols: list[str] | None = None,
) -> None:
    """Upsert one micro-batch of update-mode rows into the parquet cube
    state at ``state_dir``. Exposed as a standalone function so replay
    can be driven directly in tests; :func:`incremental_cube_sink`'s
    foreachBatch delegates here.

    Update-mode rows carry the CURRENT cumulative value per the
    STREAM's grouping key, so the only sound merge is an upsert at that
    full key granularity — rolling up to ``dims`` first would replace a
    dims-row with a sum over just the finer keys present in THIS batch,
    dropping prior contributions. Default key = every non-measure
    column of the batch; streams that also emit derived NON-key metrics
    (an avg, a last-updated ts) must pass ``key_cols`` explicitly, else
    each metric change would look like a brand-new key and duplicate
    state rows.

    The new state is written beside the old and swapped in with
    rollback (``sources.indexdir.replace_dir``): a failed swap leaves
    the previous state in place, never only in ``.old`` where the next
    batch would not find it.
    """
    keys = key_cols or [c for c in batch.columns if c not in set(measure_sums)]
    missing = set(dims) - set(keys)
    if missing:
        raise ValueError(
            f"incremental_cube_sink: dims {sorted(missing)} absent from "
            f"stream key columns {keys}; the stream must group by "
            "(at least) the cube dims"
        )
    new = batch.select(*keys, *measure_sums)
    if os.path.exists(state_dir):
        old = batch.sparkSession.read.parquet(state_dir)
        new = old.join(new, keys, "left_anti").unionByName(new)
    indexdir.replace_dir(state_dir, new.write.parquet, suffix=".tmp")


def incremental_cube_sink(
    cube_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    *,
    dims: list[str],
    measure_sums: list[str],
    key_cols: list[str] | None = None,
    trigger_available_now: bool = True,
):
    """Maintain a materialized cube from a stream via foreachBatch:
    each micro-batch's update-mode rows are upserted into the
    parquet-backed cube state at the stream's own key granularity
    (``dims`` must be a subset of that key; extra stream-key columns —
    e.g. a window_end that rides along with window_start — are kept, so
    any dims-level view is an exact rollup of current values). See
    :func:`merge_cube_batch`.

    Plain parquet overwrite keeps this dependency-free; on a real
    deployment the body becomes a Delta/Iceberg MERGE INTO keyed on the
    stream key (idempotent under retries) — the plan shape is identical.
    """
    writer = (
        cube_stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda batch, _batch_id: merge_cube_batch(
                batch,
                state_dir,
                dims=dims,
                measure_sums=measure_sums,
                key_cols=key_cols,
            )
        )
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer
