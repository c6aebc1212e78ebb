"""Stateful streaming operators — SURVEY.md §2.9 ST4 and the watermark /
late-data machinery the reference lacks entirely ("none in reference":
no watermarks, no event-time windows, arrival-order trust only).

Two operators:

- ``running_ioc_type_totals``: cumulative per-type IOC counters via
  ``applyInPandasWithState`` — the engine's replacement for the
  reference's read-modify-write JSON counter file (h-isac.py:133-136,
  171-176).  State lives in the checkpointed state store, so totals
  survive restarts exactly-once — no AM/PM stamp bug (SURVEY §4.3.2),
  no lost updates between concurrent runs.

- ``windowed_counts_with_watermark``: event-time tumbling windows in
  append mode.  The watermark bounds state AND defines the late-data
  contract: a record older than the watermark is dropped, a window is
  emitted exactly once when the watermark passes its end.  This is the
  100 TB stream-agg shape — without a watermark, window state grows
  unboundedly.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .drain import drain_to_files, drain_to_memory, replay

_TOTALS_OUT = T.StructType(
    [
        T.StructField("type", T.StringType(), False),
        T.StructField("total", T.LongType(), False),
    ]
)
_TOTALS_STATE = T.StructType([T.StructField("total", T.LongType(), False)])


def _update_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n = sum(len(p) for p in pdfs)
    total = (state.get[0] if state.exists else 0) + n
    state.update((total,))
    yield pd.DataFrame({"type": [key[0]], "total": [total]})


def ioc_type_totals(rows: DataFrame) -> DataFrame:
    """Streaming running total per IOC ``type``: each micro-batch emits
    the new running total for the types it touched, so the latest row
    per type is the current counter (max(total) — totals are
    monotone)."""
    return rows.groupBy("type").applyInPandasWithState(
        _update_totals,
        outputStructType=_TOTALS_OUT,
        stateStructType=_TOTALS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_ioc_type_totals(
    rows: DataFrame, checkpoint_dir: str, out_dir: str
) -> None:
    """Cumulative count per IOC ``type`` across ALL runs sharing the
    checkpoint, appended to the parquet table in ``out_dir``
    (``ioc_type_totals`` rows)."""
    drain_to_files(
        rows.sparkSession, ioc_type_totals(rows), out_dir, checkpoint_dir
    )


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
    ]
)


def windowed_counts_with_watermark(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    watermark: str = "10 minutes",
    window: str = "1 hour",
) -> None:
    """Append-mode tumbling-window counts over JSON-lines events with a
    watermark.  Each window row is emitted exactly once — when the
    watermark (max event time − delay, checkpointed across runs) passes
    the window end; later-than-watermark records are dropped."""
    raw = spark.readStream.schema(EVENT_SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).json(src_dir)
    agg = (
        raw.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n_events",
        )
    )
    drain_to_files(spark, agg, out_dir, checkpoint_dir)


# --- transformWithStateInPandas (Spark 4 arbitrary-state API) ----------

_TWS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
    ]
)


try:  # Spark >= 4.0 only; the applyInPandasWithState paths above must
    # keep importing on older runtimes, so this is a feature gate like
    # _tws_available, not a hard dependency of the module
    from pyspark.sql.streaming import StatefulProcessor
except ImportError:  # pragma: no cover
    StatefulProcessor = object


class _UserCountProcessor(StatefulProcessor):
    """StatefulProcessor: per-user running event count in ValueState
    (module-level class — package modules import cleanly on workers)."""

    def init(self, handle):
        self._n = handle.getValueState("n", "n BIGINT")

    def handleInputRows(self, key, rows, timerValues):
        n = self._n.get()[0] if self._n.exists() else 0
        for pdf in rows:
            n += len(pdf)
        self._n.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    def close(self):
        pass


def _tws_available() -> bool:
    """transformWithStateInPandas speaks a protobuf protocol to its
    state server; the container lacks google.protobuf, so the API is
    probed like the media codecs (multimodal.columns._probe_codecs) and
    the operator raises a documented error where unavailable."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def run_tws_user_counts(
    spark: SparkSession, sf_dir: str, max_user: int = 50, n_files: int = 4
) -> DataFrame:
    """Per-user running event counts through ``transformWithStateInPandas``
    — the Spark 4 arbitrary-state API (typed ValueState handles, timer
    support, state TTL) that succeeds applyInPandasWithState.  The
    fixture splits into micro-batches so counts genuinely accumulate
    across batches in the state store; each batch emits the UPDATED
    total per touched user, so max(n_events) per user after the drain is
    the final count (monotone counters — same convention as
    running_ioc_type_totals).

    Requires the RocksDB state store provider (set per-query below) AND
    google.protobuf on every Python worker (see _tws_available) —
    environment-gated in this container, verified by
    tests/test_stateful_streaming.py when the dependency exists."""
    if not _tws_available():
        raise RuntimeError(
            "transformWithStateInPandas requires google.protobuf on the "
            "Python workers — not present in this environment; "
            "applyInPandasWithState (running_ioc_type_totals) covers the "
            "same stateful semantics on the stable API"
        )
    from ..sources.readers import normalize_event_ts

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        with replay(spark, batch.repartition(n_files)) as raw:
            stream = normalize_event_ts(raw).filter(F.col("user_id") < max_user)
            counts = stream.groupBy("user_id").transformWithStateInPandas(
                statefulProcessor=_UserCountProcessor(),
                outputStructType=_TWS_OUT,
                outputMode="Update",
                timeMode="None",
            )
            return drain_to_memory(spark, counts, "update").localCheckpoint(
                eager=True
            )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
