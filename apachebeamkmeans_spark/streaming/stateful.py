"""Custom stateful streaming operator: per-user session tracking via
applyInPandasWithState.

Demonstrates the engine's arbitrary-stateful-processing surface (the
escape hatch when windowed aggregation can't express the semantics):
state is a per-key (user) tuple (last event µs, sessions so far),
updated per micro-batch; a new session starts when the gap to the
previous event exceeds the threshold. State lives in the state store —
distributed by key, checkpointable, no driver involvement.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_sessions long, n_events long, last_ts_us long"
STATE_SCHEMA = "last_ts_us long, n_sessions long, n_events long"


def _make_fold(gap_us: int):
    """The per-key session fold, shared by BOTH stateful APIs below.
    Defined as a factory-returned closure so cloudpickle ships it by
    VALUE inside whichever update fn / processor captures it (a
    module-level helper would pickle by reference and require the
    package importable on the executor — the fake_decode lesson)."""

    def fold(last_us, n_sessions, n_events, pdfs):
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            # Vectorized per batch: sort once, then a session starts at
            # every position whose gap to the previous timestamp exceeds
            # gap_us (the first event of the key's lifetime always does).
            ts = np.sort(pdf["ts_us"].to_numpy(dtype=np.int64))
            if last_us is None:
                gaps = np.diff(ts)
                n_sessions += 1 + int((gaps > gap_us).sum())
            else:
                gaps = np.diff(np.concatenate(([last_us], ts)))
                n_sessions += int((gaps > gap_us).sum())
            n_events += len(ts)
            last_us = int(ts[-1])
        return last_us, n_sessions, n_events

    return fold


def _make_update_fn(gap_us: int):
    fold = _make_fold(gap_us)

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (user_id,) = key
        if state.exists:
            last_us, n_sessions, n_events = state.get
        else:
            last_us, n_sessions, n_events = None, 0, 0
        last_us, n_sessions, n_events = fold(last_us, n_sessions, n_events, pdfs)
        state.update((last_us, n_sessions, n_events))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
                "last_ts_us": [last_us],
            }
        )

    return update


def _make_session_processor(gap_us: int):
    """StatefulProcessor twin of `_make_update_fn` for Spark 4's
    transformWithState API: the same fold over the same state tuple,
    but state lives in a named ValueState handle inside the RocksDB
    state store (the API's requirement) instead of the GroupState
    blob. Defined inside a factory so cloudpickle ships the class by
    value (see `_make_fold`)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    fold = _make_fold(gap_us)

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("session", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            if self._state.exists():
                last_us, n_sessions, n_events = self._state.get()
            else:
                last_us, n_sessions, n_events = None, 0, 0
            last_us, n_sessions, n_events = fold(
                last_us, n_sessions, n_events, rows
            )
            self._state.update((last_us, n_sessions, n_events))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_sessions": [n_sessions],
                    "n_events": [n_events],
                    "last_ts_us": [last_us],
                }
            )

        def close(self) -> None:
            pass

    return SessionProcessor()


def session_counts_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """events stream → per-user running session/event counts."""
    gap_us = gap_minutes * 60 * 1_000_000
    with_us = events.withColumn("ts_us", F.unix_micros("ts"))
    return with_us.groupBy("user_id").applyInPandasWithState(
        _make_update_fn(gap_us),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_session_counts_to_table(spark, sf_dir: str,
                                name: str = "stream_sessions_out",
                                gap_minutes: int = 30) -> DataFrame:
    from apachebeamkmeans_spark.streaming.events import read_events_stream

    from apachebeamkmeans_spark.streaming import stream_shuffle_partitions

    with stream_shuffle_partitions(spark, f"{sf_dir}/events.parquet"):
        out = session_counts_stream(
            read_events_stream(spark, sf_dir), gap_minutes
        )
        q = (
            out.writeStream.outputMode("update")
            .format("memory").queryName(name).start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def session_counts_stream_tws(events: DataFrame,
                              gap_minutes: int = 30) -> DataFrame:
    """`session_counts_stream` on Spark 4's transformWithStateInPandas:
    the same per-user session semantics through the NEW arbitrary-
    stateful API (StatefulProcessor + typed ValueState handle). Both
    implementations share one fold (`_make_fold`), and both certify
    against the same batch oracle — two independent state plumbing
    paths, one semantics. Requires the RocksDB state store provider
    (the API rejects the default HDFS-backed provider); the runner
    below scopes that conf to its own query."""
    gap_us = gap_minutes * 60 * 1_000_000
    with_us = events.withColumn("ts_us", F.unix_micros("ts"))
    return with_us.groupBy("user_id").transformWithStateInPandas(
        _make_session_processor(gap_us),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def run_session_counts_tws_to_table(spark, sf_dir: str,
                                    name: str = "stream_sessions_tws_out",
                                    gap_minutes: int = 30) -> DataFrame:
    from apachebeamkmeans_spark.streaming.events import read_events_stream

    from apachebeamkmeans_spark.session import scoped_conf
    from apachebeamkmeans_spark.streaming import stream_shuffle_partitions

    with scoped_conf(
        spark, "spark.sql.streaming.stateStore.providerClass",
        _ROCKSDB_PROVIDER,
    ), stream_shuffle_partitions(spark, f"{sf_dir}/events.parquet"):
        out = session_counts_stream_tws(
            read_events_stream(spark, sf_dir), gap_minutes
        )
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)
