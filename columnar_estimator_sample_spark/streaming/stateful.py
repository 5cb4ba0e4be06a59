"""Custom stateful streaming operators (applyInPandasWithState).

Where windows/watermarks can't express the semantics — running per-key
accumulators, custom eviction, cross-batch counters — Structured
Streaming's arbitrary-state API is the engine's extension point
(SURVEY.md §2.8). The state payload is a tuple the runtime persists in
the state store per key, exactly-once under checkpointing.

Scale notes: state is partitioned by key across executors (size =
O(active keys)); timeouts bound lifetime. Arrow batches in/out — the
Python worker sees a pandas frame per (key, micro-batch).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from columnar_estimator_sample_spark.registry import register

EXACT_OUT_SCHEMA = ("user_id long, n_events long, total_micros long, "
                    "first_us long, last_us long")
EXACT_STATE_SCHEMA = "n long, total_micros long, first_us long, last_us long"


def _update_user_totals_exact(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState) -> Iterable[pd.DataFrame]:
    """Running per-user totals across micro-batches. Emits the UPDATED
    running row for every batch in which the user appears (an update-mode
    stream of per-key accumulators). The running sum is kept in integer
    MICROS (values are 6-decimal fixed point across the engine, see
    functions/exact.dsum), so accumulation is order-free — a float
    running sum would depend on the per-batch row order the state-store
    shuffle happens to produce, which no oracle can pin."""
    if state.exists:
        n, total_micros, first_us, last_us = state.get
    else:
        n, total_micros, first_us, last_us = 0, 0, None, None
    for pdf in pdfs:
        n += len(pdf)
        total_micros += int(
            (pdf["value"] * 1_000_000).round().astype("int64").sum())
        lo = int(pdf["us"].min())
        hi = int(pdf["us"].max())
        first_us = lo if first_us is None else min(first_us, lo)
        last_us = hi if last_us is None else max(last_us, hi)
    state.update((n, total_micros, first_us, last_us))
    yield pd.DataFrame([{
        "user_id": key[0], "n_events": n, "total_micros": total_micros,
        "first_us": first_us, "last_us": last_us,
    }])


def running_user_totals_exact(events: DataFrame) -> DataFrame:
    """Integer-exact stateful running totals per user (registered as
    q_stream_user_totals) — the custom-operator shape the built-in
    windows can't express (state survives across micro-batches, output
    is the running value, not a window close)."""
    return (
        events.select("user_id", "value", "us")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals_exact,
            outputStructType=EXACT_OUT_SCHEMA,
            stateStructType=EXACT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@register(
    "q_stream_user_totals",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 1000000) AS BIGINT))
                AS BIGINT) AS total_micros,
           MIN(epoch_us(ts)) AS first_us,
           MAX(epoch_us(ts)) AS last_us
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_stream_user_totals(spark, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``),
    driver-gated: per-user running accumulators that survive across
    micro-batches — the §2.8 arbitrary-state class the built-in windows
    can't express. The update-mode sink receives one running row per
    (user, batch-with-activity); the final value per user is selected
    with a max-over-structs (running counters are monotone), so the
    result is batch-split-invariant and the batch GROUP BY oracle
    certifies the whole path: state store, Arrow batches into the Python
    worker, integer-exact accumulation, availableNow drain.

    Scale: state is O(active users) small tuples, partitioned by key
    across executors; Arrow batch transfer per (key, micro-batch)."""
    from pyspark.sql import functions as F

    from columnar_estimator_sample_spark.streaming.windows import (
        events_stream, run_to_completion,
    )

    sink = run_to_completion(
        running_user_totals_exact(events_stream(spark, sf_dir)), "update")
    final = (sink.groupBy("user_id")
             .agg(F.max(F.struct("n_events", "total_micros",
                                 "first_us", "last_us")).alias("m"))
             .select("user_id", "m.n_events", "m.total_micros",
                     "m.first_us", "m.last_us")
             .orderBy("user_id"))
    return spark.createDataFrame(final.collect(), EXACT_OUT_SCHEMA)


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 typed-state API) — capability-gated
# ---------------------------------------------------------------------------

def transform_with_state_available() -> bool:
    """The transformWithStateInPandas Python worker talks to the JVM's
    state server over a protobuf protocol, so it needs the ``protobuf``
    package at RUNTIME (the DataFrame API itself imports fine without
    it — the stream then crashes at start with
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE). This container
    ships no Python protobuf, so the operator is gated, not registered:
    the processor LOGIC is unit-tested against a fake state harness, and
    the live path lights up unmodified wherever protobuf exists."""
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


TWS_OUT_SCHEMA = ("user_id long, event_type string, n_occurrences long, "
                  "first_us long")

try:
    from pyspark.sql.streaming import StatefulProcessor
except ImportError:  # pragma: no cover - pyspark >= 4 always has it
    StatefulProcessor = object  # type: ignore[assignment,misc]


class FirstSeenCensus(StatefulProcessor):
    """Typed-state (MapState) per-user first-seen census: for every user
    maintain event_type -> (first_us, n) across micro-batches and emit
    the user's full map each batch the user appears in (update-mode
    running rows — monotone in n, so the final row per key is the
    max-struct, the same batch-split-invariant selection as
    q_stream_user_totals).

    This is the transformWithState class of operator the older
    applyInPandasWithState can't express as naturally: named typed state
    handles (here one MapState; ValueState/ListState/timers/TTL hang off
    the same handle) instead of one opaque state tuple per key.

    Scale: state is O(active users x event types) small entries in the
    RocksDB state store (transformWithState requires the RocksDB
    provider), partitioned by user across executors; Arrow batches carry
    rows into the Python worker per (key, micro-batch)."""

    def init(self, handle) -> None:
        self._seen = handle.getMapState(
            "seen", "event_type string", "first_us long, n long")

    def handleInputRows(self, key, rows, timerValues):
        for pdf in rows:
            agg = pdf.groupby("event_type").agg(
                first_us=("us", "min"), n=("us", "size"))
            for et, row in agg.iterrows():
                if self._seen.containsKey((et,)):
                    cur_first, cur_n = self._seen.getValue((et,))
                    self._seen.updateValue(
                        (et,), (min(cur_first, int(row.first_us)),
                                cur_n + int(row.n)))
                else:
                    self._seen.updateValue(
                        (et,), (int(row.first_us), int(row.n)))
        out = [{"user_id": key[0], "event_type": et[0],
                "n_occurrences": v[1], "first_us": v[0]}
               for et, v in self._seen.iterator()]
        yield pd.DataFrame(out)

    def close(self) -> None:
        pass


def first_seen_census(events: DataFrame) -> DataFrame:
    """Per-user (event_type, first_us, running n) via
    ``transformWithStateInPandas``. Requires Python protobuf at runtime
    (see :func:`transform_with_state_available`) and the RocksDB state
    store provider on the session
    (``spark.sql.streaming.stateStore.providerClass`` =
    ``org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider``).
    """
    if not transform_with_state_available():
        raise NotImplementedError(
            "transformWithStateInPandas needs the protobuf package in the "
            "Python worker; not available in this environment "
            "(see transform_with_state_available)")
    return (
        events.select("user_id", "event_type", "us")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=FirstSeenCensus(),
            outputStructType=TWS_OUT_SCHEMA,
            outputMode="update",
            timeMode="none",
        )
    )
