"""Custom stateful streaming operator: TTL'd first-insert-wins dedup
via ``applyInPandasWithState`` (SURVEY.md §2 B9/B10).

This is the Spark realization of the reference's dedup protocol
(insert-events-into-db.lua:8-11, 36-39): per event id, the first insert
wins and marks the id "seen" with a 300-second TTL
(`SET eventLogKey ... 'EX' 300`); any copy arriving while the mark
lives is a no-op; once the TTL evicts the mark, the id would be
admitted again. The built-in ``dropDuplicatesWithinWatermark``
(plans/queries_streaming.py `stream_dedup_watermark`) is the JVM fast
path for the same guarantee; this operator is the template for stateful
logic the built-ins can't express — custom state payloads, per-key
timers, first-wins tie-breaking on an explicit arrival rank.

Design decision — EVENT-time TTL, not wall-clock: the reference's
`EX 300` is wall-clock because Redis only has wall-clock. In a
replayable engine, wall-clock state eviction makes results depend on
replay speed (and a ProcessingTimeTimeout keeps a bounded AvailableNow
run alive until every 300 s timer has fired). Keying the TTL to event
time (state evicts when the watermark passes first_seen_ts + TTL) keeps
the same dedup horizon, is deterministic under replay, and lets bounded
runs terminate immediately — the same translation the engine applies to
the reference's TTL everywhere else (SURVEY.md §1.4 D2).

State size is bounded by (distinct keys per TTL horizon), the direct
analog of the Redis event-log's live-key count; eviction is the
engine's timer handling, not a manual sweep. Python runs only the
per-group state logic, Arrow-batched; the scan/shuffle stays JVM-side.

Cost model: applyInPandasWithState pays ~1 ms of Python/Arrow framework
overhead per (key, micro-batch) invocation — data batches AND timer
firings alike. A bounded replay concentrates every timer into the
finalization batch (watermark jumps to max event time), so a 10k-key
replay spends a few seconds there; a long-running stream amortizes the
same firings across batches. Keys are the unit of parallelism — the
per-group floor divides across executors, it does not grow with rows
per group. For high-cardinality dedup WITHOUT custom state payloads,
``dropDuplicatesWithinWatermark`` (stream_dedup_watermark) is the
JVM-side fast path — use this operator only when the built-ins can't
express the state logic.

Arrival order: within one micro-batch the rows of a group are sorted by
the explicit `arrival` column (0 = original, 1+ = retransmission) then
by event time — so "first" is well-defined even when the original and a
retransmitted copy land in the same batch, which file-source replays
cannot otherwise order.
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, arrival int"
)
STATE_SCHEMA = "first_seen_ms long"


def dedup_first_wins_ttl(
    events: DataFrame,
    ttl_seconds: int = 300,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """First-insert-wins dedup keyed on event_id with an event-time TTL.

    Input columns: event_id, ts (timestamp), user_id, event_type,
    value, arrival. Emits exactly the winning row per key per TTL
    horizon (output mode: update).
    """
    ttl_ms = ttl_seconds * 1000

    def dedup_group(
        key: Any,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Watermark passed first_seen + TTL: drop the mark (the
            # Redis EX eviction analog); a later arrival re-admits.
            state.remove()
            return
        seen = state.exists
        first_seen_ms = state.get[0] if seen else None
        for pdf in batches:
            if seen or len(pdf) == 0:
                continue
            # Hot path: this body runs once per distinct key per batch,
            # so avoid the pandas sort machinery — np.lexsort on the two
            # tie-break columns is ~5x cheaper on the tiny per-group
            # frames, and the single-row case skips ordering entirely.
            if len(pdf) == 1:
                first = pdf
            else:
                idx = int(
                    np.lexsort(
                        (pdf["ts"].to_numpy(), pdf["arrival"].to_numpy())
                    )[0]
                )
                first = pdf.iloc[idx : idx + 1]
            first_seen_ms = int(first["ts"].iloc[0].value // 1_000_000)
            seen = True
            yield first
        if seen:
            state.update((first_seen_ms,))
            # Never set a timer at/below the current watermark (engine
            # rejects it): late winners keep a minimal future horizon.
            horizon = max(
                first_seen_ms + ttl_ms, state.getCurrentWatermarkMs() + 1
            )
            state.setTimeoutTimestamp(horizon)

    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("event_id")
        .applyInPandasWithState(
            dedup_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
