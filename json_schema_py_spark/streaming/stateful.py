"""Custom stateful streaming operators via applyInPandasWithState.

The reference is single-shot; a continuously-ingesting validator needs
cross-batch state. Two operators:

* ``violation_streaks`` — per key, the running count of consecutive
  micro-batches containing violations; emits a row whenever the streak
  crosses a threshold (an alerting primitive: a source that stays bad for
  k batches is broken, not noisy).
* ``streaming_first_seen`` — per content fingerprint, keep first-seen state
  → emit only never-seen-before rows (streaming exact dedup; the streaming
  face of operators/dedup.exact_duplicates).

State TTL: pass ``state_ttl_hours`` to enable ProcessingTimeTimeout eviction
— mandatory for CONTINUOUS streams at 10^12-doc scale where the key space is
unbounded. Default is NoTimeout because a ProcessingTimeTimeout keeps
Trigger.AvailableNow queries alive long past their data (measured 300s vs
4s on the test corpus) — batch-style replays want no TTL.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STREAK_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("streak", T.LongType()),
        T.StructField("violations_in_batch", T.LongType()),
    ]
)
STREAK_STATE = T.StructType([T.StructField("streak", T.LongType())])


def violation_streaks(
    violations: DataFrame,
    key_col: str = "rule_id",
    min_streak: int = 1,
    state_ttl_hours: float | None = None,
) -> DataFrame:
    """Group a violations STREAM by key and count its violation-bearing
    micro-batches. Emits (key, streak, violations_in_batch) per key per
    batch where the streak ≥ min_streak.

    Reset semantics (exact, not "consecutive batches"): a violations stream
    only ever delivers rows for keys that violated, and
    applyInPandasWithState does not invoke absent keys — so there is no
    in-band "clean batch" signal to reset on. The streak therefore counts
    ALL violation-bearing batches for the key, and resets when the key's
    state expires via ``state_ttl_hours`` (ProcessingTimeTimeout): a key
    quiet for the TTL starts over at 1. Callers wanting strict
    consecutive-batch semantics must aggregate violations per key per batch
    UPSTREAM including zero-count rows (requires a known key universe) and
    feed that stream here — the n == 0 branch below then resets in-band."""
    ttl_ms = int(state_ttl_hours * 3600 * 1000) if state_ttl_hours else 0

    def update(
        key: Tuple[str],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        n = sum(len(p) for p in pdfs)
        (streak,) = state.get if state.exists else (0,)
        if n > 0:
            streak += 1
            state.update((streak,))
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)
            if streak >= min_streak:
                yield pd.DataFrame(
                    {"key": [key[0]], "streak": [streak], "violations_in_batch": [n]}
                )
        else:
            # reachable only with upstream zero-count feeding (see docstring)
            state.remove()

    return violations.withColumn("key", F.col(key_col)).groupBy("key").applyInPandasWithState(
        update,
        outputStructType=STREAK_SCHEMA,
        stateStructType=STREAK_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms
        else GroupStateTimeout.NoTimeout,
    )


FIRST_SEEN_SCHEMA = T.StructType(
    [
        T.StructField("fingerprint", T.StringType()),
        T.StructField("doc_id", T.StringType()),
    ]
)
FIRST_SEEN_STATE = T.StructType([T.StructField("seen", T.BooleanType())])


def streaming_first_seen(
    docs: DataFrame,
    fp_col: str = "fingerprint",
    id_col: str = "doc_id",
    state_ttl_hours: float | None = None,
) -> DataFrame:
    """Streaming exact dedup: emit the FIRST row per fingerprint, drop the
    rest across all micro-batches (state: one boolean per fingerprint).
    At scale, fingerprints shard across partitions by group key."""
    ttl_ms = int(state_ttl_hours * 3600 * 1000) if state_ttl_hours else 0

    def update(
        key: Tuple[str],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            return
        first_id = None
        for p in pdfs:
            if len(p) > 0:
                first_id = str(p[id_col].iloc[0])
                break
        state.update((True,))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        if first_id is not None:
            yield pd.DataFrame({"fingerprint": [key[0]], "doc_id": [first_id]})

    return docs.withColumn("fingerprint", F.col(fp_col)).groupBy("fingerprint").applyInPandasWithState(
        update,
        outputStructType=FIRST_SEEN_SCHEMA,
        stateStructType=FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms
        else GroupStateTimeout.NoTimeout,
    )
