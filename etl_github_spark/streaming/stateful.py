"""Custom stateful streaming operator via applyInPandasWithState.

The reference has no stateful ops (SURVEY.md §2.8) — this is the
north-star escape hatch for semantics neither windowed aggregation nor
session windows express: arbitrary per-key state evolved across
micro-batches. Operators: an EWMA volume-spike gate per event type,
bounded per-shard token heavy hitters, and last-touch purchase
attribution per user — each keeps its state in GroupState and emits
from the micro-batch that updates it.

At scale: state lives in the state store partitioned by the grouping
key (RocksDB-backed on a real cluster); each micro-batch shuffles only
that batch's rows by key.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SPIKE_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("batch_count", LongType()),
        StructField("ewma", DoubleType()),
        StructField("is_spike", BooleanType()),
    ]
)

_SPIKE_STATE_SCHEMA = "ewma DOUBLE, n_batches LONG"

_EWMA_ALPHA = 0.3
_SPIKE_RATIO = 2.0


def _update_spike(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (event_type,) = key
    ewma, n_batches = state.get if state.exists else (None, 0)
    c = 0
    for pdf in pdfs:
        c += len(pdf)
    # flag against the PRE-update level (a spike must not mask itself by
    # first inflating the average it is compared to)
    is_spike = n_batches >= 1 and float(c) > _SPIKE_RATIO * ewma
    ewma = float(c) if ewma is None else _EWMA_ALPHA * c + (1.0 - _EWMA_ALPHA) * ewma
    state.update((ewma, n_batches + 1))
    yield pd.DataFrame(
        {
            "event_type": [event_type],
            "batch_count": [c],
            "ewma": [ewma],
            "is_spike": [is_spike],
        }
    )


def volume_spike_gate(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch `trend_ewma_spikes` query: per
    event_type, each micro-batch's row count is compared against the
    EWMA of previous batches (spike = >2x the pre-update level), then
    folded into the state — s_1 = c_1; s_t = α·c_t + (1−α)·s_{t−1},
    the identical recurrence, evolved incrementally in GroupState
    instead of re-folded over history. The monitor a pipeline points
    at its own ingest to catch crawler outages / bot floods / feed
    duplication within one micro-batch of onset.

    At scale: state is one (double, long) pair per event_type in the
    state store; each batch shuffles only its own rows by type.
    """
    return events.select("event_type").groupBy("event_type").applyInPandasWithState(
        _update_spike,
        outputStructType=SPIKE_SCHEMA,
        stateStructType=_SPIKE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HH_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("tok", StringType()),
        StructField("lower_bound", LongType()),
        StructField("n_shard", LongType()),
    ]
)

_HH_STATE_SCHEMA = "toks ARRAY<STRING>, cnts ARRAY<LONG>, n LONG"
_HH_CAP = 32  # Misra-Gries counters kept per shard


def _update_hh(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (shard,) = key
    if state.exists:
        toks, cnts, n = state.get
        counters = dict(zip(toks, cnts))
    else:
        counters, n = {}, 0
    for pdf in pdfs:
        n += len(pdf)
        for t, c in pdf["tok"].value_counts().items():
            counters[t] = counters.get(t, 0) + int(c)
        if len(counters) > _HH_CAP:
            vals = sorted(counters.values(), reverse=True)
            sub = vals[_HH_CAP]
            counters = {t: c - sub for t, c in counters.items() if c > sub}
    state.update(
        (list(counters.keys()), [int(v) for v in counters.values()], n)
    )
    yield pd.DataFrame(
        {
            "shard": shard,
            "tok": list(counters.keys()),
            "lower_bound": [int(v) for v in counters.values()],
            "n_shard": n,
        }
    )


def token_heavy_hitters(
    tokens: DataFrame, n_shards: int = 16, shard_col: str | None = None
) -> DataFrame:
    """Streaming twin of the batch `agg_heavy_hitters_mg`: per-shard
    Misra-Gries summaries evolved across micro-batches in GroupState.
    Each batch emits the refreshed candidate set per updated shard,
    with MG lower-bound counts and the shard's processed-row total.

    The MG guarantee carries over per shard and over the whole stream
    so far: any token whose cumulative shard frequency exceeds
    n_shard/(cap+1) is guaranteed present among the shard's candidates
    at that point — the streaming trending-terms monitor with state
    bounded at cap tokens per shard, however long the stream runs.
    The shard key is a hash of the token, so one shard's state never
    exceeds cap entries and the batch shuffle is uniform.

    ``shard_col`` is an explicit opt-in for callers that precompute
    the shard (the oracle-replayable bridge query supplies an
    engine-portable md5-derived shard; production defaults to
    xxhash64). It is a parameter, not a magic column name: a stray
    ``shard`` column inherited from an upstream join must never
    silently become the state key (a skewed or high-cardinality one
    would break the cap×n_shards state bound with no error).
    ``n_shards`` is ignored when ``shard_col`` is given — the caller
    owns the shard domain.
    """
    from pyspark.sql import functions as F

    sharded = (
        tokens.select(F.col(shard_col).cast("int").alias("shard"), "tok")
        if shard_col is not None
        else tokens.select(
            F.pmod(F.xxhash64("tok"), F.lit(n_shards)).cast("int").alias("shard"),
            "tok",
        )
    )
    return (
        sharded.select("shard", "tok")
        .groupBy("shard")
        .applyInPandasWithState(
            _update_hh,
            outputStructType=HH_SCHEMA,
            stateStructType=_HH_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


ATTR_SCHEMA = StructType(
    [
        StructField("purchase_id", LongType()),
        StructField("user_id", LongType()),
        StructField("attributed_event_id", LongType()),
        StructField("attributed_type", StringType()),
        StructField("gap_us", LongType()),
    ]
)

_ATTR_STATE_SCHEMA = "touch_id LONG, touch_type STRING, touch_ts_us LONG"
_ATTR_WINDOW_US = 3_600_000_000  # 1h lookback, matching the batch twin


def _update_attr(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    import numpy as np

    (user_id,) = key
    touch = state.get if state.exists else (None, None, None)
    out: dict[str, list] = {k.name: [] for k in ATTR_SCHEMA.fields}
    for pdf in pdfs:
        # within-batch event-time order. Purchases process BEFORE
        # same-timestamp touches: the batch twin credits only touches
        # with t_ts strictly < p_ts, so a tied touch must not overwrite
        # the state (erasing the older in-window touch) before the
        # purchase reads it. Among tied touches event_id asc means the
        # highest id lands last in state = the batch (touch_id DESC)
        # winner; tied purchases never interact. Raw numpy + lexsort
        # rather than DataFrame assign/sort_values: this function runs
        # once per (user, batch) and the pandas forms dominated the
        # replay's wall time (~1.9 ms vs ~0.4 ms per call).
        ev = pdf["event_id"].to_numpy()
        et = pdf["event_type"].to_numpy()
        ts = pdf["ts_us"].to_numpy()
        is_touch = et != "purchase"
        for i in np.lexsort((ev, is_touch, ts)):
            etype = et[i]
            if etype == "click" or etype == "view":
                touch = (int(ev[i]), str(etype), int(ts[i]))
            elif etype == "purchase":
                tid, ttype, tts = touch
                ts_us = int(ts[i])
                fresh = tts is not None and 0 < ts_us - tts <= _ATTR_WINDOW_US
                out["purchase_id"].append(int(ev[i]))
                out["user_id"].append(int(user_id))
                out["attributed_event_id"].append(tid if fresh else None)
                out["attributed_type"].append(ttype if fresh else None)
                out["gap_us"].append(ts_us - tts if fresh else None)
    state.update(tuple(touch))
    if out["purchase_id"]:  # groups with no purchases yield no frame
        yield pd.DataFrame(out)


def attribution_last_touch(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch `analytics_attribution_last_touch`:
    per-user GroupState holds only the LATEST click/view (one 3-field
    row per user, however long the stream runs); each purchase is
    credited in the micro-batch it arrives in — realtime conversion
    attribution instead of a nightly range join, with unattributed
    purchases emitted as NULL-credit rows exactly like the batch op.

    Caveat vs batch: attribution is as-of processing order across
    micro-batches (a touch that arrives AFTER the purchase's batch
    cannot claim it retroactively) — the standard streaming trade,
    stated rather than hidden. Within a batch, event-time order with
    the batch twin's tie-break is enforced by an explicit sort.
    """
    return (
        events.select("event_id", "user_id", "event_type", "ts_us")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_attr,
            outputStructType=ATTR_SCHEMA,
            stateStructType=_ATTR_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
