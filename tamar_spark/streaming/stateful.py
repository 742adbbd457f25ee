"""Stateful processing: tamar's ``process_state`` on Spark.

``process_state`` calls a user function per key, in event-time order, with
the key's per-key state (reference src/lib.rs:176-199 un-keyed,
src/lib.rs:323-361 keyed).

- :func:`process_state` (batch): ``groupBy(keys).applyInPandas``; each key
  group arrives as one pandas DataFrame sorted by event time.
- :func:`process_state_streaming`: the same call once per key and
  micro-batch, with the state carried across micro-batches.
- :func:`global_process_state_streaming`: the reference's global state, one
  state object over every row.

Every Python stateful stream in the library runs on :func:`_run_keyed_state`.
"""

from __future__ import annotations

import pickle
from typing import Any, Callable, Optional

import pandas as pd
from pyspark.sql import functions as F

from tamar_spark.sources import pin_session_width

__all__ = [
    "process_state",
    "process_state_streaming",
    "global_process_state_streaming",
]


def _run_keyed_state(df, keys, step, schema, init, timers: bool):
    """Run ``step`` once per key and micro-batch with pickled per-key state.

    ``step(key, rows, state, wm_us) -> (out, new_state, seal_us)``:

    - ``rows`` is the key's whole micro-batch as one DataFrame, or None on
      a timer call; ``state`` is the stored value, or ``init(key)`` for a
      key with none; ``wm_us`` is the event-time watermark in µs (None
      without ``timers``).
    - ``out`` (or None) is emitted; a ``new_state`` of None removes the
      key's entry; ``seal_us`` (or None) asks for one more call once the
      watermark is strictly past it.

    ``timers`` selects event-time timeouts, which need a watermark on
    ``df``.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def handle(key, pdfs, gstate):
        chunks = [pdf for pdf in pdfs if len(pdf)]
        rows = (
            None if not chunks
            else chunks[0] if len(chunks) == 1
            else pd.concat(chunks, ignore_index=True)
        )
        state = pickle.loads(gstate.get[0]) if gstate.exists else init(key)
        wm_ms = gstate.getCurrentWatermarkMs() if timers else None
        out, state, seal_us = step(
            key, rows, state, None if wm_ms is None else wm_ms * 1000
        )
        if state is not None:
            gstate.update((pickle.dumps(state),))
            if seal_us is not None:
                # Spark fires a timer once timeout < watermark; a row at
                # seal_us is sealed by the first ms watermark > seal_us // 1000
                gstate.setTimeoutTimestamp(max(seal_us // 1000, wm_ms + 1))
        elif gstate.exists:
            gstate.remove()
        if out is not None and len(out):
            yield out

    return df.groupBy(*keys).applyInPandasWithState(
        handle,
        outputStructType=schema,
        stateStructType="blob binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout
        if timers
        else GroupStateTimeout.NoTimeout,
    )


def process_state(
    keyed,
    fn: Callable[[tuple, pd.DataFrame, Any], pd.DataFrame],
    schema,
    init_state: Optional[Callable[[tuple], Any]] = None,
):
    """Batch per-key ordered stateful processing.

    ``fn(key, pdf, state) -> pdf_out`` receives the key tuple, the key's
    events sorted by event time (whole group, arrival order — exactly what
    the reference's per-event loop observes over a run), and a fresh state
    object from ``init_state(key)`` (the reference's ``key_state_fn``,
    src/lib.rs:347-349).
    """
    from tamar_spark.stream import DataStream

    ts = keyed.event_time

    def apply(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if ts is not None and ts in pdf.columns:
            pdf = pdf.sort_values(ts)
        state = init_state(key) if init_state is not None else None
        return fn(key, pdf, state)

    # the pandas walk is CPU-bound per row: keep AQE from coalescing it
    out = (
        pin_session_width(keyed.df, *keyed.keys)
        .groupBy(*keyed.keys)
        .applyInPandas(apply, schema=schema)
    )
    return DataStream(out, env=keyed.env, event_time=ts)


def process_state_streaming(
    keyed,
    fn: Callable[[tuple, pd.DataFrame, Any], pd.DataFrame],
    schema,
    init_state: Optional[Callable[[tuple], Any]] = None,
):
    """Streaming per-key stateful processing.

    ``fn(key, pdf, state) -> pdf_out`` is called once per key and
    micro-batch with all of the key's rows in that batch, in source order.
    ``state`` starts as ``init_state(key)`` (the reference's
    ``key_state_fn``, src/lib.rs:347-349) and is kept across micro-batches;
    ``fn`` mutates it in place.
    """
    from tamar_spark.stream import DataStream

    # without timers every call carries rows
    def step(key, rows, state, _wm_us):
        return fn(key, rows, state), state, None

    out = _run_keyed_state(
        keyed.df,
        keyed.keys,
        step,
        schema,
        init=lambda key: init_state(key) if init_state is not None else None,
        timers=False,
    )
    return DataStream(out, env=keyed.env, event_time=keyed.event_time)


def global_process_state_streaming(
    stream,
    fn: Callable[[pd.DataFrame, Any], pd.DataFrame],
    schema,
    init_state: Optional[Callable[[], Any]] = None,
):
    """Streaming global state (the reference's ``GST`` in un-keyed
    ``process_state``, src/lib.rs:176-199).

    ``fn(pdf, state) -> pdf_out`` is called once per micro-batch with all
    of its rows, in source order, and mutates ``state`` in place.  Every
    row goes through one task, so use this only for order-dependent
    logic that no aggregation can express.
    """
    from tamar_spark.stream import DataStream

    def step(_key, rows, state, _wm_us):
        return fn(rows.drop(columns=["_gk"]), state), state, None

    out = _run_keyed_state(
        stream.df.withColumn("_gk", F.lit(1)),
        ["_gk"],
        step,
        schema,
        init=lambda _key: init_state() if init_state is not None else None,
        timers=False,
    )
    return DataStream(out, env=stream.env, event_time=stream.event_time)
