"""Stateful processing: the reference's universal operator on Spark.

``process_state`` is the primitive every reference operator lowers to
(reference src/lib.rs:176-199 un-keyed, src/lib.rs:323-361 keyed): for each
event, in per-key arrival order, call a user function with (key, event,
per-key state, global state) and emit 0..n outputs.

- :func:`process_state` (batch): ``groupBy(keys).applyInPandas``; each key
  group arrives as one pandas DataFrame sorted by event time.  Each group
  must fit in executor memory.
- :func:`process_state_streaming`: ``applyInPandasWithState`` with a
  pickled per-key state blob, initialised on first use like the
  reference's ``key_state_fn`` (src/lib.rs:347-349).
- :func:`global_process_state_streaming`: the reference's global state
  (``GST``), keyed to one synthetic group, so one task sees every row.
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
    output_mode: str = "append",
):
    """Streaming per-key stateful processing.

    Key state is pickled into a per-key binary blob (RocksDB-backed at
    scale, evicted with the state store's usual mechanisms) —
    init-on-first-use like the reference's ``key_state_fn``
    (src/lib.rs:347-349).  Each micro-batch's rows for a key arrive in one
    call, source-ordered within the batch.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from tamar_spark.stream import DataStream

    def wrapped(key, pdfs, gstate):
        if gstate.exists:
            st = pickle.loads(bytes(gstate.get[0]))
        else:
            st = init_state(key) if init_state is not None else None
        for pdf in pdfs:
            res = fn(key, pdf, st)
            if res is not None and len(res):
                yield res
        gstate.update((pickle.dumps(st),))

    out = keyed.df.groupBy(*keyed.keys).applyInPandasWithState(
        wrapped,
        outputStructType=schema,
        stateStructType="blob binary",
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return DataStream(out, env=keyed.env, event_time=keyed.event_time)


def global_process_state_streaming(
    stream,
    fn: Callable[[pd.DataFrame, Any], pd.DataFrame],
    schema,
    init_state: Optional[Callable[[], Any]] = None,
    output_mode: str = "append",
):
    """Streaming analog of the reference's GLOBAL state (``GST`` in un-keyed
    ``process_state``, src/lib.rs:176-199): one state object shared by every
    event, maintained across micro-batches.

    The reference's global state is a process-wide ``Arc<Mutex<_>>`` —
    fundamentally single-writer.  The honest Spark mapping is a
    keyed-singleton: every row is keyed to one synthetic group, so ALL rows
    flow through a single stateful task whose pickled blob persists in the
    state store across micro-batches.  ``fn(pdf, state) -> pdf_out`` sees
    each micro-batch's full row set (source order within the batch) and
    mutates ``state`` in place.

    **Scale hazard (SURVEY §4.3.2, documented on purpose):** a global
    accumulator serializes the whole stream through one task — a design
    smell at 100 TB.  Prefer re-expressing as an aggregation (Spark's
    complete/update-mode ``groupBy().agg()`` keeps partial aggregation
    map-side); reach for this only when the logic is genuinely
    order-dependent, single-writer, and the stream is modest.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from tamar_spark.stream import DataStream

    df = stream.df.withColumn("_gk", F.lit(1))

    def handle(_key, pdfs, gstate):
        if gstate.exists:
            st = pickle.loads(bytes(gstate.get[0]))
        else:
            st = init_state() if init_state is not None else None
        # concatenate the Arrow chunks: fn's contract is one call per
        # micro-batch with the batch's FULL row set (so it can impose a
        # deterministic order before walking)
        batches = [pdf.drop(columns=["_gk"]) for pdf in pdfs if len(pdf)]
        if batches:
            whole = batches[0] if len(batches) == 1 else pd.concat(batches, ignore_index=True)
            res = fn(whole, st)
            if res is not None and len(res):
                yield res
        gstate.update((pickle.dumps(st),))

    out = df.groupBy("_gk").applyInPandasWithState(
        handle,
        outputStructType=schema,
        stateStructType="blob binary",
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return DataStream(out, env=stream.env, event_time=stream.event_time)
