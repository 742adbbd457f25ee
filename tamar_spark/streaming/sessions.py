"""Streaming session windows that hand each fired session's events to user
code with per-key state (``WindowedDataStream::process_state``, reference
src/lib.rs:771-834).

Per key, the state holds the buffered events of the open sessions and the
user state.  A session closes once the watermark is strictly past its last
event plus the gap; sessions still open at end of stream never emit (the
reference's no-flush semantic, src/lib.rs:1316-1345).
"""

from __future__ import annotations

from typing import Any, Callable, Optional

import numpy as np
import pandas as pd

from tamar_spark.streaming.stateful import _run_keyed_state

__all__ = ["session_process_streaming"]


def session_process_streaming(
    keyed,
    gap_seconds: float,
    fn: Callable[[tuple, pd.DataFrame, Any], pd.DataFrame],
    schema,
    init_state: Optional[Callable[[tuple], Any]] = None,
    ts_col: Optional[str] = None,
):
    """Streaming session-window full-batch processing.

    ``fn(key, session_pdf, user_state) -> output pdf`` is called once per
    FIRED session with all of its events sorted by event time.  ``keyed``
    must wrap a streaming DataFrame with ``withWatermark`` already applied
    (the gap firing condition reads the watermark).
    """
    from tamar_spark.stream import DataStream

    ts = ts_col or keyed.event_time
    if ts is None:
        raise ValueError("session_process_streaming requires an event_time column")
    gap_us = int(gap_seconds * 1_000_000)

    def step(key, rows, state, wm_us):
        buffered = state["events"]
        if rows is not None:
            buffered = (
                rows if buffered is None
                else pd.concat([buffered, rows], ignore_index=True)
            )
        if buffered is None:
            return None, state, None
        buffered = buffered.sort_values(ts, kind="mergesort").reset_index(drop=True)
        ts_us = buffered[ts].astype("datetime64[us]").astype("int64").to_numpy()
        # a session starts where the gap to the previous event is strictly
        # > gap: an event exactly gap after its predecessor merges, as in
        # Spark's session_window (reference src/lib.rs:463-465)
        starts = np.flatnonzero(np.diff(ts_us, prepend=ts_us[0] - gap_us - 1) > gap_us)
        ends = np.append(starts[1:], len(ts_us))
        outs, seal_us = [], None
        for lo, hi in zip(starts, ends):
            close_us = int(ts_us[hi - 1]) + gap_us
            # strict: an event at exactly last + gap is on time and merges;
            # later sessions close later, so the first open one ends the walk
            if close_us >= wm_us:
                kept, seal_us = lo, close_us
                break
            out = fn(key, buffered.iloc[lo:hi], state["state"])
            if out is not None and len(out):
                outs.append(out)
        state["events"] = (
            None if seal_us is None else buffered.iloc[kept:].reset_index(drop=True)
        )
        return (pd.concat(outs, ignore_index=True) if outs else None), state, seal_us

    out = _run_keyed_state(
        keyed.df,
        keyed.keys,
        step,
        schema,
        init=lambda key: {
            "events": None,
            "state": init_state(key) if init_state is not None else None,
        },
        timers=True,
    )
    return DataStream(out, env=keyed.env, event_time=ts)
