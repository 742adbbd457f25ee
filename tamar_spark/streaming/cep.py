"""Streaming complex-event processing with watermark-final matches.

Both operators keep per key the events a future match can still use, in
the (ts, id) total order, and emit a match only once the watermark makes
it final:

- a match is final once every row that could change it is sealed
  (ts < watermark; Spark admits only rows with ts ≥ watermark), so the
  emitted set does not depend on micro-batch slicing;
- sealed rows no future match can use leave the state;
- a key holding an unsealed match asks for a timer, so the final no-data
  batch emits it; matches still unsealed at end of stream never emit (the
  reference's no-flush semantic, src/lib.rs:1316-1345).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd

from tamar_spark.streaming.stateful import _run_keyed_state

__all__ = ["funnel_match_streaming", "type_runs_streaming"]


def _sorted_events(held, rows, id_col, type_col, ts):
    """The held ``(ids, types, ts_us)`` arrays plus the batch's ``rows``,
    in the (ts, id) total order; None when there are none."""
    parts = [] if held is None else [held]
    if rows is not None:
        parts.append(
            (
                rows[id_col].to_numpy(dtype="int64"),
                rows[type_col].to_numpy(),
                rows[ts].to_numpy().astype("datetime64[us]").astype("int64"),
            )
        )
    if not parts:
        return None
    ids, typ, ts_us = parts[0] if len(parts) == 1 else map(np.concatenate, zip(*parts))
    order = np.lexsort((ids, ts_us))
    return ids[order], typ[order], ts_us[order]


def funnel_match_streaming(
    keyed,
    pattern: tuple,
    within_us: int,
    id_col: str = "event_id",
    type_col: str = "event_type",
    ts_col: Optional[str] = None,
    id_names: Optional[tuple] = None,
):
    """Streaming strictly-consecutive n-step pattern match per key.

    The streaming twin of ``queries_layout.funnel_matches``: the same
    pattern, ``within_us`` bound, (ts, id) order and output columns,
    restricted to matches whose last event is sealed.  ``id_names`` names
    the per-step id columns (default ``step1_id..stepN_id``); the output is
    ``user_id, *id_names, elapsed_sec``.  ``keyed`` must carry a watermark
    and hold only the pattern's event types.
    """
    from tamar_spark.stream import DataStream

    n = len(pattern)
    if n < 2:
        raise ValueError("pattern must have at least 2 steps")
    if id_names is None:
        id_names = tuple(f"step{i + 1}_id" for i in range(n))
    if len(id_names) != n:
        raise ValueError("id_names must match the pattern length")
    ts = ts_col or keyed.event_time
    if ts is None:
        raise ValueError("funnel_match_streaming requires an event_time column")

    def step(key, rows, state, wm_us):
        held, prev_wm_us = state
        events = _sorted_events(held, rows, id_col, type_col, ts)
        if events is None:
            return None, (None, max(prev_wm_us, wm_us)), None
        ids, typ, ts_us = events
        m = len(ids)
        out, seal_us = None, None
        # row i is a match's last step iff the n rows ending at i carry the
        # pattern and span <= within_us; slice k of the window is
        # typ[k : m-n+1+k]
        if m >= n:
            is_match = typ[n - 1 :] == pattern[-1]
            for j in range(1, n):
                is_match &= typ[n - 1 - j : m - j] == pattern[n - 1 - j]
            is_match &= ts_us[n - 1 :] - ts_us[: m - n + 1] <= within_us
            end_ts = ts_us[n - 1 :]
            sealed = end_ts < wm_us
            # sealed now, and not by a watermark that already emitted it
            fresh = is_match & sealed & (end_ts >= prev_wm_us)
            if fresh.any():
                idx = np.flatnonzero(fresh) + (n - 1)
                cols = {"user_id": np.full(len(idx), key[0], dtype="int64")}
                for i, name in enumerate(id_names):
                    cols[name] = ids[idx - (n - 1 - i)]
                cols["elapsed_sec"] = (ts_us[idx] - ts_us[idx - (n - 1)]) // 1_000_000
                out = pd.DataFrame(cols)
            pending = is_match & ~sealed
            if pending.any():
                seal_us = int(end_ts[pending].min())
        # keep the unsealed rows and the last n-1 sealed rows, the only
        # sealed rows a future match can start with
        lo = max(0, int((ts_us < wm_us).sum()) - (n - 1))
        held = (ids[lo:], typ[lo:], ts_us[lo:]) if lo < m else None
        return out, (held, max(prev_wm_us, wm_us)), seal_us

    id_fields = ", ".join(f"{name} long" for name in id_names)
    out = _run_keyed_state(
        keyed.df,
        keyed.keys,
        step,
        f"user_id long, {id_fields}, elapsed_sec long",
        init=lambda key: (None, -1),
        timers=True,
    )
    return DataStream(out, env=keyed.env, event_time=None)


def type_runs_streaming(
    keyed,
    min_len: int,
    id_col: str = "event_id",
    type_col: str = "event_type",
    ts_col: Optional[str] = None,
):
    """Streaming maximal same-type runs of length ≥ ``min_len`` per key
    (the A+ pattern).

    The streaming twin of ``queries_layout.type_runs`` (same (ts, id) order
    and output columns).  A later same-type row can still extend a run, so
    a run emits only once its terminator (the next, different-type row) is
    sealed; emitted runs leave the state.  A key's trailing run has no
    terminator and never emits.
    """
    from tamar_spark.stream import DataStream

    ts = ts_col or keyed.event_time
    if ts is None:
        raise ValueError("type_runs_streaming requires an event_time column")

    def step(key, rows, held, wm_us):
        events = _sorted_events(held, rows, id_col, type_col, ts)
        if events is None:
            return None, None, None
        ids, typ, ts_us = events
        # each run's first row is also the previous run's terminator
        first = np.flatnonzero(np.concatenate(([True], typ[1:] != typ[:-1]))).tolist()
        runs, evict, seal_us = [], 0, None
        for start, end in zip(first[:-1], first[1:]):
            term_ts = int(ts_us[end])
            if term_ts >= wm_us:
                # an unsealed terminator: this run and every later one can
                # still change
                seal_us = term_ts
                break
            if end - start >= min_len:
                runs.append((key[0], typ[start], int(ids[start]), end - start))
            evict = end
        out = (
            pd.DataFrame(runs, columns=["user_id", "event_type", "run_start_id", "run_len"])
            if runs
            else None
        )
        return out, (ids[evict:], typ[evict:], ts_us[evict:]), seal_us

    out = _run_keyed_state(
        keyed.df,
        keyed.keys,
        step,
        "user_id long, event_type string, run_start_id long, run_len long",
        init=lambda key: None,
        timers=True,
    )
    return DataStream(out, env=keyed.env, event_time=None)
