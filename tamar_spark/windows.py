"""Window factories: session (the reference's core feature), tumbling, sliding.

The reference ships exactly one window type — event-time session windows
backed by ``EventTimeWindowMemoryStore`` (reference src/lib.rs:439-740) — but
its ``WindowFactory`` trait (src/lib.rs:423-437) anticipated more.  We expose
session/tumbling/sliding, all compiled to native Spark window expressions so
the windowed aggregation stays a single partial+final HashAggregate (the
planner-level version of the reference's eager in-insert compaction,
src/lib.rs:673-693).

Bound normalization (SURVEY §4.3.3): the reference encodes a session end as
``last_event + 1ns`` (src/lib.rs:480); Spark's ``session_window`` ends at
``last_event + gap``; timestamps are microseconds.  We emit
``window_start = min(event_time)`` and ``window_end = last_event + gap``
(Spark convention) — callers wanting the reference's convention use
``max(event_time)``, which is also emitted by ``aggregate`` as ``window_last``
when requested.

Scale: session windows shuffle once on (key); the session merge itself is a
sort-based merge within each key partition (Spark's MergingSessionsExec).
Skewed keys are handled by AQE skew-join only for joins — for heavy-hitter
session keys, pre-filter or bump parallelism; state in streaming mode lives in
RocksDB and is evicted by the watermark (the reference never evicts,
src/lib.rs:789-790 — an accepted leak that Spark fixes for free).
"""

from __future__ import annotations

from typing import Callable, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from tamar_spark.sources import default_parallelism

__all__ = [
    "SessionWindowFactory",
    "TumblingWindowFactory",
    "SlidingWindowFactory",
    "session",
    "tumbling",
    "sliding",
    "salted_sessions",
    "auto_salted_sessions",
]


class _WindowFactoryBase:
    """Shared groupBy-on-window-expression machinery."""

    def _window_expr(self, ts: str) -> Column:  # pragma: no cover - abstract
        raise NotImplementedError

    def _ts_col(self, keyed) -> str:
        ts = keyed.event_time
        if ts is None:
            raise ValueError("window() requires an event_time column; set it on the source or with_watermark()")
        return ts

    def aggregate(self, keyed, agg_exprs: List[Column]) -> "DataStream":
        from tamar_spark.stream import DataStream

        ts = self._ts_col(keyed)
        win = self._window_expr(ts)
        grouped = keyed.df.groupBy(win.alias("window"), *keyed.keys)
        out = grouped.agg(*agg_exprs)
        out = out.select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *[c for c in out.columns if c != "window"],
        )
        return DataStream(out, env=keyed.env)

    def process(self, keyed, fn: Optional[Callable], schema) -> "DataStream":
        """Full-window-contents variant (reference ``WindowedDataStream::process``,
        src/lib.rs:755-769): collect the window's events into an array column;
        optionally hand each batch to ``fn`` via mapInPandas."""
        from tamar_spark.stream import DataStream

        ts = self._ts_col(keyed)
        win = self._window_expr(ts)
        payload = [c for c in keyed.df.columns]
        grouped = keyed.df.groupBy(win.alias("window"), *keyed.keys)
        out = grouped.agg(
            F.sort_array(F.collect_list(F.struct(*payload))).alias("events"),
            F.count(F.lit(1)).alias("n_events"),
        )
        out = out.select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *[c for c in out.columns if c != "window"],
        )
        if fn is not None:
            out = out.mapInPandas(fn, schema=schema)
        return DataStream(out, env=keyed.env)


class SessionWindowFactory(_WindowFactoryBase):
    """Event-time session windows with a merge gap (reference
    ``EventTimeSessionWindowFactory::with_timeout``, src/lib.rs:708-740).

    The reference's store merge cases (new/extend/merge/reuse,
    src/lib.rs:458-558) are exactly Spark's ``session_window`` semantics: a
    per-event window ``[ts, ts+gap)``, overlapping windows merged.  Firing
    (reference ``trigger``: end < watermark - timeout, src/lib.rs:564-567)
    maps to append-mode emission once the watermark passes the session end.
    """

    def __init__(self, gap: str):
        self.gap = gap

    @classmethod
    def with_timeout(cls, gap: str) -> "SessionWindowFactory":
        return cls(gap)

    def _window_expr(self, ts: str) -> Column:
        return F.session_window(F.col(ts), self.gap)


class TumblingWindowFactory(_WindowFactoryBase):
    """Fixed non-overlapping windows — absent in the reference (its factory
    design anticipated them, src/lib.rs:423-437); native ``F.window``."""

    def __init__(self, size: str):
        self.size = size

    def _window_expr(self, ts: str) -> Column:
        return F.window(F.col(ts), self.size)


class SlidingWindowFactory(_WindowFactoryBase):
    """Overlapping hopping windows; native ``F.window(ts, size, slide)``."""

    def __init__(self, size: str, slide: str):
        self.size = size
        self.slide = slide

    def _window_expr(self, ts: str) -> Column:
        return F.window(F.col(ts), self.size, self.slide)


def salted_sessions(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    gap: str,
    sums: Sequence[tuple] = (),
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Heavy-hitter-safe sessionization: salt by coarse time bucket, then
    merge adjacent sub-sessions.

    The plain session plan shuffles on ``keys`` alone, so one hot key's
    entire event history lands in a single task (the `skewed_session`
    probe in BASELINE.md shows the exponent holds to 32× but the hot key
    caps speedup at its corpus share).  This operator engages the
    documented mitigation:

    1. sessionize per ``(keys, floor(event_time / bucket_seconds))`` — the
       salt splits a hot key's rows across ``span / bucket_seconds``
       parallel tasks, and within a bucket Spark's native
       ``session_window`` merge applies unchanged;
    2. merge sub-sessions that straddle bucket boundaries with the
       lag + cumulative-sum chain (the same gap-merge the DuckDB oracle
       uses, here over SESSION rows — orders of magnitude fewer than
       event rows, so the per-key sequential pass is no longer the
       bottleneck).

    Identical output to the unsalted plan by construction: a session
    entirely inside one bucket is produced by step 1; a session spanning
    buckets is a chain of boundary-adjacent sub-sessions (each ≤ gap
    apart) that step 2 stitches transitively.  The merge condition uses
    the same inclusive boundary as Spark (``next_start > prev_last + gap``
    starts a new session; equality merges).

    ``sums`` is a sequence of ``(out_name, col)`` pairs accumulated in
    DECIMAL(28,6) — exact and associative, so the two-phase reduction is
    bit-identical to the single-phase one.  Output columns:
    ``window_start``, ``window_end`` (= last event + gap, Spark
    convention), ``*keys``, ``n_events``, and one DECIMAL column per
    ``sums`` entry (callers round/cast for presentation).
    """
    from pyspark.sql.window import Window as W

    gap_iv = F.expr(f"INTERVAL {gap}")
    salt = F.floor(
        F.unix_micros(F.col(ts).cast("timestamp_ltz"))
        / F.lit(bucket_seconds * 1_000_000)
    ).alias("_salt")
    sub = df.groupBy(
        F.session_window(F.col(ts), gap).alias("_w"),
        *[F.col(k) for k in keys],
        salt,
    ).agg(
        F.min(ts).alias("_first"),
        F.max(ts).alias("_last"),
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.col(c).cast("decimal(28,6)")).alias(f"_s_{name}")
            for name, c in sums
        ],
    )
    w = W.partitionBy(*keys).orderBy("_first")
    prev_last = F.lag("_last").over(w)
    chained = sub.withColumn(
        "_new",
        F.when(prev_last.isNull() | (F.col("_first") > prev_last + gap_iv), 1).otherwise(0),
    ).withColumn(
        "_chain",
        F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    merged = chained.groupBy(*keys, "_chain").agg(
        F.min("_first").alias("window_start"),
        F.max("_last").alias("_last"),
        F.sum("_n").alias("n_events"),
        *[F.sum(f"_s_{name}").alias(name) for name, _ in sums],
    )
    return merged.select(
        "window_start",
        (F.col("_last") + gap_iv).alias("window_end"),
        *keys,
        "n_events",
        *[name for name, _ in sums],
    )


def auto_salted_sessions(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    gap: str,
    sums: Sequence[tuple] = (),
    bucket_seconds: int = 86400,
    partitions: Optional[int] = None,
    hot_task_ratio: float = 2.0,
    min_hot_rows: int = 2_000_000,
    decision: Optional[dict] = None,
) -> DataFrame:
    """Sessionization that engages the time-bucket salt ONLY when the
    key distribution measurably needs it (r8 VERDICT task 8): one per-key
    count aggregate (the documented pre-flight cost, paid once per
    pipeline) decides between the plain native ``session_window`` plan
    and :func:`salted_sessions`.

    TWO conditions must both hold, because a straggler needs both a
    skewed share and an absolutely expensive hot task:

    - **Relative share**: the session shuffle
      over ``partitions`` tasks puts ``n_rows / partitions`` events in
      an average task; the hottest key forces ``max_rows`` into ONE task
      however the hash falls (sessions shuffle on the key alone).
      Engage past ``max_rows > hot_task_ratio × avg_task`` — with
      default parallelism P that is a key holding more than
      ``hot_task_ratio / P`` of the corpus (~6% at the local P=32,
      ~0.2% at a 1000-core cluster).
    - **Absolute volume**: ``max_rows ≥ min_hot_rows``.  The ratio alone
      cannot see cost — measured (r9, sf0.1 skew probe, 10%-hot key):
      at 16× replication the hot task holds 1.4M events, a 3.2×
      task-share ratio, and the PLAIN plan still wins 1.9 s vs 4.0 s
      because the hot task's in-partition sort+merge walk is cheaper
      than the salted plan's extra merge stage.  The straggler only
      dominates once the single hot task's O(n log n) walk outweighs
      one stage of fixed overhead — ~2M rows locally, the default
      floor.  At 100 TB a 10%-hot key is billions of rows in one task
      and both conditions fire unambiguously.

    Output rows are IDENTICAL on both paths by salted_sessions'
    construction (property-tested on skewed and uniform probe corpora):
    ``window_start``, ``window_end`` (last event + gap), ``*keys``,
    ``n_events``, one DECIMAL column per ``sums`` entry.  Pass
    ``decision`` (a dict) to capture the measurement for telemetry."""
    if partitions is None:
        partitions = default_parallelism(df.sparkSession)
    row = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum("n").alias("n_rows"),
            F.max("n").alias("max_rows"),
        )
        .first()
    )
    n_rows = int(row["n_rows"] or 0)
    max_rows = int(row["max_rows"] or 0)
    avg_task = n_rows / max(1, partitions)
    engaged = (
        n_rows > 0
        and max_rows > hot_task_ratio * avg_task
        and max_rows >= min_hot_rows
    )
    if decision is not None:
        decision.update(
            {
                "engaged": engaged,
                "n_rows": n_rows,
                "max_rows": max_rows,
                "avg_task_rows": avg_task,
                "top_share": (max_rows / n_rows) if n_rows else 0.0,
            }
        )
    if engaged:
        return salted_sessions(
            df, keys, ts, gap, sums=sums, bucket_seconds=bucket_seconds
        )
    agg = df.groupBy(
        F.session_window(F.col(ts), gap).alias("_w"), *[F.col(k) for k in keys]
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        *[
            F.sum(F.col(c).cast("decimal(28,6)")).alias(name)
            for name, c in sums
        ],
    )
    return agg.select(
        F.col("_w.start").alias("window_start"),
        F.col("_w.end").alias("window_end"),
        *keys,
        "n_events",
        *[name for name, _ in sums],
    )


def session(gap: str) -> SessionWindowFactory:
    return SessionWindowFactory(gap)


def tumbling(size: str) -> TumblingWindowFactory:
    return TumblingWindowFactory(size)


def sliding(size: str, slide: str) -> SlidingWindowFactory:
    return SlidingWindowFactory(size, slide)
