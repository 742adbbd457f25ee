"""Ports of the reference's inline test scenarios (SURVEY §5) to tamar_spark.

The reference asserts exact golden event sequences through deterministic
finite sources (reference src/lib.rs:958-1646, 16 tests).  Spark gives no
cross-partition ordering, so assertions here sort outputs first (FIXTURES.md
§4 golden-output convention).  Event fixtures mirror the reference's
``(value, hour, minute)`` triples on the fixed date 2009-10-11 with
event time == watermark time (reference src/lib.rs:1171-1186).
"""

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import Row, functions as F

from tamar_spark import Environment, windows


def ev(spark, triples):
    """Build the reference's test events: (value, hour, minute) on 2009-10-11
    (reference ``new_event``, src/lib.rs:1171-1186)."""
    rows = [
        Row(value=v, ts=datetime(2009, 10, 11, h, m), key=k)
        for (v, h, m, k) in [(t + (0,) if len(t) == 3 else t) for t in triples]
    ]
    return spark.createDataFrame(rows)


def outvals(ds, *cols):
    return sorted(tuple(r) for r in ds.to_df().select(*cols).collect())


# -- source → sink identity (reference src/lib.rs:1087-1097) ----------------
def test_identity(spark):
    env = Environment(spark)
    ds = env.add_source(ev(spark, [(i, 12, i) for i in range(10)]), event_time="ts")
    assert outvals(ds, "value") == [(i,) for i in range(10)]


# -- filter (reference src/lib.rs:1099-1115: keep value >= 5) ---------------
def test_filter(spark):
    env = Environment(spark)
    ds = env.add_source(ev(spark, [(i, 12, i) for i in range(10)]), event_time="ts")
    out = ds.filter(F.col("value") >= 5)
    assert outvals(out, "value") == [(i,) for i in range(5, 10)]


# -- process / map (+10 shift, reference src/lib.rs:1117-1134) --------------
def test_map_shift(spark):
    env = Environment(spark)
    ds = env.add_source(ev(spark, [(i, 12, i) for i in range(10)]), event_time="ts")
    out = ds.map(F.col("ts"), (F.col("value") + 10).alias("value"))
    assert outvals(out, "value") == [(i + 10,) for i in range(10)]


# -- map preserves event-time metadata (reference with_value, src/lib.rs:38-45)
def test_map_preserves_timestamps(spark):
    env = Environment(spark)
    ds = env.add_source(ev(spark, [(1, 12, 30)]), event_time="ts")
    out = ds.map(doubled=(F.col("value") * 2))
    row = out.to_df().collect()[0]
    assert row.ts == datetime(2009, 10, 11, 12, 30)
    assert row.doubled == 2


# -- keyed state counters (reference src/lib.rs:1141-1169) ------------------
def test_keyed_process_state_counts(spark):
    env = Environment(spark)
    # two keys interleaved; per-key running index like the reference's
    # key_state counter, plus a global-total analog
    triples = [(i, 12, i, i % 2) for i in range(10)]
    ds = env.add_source(ev(spark, triples), event_time="ts")

    def count_events(key, pdf, state):
        out = pdf.copy()
        out["per_key_idx"] = range(1, len(pdf) + 1)
        return out[["key", "value", "per_key_idx"]]

    out = ds.key_by("key").process_state(
        count_events, schema="key long, value long, per_key_idx long"
    )
    got = outvals(out, "key", "value", "per_key_idx")
    expected = sorted((k, v, v // 2 + 1) for v, k in [(i, i % 2) for i in range(10)])
    assert got == expected


# -- windowed process: separate sessions (reference src/lib.rs:1316-1345) ---
def test_session_windows_separate(spark):
    env = Environment(spark)
    # 12:00,12:01 → one session; 12:30 more than 15m later → separate session
    ds = env.add_source(ev(spark, [(1, 12, 0), (2, 12, 1), (3, 12, 30)]), event_time="ts")
    out = (
        ds.key_by("key")
        .window(windows.session("15 minutes"))
        .aggregate(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
    )
    got = sorted(
        (r.window_start, r.total, r.n) for r in out.to_df().collect()
    )
    assert got == [
        (datetime(2009, 10, 11, 12, 0), 3, 2),
        (datetime(2009, 10, 11, 12, 30), 3, 1),
    ]


# -- windowed process: joined sessions (reference src/lib.rs:1347-1382) -----
def test_session_windows_joined(spark):
    env = Environment(spark)
    # every event within gap of the next → one merged session
    ds = env.add_source(
        ev(spark, [(1, 12, 0), (2, 12, 10), (3, 12, 20), (4, 12, 29)]), event_time="ts"
    )
    out = (
        ds.key_by("key")
        .window(windows.session("15 minutes"))
        .aggregate(F.sum("value").alias("total"))
    )
    rows = out.to_df().collect()
    assert len(rows) == 1
    assert rows[0].total == 10
    assert rows[0].window_start == datetime(2009, 10, 11, 12, 0)
    # Spark convention: end = last event + gap (bound normalization, SURVEY §4.3.3)
    assert rows[0].window_end == datetime(2009, 10, 11, 12, 44)


# -- windowed aggregate with per-key isolation (reference src/lib.rs:1488-1530)
def test_session_aggregate_per_key(spark):
    env = Environment(spark)
    ds = env.add_source(
        ev(spark, [(1, 12, 0, 0), (2, 12, 1, 0), (10, 12, 0, 1), (20, 12, 30, 1)]),
        event_time="ts",
    )
    out = (
        ds.key_by("key")
        .window(windows.session("15 minutes"))
        .aggregate(F.sum("value").alias("total"))
    )
    got = sorted((r.key, r.total) for r in out.to_df().collect())
    assert got == [(0, 3), (1, 10), (1, 20)]


# -- split on plain stream (reference src/lib.rs:1532-1561) -----------------
def test_split_plain(spark):
    env = Environment(spark)
    ds = env.add_source(ev(spark, [(i, 12, i) for i in range(5)]), event_time="ts")
    a, b = ds.split()
    a2 = a.map(F.col("ts"), (F.col("value") + 100).alias("value"))
    assert outvals(a2, "value") == [(i + 100,) for i in range(5)]
    assert outvals(b, "value") == [(i,) for i in range(5)]


# -- split on keyed stream (reference src/lib.rs:1563-1609) -----------------
def test_split_keyed(spark):
    env = Environment(spark)
    ds = env.add_source(
        ev(spark, [(i, 12, i, i % 2) for i in range(6)]), event_time="ts"
    )
    ka, kb = ds.key_by("key").split()
    suma = ka.agg(F.sum("value").alias("s"))
    sumb = kb.agg(F.count(F.lit(1)).alias("n"))
    assert outvals(suma, "key", "s") == [(0, 6), (1, 9)]
    assert outvals(sumb, "key", "n") == [(0, 3), (1, 3)]


# -- split on windowed stream (reference src/lib.rs:1611-1645) --------------
def test_split_windowed(spark):
    env = Environment(spark)
    ds = env.add_source(ev(spark, [(1, 12, 0), (2, 12, 1)]), event_time="ts")
    wa, wb = ds.key_by("key").window(windows.session("15 minutes")).split()
    ra = wa.aggregate(F.sum("value").alias("s"))
    rb = wb.aggregate(F.count(F.lit(1)).alias("n"))
    assert outvals(ra, "s") == [(3,)]
    assert outvals(rb, "n") == [(2,)]


# -- keyed transforms drop keyed-ness (reference src/lib.rs:269-321) --------
def test_keyed_map_drops_key(spark):
    from tamar_spark.stream import DataStream

    env = Environment(spark)
    ds = env.add_source(ev(spark, [(1, 12, 0)]), event_time="ts")
    out = ds.key_by("key").map(F.col("ts"), F.col("value"))
    assert isinstance(out, DataStream)  # un-keyed, per the reference quirk


# -- windowed full-batch process (reference src/lib.rs:755-769) -------------
def test_windowed_process_full_batch(spark):
    env = Environment(spark)
    ds = env.add_source(
        ev(spark, [(1, 12, 0), (2, 12, 1), (30, 13, 0)]), event_time="ts"
    )
    out = ds.key_by("key").window(windows.session("15 minutes")).process()
    rows = sorted(out.to_df().collect(), key=lambda r: r.window_start)
    assert [r.n_events for r in rows] == [2, 1]
    assert [e.value for e in rows[0].events] == [1, 2]  # sorted full batch


# -- tumbling/sliding factories (anticipated, never shipped in reference;
#    factory trait src/lib.rs:423-437) --------------------------------------
def test_tumbling_window(spark):
    env = Environment(spark)
    ds = env.add_source(
        ev(spark, [(1, 12, 0), (2, 12, 59), (3, 13, 0)]), event_time="ts"
    )
    out = ds.key_by("key").window(windows.tumbling("1 hour")).aggregate(
        F.sum("value").alias("s")
    )
    got = sorted((r.window_start, r.s) for r in out.to_df().collect())
    assert got == [
        (datetime(2009, 10, 11, 12, 0), 3),
        (datetime(2009, 10, 11, 13, 0), 3),
    ]


def test_sliding_window(spark):
    env = Environment(spark)
    ds = env.add_source(ev(spark, [(1, 12, 15)]), event_time="ts")
    out = ds.key_by("key").window(windows.sliding("1 hour", "30 minutes")).aggregate(
        F.count(F.lit(1)).alias("n")
    )
    starts = sorted(r.window_start for r in out.to_df().collect())
    assert starts == [
        datetime(2009, 10, 11, 11, 30),
        datetime(2009, 10, 11, 12, 0),
    ]


# -- streaming end-to-end with watermark-gated session firing ---------------
# (reference no-end-of-stream-flush semantic, src/lib.rs:1316-1345: windows
# not closed by the final watermark never emit)
def test_streaming_session_no_flush(spark, tmp_path):
    src = str(tmp_path / "events")
    ev(
        spark,
        [(1, 12, 0), (2, 12, 1), (3, 12, 30), (4, 14, 0)],
    ).write.parquet(src)
    sdf = (
        spark.readStream.schema("value long, ts timestamp, key long")
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    agg = (
        sdf.groupBy(F.session_window("ts", "15 minutes"), "key")
        .agg(F.sum("value").alias("total"))
        .select(F.col("session_window.start").alias("ws"), "total")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("ref_noflush")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted((r.ws, r.total) for r in spark.table("ref_noflush").collect())
    # the 14:00 session is still open at final watermark (14:00) → never emits,
    # exactly the reference's discarded 12:30 window semantics
    assert got == [
        (datetime(2009, 10, 11, 12, 0), 3),
        (datetime(2009, 10, 11, 12, 30), 3),
    ]


# -- windowed process_state, streaming (the hard operator, SURVEY §4.3.1;
#    reference src/lib.rs:771-834: full session batches + per-key state) ----
def test_streaming_session_process_state(spark, tmp_path):
    from tamar_spark.stream import KeyedDataStream
    from tamar_spark import Environment
    from tamar_spark.streaming.sessions import session_process_streaming
    import pandas as pd

    src = str(tmp_path / "sps_src")
    # key 0: session [12:00,12:01] then [13:00] (still open at final WM 14:00-0 = 14:00? closes);
    # key 1: [12:30] closes; a 14:00 sentinel on key 9 advances the watermark
    ev(
        spark,
        [
            (1, 12, 0, 0),
            (2, 12, 1, 0),
            (3, 13, 0, 0),
            (5, 12, 30, 1),
            (0, 14, 0, 9),
        ],
    ).write.parquet(src)
    sdf = (
        spark.readStream.schema("value long, ts timestamp, key long")
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    keyed = KeyedDataStream(
        sdf, keys=[F.col("key")], env=Environment(spark), event_time="ts"
    )

    def session_fn(key, pdf, state):
        state["fired"] = state.get("fired", 0) + 1
        return pd.DataFrame(
            {
                "key": [key[0]],
                "session_start": [pdf["ts"].min()],
                "n_events": [len(pdf)],
                "total": [int(pdf["value"].sum())],
                "nth_fire": [state["fired"]],
            }
        )

    out = session_process_streaming(
        keyed,
        gap_seconds=15 * 60,
        fn=session_fn,
        schema="key long, session_start timestamp, n_events long, total long, nth_fire long",
        init_state=lambda k: {},
    )
    q = (
        out.to_df()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sps_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.key, r.session_start, r.n_events, r.total)
        for r in spark.table("sps_out").collect()
    )
    # fired: key0 [12:00-12:01] (2 ev, total 3), key0 [13:00] (closes at 13:15 <= WM 14:00),
    # key1 [12:30]; the 14:00 sentinel session is still open → never fires (no-flush)
    assert got == [
        (0, datetime(2009, 10, 11, 12, 0), 2, 3),
        (0, datetime(2009, 10, 11, 13, 0), 1, 3),
        (1, datetime(2009, 10, 11, 12, 30), 1, 5),
    ]


def test_late_event_semantics_vs_reference(spark, tmp_path):
    """Late-data semantics vs the reference (SURVEY §2.7 late-data row),
    pinned from observed behavior:

    - tamar accepts ANY late event — it opens/extends a session no matter
      how old (store accepts all, src/lib.rs:458-558);
    - Spark MERGES a late event while its session's state is still live
      (eviction only runs at batch end once the watermark passes), and
      DROPS it once the state was evicted (numRowsDroppedByWatermark).

    Four single-file micro-batches: events at 12:00 → watermark sentinel →
    second sentinel (evicts + emits the 12:00 sessions) → late 12:05 event.
    The late event must be dropped, not re-open a session."""
    import time as _time

    import pandas as pd

    src = tmp_path / "late_src"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 12:00:00")
    files = [
        ("a", {"user_id": [1, 2], "ts": [base, base], "value": [1.0, 1.0]}),
        ("b", {"user_id": [9], "ts": [base + pd.Timedelta(hours=6)], "value": [0.0]}),
        ("c", {"user_id": [9], "ts": [base + pd.Timedelta(hours=6, minutes=30)], "value": [0.0]}),
        ("d", {"user_id": [1], "ts": [base + pd.Timedelta(minutes=5)], "value": [100.0]}),
    ]
    for name, data in files:
        pd.DataFrame(data).to_parquet(src / f"{name}.parquet", coerce_timestamps="us")
        _time.sleep(1.1)  # distinct mtimes → deterministic batch order

    schema = spark.read.parquet(str(src)).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
    )
    agg = (
        sdf.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.sum("value").alias("s"))
        .select("user_id", "s")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    got = sorted((r.user_id, r.s) for r in spark.table("late_out").collect())
    assert got == [(1, 1.0), (2, 1.0)], got
    assert dropped == 1  # the post-eviction late event was dropped, not merged


def test_streaming_checkpoint_recovery(spark, tmp_path):
    """Fault-tolerance the reference entirely lacks (SURVEY §4.2: no
    checkpointing anywhere): a stopped streaming query restarted on the
    same checkpoint resumes from its committed offsets — the second run
    processes ONLY the new file, and the sink holds each row exactly once."""
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")

    pd.DataFrame({"id": range(0, 100)}).to_parquet(src / "a.parquet")
    schema = spark.read.parquet(str(src)).schema

    def run_once():
        sdf = spark.readStream.schema(schema).parquet(str(src))
        q = (
            sdf.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    q1 = run_once()
    rows1 = sum(p["numInputRows"] for p in q1.recentProgress)
    assert rows1 == 100
    assert spark.read.parquet(out).count() == 100

    pd.DataFrame({"id": range(100, 150)}).to_parquet(src / "b.parquet")
    q2 = run_once()
    rows2 = sum(p["numInputRows"] for p in q2.recentProgress)
    assert rows2 == 50, f"restart reprocessed data: {rows2} rows"

    final = spark.read.parquet(out)
    assert final.count() == 150
    assert final.select(F.countDistinct("id")).first()[0] == 150  # exactly once


def _restart_case(op, sdf):
    """One stateful stream per operator on the events of
    ``test_stateful_stream_restart_from_checkpoint``."""
    from tamar_spark.stream import DataStream
    from tamar_spark.streaming.cep import funnel_match_streaming, type_runs_streaming
    from tamar_spark.streaming.dedup import attach_minhash_bands, minhash_dedup_streaming
    from tamar_spark.streaming.sessions import session_process_streaming
    from tamar_spark.streaming.stateful import (
        global_process_state_streaming,
        process_state_streaming,
    )

    keyed = DataStream(sdf, event_time="ts").key_by("user_id")

    def numbered(pdf, state):
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        seq = state["n"] + pd.Series(range(len(pdf)), dtype="int64")
        state["n"] += len(pdf)
        return pd.DataFrame({"event_id": pdf["event_id"], "seq": seq})

    if op == "process_state":
        return process_state_streaming(
            keyed, lambda key, pdf, state: numbered(pdf, state),
            "event_id long, seq long", init_state=lambda k: {"n": 0},
        ).to_df()
    if op == "global_process_state":
        return global_process_state_streaming(
            DataStream(sdf, event_time="ts"), numbered,
            "event_id long, seq long", init_state=lambda: {"n": 0},
        ).to_df()
    if op == "session_process":
        def per_session(key, pdf, state):
            return pd.DataFrame(
                {"user_id": [key[0]], "start": [pdf["ts"].min()], "n": [len(pdf)]}
            )

        return session_process_streaming(
            keyed, 15 * 60, per_session, "user_id long, start timestamp, n long"
        ).to_df()
    if op == "funnel":
        return funnel_match_streaming(
            keyed, ("view", "click", "purchase"), within_us=3600 * 1_000_000
        ).to_df()
    if op == "runs":
        return type_runs_streaming(keyed, min_len=2).to_df()
    return minhash_dedup_streaming(
        attach_minhash_bands(sdf), threshold=0.5,
        window_us=30 * 60 * 1_000_000, id_col="event_id",
    )


@pytest.mark.parametrize(
    "op",
    ["process_state", "global_process_state", "session_process", "funnel",
     "runs", "minhash_dedup"],
)
def test_stateful_stream_restart_from_checkpoint(spark, tmp_path, op):
    """Every stream on the keyed-state runner resumes from its checkpoint:
    one run over two files emits the same rows as a run over the first
    file followed by a restart on the same checkpoint after the second
    file lands (rows 55 and 57 arrive late, in the second file)."""
    import time as _time

    base = pd.Timestamp("2024-01-01 12:00:00")
    cycle = ("view", "click", "purchase", "click", "click")
    texts = (
        "alpha beta gamma delta epsilon",
        "one two three four five",
        "red green blue yellow purple",
        "dog cat bird fish mouse",
    )
    k = pd.RangeIndex(120)
    events = pd.DataFrame(
        {
            "user_id": k % 3,
            "event_id": k,
            "event_type": [cycle[(i // 3) % 5] for i in k],
            # a 20-minute gap every 30 events closes each user's session
            "ts": [base + pd.Timedelta(minutes=i + 20 * (i // 30)) for i in k],
            "text": [texts[(i // 3) % 4] for i in k],
        }
    )
    late = events["event_id"].isin([55, 57])
    first = events[(events["event_id"] < 60) & ~late]
    second = events[(events["event_id"] >= 60) | late]

    dirs = {run: tmp_path / f"src_{run}" for run in "AB"}
    for d in dirs.values():
        d.mkdir()
        first.to_parquet(d / "1.parquet", coerce_timestamps="us")
    _time.sleep(1.1)  # distinct mtimes → deterministic batch order
    second.to_parquet(dirs["A"] / "2.parquet", coerce_timestamps="us")

    def run(name):
        src = dirs[name[0]]
        sdf = (
            spark.readStream.schema(spark.read.parquet(str(src)).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "10 minutes")
        )
        (
            _restart_case(op, sdf)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / f"out_{name[0]}"))
            .option("checkpointLocation", str(tmp_path / f"chk_{name[0]}"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    def rows(name):
        return sorted(tuple(r) for r in spark.read.parquet(str(tmp_path / f"out_{name}")).collect())

    run("A")
    run("B1")
    second.to_parquet(dirs["B"] / "2.parquet", coerce_timestamps="us")
    run("B2")
    want = rows("A")
    assert want, "no rows: the comparison is vacuous"
    assert rows("B") == want


def test_stream_outer_join_invariants(spark, sf_dir):
    """Stream-stream left-outer join invariants (its query entry is
    rows-only because outer-row flush timing is engine-internal):
    - matched rows equal the batch inner interval join exactly;
    - every emitted NULL row is genuinely unmatched and its click is old
      enough that the final watermark closed its match window."""
    from tamar_spark.queries import QUERIES
    from tamar_spark.sources import load_table

    out = QUERIES["streaming_stream_outer_join"](spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    rows = ev.collect()
    clicks = {r.event_id: r for r in rows if r.event_type == "click"}
    views = [r for r in rows if r.event_type == "view"]
    import datetime as dt

    max_ts = max(r.ts for r in rows)
    final_wm = max_ts - dt.timedelta(minutes=10)

    def matches(c):
        return {
            v.event_id
            for v in views
            if v.user_id == c.user_id and c.ts - dt.timedelta(hours=2) <= v.ts <= c.ts
        }

    expected_matched = {
        (c.event_id, vid) for c in clicks.values() for vid in matches(c)
    }
    got_matched = {
        (int(r.click_id), int(r.view_id))
        for _, r in out.iterrows()
        if not pd_isna(r.view_id)
    }
    assert got_matched == expected_matched

    for _, r in out.iterrows():
        if pd_isna(r.view_id):
            c = clicks[int(r.click_id)]
            assert not matches(c), f"click {c.event_id} emitted NULL but has matches"
            assert c.ts <= final_wm, f"click {c.event_id} outer-emitted inside watermark"


def pd_isna(x):
    import pandas as pd

    return pd.isna(x)


def test_unbounded_rate_source_incremental_sessions(spark):
    """The engine must not depend on run-to-completion (AvailableNow)
    semantics: drive a genuinely unbounded source (rate) through a session
    aggregation with a processing-time trigger and observe incremental
    emission across >=2 micro-batches (reference Source trait is push-based/
    unbounded, src/lib.rs:60-62; VERDICT r1 item 7).

    Event time is synthesized from the rate value so every 5th event jumps
    100 s — far past the 30 s gap — closing a 5-event session as soon as the
    watermark passes it."""
    import time

    sdf = spark.readStream.format("rate").option("rowsPerSecond", "200").load()
    ev = (
        sdf.select(
            F.timestamp_seconds(
                F.lit(1_000_000) + F.col("value") + (F.col("value") / 5).cast("long") * 100
            ).alias("ts"),
            F.lit(1).alias("user_id"),
        )
        .withWatermark("ts", "0 seconds")
    )
    agg = (
        ev.groupBy(F.session_window(F.col("ts"), "30 seconds"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("session_window.start").alias("ws"),
            F.col("n"),
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_sessions")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        rows, progress = [], 0
        while time.time() < deadline:
            rows = spark.table("rate_sessions").collect()
            progress = len([p for p in q.recentProgress if p is not None])
            if len(rows) >= 3 and progress >= 2:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert progress >= 2, "expected multiple micro-batches from the unbounded source"
    assert len(rows) >= 3, f"expected incremental session emission, got {rows}"
    # interior sessions hold exactly the 5 events between the planted jumps
    counts = sorted(r.n for r in rows)
    assert counts[0] >= 1 and max(counts) == 5, counts


def test_global_state_persists_across_microbatches(spark, tmp_path):
    """Keyed-singleton global state (reference GST, src/lib.rs:176-199):
    the counter must CONTINUE across micro-batches — two source files with
    maxFilesPerTrigger=1 force two batches; batch 2's sequence numbers start
    where batch 1 ended."""
    import pandas as pd

    from tamar_spark.stream import DataStream
    from tamar_spark.streaming.stateful import global_process_state_streaming

    src = str(tmp_path / "gsrc")
    ev(spark, [(10, 12, 0), (11, 12, 1)]).write.parquet(src)
    ev(spark, [(12, 12, 2), (13, 12, 3)]).write.mode("append").parquet(src)
    sdf = (
        spark.readStream.schema("value long, ts timestamp, key long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )

    def walk(pdf: pd.DataFrame, state) -> pd.DataFrame:
        pdf = pdf.sort_values("value").reset_index(drop=True)
        seqs = []
        for _ in range(len(pdf)):
            state["seq"] += 1
            seqs.append(state["seq"])
        return pd.DataFrame({"value": pdf["value"], "global_seq": seqs})

    out = global_process_state_streaming(
        DataStream(sdf, event_time="ts"),
        walk,
        "value long, global_seq long",
        init_state=lambda: {"seq": 0},
    )
    q = (
        out.df.writeStream.outputMode("append")
        .format("memory")
        .queryName("global_seq_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.value: r.global_seq for r in spark.table("global_seq_out").collect()}
    assert len(got) == 4
    # per-file batches may arrive in either file order; the invariant is the
    # counter never resets: the 4 events hold sequence numbers 1..4
    assert sorted(got.values()) == [1, 2, 3, 4]
    # and events within one file are consecutively numbered
    assert abs(got[11] - got[10]) == 1 and abs(got[13] - got[12]) == 1


def test_stream_full_outer_join_invariants(spark, sf_dir):
    """Full-outer variant of the invariants above, on BOTH sides:
    - matched rows equal the batch inner interval join exactly;
    - every NULL-view row is a genuinely unmatched click whose window the
      final watermark closed;
    - every NULL-click row is a genuinely unmatched view whose 2h match
      horizon the final watermark closed."""
    import datetime as dt

    from tamar_spark.queries import QUERIES
    from tamar_spark.sources import load_table

    out = QUERIES["streaming_stream_full_outer_join"](spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    rows = ev.collect()
    clicks = {r.event_id: r for r in rows if r.event_type == "click"}
    views = {r.event_id: r for r in rows if r.event_type == "view"}
    final_wm = min(
        max(r.ts for r in rows if r.event_type == "click"),
        max(r.ts for r in rows if r.event_type == "view"),
    ) - dt.timedelta(minutes=10)

    def click_matches(c):
        return {
            v.event_id
            for v in views.values()
            if v.user_id == c.user_id
            and c.ts - dt.timedelta(hours=2) <= v.ts <= c.ts
        }

    expected_matched = {
        (c.event_id, vid) for c in clicks.values() for vid in click_matches(c)
    }
    got_matched = {
        (int(r.click_id), int(r.view_id))
        for _, r in out.iterrows()
        if not pd_isna(r.view_id) and not pd_isna(r.click_id)
    }
    assert got_matched == expected_matched

    matched_views = {vid for _, vid in expected_matched}
    for _, r in out.iterrows():
        if pd_isna(r.view_id):
            c = clicks[int(r.click_id)]
            assert not click_matches(c), f"click {c.event_id} has matches"
            assert c.ts <= final_wm
        elif pd_isna(r.click_id):
            v = views[int(r.view_id)]
            assert v.event_id not in matched_views, f"view {v.event_id} matched"
            assert v.ts + dt.timedelta(hours=2) <= final_wm

def test_streaming_cep_funnel_late_and_tied_events(spark, tmp_path):
    """Streaming CEP watermark-finality semantics (r5 VERDICT task 3),
    pinned on hand-built micro-batches (maxFilesPerTrigger=1, 30-min
    watermark delay):

    - user 1: a complete view→click→purchase run in batch 1 is BROKEN by
      an admissible late click arriving in batch 2 between its click and
      purchase — no emission (this is exactly why a match may not emit
      until the watermark passes its purchase);
    - user 2: all three steps share one timestamp — the (ts, event_id)
      total order still matches them, emitted once sealed;
    - user 4: the middle click arrives LATE in batch 2 and completes the
      run — emitted once sealed;
    - user 3: a run near end-of-stream stays unsealed (final watermark =
      max ts − 30 min) — never emits (no-flush, reference
      src/lib.rs:1316-1345)."""
    import time as _time

    import pandas as pd

    from tamar_spark.stream import DataStream
    from tamar_spark.streaming.cep import funnel_match_streaming

    base = pd.Timestamp("2024-01-01 12:00:00")

    def rows(*evs):
        return pd.DataFrame(
            {
                "user_id": [u for u, *_ in evs],
                "event_id": [i for _, i, *_ in evs],
                "event_type": [t for *_, t, _m in evs],
                "ts": [base + pd.Timedelta(minutes=m) for *_, m in evs],
            }
        )

    src = tmp_path / "cep_src"
    src.mkdir()
    batch1 = rows(
        (1, 1, "view", 0), (1, 2, "click", 1), (1, 3, "purchase", 2),
        (2, 10, "view", 0), (2, 11, "click", 0), (2, 12, "purchase", 0),
        (4, 20, "view", 0), (4, 22, "purchase", 2),
        (3, 30, "view", 58), (3, 31, "click", 58), (3, 32, "purchase", 59),
    )
    # batch 2: late click id4 breaks user 1's run (12:01:30 ≥ watermark
    # 11:32, so it IS admitted); late click id21 completes user 4's run;
    # a 13:00 sentinel pushes the final watermark to 12:30
    batch2 = rows((9, 99, "view", 60))
    batch2 = pd.concat(
        [
            rows((4, 21, "click", 1)),
            pd.DataFrame(
                {
                    "user_id": [1],
                    "event_id": [4],
                    "event_type": ["click"],
                    "ts": [base + pd.Timedelta(seconds=90)],
                }
            ),
            batch2,
        ],
        ignore_index=True,
    )
    for name, pdf in (("a", batch1), ("b", batch2)):
        pdf.to_parquet(src / f"{name}.parquet", coerce_timestamps="us")
        _time.sleep(1.1)  # distinct mtimes → deterministic batch order

    schema = spark.read.parquet(str(src)).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
        .where(F.col("event_type").isin("view", "click", "purchase"))
    )
    keyed = DataStream(sdf, event_time="ts").key_by("user_id")
    out = funnel_match_streaming(
        keyed,
        ("view", "click", "purchase"),
        within_us=48 * 3600 * 1_000_000,
        id_names=("view_id", "click_id", "purchase_id"),
    )
    q = (
        out.to_df()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cep_funnel_out")
        .option("checkpointLocation", str(tmp_path / "cep_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.user_id, r.view_id, r.click_id, r.purchase_id, r.elapsed_sec)
        for r in spark.table("cep_funnel_out").collect()
    )
    assert got == [
        (2, 10, 11, 12, 0),   # tied timestamps, ordered by event_id
        (4, 20, 21, 22, 120),  # completed by the late middle click
    ], got

def test_streaming_cep_runs_late_extension_and_split(spark, tmp_path):
    """Variable-length streaming CEP finality semantics: a run's LENGTH is
    provisional until its terminator is sealed —

    - user 1: an A-run of 3 is EXTENDED to 4 by a late same-type event
      arriving in batch 2 (this is exactly why a run may not emit before
      the watermark passes its terminator);
    - user 2: a late different-type event SPLITS a would-be run of 3 into
      fragments below min_len — nothing emits;
    - user 3: a trailing run has no terminator — never emits even though
      all its events are sealed (no-flush)."""
    import time as _time

    import pandas as pd

    from tamar_spark.stream import DataStream
    from tamar_spark.streaming.cep import type_runs_streaming

    base = pd.Timestamp("2024-01-01 12:00:00")

    def rows(*evs):
        return pd.DataFrame(
            {
                "user_id": [u for u, *_ in evs],
                "event_id": [i for _, i, *_ in evs],
                "event_type": [t for *_, t, _s in evs],
                "ts": [base + pd.Timedelta(seconds=s) for *_, s in evs],
            }
        )

    src = tmp_path / "cep_runs_src"
    src.mkdir()
    batch1 = rows(
        (1, 1, "A", 0), (1, 2, "A", 120), (1, 3, "A", 240), (1, 4, "B", 360),
        (2, 10, "A", 0), (2, 11, "A", 60), (2, 12, "A", 120), (2, 13, "B", 180),
        (3, 20, "A", 0), (3, 21, "A", 60), (3, 22, "A", 120),
    )
    # batch 2: late A id5 extends user 1's run to 4; late B id14 splits
    # user 2's run (A | B | A A); a 13:00 sentinel seals everything
    batch2 = rows(
        (1, 5, "A", 180), (2, 14, "B", 30), (9, 99, "A", 3600)
    )
    for name, pdf in (("a", batch1), ("b", batch2)):
        pdf.to_parquet(src / f"{name}.parquet", coerce_timestamps="us")
        _time.sleep(1.1)

    schema = spark.read.parquet(str(src)).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
    )
    keyed = DataStream(sdf, event_time="ts").key_by("user_id")
    out = type_runs_streaming(keyed, min_len=3)
    q = (
        out.to_df()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cep_runs_out")
        .option("checkpointLocation", str(tmp_path / "cep_runs_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.user_id, r.event_type, r.run_start_id, r.run_len)
        for r in spark.table("cep_runs_out").collect()
    )
    assert got == [(1, "A", 1, 4)], got


def test_streaming_cep_funnel_nstep_random_soup_matches_batch(spark, tmp_path):
    """n-step streaming CEP vs the batch kernel on seeded random event
    soups (r6 VERDICT task 3): for each seed, a 4-step pattern runs LIVE
    over three micro-batches (maxFilesPerTrigger=1) and must emit exactly
    the batch kernel's matches restricted to purchases sealed by the
    final watermark — micro-batch slicing, tied timestamps, and
    out-of-order arrival included.  (The batch kernel itself is
    property-tested against a direct python scan in test_properties.)"""
    import random
    import time as _time

    from tamar_spark.queries_layout import funnel_matches
    from tamar_spark.stream import DataStream
    from tamar_spark.streaming.cep import funnel_match_streaming

    pattern = ("signup", "view", "click", "purchase")
    id_names = ("signup_id", "view_id", "click_id", "purchase_id")
    within_us = 30 * 60 * 1_000_000  # 30 minutes
    base = pd.Timestamp("2024-01-01 12:00:00")

    for seed in (7, 23):
        rng = random.Random(seed)
        rows = [
            (
                rng.randrange(3),
                i,
                rng.choice(pattern + ("error",)),
                base + pd.Timedelta(minutes=rng.randrange(120)),
            )
            for i in range(120)
        ]
        # planted complete funnels in a quiet zone past the random range —
        # a uniform soup rarely produces 4 exact consecutive steps, and an
        # all-empty comparison would be vacuous; the plants are strictly
        # consecutive by construction (per-user consecutiveness: other
        # users' events in between don't matter) and sealed by the
        # sentinel below under the 60-minute watermark delay
        for u in range(3):
            for s, step in enumerate(pattern):
                rows.append(
                    (u, 1000 + 10 * u + s, step,
                     base + pd.Timedelta(minutes=125 + 5 * u + s))
                )
        # watermark-advancing sentinel: a lone pattern-type event (a
        # non-pattern type would be filter-pushed BELOW the watermark node
        # and never advance it) on its own user — can't form a match
        rows.append((9, 9999, "signup", base + pd.Timedelta(minutes=200)))
        pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "event_type", "ts"])
        # Arrival order: time-sorted thirds, then ~15% of rows displaced
        # one micro-batch LATER — out-of-order arrival whose lateness is
        # bounded by one chunk's time width (< the 60-minute watermark
        # delay), so Spark never drops a row the batch oracle keeps.  An
        # unbounded shuffle (e.g. round-robin thirds) would let the
        # watermark race ahead and legitimately drop late rows, making
        # batch equivalence unprovable.
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        third = (len(pdf) + 2) // 3
        chunk = pd.Series(
            [min(i // third + (1 if rng.random() < 0.15 else 0), 2)
             for i in range(len(pdf))]
        )
        src = tmp_path / f"soup_{seed}"
        src.mkdir()
        for part in range(3):
            pdf[chunk == part].to_parquet(
                src / f"p{part}.parquet", coerce_timestamps="us"
            )
            _time.sleep(1.1)

        schema = spark.read.parquet(str(src)).schema
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "60 minutes")
            .where(F.col("event_type").isin(*pattern))
        )
        keyed = DataStream(sdf, event_time="ts").key_by("user_id")
        out = funnel_match_streaming(
            keyed, pattern, within_us=within_us, id_names=id_names
        )
        q = (
            out.to_df()
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(f"cep_soup_{seed}")
            .option("checkpointLocation", str(tmp_path / f"soup_chk_{seed}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            tuple(r[c] for c in ("user_id", *id_names, "elapsed_sec"))
            for r in spark.table(f"cep_soup_{seed}").collect()
        )

        batch_df = spark.createDataFrame(
            pdf, "user_id long, event_id long, event_type string, ts timestamp"
        )
        # Spark's global watermark: ms-floored max event time − delay
        wm_us = (int(pdf["ts"].max().value // 1000) // 1000 - 3_600_000) * 1000
        want = sorted(
            tuple(r[c] for c in ("user_id", *id_names, "elapsed_sec"))
            for r in funnel_matches(
                batch_df, within_us=within_us, pattern=pattern, id_names=id_names
            ).collect()
            if int(pdf.loc[pdf["event_id"] == r["purchase_id"], "ts"].iloc[0].value // 1000) < wm_us
        )
        assert got == want, f"seed {seed}: {got} != {want}"
        assert len(want) >= 3, "planted funnels missing: comparison is vacuous"


@pytest.mark.parametrize("kind", ["funnel", "runs"])
def test_cep_timer_fires_on_sealing_tick(spark, tmp_path, kind):
    """A match whose last row (the run's terminator, for runs) is at
    12:00:02.0005 is sealed by a final watermark of exactly 12:00:02.001,
    which a sentinel on another key sets; the key's timer must fire in that
    last no-data batch."""
    import time as _time

    from tamar_spark.stream import DataStream
    from tamar_spark.streaming.cep import funnel_match_streaming, type_runs_streaming

    base = pd.Timestamp("2024-01-01 12:00:00")
    end = base + pd.Timedelta(microseconds=2_000_500)
    types = ("view", "click", "purchase") if kind == "funnel" else ("A", "A", "B")
    match = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "event_id": [1, 2, 3],
            "event_type": list(types),
            "ts": [base, base + pd.Timedelta(seconds=1), end],
        }
    )
    # final watermark = floor(end to ms) + 1 ms: the first tick that seals end
    sentinel = pd.DataFrame(
        {
            "user_id": [9],
            "event_id": [99],
            "event_type": [types[0]],
            "ts": [end.floor("ms") + pd.Timedelta(milliseconds=1, minutes=30)],
        }
    )
    src = tmp_path / "src"
    src.mkdir()
    for name, pdf in (("a", match), ("b", sentinel)):
        pdf.to_parquet(src / f"{name}.parquet", coerce_timestamps="us")
        _time.sleep(1.1)  # distinct mtimes → deterministic batch order

    schema = spark.read.parquet(str(src)).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
    )
    keyed = DataStream(sdf, event_time="ts").key_by("user_id")
    if kind == "funnel":
        out = funnel_match_streaming(keyed, types, within_us=60 * 1_000_000)
        want = [(1, 1, 2, 3, 2)]
    else:
        out = type_runs_streaming(keyed, min_len=2)
        want = [(1, "A", 1, 2)]
    name = f"cep_tick_{kind}"
    q = (
        out.to_df()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(tuple(r) for r in spark.table(name).collect())
    assert got == want, got


def test_streaming_minhash_dedup_multibatch_semantics(spark, tmp_path):
    """Cross-micro-batch semantics of the streaming MinHash/LSH dedup
    (streaming/dedup.py), pinned on hand-built batches
    (maxFilesPerTrigger=1, 10-min watermark delay, 60-min pairing
    window) — the driver oracle runs a single AvailableNow batch, so the
    batch-boundary machinery (prev-watermark emission guard, event-time
    timers, window exclusion against BUFFERED docs, no-flush) needs its
    own pin:

    - docs 1+2 (identical text, 5 min apart) arrive in batch 1 and are
      sealed by batch 2's watermark — their pair emits exactly ONCE even
      though the bucket groups are re-invoked in batch 2 and again by the
      final timer flush, and even though identical texts collide in all
      16 bands (canonical-band exactly-once);
    - doc 3 (same text) arrives LATE in batch 2 at t=62 min: it pairs
      with doc 2 (57-min gap, in-window) but NOT with doc 1 (62-min gap
      exceeds the window) — the window applies to buffered state from an
      earlier batch, not just same-batch neighbors;
    - docs 7+8 (another text, split across the two batches, 6-min gap)
      pair once sealed — the state store carried doc 7 across the
      boundary;
    - docs 91+92 (7-min gap) sit inside the final 10-min watermark
      horizon — never emitted (the reference's no-flush,
      src/lib.rs:1316-1345)."""
    import time as _time

    base = pd.Timestamp("2024-01-01 12:00:00")
    A = "alpha beta gamma delta epsilon"
    B = "one two three four five"
    C = "red green blue yellow purple"
    D = "dog cat bird fish mouse"
    E = "sun moon star cloud rain"

    def rows(*docs):
        return pd.DataFrame(
            {
                "doc_id": [i for i, *_ in docs],
                "text": [t for _, t, _m in docs],
                "ts": [base + pd.Timedelta(minutes=m) for *_, m in docs],
            }
        )

    src = tmp_path / "mh_src"
    src.mkdir()
    batch1 = rows(
        (1, A, 0), (2, A, 5), (5, B, 0), (7, C, 55),
        (90, D, 70),  # pushes the batch-2 watermark to t=60
    )
    batch2 = rows(
        (3, A, 62), (8, C, 61),
        (92, E, 193), (91, E, 200),  # unsealed pair: final wm = 190
    )
    for name, pdf in (("a", batch1), ("b", batch2)):
        pdf.to_parquet(src / f"{name}.parquet", coerce_timestamps="us")
        _time.sleep(1.1)  # distinct mtimes → deterministic batch order

    from tamar_spark.streaming.dedup import (
        attach_minhash_bands,
        minhash_dedup_streaming,
    )

    schema = spark.read.parquet(str(src)).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
    )
    out = minhash_dedup_streaming(
        attach_minhash_bands(sdf), threshold=0.5, window_us=60 * 60 * 1_000_000
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("mh_dedup_out")
        .option("checkpointLocation", str(tmp_path / "mh_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.doc_id_1, r.doc_id_2, r.jaccard)
        for r in spark.table("mh_dedup_out").collect()
    )
    assert got == [
        (1, 2, 1.0),   # batch-1 pair, sealed by batch 2's watermark
        (2, 3, 1.0),   # late arrival pairs with buffered in-window state
        (7, 8, 1.0),   # pair split across the batch boundary
    ], got


def test_streaming_minhash_fixture_lsh_recall_and_estimator(spark):
    """Two fixture-dependent properties the registered oracles RIDE ON,
    pinned so a fixture regeneration fails loudly here instead of as a
    confusing oracle hash diff (r13 ADVICE):

    - the streaming_dedup_minhash oracle enumerates ALL exact-Jaccard
      ≥ 0.5 pairs with no band-collision term, while the stream only
      sees band-colliding candidates — valid iff LSH recall is exactly
      1.0 on this fixture: every exact pair (window + finality
      applied) must collide in ≥ 1 of the 16 bands;
    - the streaming_dedup_minhash_sig oracle enumerates the same exact
      set, while the sig variant admits by ESTIMATED Jaccard — valid
      iff the estimator-selected candidate set equals the exact set at
      threshold 0.5 (64 permutations leave a ~4.8σ margin here).

    Computed entirely from batch-side band keys/signatures (stream
    parity is pinned separately) + python shingle sets, at the
    driver's sf0.01 where both oracles are graded."""
    import os

    import numpy as np

    from tamar_spark.operators.dedup import minhash_coeffs
    from tamar_spark.streaming.dedup import attach_minhash_bands

    sf = "/root/testdata/sf0.01"
    if not os.path.exists(os.path.join(sf, "documents.parquet")):
        pytest.skip("driver fixture dir not present")

    docs = spark.read.parquet(os.path.join(sf, "documents.parquet")).select(
        "doc_id", "text"
    )
    rows = attach_minhash_bands(docs, keep_signature=True).collect()
    bands = {r.doc_id: tuple(r.bands) for r in rows}
    sig = {r.doc_id: tuple(r.sig) for r in rows}

    def shingles(t):
        w = t.split(" ")
        return frozenset(" ".join(w[i : i + 3]) for i in range(len(w) - 2))

    sh = {r.doc_id: shingles(r.text) for r in docs.collect()}
    ids = sorted(bands)
    mid = max(ids)
    window, final_cut = 3600, 60

    exact, est_sel, collide_miss = set(), set(), []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if b - a > window:
                continue  # ids ascend with ts (id-affine): prune early
            if b >= mid - final_cut:
                continue
            inter = len(sh[a] & sh[b])
            union = len(sh[a] | sh[b])
            if union and inter / union >= 0.5:
                exact.add((a, b))
                if not any(x == y for x, y in zip(bands[a], bands[b])):
                    collide_miss.append((a, b, inter / union))
            if any(x == y for x, y in zip(bands[a], bands[b])):
                m = sum(1 for x, y in zip(sig[a], sig[b]) if x == y)
                if m / len(sig[a]) >= 0.5:
                    est_sel.add((a, b))

    assert len(exact) >= 10, "fixture lost its planted near-dups"
    assert not collide_miss, f"LSH recall < 1.0: {collide_miss[:5]}"
    assert est_sel == exact, (
        f"estimator set != exact set: extra={sorted(est_sel - exact)[:5]} "
        f"missing={sorted(exact - est_sel)[:5]}"
    )
    # sanity: the 64-perm family is what minhash_coeffs pins
    p, coeffs = minhash_coeffs(64)
    assert len(coeffs) == 64 and len(next(iter(sig.values()))) == 64
    assert np.int64(p) > 0


def test_streaming_minhash_sig_variant_multibatch(spark, tmp_path):
    """The store_shingles=False path through the SAME cross-batch
    machinery the exact variant pins (prev-watermark guard, timers,
    window exclusion, no-flush): identical planted texts make the
    estimator read exactly 1.0, so the emitted set must equal the
    exact variant's on the multibatch fixture — and the jaccard
    column must carry the ESTIMATE (1.0 here)."""
    import time as _time

    from tamar_spark.streaming.dedup import (
        attach_minhash_bands,
        minhash_dedup_streaming,
    )

    base = pd.Timestamp("2024-01-01 12:00:00")
    A = "alpha beta gamma delta epsilon"
    C = "red green blue yellow purple"

    def rows(*docs):
        return pd.DataFrame(
            {
                "doc_id": [i for i, *_ in docs],
                "text": [t for _, t, _m in docs],
                "ts": [base + pd.Timedelta(minutes=m) for *_, m in docs],
            }
        )

    src = tmp_path / "mhs_src"
    src.mkdir()
    batch1 = rows((1, A, 0), (2, A, 5), (7, C, 55), (90, "dog cat bird fish mouse", 70))
    batch2 = rows((3, A, 62), (8, C, 61), (91, "sun moon star cloud rain", 200))
    for name, pdf in (("a", batch1), ("b", batch2)):
        pdf.to_parquet(src / f"{name}.parquet", coerce_timestamps="us")
        _time.sleep(1.1)

    schema = spark.read.parquet(str(src)).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
    )
    out = minhash_dedup_streaming(
        attach_minhash_bands(sdf, keep_signature=True),
        threshold=0.5,
        window_us=60 * 60 * 1_000_000,
        store_shingles=False,
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("mhs_dedup_out")
        .option("checkpointLocation", str(tmp_path / "mhs_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.doc_id_1, r.doc_id_2, r.jaccard)
        for r in spark.table("mhs_dedup_out").collect()
    )
    assert got == [(1, 2, 1.0), (2, 3, 1.0), (7, 8, 1.0)], got


def test_streaming_minhash_dedup_slicing_independence(spark, tmp_path):
    """THE claimed streaming property, randomized: the emitted pair set
    must be independent of micro-batch slicing and equal to an
    independently computed batch expectation (word-3-gram Jaccard ≥ 0.5
    among band-colliding pairs, within the pairing window, later doc
    sealed by the final watermark).  A synthetic corpus with planted
    dup groups is split into three files at RANDOM cut points per seed
    (maxFilesPerTrigger=1 → three micro-batches with different
    watermark trajectories each time); the expectation is computed
    driver-side from the batch band keys + python shingle sets, never
    from the streaming code under test."""
    import random
    import time as _time

    from tamar_spark.streaming.dedup import (
        attach_minhash_bands,
        minhash_dedup_streaming,
    )

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
             "theta", "iota", "kappa", "lam", "mu"]
    base = pd.Timestamp("2024-01-01 12:00:00")
    window_us = 45 * 60 * 1_000_000  # 45-min pairing window
    delay_min = 10

    for seed in (3, 7, 11):
        rng = random.Random(seed)
        rows = []
        for d in range(36):
            if d % 6 == 5:  # every 6th doc duplicates its predecessor
                text = rows[-1][1]
            else:
                text = " ".join(rng.choice(words) for _ in range(8))
            # jittered minutes: dups land 2-70 min after their source so
            # some pairs fall OUTSIDE the window, others inside
            ts = base + pd.Timedelta(minutes=d * 7 + rng.randrange(0, 60))
            rows.append((d, text, ts))
        pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])

        # independent expectation: batch band keys + python shingle sets
        bands = {
            r.doc_id: tuple(r.bands)
            for r in attach_minhash_bands(
                spark.createDataFrame(pdf[["doc_id", "text"]])
            ).collect()
        }

        def shingle_set(t):
            w = t.split(" ")
            return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

        sh = {d: shingle_set(t) for d, t, _ in rows}
        ts_us = {d: int(ts.value // 1000) for d, _, ts in rows}
        final_wm_us = (max(ts_us.values()) // 1000 - delay_min * 60_000) * 1000
        want = set()
        for j in range(36):
            for i in range(j):
                a, b = rows[i][0], rows[j][0]
                lo, hi = (a, b) if ts_us[a] <= ts_us[b] else (b, a)
                if ts_us[hi] - ts_us[lo] > window_us:
                    continue
                if ts_us[hi] >= final_wm_us:
                    continue  # never sealed: no-flush
                if not any(x == y for x, y in zip(bands[a], bands[b])):
                    continue  # no LSH collision: stream can't see the pair
                inter = len(sh[a] & sh[b])
                union = len(sh[a] | sh[b])
                if union and inter / union >= 0.5:
                    want.add((min(a, b), max(a, b)))
        assert len(want) >= 3, f"seed {seed}: planted dups missing"

        src = tmp_path / f"mh_slice_{seed}"
        src.mkdir()
        cuts = sorted(rng.sample(range(1, 35), 2))
        for name, part in zip(
            "abc", (pdf[: cuts[0]], pdf[cuts[0] : cuts[1]], pdf[cuts[1] :])
        ):
            part.to_parquet(src / f"{name}.parquet", coerce_timestamps="us")
            _time.sleep(1.05)

        schema = spark.read.parquet(str(src)).schema
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", f"{delay_min} minutes")
        )
        out = minhash_dedup_streaming(
            attach_minhash_bands(sdf), threshold=0.5, window_us=window_us
        )
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(f"mh_slice_out_{seed}")
            .option("checkpointLocation", str(tmp_path / f"mh_slice_chk_{seed}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got_rows = spark.table(f"mh_slice_out_{seed}").collect()
        got = {(r.doc_id_1, r.doc_id_2) for r in got_rows}
        assert len(got) == len(got_rows), f"seed {seed}: duplicate emission"
        assert got == want, (
            f"seed {seed}: extra={got - want} missing={want - got}"
        )
