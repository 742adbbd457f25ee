"""Query inventory: every operator claimed in SURVEY §2, as (Spark, oracle-SQL) pairs.

Each entry in :data:`QUERIES` is a callable ``(spark, sf_dir) -> DataFrame``;
:data:`ORACLES` holds the DuckDB-equivalent ANSI SQL (omitted for genuinely
approximate/non-SQL ops, which get a rows-only check).  Column names and
types are aligned between both sides — the harness hash-compares values
after sorting columns by name.

Determinism rules applied throughout:
- every aggregate/computed column is aliased identically on both sides;
- double aggregates are rounded (sum→2dp, ratios→4dp, cosine→6dp) so
  engine-order-dependent floating summation can't flip the hash;
- every top-k / rank has a total deterministic ordering (score, then id);
- session/tumbling/sliding window bounds use Spark's conventions, rebuilt
  exactly in SQL (session gap-merge via lag + cumulative-sum).
"""

from __future__ import annotations

import itertools
import os
import threading
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from tamar_spark.env import Environment, prep_session
from tamar_spark.sources import load_table, session_width, state_width, ts_ns_columns
from tamar_spark import windows
from tamar_spark.operators import dedup as D
from tamar_spark.operators import similarity as S
from tamar_spark.operators.asof import asof_join
from tamar_spark.functions import multimodal as M, text as T

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}

_mem_sink_counter = itertools.count()
_stream_start_lock = threading.Lock()


def query(name: str, oracle: str | None = None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            prep_session(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = name
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def _events(spark, sf_dir):
    env = Environment(spark)
    return env.add_source(load_table(spark, sf_dir, "events"), event_time="ts")


# -- order-independent float aggregation ------------------------------------
#
# A double sum's low bits depend on partition count / reduction order, so a
# value landing exactly on a rounding boundary (e.g. ...843.595) can round
# differently between a 32-partition run and the driver's 200-partition run,
# or between Spark and DuckDB.  Accumulating in DECIMAL is exact and
# associative — every ordering yields bit-identical results on both engines.
# SQL oracle form: CAST(round(sum(CAST(x AS DECIMAL(28,6))), nd) AS DOUBLE).

_DEC = "decimal(28,6)"


def _c(col):
    return col if not isinstance(col, str) else F.col(col)


def epoch_us(col):
    """Microseconds since epoch for TIMESTAMP *or* TIMESTAMP_NTZ columns.

    The driver's parquet writes naive ``timestamp[us]``, which Spark 4 reads
    as TIMESTAMP_NTZ; ``unix_micros`` and direct numeric casts reject NTZ.
    The session timezone is pinned to UTC (env.py), so NTZ→LTZ is a value
    identity and this works for either input type.
    """
    return F.unix_micros(_c(col).cast("timestamp_ltz"))


def floor_div(a, b):
    """Integer FLOOR division, matching DuckDB/Python ``//`` for any sign.

    Spark's ``div`` truncates toward zero while DuckDB's ``//`` floors, so
    the two only agree on non-negative quotients — an engine-semantics trap
    the r5 advisor flagged in three bucketing expressions (they happened to
    be sign-safe on the fixture, which is exactly how such traps ship).
    ``a - pmod(a, b)`` is the largest multiple of ``b`` ≤ ``a`` (for
    ``b > 0``), so dividing it by ``b`` is exact — including through the
    double-typed ``/``, because an exact multiple with ``|a| < 2^53``
    (every epoch-microsecond delta, cent sum, and bucket id here; 2^53 µs
    ≈ 285 years) is represented and divided without rounding.  Pure JVM
    expressions — stays inside whole-stage codegen."""
    a, b = _c(a), _c(b) if not isinstance(b, int) else F.lit(b)
    return ((a - F.pmod(a, b)) / b).cast("bigint")


def dsum_r(col, nd: int = 2):
    """Exact (order-independent) sum of a double expression, rounded to
    ``nd`` places — the oracle-alignment form."""
    return F.round(F.sum(_c(col).cast(_DEC)), nd).cast("double")


def davg_r(col, nd: int = 4):
    """Order-independent avg: exact decimal sum → double ÷ count."""
    c = _c(col)
    return F.round(F.sum(c.cast(_DEC)).cast("double") / F.count(c), nd)


def round_ieee(col, nd: int):
    """Cross-engine deterministic rounding of a non-negative DOUBLE:
    ``floor(x·10^nd + 0.5) / 10^nd`` in pure IEEE double ops, which Spark
    and DuckDB evaluate bit-identically.  ``round(double, nd)`` does NOT —
    Spark rounds the value's shortest decimal representation (BigDecimal
    HALF_UP) while DuckDB rounds the binary value, so exact .5-boundary
    cells flip between engines (first seen in the r6 sf0.1 oracle sweep:
    q2's unit_cost 89.11625, window_analytics' cume 41/640 = 0.0640625).
    Twin SQL form: ``floor(x * 10^nd + 0.5) / 10^nd.0``.  Use this for
    ratio/division columns that stay DOUBLE end-to-end; decimal-accumulated
    aggregates (``dsum_r``) round exactly in decimal and don't need it."""
    p = float(10**nd)
    return F.floor(_c(col) * F.lit(p) + F.lit(0.5)) / F.lit(p)


# ---------------------------------------------------------------------------
# Streaming-semantics operators (the reference's core surface, SURVEY §2.5)
# ---------------------------------------------------------------------------

_SESSION_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS is_new
  FROM ordered
), sessions AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT min(ts) AS window_start,
       max(ts) + INTERVAL 30 MINUTE AS window_end,
       user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value
FROM sessions GROUP BY user_id, session_id
"""


@query("session_agg", _SESSION_ORACLE)
def session_agg(spark, sf_dir):
    """Flagship: event-time session windows (gap 30 min) per user, incremental
    aggregation (reference ``WindowedDataStream::aggregate``, src/lib.rs:836-880;
    store semantics src/lib.rs:439-613).  Oracle rebuilds the gap-merge with
    lag + cumulative-sum — an independent check of the session store logic."""
    return (
        _events(spark, sf_dir)
        .key_by("user_id")
        .window(windows.session("30 minutes"))
        .aggregate(
            F.count(F.lit(1)).alias("n_events"),
            dsum_r("value").alias("sum_value"),
        )
        .to_df()
    )


@query("session_agg_salted", _SESSION_ORACLE)
def session_agg_salted(spark, sf_dir):
    """The flagship session aggregation through the SALTED plan
    (``windows.salted_sessions``): sessionize per (user, 6-hour time
    bucket), then stitch boundary-straddling sub-sessions with a
    lag+cumsum chain over session rows.  This is the heavy-hitter
    mitigation BASELINE.md's `skewed_session` probe documents, now real
    and oracle-checked — same oracle as ``session_agg``, so the driver
    hash proves the two plans are equivalent.

    Scale: the per-event shuffle key is (user_id, salt), so one user
    holding 10% of a 100 TB corpus spreads over span/bucket parallel
    tasks; the per-user sequential pass in step 2 touches only session
    rows (≥ gap apart — bounded by span/gap per user, not by events)."""
    ev = load_table(spark, sf_dir, "events")
    merged = windows.salted_sessions(
        ev,
        keys=["user_id"],
        ts="ts",
        gap="30 minutes",
        sums=(("sum_value", "value"),),
        bucket_seconds=6 * 3600,
    )
    return merged.select(
        "window_start",
        "window_end",
        "user_id",
        "n_events",
        F.round("sum_value", 2).cast("double").alias("sum_value"),
    )


@query("session_agg_auto", _SESSION_ORACLE)
def session_agg_auto(spark, sf_dir):
    """The flagship session aggregation through the MEASURED-GATE plan
    (``windows.auto_salted_sessions``, r8 VERDICT task 8 / r9 task 2):
    one per-key count pre-flight decides between the plain native
    ``session_window`` plan and the time-bucket-salted twin — the salt
    engages only when the hottest key's task share exceeds 2× the
    average task AND crosses the measured ~2M-row absolute floor where
    the straggler's in-partition walk starts to dominate.

    Same oracle as ``session_agg`` / ``session_agg_salted``: the driver
    hash proves the output is identical THROUGH the measured decision,
    whichever branch it takes.  On the fixture corpus (uniform users,
    far below the volume floor) the gate declines and the query runs
    the plain single-shuffle session plan — the same posture as a
    uniform 100 TB corpus; the engage path is property-tested and
    covered by ``session_agg_salted``'s attested kernel.  The decision
    measurement is asserted in tests via the ``decision`` capture
    dict."""
    ev = load_table(spark, sf_dir, "events")
    merged = windows.auto_salted_sessions(
        ev,
        keys=["user_id"],
        ts="ts",
        gap="30 minutes",
        sums=(("sum_value", "value"),),
        bucket_seconds=6 * 3600,
    )
    return merged.select(
        "window_start",
        "window_end",
        "user_id",
        "n_events",
        F.round("sum_value", 2).cast("double").alias("sum_value"),
    )


_SESSION_SKEW_ORACLE = """
WITH remapped AS (
  SELECT event_id,
         CASE WHEN event_id % 10 = 0 THEN 0 ELSE user_id END AS user_id,
         ts, value
  FROM events
), ordered AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM remapped
), flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS is_new
  FROM ordered
), sessions AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT min(ts) AS window_start,
       max(ts) + INTERVAL 30 MINUTE AS window_end,
       user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value
FROM sessions GROUP BY user_id, session_id
"""


def _auto_skew_sessions(spark, sf_dir, decision=None):
    """Shared kernel for ``session_agg_auto_skew`` and its engage-decision
    test: remap every 10th event (by ``event_id % 10``, deterministic and
    layout-independent) onto user 0 — a ~10%-of-corpus hot key — then run
    the measured gate with the fixture-scale thresholds.

    ``partitions=32`` pins the task-count the ratio condition divides by
    (the production default reads ``defaultParallelism``, which would make
    the DECISION depend on the verifying session's core count);
    ``min_hot_rows=100`` scales the production 2M-row absolute floor to
    the sf0.001–0.1 fixtures (same ~1%-of-corpus proportion at sf0.001).
    With a 10% hot key the share ratio is ~3.8× whatever the sf, so the
    gate ENGAGES the time-bucket salt at every fixture scale."""
    ev = load_table(spark, sf_dir, "events")
    hot = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 10 == 0, F.lit(0).cast("bigint")).otherwise(
            F.col("user_id")
        ),
    )
    merged = windows.auto_salted_sessions(
        hot,
        keys=["user_id"],
        ts="ts",
        gap="30 minutes",
        sums=(("sum_value", "value"),),
        bucket_seconds=6 * 3600,
        partitions=32,
        min_hot_rows=100,
        decision=decision,
    )
    return merged.select(
        "window_start",
        "window_end",
        "user_id",
        "n_events",
        F.round("sum_value", 2).cast("double").alias("sum_value"),
    )


@query("session_agg_auto_skew", _SESSION_SKEW_ORACLE)
def session_agg_auto_skew(spark, sf_dir):
    """The measured auto-salt gate's ENGAGE path, driver-attested
    end-to-end (r10 VERDICT task 3: ``session_agg_auto`` declines on the
    uniform fixture, so until now the engaged branch rode property tests
    plus ``session_agg_salted``'s attested kernel).  A deterministic
    ``event_id % 10`` remap concentrates ~10% of events onto one user —
    the hot-key shape BASELINE.md's `skewed_session` probe documents —
    and the gate measures a ~3.8× task-share ratio over the pinned
    32-task layout, crosses the fixture-scaled absolute floor, and takes
    the SALTED plan (``decision["engaged"] is True``, asserted in
    tests/test_operators.py).  The oracle recomputes the gap-merge on the
    same remapped corpus, so the driver hash proves the salted
    sub-session stitch is event-exact under real skew."""
    return _auto_skew_sessions(spark, sf_dir)


@query(
    "session_stats",
    """
WITH ordered AS (
  SELECT event_id, user_id, ts, value, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS is_new
  FROM ordered
), sessions AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT min(ts) AS window_start,
       max(ts) + INTERVAL 30 MINUTE AS window_end,
       user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       min(value) AS min_value,
       max(value) AS max_value,
       arg_min(event_type, ts) AS first_type,
       arg_max(event_type, ts) AS last_type
FROM sessions GROUP BY user_id, session_id
""",
)
def session_stats(spark, sf_dir):
    """Full-window-contents session processing (reference
    ``WindowedDataStream::process``, src/lib.rs:755-769) — per-session stats
    that need the whole batch (first/last by event time)."""
    return (
        _events(spark, sf_dir)
        .key_by("user_id")
        .window(windows.session("30 minutes"))
        .aggregate(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.min_by("event_type", "ts").alias("first_type"),
            F.max_by("event_type", "ts").alias("last_type"),
        )
        .to_df()
    )


@query(
    "tumbling_agg",
    """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2, 3
""",
)
def tumbling_agg(spark, sf_dir):
    """Tumbling event-time windows — the window type the reference's factory
    trait anticipated but never shipped (src/lib.rs:423-437)."""
    return (
        _events(spark, sf_dir)
        .key_by("event_type")
        .window(windows.tumbling("1 hour"))
        .aggregate(
            F.count(F.lit(1)).alias("n_events"),
            dsum_r("value").alias("sum_value"),
        )
        .to_df()
    )


@query(
    "sliding_agg",
    """
WITH b AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS bk, value FROM events
), expanded AS (
  SELECT bk AS ws, value FROM b
  UNION ALL
  SELECT bk - INTERVAL 30 MINUTE AS ws, value FROM b
)
SELECT ws AS window_start, ws + INTERVAL 1 HOUR AS window_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value
FROM expanded GROUP BY 1, 2
""",
)
def sliding_agg(spark, sf_dir):
    """Sliding (hopping) windows, 1 h size / 30 min slide, global key."""
    return (
        _events(spark, sf_dir)
        .key_by()
        .window(windows.sliding("1 hour", "30 minutes"))
        .aggregate(
            F.count(F.lit(1)).alias("n_events"),
            dsum_r("value").alias("sum_value"),
        )
        .to_df()
    )


@query(
    "filter_map",
    """
SELECT event_id, user_id, ts, value,
       floor(value * 1.1 * 100.0 + 0.5) / 100.0 AS value_usd
FROM events WHERE event_type = 'purchase' AND value > 50
""",
)
def filter_map(spark, sf_dir):
    """Stateless transform chain (reference ``map``/``filter``,
    src/lib.rs:127-162) — expression-first so the predicate pushes down to
    the parquet scan and the projection prunes columns."""
    return (
        _events(spark, sf_dir)
        .filter((F.col("event_type") == "purchase") & (F.col("value") > 50))
        .map(
            F.col("event_id"),
            F.col("user_id"),
            F.col("value"),
            # round_ieee form, not round: 64.85 * 1.1 = 71.335 sits on the
            # 2dp .5 boundary where the engines' round(double) disagree
            round_ieee(F.col("value") * 1.1, 2).alias("value_usd"),
        )
        .to_df()
    )


@query(
    "keyed_count",
    """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchases
FROM events GROUP BY user_id
""",
)
def keyed_count(spark, sf_dir):
    """Keyed state counters (reference keyed ``process_state`` test,
    src/lib.rs:1141-1169) re-expressed as a hash aggregation — partial+final
    map-side combine replaces the per-key HashMap."""
    return (
        _events(spark, sf_dir)
        .key_by("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_r("value").alias("sum_value"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        )
        .to_df()
    )


@query(
    "running_total",
    """
SELECT event_id, user_id, ts,
       CAST(round(sum(CAST(value AS DECIMAL(28,6)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS running_sum
FROM events
""",
)
def running_total(spark, sf_dir):
    """Ordered per-key running aggregation — the reference's global/keyed
    mutable-state pattern (src/lib.rs:176-199, 1289-1314) as a window
    function (deterministic accumulation order ⇒ identical doubles)."""
    df = _events(spark, sf_dir).to_df()
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum(F.col("value").cast(_DEC)).over(w), 2).cast("double").alias("running_sum"),
    )


# ---------------------------------------------------------------------------
# Relational surface (capability-gap operators, SURVEY §2.7)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing",
    """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(l_quantity), 4) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / count(l_extendedprice), 4) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / count(l_discount), 4) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing(spark, sf_dir):
    """TPC-H-Q1-shaped pricing summary: scan-heavy multi-aggregate with
    map-side partial aggregation; the shipdate filter pushes to parquet."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum_r("l_quantity").alias("sum_qty"),
            dsum_r("l_extendedprice").alias("sum_base_price"),
            dsum_r(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            dsum_r(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias("sum_charge"),
            davg_r("l_quantity").alias("avg_qty"),
            davg_r("l_extendedprice").alias("avg_price"),
            davg_r("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping",
    """
SELECT l.l_orderkey,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-01'
  AND l.l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def q3_shipping(spark, sf_dir):
    """TPC-H-Q3-shaped: selective join + top-k by aggregate.  Customer dim is
    broadcast (no shuffle of the fact side for that join); deterministic
    total order under the LIMIT."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum_r(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "q5_region_revenue",
    """
SELECT n.n_name,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
""",
)
def q5_region_revenue(spark, sf_dir):
    """TPC-H-Q5-shaped multi-join: all dimension tables broadcast, so the
    only shuffle is lineitem⋈orders and the final small aggregation."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum_r(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


@query(
    "window_rank",
    """
SELECT c_custkey, c_nationkey, c_acctbal, CAST(rnk AS INT) AS rnk
FROM (
  SELECT c_custkey, c_nationkey, c_acctbal,
         rank() OVER (PARTITION BY c_nationkey
                      ORDER BY c_acctbal DESC, c_custkey) AS rnk
  FROM customer
) WHERE rnk <= 3
""",
)
def window_rank(spark, sf_dir):
    """Analytic window function: top-3 customers per nation by balance."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return (
        c.withColumn("rnk", F.rank().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("c_custkey", "c_nationkey", "c_acctbal", "rnk")
    )


@query(
    "lead_lag",
    """
SELECT o_custkey, o_orderkey, o_orderdate,
       lag(o_totalprice) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS prev_price,
       round(o_totalprice - lag(o_totalprice)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS delta
FROM orders
""",
)
def lead_lag(spark, sf_dir):
    """lag/lead analytic frame over each customer's order history."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        prev.alias("prev_price"),
        F.round(F.col("o_totalprice") - prev, 2).alias("delta"),
    )


@query(
    "distinct_agg",
    """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
""",
)
def distinct_agg(spark, sf_dir):
    """Distinct aggregation (two-phase expand + aggregate in Spark)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            dsum_r("value").alias("sum_value"),
        )
    )


@query(
    "rollup_sales",
    """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def rollup_sales(spark, sf_dir):
    """ROLLUP hierarchy aggregation (grand total + per-flag subtotals)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum_r("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "set_ops",
    """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
""",
)
def set_ops(spark, sf_dir):
    """Set operators: INTERSECT / EXCEPT (distinct semantics)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = o.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    failed = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return building.intersect(big).exceptAll(failed.distinct()).distinct()


@query(
    "asof_join_latest_order",
    """
SELECT event_id, user_id, ts, o_orderkey, o_totalprice FROM (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e
  LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
) WHERE rn = 1
""",
)
def asof_join_latest_order(spark, sf_dir):
    """As-of (point-in-time) join: each event matched to the customer's
    latest order at event time; the greatest orderkey wins a date tie."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    out = asof_join(
        e,
        o,
        left_on="ts",
        right_on="o_orderdate",
        left_by="user_id",
        right_by="o_custkey",
        right_cols=["o_orderdate", "o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
    )
    return out.select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# LLM-pipeline extensions: dedup / similarity / text analysis (SURVEY §2.7)
# ---------------------------------------------------------------------------

# The distinct word 3-gram shingles ``sh(doc_id, shingle)`` of the
# documents, as ``operators.dedup.shingles`` builds them: the WITH-clause
# head every shingle-set oracle continues.
_SHINGLE_CTE = """
WITH words AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) t
)"""

_SHINGLE_SQL = _SHINGLE_CTE + """, sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_1, doc_id_2,
       round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_id_1
JOIN sizes sb ON sb.doc_id = doc_id_2
WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
"""


@query(
    "dedup_exact",
    """
SELECT min(doc_id) AS doc_id, md5(text) AS fp
FROM documents GROUP BY text
""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: canonical (min doc_id) representative per distinct text,
    keyed by content fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, cols=("text",)).select(
        "doc_id", F.md5(F.col("text")).alias("fp")
    )


@query("dedup_ngram_jaccard", _SHINGLE_SQL)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs at threshold 0.5 via
    the inverted-index kernel, with the posting-list cap engaged (the
    uncapped self-join is Σ df² over shingles).  Cap rule: ≥ the largest
    duplicate-group size (fixture groups are ≤10 docs at every SF, worst
    true-pair min-df observed 10 at sf0.1 — 32 leaves >3× headroom);
    verification stays exact on full shingle sets, so the output hash
    equals the uncapped oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(docs, threshold=0.5, max_doc_freq=32)


@query("dedup_minhash_lsh", _SHINGLE_SQL)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(64) + LSH(16 bands × 4 rows) near-dup pairs, verified at
    exact word-3-gram Jaccard ≥ 0.5.  The hash family is deterministic,
    so the output equals the exact-Jaccard oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, threshold=0.5, num_perm=64, bands=16)


@query(
    "dedup_incremental",
    _SHINGLE_CTE + """, sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
  GROUP BY 1, 2
)
SELECT doc_id_1, doc_id_2,
       round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_id_1
JOIN sizes sb ON sb.doc_id = doc_id_2
WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
""",
)
def dedup_incremental(spark, sf_dir):
    """Incremental ingestion dedup: a NEW batch (odd doc ids stand in for
    today's crawl) matched against the EXISTING corpus (even ids) by the
    cross-corpus MinHash-LSH join, verified at exact Jaccard ≥ 0.5, so
    the output equals the exact cross-Jaccard oracle."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    return D.minhash_lsh_join(new, old, threshold=0.5, num_perm=64, bands=16)


def _simhash_fp_cte() -> str:
    """Shared DuckDB twin of the 60-bit md5-family SimHash fingerprint
    (operators.dedup): same shingles, same hash slice, same sign-of-sums
    construction — deterministic, so downstream oracles get a full
    value-hash check.  Yields a WITH-clause body ending in ``fp(doc_id,
    simhash)``."""
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(60)
    )
    fp_terms = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END)" for j in range(60)
    )
    return f"""{_SHINGLE_CTE}, h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT) AS hv
  FROM sh
), bits AS (
  SELECT doc_id,
         {bit_sums}
  FROM h GROUP BY doc_id
), fp AS (
  SELECT doc_id, {fp_terms} AS simhash FROM bits
)"""


def _simhash_oracle() -> str:
    return f"""{_simhash_fp_cte()}
SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def _edit_distance_oracle() -> str:
    """Brute-force twin of the SimHash-tiered edit-distance dedup: the
    same fingerprints, an all-pairs hamming ≤ 7 scan (exactly the set the
    pigeonhole equi-join produces — the pigeonhole bound is a theorem, so
    equi-join vs brute force is pure plan difference), then the same
    Levenshtein ≤ 30 verify."""
    return f"""{_simhash_fp_cte()},
d AS (SELECT doc_id, text FROM documents),
cand AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 7
)
SELECT c.doc_id_1, c.doc_id_2,
       CAST(levenshtein(t1.text, t2.text) AS INT) AS edit_dist,
       floor((1.0 - levenshtein(t1.text, t2.text) * 1.0 /
              greatest(len(t1.text), len(t2.text))) * 10000 + 0.5) / 10000.0
         AS edit_sim
FROM cand c
JOIN d t1 ON t1.doc_id = c.doc_id_1
JOIN d t2 ON t2.doc_id = c.doc_id_2
WHERE levenshtein(t1.text, t2.text) <= 30
"""


@query("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark, sf_dir):
    """SimHash(60-bit, md5 hash family) near-dup pairs at hamming ≤ 3 via
    the pigeonhole candidate join (Manku et al.).  Deterministic end-to-end,
    so the DuckDB oracle rebuilds the fingerprints bit-for-bit and the
    brute-force pair scan checks the candidate join found every pair."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(docs, max_hamming=3)


@query("dedup_edit_distance", _edit_distance_oracle())
def dedup_edit_distance(spark, sf_dir):
    """Char-level near-dup pairs: Levenshtein ≤ 30, the similarity class
    the shingle family can't see (token-boundary-insensitive edits).
    SimHash pigeonhole candidates (hamming ≤ 7, exhaustive for that bound
    by the pigeonhole theorem) verified with Spark's banded
    ``levenshtein(l, r, threshold)`` — O(k·L) diagonal DP with early
    exit, not the O(L²) full matrix.  The oracle rebuilds the identical
    fingerprints and candidate set brute-force, so the hash check is
    exact; tier recall vs the unconditional brute force is 25/25 on the
    fixture (worst true-pair hamming 7, nearest non-dup at lev 38)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.edit_distance_pairs(docs, max_dist=30, max_hamming=7)


@query(
    "dedup_keep_best",
    _SHINGLE_CTE + """, sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), edges AS (
  SELECT doc_id_1, doc_id_2
  FROM inter JOIN sizes sa ON sa.doc_id = inter.doc_id_1
             JOIN sizes sb ON sb.doc_id = inter.doc_id_2
  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
), sym AS (
  SELECT doc_id_1 AS a, doc_id_2 AS b FROM edges
  UNION SELECT doc_id_2, doc_id_1 FROM edges
), closure AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT a, b FROM sym
    UNION
    SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a
  ) SELECT * FROM r
), comp AS (
  SELECT a AS node, least(a, min(b)) AS component FROM closure GROUP BY a
), tw AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS w,
         string_split_regex(trim(lower(text)), '\\s+') AS wl
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_tokens,
         round(list_aggregate(list_transform(w, x -> len(x)), 'sum') * 1.0 / len(w), 4) AS avg_token_len,
         round(len(list_filter(wl, x -> x IN ('the','a','of','and','to','in'))) * 1.0 / len(wl), 4) AS stopword_ratio
  FROM tw
), q AS (
  SELECT doc_id,
         round(
           (CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN avg_token_len BETWEEN 2.0 AND 12.0 THEN 0.3 ELSE 0.0 END)
           + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality
  FROM m
), ranked AS (
  SELECT c.component, c.node, q.quality,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY q.quality DESC, c.node ASC) AS rn,
         count(*) OVER (PARTITION BY c.component) AS cnt
  FROM comp c JOIN q ON q.doc_id = c.node
)
SELECT component, node AS kept_doc, quality AS best_quality,
       CAST(cnt AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
""",
)
def dedup_keep_best(spark, sf_dir):
    """Quality-ranked representative selection: real pipelines keep the
    BEST copy in each duplicate cluster, not the minimum id — e.g. the
    un-truncated, well-punctuated variant of a page crawled five times.
    Composition of three existing operators (the point of a DataFrame
    engine): exact-Jaccard pairs → connected components (`operators.graph`,
    large-star/small-star) → argmax of the quality heuristic per component
    via one ``max(struct)`` aggregate (quality desc, then min doc_id —
    deterministic on ties; no window sort, one shuffle past the CC
    labels).  The oracle recomputes the
    clusters as a recursive-CTE closure and the pick as a window rank."""
    from tamar_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, threshold=0.5, max_doc_freq=32)
    cc = connected_components(pairs)
    quality = docs.select(
        F.col("doc_id").alias("node"),
        T.quality_score(F.col("text")).alias("quality"),
    )
    joined = cc.join(quality, "node")
    best = joined.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max(
            F.struct(F.col("quality"), (-F.col("node")).alias("neg_node"))
        ).alias("b"),
    )
    return best.select(
        "component",
        (-F.col("b.neg_node")).cast("long").alias("kept_doc"),
        F.col("b.quality").alias("best_quality"),
        "n_members",
    )


@query(
    "embed_cosine_topk",
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id % 50 = 0
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) /
           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS s
  FROM q, c WHERE neighbor_id <> query_id
), ranked AS (
  SELECT query_id, neighbor_id, s,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(s, 6) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
""",
)
def embed_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-5 for every 50th vector (broadcast query
    side, JVM-side fold arithmetic — no Python in the hot path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return S.cosine_topk(emb, queries_df, k=5)


@query(
    "embed_filtered_topk",
    """
WITH allowed AS (
  SELECT doc_id FROM documents WHERE lang = 'en'
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id % 50 = 0
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
  FROM embeddings JOIN allowed ON vec_id = doc_id
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) /
           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS s
  FROM q, c WHERE neighbor_id <> query_id
), ranked AS (
  SELECT query_id, neighbor_id, s,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(s, 6) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
""",
)
def embed_filtered_topk(spark, sf_dir):
    """Filtered vector search: exact cosine top-5 restricted to candidates
    whose document metadata passes a predicate (lang = 'en') — the
    pre-filter form (filter THEN search), which keeps k results guaranteed,
    unlike post-filtering a top-k.  The metadata restriction is a left-semi
    join on the id (keys only cross the shuffle, no payload duplication);
    the predicate is pushed into the documents scan, and at corpus scale
    the semi join shuffles while the broadcast query side stays small —
    the standard metadata-filtered ANN layout."""
    emb = load_table(spark, sf_dir, "embeddings")
    allowed = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select("doc_id")
    )
    cand = emb.join(
        allowed, emb.vec_id == allowed.doc_id, "left_semi"
    )
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return S.cosine_topk(cand, queries_df, k=5)


def _lsh_topk_oracle(dim=64, n_tables=4, n_bits=8, k=5) -> str:
    """Bit-identical DuckDB twin of ``similarity.lsh_topk`` (the SimHash
    oracle pattern): the deterministic projection vectors are embedded as
    double literals, bucket ids are the same sign-bit sums, candidate
    generation the same (table, bucket) equi-join, rerank the same exact
    cosine with (score DESC, id ASC) ties.  Both engines widen float→double
    and fold dot products left-to-right, so scores agree bitwise and the
    full ANN semantics — not just a recall bound — is hash-checked
    (r2 VERDICT: retire the rows-only ANN entries)."""
    from tamar_spark.operators.similarity import _projection

    def bucket_expr(t, col):
        terms = []
        for b in range(n_bits):
            lit = "[" + ",".join(repr(x) for x in _projection(dim, t, b)) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product({col}, {lit}) >= 0 THEN {1 << b} ELSE 0 END)"
            )
        return " + ".join(terms)

    def side(src, idc, vc):
        return " UNION ALL ".join(
            f"SELECT {idc}, {vc}, {t} AS tbl, {bucket_expr(t, vc)} AS bucket FROM {src}"
            for t in range(n_tables)
        )

    return f"""
WITH c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0),
cb AS ({side('c', 'neighbor_id', 'cv')}),
qb AS ({side('q', 'query_id', 'qv')}),
cand AS (
  SELECT DISTINCT query_id, neighbor_id, qv, cv
  FROM qb JOIN cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
  WHERE neighbor_id <> query_id
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) /
           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS s
  FROM cand
), ranked AS (
  SELECT query_id, neighbor_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(s, 6) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


@query("embed_lsh_topk", _lsh_topk_oracle())
def embed_lsh_topk(spark, sf_dir):
    """Approximate top-5 via sign-random-projection LSH (4 tables × 8 bits)
    with exact rerank — the scale path for ANN.  The projections are
    deterministic, so the DuckDB oracle replays the IDENTICAL bucketing +
    rerank from embedded projection literals and the output is fully
    hash-checked (see ``_lsh_topk_oracle``).  Top-k recall vs exact is a
    property of the corpus (near-random fixture vectors → low; clustered
    corpora → high, bounded in ``test_lsh_and_ivf_recall_bounds``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return S.lsh_topk(emb, queries_df, k=5, dim=64)


@query(
    "text_stats",
    """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_chars), 2) AS avg_chars,
       round(avg(len(string_split_regex(trim(text), '\\s+'))), 2) AS avg_tokens,
       CAST(max(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS max_tokens
FROM documents GROUP BY lang
""",
)
def text_stats(spark, sf_dir):
    """Corpus-level token statistics per language tag."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.avg(T.token_count(F.col("text"))), 2).alias("avg_tokens"),
        F.max(T.token_count(F.col("text"))).alias("max_tokens"),
    )


@query(
    "doc_quality",
    """
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS w,
         string_split_regex(trim(lower(text)), '\\s+') AS wl
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_tokens,
         round(list_aggregate(list_transform(w, x -> len(x)), 'sum') * 1.0 / len(w), 4) AS avg_token_len,
         round(len(list_filter(wl, x -> x IN ('the','a','of','and','to','in'))) * 1.0 / len(wl), 4) AS stopword_ratio
  FROM t
)
SELECT doc_id, n_tokens, avg_token_len, stopword_ratio,
       round(
         (CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 0.4 ELSE 0.0 END)
         + (CASE WHEN avg_token_len BETWEEN 2.0 AND 12.0 THEN 0.3 ELSE 0.0 END)
         + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality
FROM m
""",
)
def doc_quality(spark, sf_dir):
    """Per-document quality heuristics: token count, mean token length,
    stopword ratio, composite score — all JVM expressions."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        T.token_count(t).alias("n_tokens"),
        T.avg_token_len(t).alias("avg_token_len"),
        T.stopword_ratio(t).alias("stopword_ratio"),
        T.quality_score(t).alias("quality"),
    )


_LANG_CASE = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents
), s AS (
  SELECT doc_id,
    CAST(len(list_filter(w, x -> x IN ('der','die','und','das','ist'))) AS BIGINT) AS s_de,
    CAST(len(list_filter(w, x -> x IN ('the','and','of','to','is'))) AS BIGINT) AS s_en,
    CAST(len(list_filter(w, x -> x IN ('el','la','de','que','los'))) AS BIGINT) AS s_es,
    CAST(len(list_filter(w, x -> x IN ('le','la','les','des','est'))) AS BIGINT) AS s_fr,
    CAST(len(list_filter(w, x -> x IN ('的','是','了','在','和'))) AS BIGINT) AS s_zh
  FROM t
)
SELECT doc_id,
  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
       WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
       WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
       WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
       WHEN s_fr >= s_zh THEN 'fr'
       ELSE 'zh' END AS lang_pred
FROM s
"""


@query("lang_id", _LANG_CASE)
def lang_id(spark, sf_dir):
    """Stopword-marker language-ID heuristic with deterministic tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.lang_id(F.col("text")).alias("lang_pred"))


_LANG_SEG_CASE = """
      CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
           WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
           WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
           WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
           WHEN s_fr >= s_zh THEN 'fr'
           ELSE 'zh' END
"""

_LANG_SEGMENTS_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, '.') AS l FROM documents
), s AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS sent_idx,
         string_split_regex(trim(lower(l[i])), '\\s+') AS w
  FROM t, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) u
), sc AS (
  SELECT doc_id, sent_idx,
    CAST(len(list_filter(w, x -> x IN ('der','die','und','das','ist'))) AS BIGINT) AS s_de,
    CAST(len(list_filter(w, x -> x IN ('the','and','of','to','is'))) AS BIGINT) AS s_en,
    CAST(len(list_filter(w, x -> x IN ('el','la','de','que','los'))) AS BIGINT) AS s_es,
    CAST(len(list_filter(w, x -> x IN ('le','la','les','des','est'))) AS BIGINT) AS s_fr,
    CAST(len(list_filter(w, x -> x IN ('的','是','了','在','和'))) AS BIGINT) AS s_zh
  FROM s
), sl AS (
  SELECT doc_id, sent_idx, {_LANG_SEG_CASE} AS lang FROM sc
), isl AS (
  SELECT doc_id, sent_idx, lang,
         sent_idx - row_number() OVER (PARTITION BY doc_id, lang
                                       ORDER BY sent_idx) AS g
  FROM sl
), seg AS (
  SELECT doc_id, lang, min(sent_idx) AS start_idx, max(sent_idx) AS end_idx,
         count(*) AS n
  FROM isl GROUP BY doc_id, lang, g
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_idx) - 1
            AS INT) AS seg_idx,
       lang, CAST(start_idx AS INT) AS start_idx,
       CAST(end_idx AS INT) AS end_idx, CAST(n AS BIGINT) AS n_sentences
FROM seg
"""


@query("lang_segments", _LANG_SEGMENTS_SQL)
def lang_segments(spark, sf_dir):
    """Mixed-language document segmentation: sentence-split each document
    (the udtf_sentences rule — '.'-separated, trailing empties kept),
    language-ID each sentence with the shared stopword-marker heuristic,
    and collapse CONSECUTIVE same-language sentences into segments
    ``(seg_idx, lang, start_idx, end_idx, n_sentences)`` — the routing
    unit a multilingual curation pipeline filters and rebalances by
    (per-language spans, not per-document majority votes that erase
    minority-language passages).

    Plan shape — the 100 TB story: the whole computation is ONE
    projection + explode, ZERO shuffles.  Sentences, per-sentence
    language, and the segment collapse all happen inside per-row array
    expressions: the gaps-and-islands step is an ``aggregate`` fold over
    the sentence-language array (same technique as
    ``top_token_count``'s run-length fold), not the window-function
    rewrite — which would shuffle every sentence of every document on
    doc_id twice.  The DuckDB twin uses the window formulation (SQL has
    no per-row fold ergonomics), proving both give identical segments.

    Local-parallelism note: the fold is CPU-bound, so the input goes
    through ``sources.spread`` — a measured-condition repartition that
    only fires when the input has fewer partitions than cores (the
    fixture parquet is one row group; measured 5.3 s single-task vs
    sub-second spread).  At 100 TB the input arrives pre-split, the
    condition is false, and the plan stays the advertised zero-shuffle
    projection."""
    from tamar_spark.sources import spread

    # spread restored r16 (VERDICT item 1): an r15 sweep (eb08c22) dropped
    # it and the single-task fold read 8.6 s vs a 0.8 s warm pre-removal
    # median; re-measured this round at 5.04 → 1.08 s (interleaved A/B).
    # Pinned by test_lang_segments_spread_fires_on_narrow_fixture.
    docs = spread(load_table(spark, sf_dir, "documents"))
    sent_arr = F.split(F.col("text"), r"\.")
    langs = F.transform(sent_arr, lambda s: T.lang_id(F.trim(s)))
    seg_t = "array<struct<lang:string,start_idx:int,n:int>>"
    init = F.struct(
        F.expr("array()").cast(seg_t).alias("done"),
        F.lit(None).cast("string").alias("cur_lang"),
        F.lit(0).alias("cur_start"),
        F.lit(0).alias("cur_n"),
        F.lit(0).alias("pos"),
    )

    def flush(acc):
        return F.concat(
            acc["done"],
            F.array(
                F.struct(
                    acc["cur_lang"].alias("lang"),
                    acc["cur_start"].alias("start_idx"),
                    acc["cur_n"].alias("n"),
                )
            ),
        )

    def step(acc, lang):
        same = lang == acc["cur_lang"]
        return F.struct(
            F.when(acc["cur_n"] == 0, acc["done"])
            .when(same, acc["done"])
            .otherwise(flush(acc))
            .alias("done"),
            lang.alias("cur_lang"),
            F.when(same & (acc["cur_n"] > 0), acc["cur_start"])
            .otherwise(acc["pos"])
            .alias("cur_start"),
            F.when(same & (acc["cur_n"] > 0), acc["cur_n"] + 1)
            .otherwise(F.lit(1))
            .alias("cur_n"),
            (acc["pos"] + 1).alias("pos"),
        )

    segments = F.aggregate(
        langs,
        init,
        step,
        lambda acc: F.when(acc["cur_n"] == 0, acc["done"]).otherwise(
            flush(acc)
        ),
    )
    return docs.select(
        "doc_id", F.posexplode(segments).alias("seg_idx", "_s")
    ).select(
        "doc_id",
        F.col("seg_idx").cast("int").alias("seg_idx"),
        F.col("_s.lang").alias("lang"),
        F.col("_s.start_idx").alias("start_idx"),
        (F.col("_s.start_idx") + F.col("_s.n") - 1)
        .cast("int")
        .alias("end_idx"),
        F.col("_s.n").cast("bigint").alias("n_sentences"),
    )


@query(
    "doc_fingerprint",
    """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
FROM documents
""",
)
def doc_fingerprint(spark, sf_dir):
    """Canonical content fingerprint (md5 over normalized text)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


@query(
    "binary_meta",
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha
FROM documents
""",
)
def binary_meta(spark, sf_dir):
    """Opaque-binary column plumbing: utf-8 payload bytes + content hash —
    the metadata layer of the multimodal column convention
    (:mod:`tamar_spark.functions.multimodal`)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).cast("bigint").alias("n_bytes"),
        F.lower(F.sha2(payload, 256)).alias("sha"),
    )


@query(
    "video_frames",
    """
WITH p AS (
  SELECT doc_id, text,
         CAST(floor(length(text) / 32) AS BIGINT) AS n_frames
  FROM documents
), idx AS (
  SELECT doc_id, text, unnest(range(0, n_frames, 2)) AS i FROM p
)
SELECT doc_id, CAST(i AS INT) AS frame_idx, CAST(32 AS BIGINT) AS n_bytes,
       sha256(substring(text, CAST(i * 32 + 1 AS BIGINT), 32)) AS sha
FROM idx
""",
)
def video_frames(spark, sf_dir):
    """Every 2nd frame of each document's utf-8 bytes read as an 8×4×1
    rawvideo payload, through :func:`M.sample_frames`."""
    docs = load_table(spark, sf_dir, "documents")
    vids = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    return M.sample_frames(
        vids,
        id_col="doc_id",
        every_n=2,
        fmt="rawvideo",
        width=8,
        height=4,
        channels=1,
    )


def _doc_payload(docs: DataFrame, encode) -> DataFrame:
    """``(doc_id, payload)`` with ``payload = encode(utf-8 bytes of
    text)``, one scalar pandas UDF named after ``encode``; a NULL text
    is encoded as the empty string."""
    from tamar_spark.functions._arrow import per_value

    def payload(t):
        return encode(t.encode("utf-8"))

    payload.__name__ = encode.__name__
    synth = per_value(payload, "binary")
    text = F.coalesce(F.col("text"), F.lit(""))
    return docs.select("doc_id", synth(text).alias("payload"))


def _pcm_wav(silence: bool):
    """Encoder of the two PCM queries: the bytes as 16-bit PCM with the
    high byte of every odd sample XOR 0x80 (so negative samples occur),
    alternate 25-sample blocks zeroed when ``silence``, wrapped by
    :func:`M.make_wav`."""
    import numpy as np

    def pcm_wav(b):
        arr = np.frombuffer(b, dtype=np.uint8).copy()
        arr[3::4] ^= 0x80
        if silence:
            k = np.arange(len(arr) // 2)
            quiet = k[(k // 25) % 2 == 0]
            arr[2 * quiet] = 0
            arr[2 * quiet + 1] = 0
        return M.make_wav(arr.tobytes())

    return pcm_wav


@query(
    "audio_wav_meta",
    """
SELECT doc_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(16 AS INT) AS bits_per_sample,
       CAST(floor(length(text) / 2) AS BIGINT) AS n_samples,
       CAST(floor(length(text) / 2) AS BIGINT) * 1000.0 / 8000
         AS duration_ms
FROM documents
""",
)
def audio_wav_meta(spark, sf_dir):
    """Each document's utf-8 bytes wrapped as 8 kHz mono 16-bit PCM
    (:func:`M.make_wav`) and read back by :func:`M.decode_audio`.  The
    oracle derives the header from ``length(text)``, equal to the byte
    count on the ASCII fixture."""
    docs = load_table(spark, sf_dir, "documents")
    return M.decode_audio(_doc_payload(docs, M.make_wav), id_col="doc_id")


@query(
    "audio_pcm_stats",
    """
WITH idx AS (
  SELECT doc_id, text, CAST(floor(length(text) / 2) AS BIGINT) AS n
  FROM documents WHERE length(text) >= 2
), raw AS (
  SELECT doc_id, n, k,
         ascii(substr(text, CAST(2 * k + 1 AS BIGINT), 1))
         + 256 * (ascii(substr(text, CAST(2 * k + 2 AS BIGINT), 1))
                  + CASE WHEN k % 2 = 1 THEN 128 ELSE 0 END) AS u
  FROM idx, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS k) t
), v AS (
  SELECT doc_id, n, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
  FROM raw
)
SELECT doc_id,
       CAST(any_value(n) AS BIGINT) AS n_samples,
       CAST(max(abs(s)) AS INT) AS peak_abs,
       CAST(sum(CASE WHEN abs(s) >= 32767 THEN 1 ELSE 0 END) AS DOUBLE)
         / any_value(n) AS clip_frac,
       sqrt(CAST(sum(s * s) AS DOUBLE) / any_value(n)) AS rms,
       any_value(n) * 1000.0 / 8000 AS duration_ms
FROM v GROUP BY doc_id
""",
)
def audio_pcm_stats(spark, sf_dir):
    """:func:`M.pcm_stats` over each document's bytes as signed 16-bit
    PCM (:func:`_pcm_wav`), documents of at least 2 bytes.  The oracle
    rebuilds the same samples from the ASCII text."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 2)
    return M.pcm_stats(_doc_payload(docs, _pcm_wav(False)), id_col="doc_id")


@query(
    "audio_silence_segments",
    """
WITH d AS (
  SELECT doc_id, CAST(floor(length(text) / 2) AS BIGINT) AS n
  FROM documents WHERE length(text) >= 2
), blocks AS (
  SELECT doc_id, b,
         CAST(25 * b AS BIGINT) AS start_sample,
         least(CAST(25 AS BIGINT), n - 25 * b) AS seg_len
  FROM d, LATERAL (
    SELECT unnest(generate_series(0, CAST(ceil(n / 25.0) AS BIGINT) - 1)) AS b
  ) t
  WHERE b % 2 = 0
)
SELECT doc_id,
       CAST(b // 2 AS INT) AS seg_idx,
       start_sample,
       seg_len AS n_samples,
       seg_len * 1000.0 / 8000 AS duration_ms
FROM blocks WHERE seg_len >= 10
""",
)
def audio_silence_segments(spark, sf_dir):
    """:func:`M.pcm_silence_segments` over the :func:`audio_pcm_stats`
    samples with alternate 25-sample blocks zeroed (:func:`_pcm_wav`);
    the other samples keep ``|s| >= 32``.  The oracle derives the
    expected runs from the text length."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 2)
    return M.pcm_silence_segments(_doc_payload(docs, _pcm_wav(True)), id_col="doc_id")


@query(
    "image_bmp_pixels",
    """
SELECT doc_id,
       CAST(15 AS INT) AS width,
       CAST(floor(length(text) / 45) AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       sha256(substring(text, 1,
                        CAST(floor(length(text) / 45) * 45 AS BIGINT)))
         AS pixel_sha
FROM documents
WHERE length(text) >= 45
""",
)
def image_bmp_pixels(spark, sf_dir):
    """Each document of at least one 45-byte row as a 15 px/row 24-bit
    BMP (:func:`M.make_bmp`), decoded by :func:`M.decode_image_pixels`.
    The oracle hashes the text prefix of whole rows."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 45)
    return M.decode_image_pixels(_doc_payload(docs, M.make_bmp), id_col="doc_id")


@query(
    "image_png_pixels",
    """
SELECT doc_id,
       CAST(11 AS INT) AS width,
       CAST(floor(length(text) / 33) AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       sha256(substring(text, 1,
                        CAST(floor(length(text) / 33) * 33 AS BIGINT)))
         AS pixel_sha
FROM documents
WHERE length(text) >= 33
""",
)
def image_png_pixels(spark, sf_dir):
    """Each document of at least one 33-byte row as an 11 px/row RGB PNG
    with every filter type (:func:`M.make_png`), decoded by
    :func:`M.decode_image_pixels`.  The oracle hashes the text prefix of
    whole rows."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 33)
    return M.decode_image_pixels(_doc_payload(docs, M.make_png), id_col="doc_id")


@query(
    "image_jpeg_roundtrip",
    """
SELECT doc_id,
       CAST(8 AS INT) AS width,
       CAST(floor(length(text) / 24) AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       TRUE AS decode_ok
FROM documents
WHERE length(text) >= 24
""",
)
def image_jpeg_roundtrip(spark, sf_dir):
    """:func:`M.jpeg_roundtrip_check` over documents of at least one
    24-byte pixel row; the oracle expects ``decode_ok`` true and derives
    the geometry from ``length(text)``, equal to the byte count on the
    ASCII fixture."""
    docs = load_table(spark, sf_dir, "documents")
    return M.jpeg_roundtrip_check(docs.filter(F.length("text") >= 24))


@query(
    "image_jpeg_rst_roundtrip",
    """
SELECT doc_id,
       CAST(8 AS INT) AS width,
       CAST(floor(length(text) / 24) AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       TRUE AS decode_ok
FROM documents
WHERE length(text) >= 24
""",
)
def image_jpeg_rst_roundtrip(spark, sf_dir):
    """:func:`image_jpeg_roundtrip` with a DRI/RSTn restart marker after
    every MCU."""
    docs = load_table(spark, sf_dir, "documents")
    return M.jpeg_roundtrip_check(
        docs.filter(F.length("text") >= 24), restart_interval=1
    )


@query(
    "video_frame_pixels",
    """
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       CAST(8 AS INT) AS width,
       CAST(8 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       TRUE AS decode_ok
FROM documents,
     LATERAL (SELECT unnest(generate_series(
                0, CAST(floor(length(text) / 192) AS BIGINT) - 1, 4)) AS i) t
WHERE length(text) >= 192
""",
)
def video_frame_pixels(spark, sf_dir):
    """:func:`M.mjpeg_frame_pixel_check` over documents of at least one
    192-byte frame; the oracle expects ``decode_ok`` true for every 4th
    frame and derives the frame count from ``length(text)``, equal to
    the byte count on the ASCII fixture."""
    docs = load_table(spark, sf_dir, "documents")
    return M.mjpeg_frame_pixel_check(docs.filter(F.length("text") >= 192))


# ---------------------------------------------------------------------------
# Structured Streaming parity (reference execution model, SURVEY §3, §5)
# ---------------------------------------------------------------------------


@query(
    "streaming_session_agg",
    """
WITH ordered AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS is_new
  FROM ordered
), sessions AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT window_start, window_end, user_id, n_events, sum_value FROM (
  SELECT min(ts) AS window_start,
         max(ts) + INTERVAL 30 MINUTE AS window_end,
         user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value
  FROM sessions GROUP BY user_id, session_id
) WHERE window_end <= (SELECT max(ts) FROM events) - INTERVAL 10 MINUTE
""",
)
def streaming_session_agg(spark, sf_dir):
    """True Structured-Streaming run of the flagship session query:
    file stream → withWatermark(10 min) → session_window → append-mode memory
    sink, Trigger.AvailableNow (the reference's run-to-completion ``execute``,
    src/lib.rs:920-925).

    Pins the no-end-of-stream-flush semantic (reference test
    src/lib.rs:1316-1345): sessions not closed by the final watermark
    (max(ts) - delay) never emit — the oracle filters to exactly those."""
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.session_window(F.col("ts"), "30 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_r("value").alias("sum_value"),
        )
        .select(
            F.col("session_window.start").alias("window_start"),
            F.col("session_window.end").alias("window_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, sized_by=_events_path(sf_dir))


# ---------------------------------------------------------------------------
# Additional relational/scalar coverage (SURVEY §2.7 capability-gap rows)
# ---------------------------------------------------------------------------


@query(
    "semi_anti_join",
    """
SELECT c_custkey, c_name,
       'has_big_order' AS bucket
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
UNION ALL
SELECT c_custkey, c_name, 'no_orders_at_all' AS bucket
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def semi_anti_join(spark, sf_dir):
    """Left-semi (EXISTS) and left-anti (NOT EXISTS) joins."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 450000).select("o_custkey")
    semi = (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name", F.lit("has_big_order").alias("bucket"))
    )
    anti = (
        c.join(o.select("o_custkey"), c.c_custkey == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", F.lit("no_orders_at_all").alias("bucket"))
    )
    return semi.unionAll(anti)


@query(
    "cube_sales",
    """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_price,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def cube_sales(spark, sf_dir):
    """CUBE aggregation (all grouping-set combinations)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum_r("l_extendedprice").alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "json_props",
    """
SELECT event_type,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
FROM events GROUP BY event_type
""",
)
def json_props(spark, sf_dir):
    """JSON scalar-function coverage: extract a field from the ``props`` blob
    and aggregate it (reference has no function library at all, SURVEY §2.7)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
    )


@query(
    "word_freq",
    """
SELECT word, CAST(count(*) AS BIGINT) AS freq
FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word FROM documents)
GROUP BY word
ORDER BY freq DESC, word
LIMIT 20
""",
)
def word_freq(spark, sf_dir):
    """flatMap via explode (the expression-expressible case of the
    reference's ``process`` operator, src/lib.rs:164-174): corpus word
    frequencies, deterministic top-20."""
    docs = load_table(spark, sf_dir, "documents")
    env = Environment(spark)
    return (
        env.add_source(docs)
        .select(F.split(F.trim(F.col("text")), r"\s+").alias("words"))
        .explode("words", "word")
        .to_df()
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "word")
        .limit(20)
        .select("word", "freq")
    )


@query(
    "range_join_pairs",
    """
SELECT a.event_id AS event_id_1, b.event_id AS event_id_2, a.user_id,
       round(CAST(epoch_us(b.ts) - epoch_us(a.ts) AS DOUBLE) / 1000000.0, 3) AS gap_sec
FROM events a JOIN events b
  ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
""",
)
def range_join_pairs(spark, sf_dir):
    """Range (interval) self-join: pairs of same-user events within 30
    minutes.  Same-key co-partitioning makes this one shuffle; the time
    predicate prunes pairs inside each partition."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.select(
        F.col("event_id").alias("event_id_1"),
        F.col("user_id"),
        F.col("ts").alias("ts_a"),
    )
    b = ev.select(
        F.col("event_id").alias("event_id_2"),
        F.col("user_id").alias("user_id_b"),
        F.col("ts").alias("ts_b"),
    )
    joined = a.join(
        b,
        (F.col("user_id") == F.col("user_id_b"))
        & (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 30 MINUTES")),
    )
    return joined.select(
        "event_id_1",
        "event_id_2",
        "user_id",
        F.round(
            (epoch_us("ts_b") - epoch_us("ts_a")) / 1e6, 3
        ).alias("gap_sec"),
    )


@query(
    "pandas_udf_bucket",
    """
SELECT CAST(floor(value / 10) * 10 AS DOUBLE) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
""",
)
def pandas_udf_bucket(spark, sf_dir):
    """Arrow-batched pandas UDF coverage (the reference's opaque-closure
    ``map``, src/lib.rs:127-144, on the vectorized slow path): bucket values
    in Python, aggregate JVM-side."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type annotations: string annotations from `__future__.annotations`
    # defeat pandas_udf signature inference — the DDL string carries the type
    @pandas_udf("double")
    def bucket(v):
        return (v // 10) * 10.0

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("bucket", bucket(F.col("value")))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum_r("value").alias("sum_value"),
        )
    )


@query(
    "streaming_tumbling_agg",
    """
SELECT window_start, window_end, event_type, n_events, sum_value FROM (
  SELECT date_trunc('hour', ts) AS window_start,
         date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
         event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2, 3
) WHERE window_end <= (SELECT max(ts) FROM events) - INTERVAL 10 MINUTE
""",
)
def streaming_tumbling_agg(spark, sf_dir):
    """Streaming tumbling-window aggregation with watermark-gated append
    emission — windows not closed by the final watermark never emit (same
    no-end-of-stream-flush contract as the session variant)."""
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window(F.col("ts"), "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_r("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, sized_by=_events_path(sf_dir))


def _events_path(sf_dir):
    return os.path.join(sf_dir, "events.parquet")


def _events_stream(spark, sf_dir, watermark: str | None = "10 minutes"):
    """File-based streaming source over the events fixture with the same
    timestamp normalization as the batch reader (see sources/).

    ``watermark=None`` returns the raw (un-watermarked) stream — for
    callers that derive a new event-time column (e.g. the bench_scale
    time-epoch replication) and must apply the single allowed
    ``withWatermark`` themselves.

    Adapts to the fixture's physical type with :func:`load_table`'s rule:
    on the prepared session TIMESTAMP(NANOS) parquet is read as long and
    truncated ns→µs like DuckDB does; TIMESTAMP(MICROS) parquet arrives as
    TIMESTAMP_NTZ and is cast to LTZ (a value identity under the UTC
    session timezone) so window bounds and emitted schemas are stable
    either way."""
    prep_session(spark)
    path = _events_path(sf_dir)
    ns_cols = ts_ns_columns(path)
    raw_schema = spark.read.parquet(path).schema
    ts_fix = (
        F.timestamp_micros(F.expr("ts div 1000"))
        if "ts" in ns_cols
        else F.col("ts").cast("timestamp_ltz")
    )
    sdf = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", ts_fix)
    )
    return sdf.withWatermark("ts", watermark) if watermark is not None else sdf


def _run_to_memory(sdf, mode: str = "append", sized_by=None, floor: int = 8):
    """Run a streaming DataFrame to completion (Trigger.AvailableNow — the
    reference's run-to-termination ``execute``, src/lib.rs:920-925) into a
    uniquely-named memory sink and return the result table.

    ``sized_by`` is the path of the dataset the stream reads; when given,
    the state width is :func:`sources.state_width` of it at ``floor``,
    else the configured width.  The width is set only around ``start()``,
    under a lock: the stream clones the session conf as it starts, so the
    shared conf is back at the configured width while the stream runs."""
    spark = sdf.sparkSession
    name = f"tamar_stream_out_{next(_mem_sink_counter)}"
    writer = sdf.writeStream.outputMode(mode).format("memory").queryName(name)
    with _stream_start_lock:
        configured = session_width(spark)
        width = state_width(sized_by, configured, floor) if sized_by else None
        spark.conf.set("spark.sql.shuffle.partitions", str(width or configured))
        try:
            q = writer.trigger(availableNow=True).start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", str(configured))
    q.awaitTermination()
    return spark.table(name)


@query(
    "streaming_stream_join",
    """
SELECT a.event_id AS click_id, b.event_id AS view_id, a.user_id,
       a.ts AS click_ts, b.ts AS view_ts
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'view'
 AND b.ts BETWEEN a.ts - INTERVAL 2 HOUR AND a.ts
""",
)
def streaming_stream_join(spark, sf_dir):
    """Stream-stream interval join (clicks ⋈ preceding views within 2 h per
    user) — a capability the reference lacks entirely (SURVEY §2.7 joins
    row).  Both sides carry watermarks so Spark bounds the join state: a
    buffered view can be evicted once the click-side watermark passes its
    2-hour relevance window.  At 100 TB the state store holds only the
    watermark-live horizon, not the full history."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
    )
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") >= F.col("ts") - F.expr("INTERVAL 2 HOURS"))
        & (F.col("view_ts") <= F.col("ts")),
    ).select(
        F.col("event_id").alias("click_id"),
        "view_id",
        "user_id",
        F.col("ts").alias("click_ts"),
        "view_ts",
    )
    return _run_to_memory(joined, sized_by=_events_path(sf_dir))


@query(
    "streaming_dedup",
    """
SELECT DISTINCT user_id, event_type FROM events
""",
)
def streaming_dedup(spark, sf_dir):
    """Streaming deduplication: first-seen (user_id, event_type) pairs via
    ``dropDuplicates`` on an unbounded stream.  Projected to the dedup key so
    the result is deterministic (which physical row survives is not).  State
    is one entry per distinct key; with a watermark column included, Spark
    evicts state for expired keys (``dropDuplicatesWithinWatermark`` is the
    bounded-state variant at 100 TB)."""
    dedup = (
        _events_stream(spark, sf_dir)
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory(dedup, sized_by=_events_path(sf_dir))


@query(
    "streaming_dedup_minhash",
    _SHINGLE_CTE + """, sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), mx AS (SELECT max(doc_id) AS mid FROM documents)
SELECT doc_id_1, doc_id_2,
       round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_id_1
JOIN sizes sb ON sb.doc_id = doc_id_2
CROSS JOIN mx
WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
  AND doc_id_2 - doc_id_1 <= 3600
  AND doc_id_2 < mid - 60
""",
)
def streaming_dedup_minhash(spark, sf_dir):
    """Streaming near-dup dedup: the MinHash/LSH signature store as
    keyed streaming state (``streaming.dedup``), keyed by LSH band bucket.
    Documents stream in with a synthetic event time (2024-01-01 +
    ``doc_id`` seconds; the fixture has no ingest time) and pair only
    within 3600 s of each other; a pair emits once the watermark seals the
    later document, verified by exact Jaccard at 0.5.  The oracle is the
    batch all-pairs Jaccard SQL with the same window and finality filters
    as ``doc_id`` arithmetic."""
    from tamar_spark.streaming.dedup import (
        attach_minhash_bands,
        minhash_dedup_streaming,
    )

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .withColumn(
            "ts",
            F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")),
        )
        .withWatermark("ts", "60 seconds")
        .select("doc_id", "ts", "text")
    )
    out = minhash_dedup_streaming(
        attach_minhash_bands(sdf),
        threshold=0.5,
        window_us=3600 * 1_000_000,
    )
    return _run_to_memory(out, sized_by=path, floor=16)


@query(
    "streaming_dedup_minhash_sig",
    _SHINGLE_CTE + """, sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), mx AS (SELECT max(doc_id) AS mid FROM documents)
SELECT doc_id_1, doc_id_2
FROM inter
JOIN sizes sa ON sa.doc_id = doc_id_1
JOIN sizes sb ON sb.doc_id = doc_id_2
CROSS JOIN mx
WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
  AND doc_id_2 - doc_id_1 <= 3600
  AND doc_id_2 < mid - 60
""",
)
def streaming_dedup_minhash_sig(spark, sf_dir):
    """The streaming MinHash dedup at its PRODUCTION state constant
    (r13 VERDICT task 5): ``store_shingles=False`` keeps only the
    64-component signature per buffered document — never the shingle
    sets — and verifies candidates by the standard MinHash estimator
    (matching-component fraction, Broder 1997).  The per-doc payload
    becomes LENGTH-INDEPENDENT: O(num_perm) instead of O(shingles).
    On this deliberately short-doc corpus (~52 shingles/doc) that is a
    modest measured 537 → 335 pickled bytes/doc (1.6×); on real
    1k-token crawl documents (~1k shingles) the same knob is ~30×.
    bench_scale's ``stream_minhash_state`` cell records the live
    state-store and wall deltas.  This is the knob a high-rate ingest
    flips when the document store lives elsewhere.

    What changes semantically: verification is ESTIMATED Jaccard, so
    membership near the threshold can differ from the exact variant.
    On this fixture it does not: the estimator-selected pair set
    EQUALS the exact-Jaccard set at threshold 0.5 (64 permutations put
    a ~4.8σ gap between the fixture's true pairs and the threshold) —
    pinned by ``test_streaming_minhash_estimator_matches_exact``, so a
    fixture regeneration that lands pairs inside the estimation margin
    fails loudly at the test, not as a confusing oracle diff (the r13
    ADVICE pattern).  The oracle is therefore the batch all-pairs
    exact-Jaccard enumeration with the same window/finality arithmetic
    as the base query, minus the jaccard value column (DuckDB cannot
    reproduce xxhash64 signatures; the ESTIMATE is deterministic but
    engine-local).

    Scale: identical plan shape to streaming_dedup_minhash — candidate
    generation stays an equi-shuffle on (band, bucket), state stays
    window-bounded with timer self-cleanup; only the per-doc payload
    constant shrinks."""
    from tamar_spark.streaming.dedup import (
        attach_minhash_bands,
        minhash_dedup_streaming,
    )

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .withColumn(
            "ts",
            F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")),
        )
        .withWatermark("ts", "60 seconds")
        .select("doc_id", "ts", "text")
    )
    out = minhash_dedup_streaming(
        attach_minhash_bands(sdf, keep_signature=True),
        threshold=0.5,
        window_us=3600 * 1_000_000,
        store_shingles=False,
    )
    return _run_to_memory(
        out.select("doc_id_1", "doc_id_2"), sized_by=path, floor=16
    )


# Extended inventory (TPC-H-shaped joins/aggregates, scalar-function library,
# embedding near-dup) registers itself into QUERIES/ORACLES on import.
from tamar_spark import queries_tpch as _queries_tpch  # noqa: E402,F401

# Training-data pipeline extensions (decontamination, repetition filters,
# BM25 search, sequence packing, co-occurrence lift) — same registry.
from tamar_spark import queries_pipeline as _queries_pipeline  # noqa: E402,F401

# Corpus-mining extensions (TF-IDF keyterms, containment dedup, k-means,
# trade-graph PageRank) — same registry.
from tamar_spark import queries_ml as _queries_ml  # noqa: E402,F401

# Data-layout + monitoring extensions (z-order clustering, CDC upsert,
# bounded-state streaming dedup, anomaly/drift monitors) — same registry.
from tamar_spark import queries_layout as _queries_layout  # noqa: E402,F401
