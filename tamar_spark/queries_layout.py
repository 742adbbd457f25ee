"""Data-layout & operational-monitoring extensions (round-5 wave 4).

Families added here, each an oracle-checked ``(Spark, DuckDB-SQL)`` pair:

- **Z-order layout** (``zorder_layout``): Morton bit-interleave of two join
  keys as a pure JVM expression — the multi-dimensional clustering key that
  makes parquet min/max row-group pruning effective for 2-D range
  predicates (Delta/Iceberg ``OPTIMIZE ZORDER`` equivalent).  The pruning
  benefit itself is pinned in tests/test_storage_layout.py.
- **CDC upsert / MERGE** (``cdc_upsert``): apply an insert/update/delete
  change batch to a base table via one full-outer join — the lakehouse
  snapshot-maintenance primitive.
- **Bounded-state streaming dedup** (``streaming_dedup_bounded``):
  ``dropDuplicatesWithinWatermark`` — the variant of streaming dedup whose
  state store is bounded by the watermark horizon instead of growing with
  key cardinality (the reference's dedup-by-state, src/lib.rs:323-361, has
  the same unbounded-growth hazard this solves).
- **Monitoring** (``anomaly_zscore``, ``drift_bins``): per-key z-score
  outlier detection and period-over-period distribution drift — the data
  quality gates a 100 TB ingest pipeline runs continuously.

Determinism follows the house rules (queries.py module docstring): exact
integer math wherever possible, doubles rounded before hashing, total
orderings on every output.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tamar_spark.env import prep_session
from tamar_spark.queries import (
    query,
    _SESSION_ORACLE,
    epoch_us,
    floor_div,
    dsum_r,
    round_ieee,
    _events_path,
    _events_stream,
    _run_to_memory,
)
from tamar_spark.sources import load_table


# --------------------------------------------------------------------------
# Z-order (Morton) layout key
# --------------------------------------------------------------------------

_ZBITS = 10  # 10 bits per dimension -> 20-bit z-value


def zvalue_expr(x, y, bits: int = _ZBITS):
    """Morton interleave of two ``bits``-bit non-negative ints as a single
    JVM-side column expression (no UDF): bit i of x lands at 2i+1, bit i of
    y at 2i.  Stays inside whole-stage codegen — at 100 TB the z-key is
    computed during the write's sort stage at scan speed."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        terms.append(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i))
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def zorder_write(df, x, y, path, n_files: int = 8, bits: int = _ZBITS):
    """Write ``df`` z-clustered on dimensions ``x``/``y`` (column
    expressions reduced to ``bits``-bit non-negative ints): compute the
    Morton key, range-partition the output files by it, sort within each
    file, drop the key.  This is the distributed write path the
    ``zorder_layout`` docstring promises — each output file (and every row
    group inside it, since rows arrive sorted) covers one contiguous z
    range, i.e. one quad-tree cell tight in BOTH dimensions.  The
    interleave and the sort ride the normal write shuffle; nothing touches
    the driver."""
    (
        df.withColumn("_z", zvalue_expr(x, y, bits))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def _zvalue_sql(x: str, y: str, bits: int = _ZBITS) -> str:
    terms = [
        f"(((({x} >> {i}) & 1) << {2 * i + 1}) | ((({y} >> {i}) & 1) << {2 * i}))"
        for i in range(bits)
    ]
    return "(" + " | ".join(terms) + ")"


@query(
    "zorder_layout",
    f"""
WITH src AS (
  SELECT (l_partkey & 1023) AS x, (l_suppkey & 1023) AS y, l_quantity
  FROM lineitem
)
SELECT ({_zvalue_sql('x', 'y')} >> 14) AS z_bucket,
       COUNT(*) AS n,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM src
GROUP BY 1
ORDER BY z_bucket
""",
)
def zorder_layout(spark, sf_dir):
    """Z-order clustering key: Morton-interleave (l_partkey, l_suppkey) into
    one sort key and profile the 64 coarse z-buckets.  Writing the fact
    table sorted by this key gives every parquet row group a TIGHT min/max
    envelope in BOTH dimensions, so a 2-D range predicate skips most row
    groups — a linear sort can only be tight in its leading column.  The
    actual skip-rate win is measured in tests/test_storage_layout.py
    (z-sorted vs linear-sorted files under a 2-D range scan).  The
    interleave is pure bit arithmetic inside codegen; at 100 TB it rides
    the existing write-path sort (``repartitionByRange(zkey)``) for free."""
    li = load_table(spark, sf_dir, "lineitem")
    z = zvalue_expr(
        F.col("l_partkey").bitwiseAND(F.lit(1023)),
        F.col("l_suppkey").bitwiseAND(F.lit(1023)),
    )
    return (
        li.select(z.alias("z"), "l_quantity")
        .groupBy(F.shiftright(F.col("z"), 14).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("z_bucket")
    )


# --------------------------------------------------------------------------
# CDC upsert (MERGE INTO)
# --------------------------------------------------------------------------

_CDC_CHANGES_SQL = """
  SELECT CASE WHEN c_custkey % 17 != 3 AND c_custkey % 10 != 0
              THEN c_custkey + (SELECT MAX(c_custkey) FROM customer)
              ELSE c_custkey END AS key,
         CASE WHEN c_custkey % 17 = 3 THEN 'D'
              WHEN c_custkey % 10 = 0 THEN 'U'
              ELSE 'I' END AS op,
         CASE WHEN c_custkey % 17 = 3 THEN NULL
              WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0
              ELSE 0.0 END AS new_bal,
         c_mktsegment AS new_seg,
         c_nationkey AS new_nat
  FROM customer
  WHERE c_custkey % 17 = 3 OR c_custkey % 10 = 0 OR c_custkey % 13 = 1
"""


def _cdc_changes(base):
    """Deterministic CDC batch over ``customer``: deletes (key%17=3),
    updates +100 (key%10=0), inserts opening at 0.0 (key%13=1), first rule
    wins.  Insert keys are ``source_key + MAX(base key)`` — disjoint from
    every base key BY CONSTRUCTION (source keys are ≥ 1), so downstream
    delta rules may treat every 'I' row as a guaranteed-new key without an
    old-value lookup (the +1000000 constant this replaces only held for
    the fixture's key range).  The 1-row max is a broadcast scalar."""
    k = F.col("c_custkey")
    maxk = base.agg(F.max("c_custkey").alias("_maxk"))
    return (
        base.crossJoin(F.broadcast(maxk))
        .where((k % 17 == 3) | (k % 10 == 0) | (k % 13 == 1))
        .select(
            F.when((k % 17 != 3) & (k % 10 != 0), k + F.col("_maxk"))
            .otherwise(k)
            .alias("key"),
            F.when(k % 17 == 3, F.lit("D"))
            .when(k % 10 == 0, F.lit("U"))
            .otherwise(F.lit("I"))
            .alias("op"),
            F.when(k % 17 == 3, F.lit(None).cast("double"))
            .when(k % 10 == 0, F.col("c_acctbal") + 100.0)
            .otherwise(F.lit(0.0))
            .alias("new_bal"),
            F.col("c_mktsegment").alias("new_seg"),
            F.col("c_nationkey").alias("new_nat"),
        )
    )


@query(
    "cdc_upsert",
    f"""
WITH changes AS ({_CDC_CHANGES_SQL}),
merged AS (
  SELECT COALESCE(b.c_custkey, c.key) AS key,
         COALESCE(c.new_bal, b.c_acctbal) AS bal,
         COALESCE(b.c_mktsegment, c.new_seg) AS seg,
         c.op
  FROM customer b FULL OUTER JOIN changes c ON b.c_custkey = c.key
)
SELECT seg, COUNT(*) AS n, ROUND(SUM(bal), 2) AS total_bal
FROM merged
WHERE op IS NULL OR op != 'D'
GROUP BY seg
ORDER BY seg
""",
)
def cdc_upsert(spark, sf_dir):
    """CDC MERGE: apply the deterministic change batch of
    :func:`_cdc_changes` (deletes: key%17=3, updates +100: key%10=0,
    inserts at key+max(base key) opening at 0.0: key%13=1, first rule wins)
    to the customer base table in ONE full-outer join, then summarize the
    new snapshot per segment.  Spark cannot broadcast a full-outer join, so
    the plan is a sort-merge join shuffled on the key — the right shape at
    100 TB, where the real lever is partition pruning: a change batch
    touches few partitions, and MERGE implementations (Delta/Iceberg)
    rewrite only those files.  The oracle replays the identical merge in
    SQL."""
    base = load_table(spark, sf_dir, "customer")
    changes = _cdc_changes(base)
    merged = base.join(changes, base["c_custkey"] == changes["key"], "full_outer")
    return (
        merged.where(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.coalesce("c_mktsegment", "new_seg").alias("seg"),
            F.coalesce("new_bal", "c_acctbal").alias("bal"),
        )
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("bal"), 2).alias("total_bal"),
        )
        .orderBy("seg")
    )


# --------------------------------------------------------------------------
# Bounded-state streaming dedup
# --------------------------------------------------------------------------


@query(
    "streaming_dedup_bounded",
    """
SELECT DISTINCT user_id, event_type FROM events
""",
)
def streaming_dedup_bounded(spark, sf_dir):
    """Streaming dedup with BOUNDED state: ``dropDuplicatesWithinWatermark``
    keeps a key's dedup entry only until the watermark passes its event
    time + delay, so state is proportional to the watermark horizon — not
    to total distinct-key cardinality like plain ``dropDuplicates``
    (streaming_dedup).  That bound is what makes streaming dedup viable on
    an unbounded 100 TB ingest.  For the finite fixture the delay (40 d)
    exceeds the event-time span (~30 d), so no entry expires mid-run and
    the output equals exact DISTINCT regardless of micro-batch boundaries —
    which is what makes the oracle deterministic."""
    prep_session(spark)
    dedup = (
        _events_stream(spark, sf_dir, watermark="40 days")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory(dedup, sized_by=_events_path(sf_dir))


# --------------------------------------------------------------------------
# Monitoring: per-key outliers + distribution drift
# --------------------------------------------------------------------------


@query(
    "anomaly_zscore",
    """
WITH p AS (
  SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v
  FROM events WHERE event_type = 'purchase'
),
sums AS (
  SELECT user_id, COUNT(*) AS n,
         CAST(SUM(v) * 10000 AS BIGINT) AS x4,
         CAST(SUM(v) AS DOUBLE) AS sx,
         CAST(SUM(v * v) AS DOUBLE) AS sxx
  FROM p GROUP BY user_id HAVING COUNT(*) >= 2
),
stats AS (
  SELECT user_id, n, x4, sx / n AS mu,
         SQRT((n * sxx - sx * sx) / (n * (n - 1.0))) AS sigma
  FROM sums
),
flt AS (SELECT * FROM stats WHERE sigma > 0)
SELECT s.user_id AS user_id, s.n AS n,
       CAST((2 * s.x4 + s.n) // (2 * s.n) AS DOUBLE) / 10000.0 AS mean_value,
       ROUND(s.sigma, 4) AS std_value,
       ROUND(MAX(ABS((CAST(p.v AS DOUBLE) - s.mu) / s.sigma)), 3) AS max_abs_z
FROM p JOIN flt s ON p.user_id = s.user_id
GROUP BY s.user_id, s.n, s.x4, s.mu, s.sigma
ORDER BY s.user_id
""",
)
def anomaly_zscore(spark, sf_dir):
    """Per-key outlier monitor: each user's purchase-value mean/σ and the
    largest |z| any single purchase reached.  Two hash aggregates + one
    broadcast-able join back (stats is one row per user — tiny next to the
    fact side), so the plan is scan → partial agg → broadcast join → final
    agg: no extra shuffle of the fact table beyond the per-user agg.  The
    anomaly flagging rule itself (|z| > τ) is a filter on this output.
    Determinism: the 2-dp values are summed as DECIMAL (exact, so shuffle
    /combine order can't change the sum — the reason AVG/STDDEV on raw
    doubles can't be hash-compared), then mean and sample-σ come from the
    textbook n·Σx²−(Σx)² identity in scalar double ops, identical IEEE on
    both engines.  The displayed mean is rounded HALF-UP in exact integer
    1e-4 units ((2x+n) // 2n) because Σ(2-dp)/n lands EXACTLY on a 4-dp
    half all the time and Spark (BigDecimal half-up on the shortest repr)
    and DuckDB (binary-value rounding) disagree on those; σ and z pass
    through sqrt, which never yields an exactly-representable half.  The
    division is :func:`~tamar_spark.queries.floor_div`, so both engines
    compute the identical FLOOR for any sign of the sum (for negative
    sums the formula reads as round-half-toward-+∞ on both engines —
    engine-identical, which is what the hash contract needs)."""
    p = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.col("value").cast("decimal(18,2)").alias("v"))
    )
    sums = (
        p.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("v") * 10000).cast("bigint").alias("x4"),
            F.sum("v").cast("double").alias("sx"),
            F.sum(F.col("v") * F.col("v")).cast("double").alias("sxx"),
        )
        .where(F.col("n") >= 2)
    )
    stats = sums.select(
        "user_id",
        "n",
        "x4",
        (F.col("sx") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            / (F.col("n") * (F.col("n") - F.lit(1.0)))
        ).alias("sigma"),
    ).where(F.col("sigma") > 0)
    return (
        p.join(F.broadcast(stats), "user_id")
        .groupBy("user_id", "n", "x4", "mu", "sigma")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        (F.col("v").cast("double") - F.col("mu")) / F.col("sigma")
                    )
                ),
                3,
            ).alias("max_abs_z")
        )
        .select(
            "user_id",
            "n",
            (
                floor_div(2 * F.col("x4") + F.col("n"), 2 * F.col("n")).cast(
                    "double"
                )
                / 10000.0
            ).alias("mean_value"),
            F.round("sigma", 4).alias("std_value"),
            "max_abs_z",
        )
        .orderBy("user_id")
    )


@query(
    "drift_bins",
    """
WITH bounds AS (
  SELECT MIN(epoch_us(ts)) + MAX(epoch_us(ts)) AS pivot2 FROM events
),
tagged AS (
  SELECT CASE WHEN 2 * epoch_us(ts) <= (SELECT pivot2 FROM bounds)
              THEN 'early' ELSE 'late' END AS period,
         LEAST(CAST(FLOOR(value / 50.0) AS BIGINT), 9) AS bin
  FROM events
),
counts AS (
  SELECT period, bin, COUNT(*) AS n FROM tagged GROUP BY period, bin
),
tot AS (SELECT period, SUM(n) AS t FROM counts GROUP BY period)
SELECT c.period, c.bin, c.n, ROUND(CAST(c.n AS DOUBLE) / t.t, 4) AS rate
FROM counts c JOIN tot t USING (period)
ORDER BY period, bin
""",
)
def drift_bins(spark, sf_dir):
    """Distribution-drift monitor: split the stream at its midpoint event
    time and compare the value histogram (10 fixed 50-unit bins) of the
    early vs late half as per-bin rates.  The midpoint is exact integer
    microsecond math (2·ts ≤ min+max), the bins are exact, and rates are
    emitted PER BIN rather than collapsed into a PSI scalar so no
    cross-engine float summation order can touch the hash — the PSI/χ²
    reduction is a trivial driver-side fold over these 20 rows.  The pivot
    is a 1-row broadcast (the scalar-threading pattern), so the plan is two
    scans + one hash aggregate."""
    e = load_table(spark, sf_dir, "events")
    pivot2 = e.agg(
        (F.min(epoch_us("ts")) + F.max(epoch_us("ts"))).alias("pivot2")
    )
    tagged = e.crossJoin(F.broadcast(pivot2)).select(
        F.when(2 * epoch_us("ts") <= F.col("pivot2"), F.lit("early"))
        .otherwise(F.lit("late"))
        .alias("period"),
        F.least(F.floor(F.col("value") / 50.0).cast("bigint"), F.lit(9)).alias(
            "bin"
        ),
    )
    counts = tagged.groupBy("period", "bin").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("period").agg(F.sum("n").alias("t"))
    return (
        counts.join(F.broadcast(tot), "period")
        .select(
            "period",
            "bin",
            "n",
            F.round(F.col("n").cast("double") / F.col("t"), 4).alias("rate"),
        )
        .orderBy("period", "bin")
    )


# --------------------------------------------------------------------------
# Compaction planning (lakehouse maintenance)
# --------------------------------------------------------------------------

_COMPACT_TARGET = 1_000_000  # pseudo-bytes per output file


def compaction_bins(files, target: int = _COMPACT_TARGET):
    """Assign manifest rows ``(part, file_id, size)`` to target-size
    compaction bins: files are laid out in file_id order per partition and
    a file joins the bin its cumulative START offset falls in — the
    sequential first-fit Delta's OPTIMIZE uses, as one per-partition window
    cumsum (no driver materialization; planning 10M files across 10k
    partitions is a single window stage)."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("part").orderBy("file_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return files.withColumn(
        "start_off", F.sum("size").over(w) - F.col("size")
    ).withColumn("bin", floor_div(F.col("start_off"), target))


@query(
    "compaction_plan",
    f"""
WITH files AS (
  SELECT l_returnflag AS part, l_orderkey % 500 AS file_id,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS size
  FROM lineitem GROUP BY 1, 2
),
offsets AS (
  SELECT part, file_id, size,
         SUM(size) OVER (PARTITION BY part ORDER BY file_id
                         ROWS UNBOUNDED PRECEDING) - size AS start_off
  FROM files
)
SELECT part, CAST(start_off // {_COMPACT_TARGET} AS BIGINT) AS bin,
       COUNT(*) AS n_files, CAST(SUM(size) AS BIGINT) AS total_size
FROM offsets
GROUP BY part, start_off // {_COMPACT_TARGET}
ORDER BY part, bin
""",
)
def compaction_plan(spark, sf_dir):
    """Small-file compaction planner (Delta/Iceberg ``OPTIMIZE`` shape):
    given a file manifest (synthesized here as one pseudo-file per
    l_orderkey%500 per l_returnflag partition, size = cents of extended
    price), assign files to target-size output bins by cumulative start
    offset — the same sequential first-fit Delta's OPTIMIZE uses — and
    emit the per-bin plan (kernel: :func:`compaction_bins`, property-tested
    against a direct replay model).  Bin boundaries are exact integer
    division of exact integer offsets."""
    li = load_table(spark, sf_dir, "lineitem")
    files = (
        li.groupBy(
            F.col("l_returnflag").alias("part"),
            (F.col("l_orderkey") % 500).alias("file_id"),
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("size")
        )
    )
    return (
        compaction_bins(files)
        .groupBy("part", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("size").alias("total_size"),
        )
        .orderBy("part", "bin")
    )


# --------------------------------------------------------------------------
# Equi-depth histogram (monitoring)
# --------------------------------------------------------------------------


@query(
    "equidepth_histogram",
    """
WITH t AS (
  SELECT event_type, value,
         CAST(NTILE(10) OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS BIGINT) AS decile
  FROM events
)
SELECT event_type, decile, COUNT(*) AS n,
       MIN(value) AS min_v, MAX(value) AS max_v
FROM t
GROUP BY event_type, decile
ORDER BY event_type, decile
""",
)
def equidepth_histogram(spark, sf_dir):
    """Equi-depth (quantile-bucket) histogram of event values per type:
    ntile(10) over a TOTAL order (value, then event_id so ties can't make
    bucket membership engine-dependent), then per-bucket count and exact
    value bounds.  The min/max outputs are data values, not float
    aggregates, so no rounding is needed.  Per-type ordering is one
    shuffle + in-partition sort; at scale the exact ntile is the
    expensive-but-rare profiling pass, with approx_percentile
    (percentile_agg, approx_percentile_value) as the everyday sketch."""
    from pyspark.sql.window import Window as W

    e = load_table(spark, sf_dir, "events")
    t = e.withColumn(
        "decile",
        F.ntile(10)
        .over(W.partitionBy("event_type").orderBy("value", "event_id"))
        .cast("bigint"),
    )
    return (
        t.groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
        .orderBy("event_type", "decile")
    )


# --------------------------------------------------------------------------
# Incremental view maintenance (delta aggregation over the CDC batch)
# --------------------------------------------------------------------------


@query(
    "cdc_incremental_agg",
    f"""
WITH changes AS ({_CDC_CHANGES_SQL}),
merged AS (
  SELECT COALESCE(b.c_custkey, c.key) AS key,
         COALESCE(c.new_bal, b.c_acctbal) AS bal,
         COALESCE(b.c_mktsegment, c.new_seg) AS seg,
         c.op
  FROM customer b FULL OUTER JOIN changes c ON b.c_custkey = c.key
)
SELECT seg, COUNT(*) AS n, ROUND(SUM(bal), 2) AS total_bal
FROM merged
WHERE op IS NULL OR op != 'D'
GROUP BY seg
ORDER BY seg
""",
)
def cdc_incremental_agg(spark, sf_dir):
    """Incremental view maintenance: produce the post-merge per-segment
    aggregate from the OLD aggregate plus a delta computed from the change
    batch alone — the base table is never re-aggregated in the maintenance
    path (its one scan here builds the initial materialized view, which at
    100 TB is stored, not recomputed).  Delta rule per change row: insert
    → (+1, +new_bal); delete → (−1, −old_bal); update → (0, new−old) —
    exact because :func:`_cdc_changes` guarantees insert keys disjoint
    from the base.  The old-value fetch is a broadcast LEFT-SEMI prefilter
    ON the base (change keys broadcast to the base scan, filtered
    map-side, no base shuffle — the batch-lookup shape; a lakehouse MERGE
    adds file pruning on top), then the change batch left-joins the tiny
    touched-rows set with THAT set as the broadcast build side.  Spark
    cannot make the preserved side of a left-outer join the hash-join
    build side, which is why the naive broadcast(changes)-on-the-left
    hint is a no-op — the semi prefilter is the restructure that makes
    the batch-sized build real.  The final fold of the ≤|segments|-row
    delta into the stored view is a full-outer merge (not broadcastable
    by definition; both sides are one row per segment, so the exchange is
    trivial).  The oracle is the FULL recompute of the merged snapshot
    (cdc_upsert's), so the driver hash proves the incremental plan
    equivalent to rescanning."""
    base = load_table(spark, sf_dir, "customer")
    changes = _cdc_changes(base)
    old_agg = base.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).alias("n0"), F.sum("c_acctbal").alias("bal0")
    )
    old_vals = base.select(
        F.col("c_custkey").alias("key"),
        F.col("c_acctbal").alias("old_bal"),
        F.col("c_mktsegment").alias("old_seg"),
    )
    touched = old_vals.join(
        F.broadcast(changes.select("key")), "key", "left_semi"
    )
    delta = (
        changes.join(F.broadcast(touched), "key", "left")
        .select(
            F.coalesce("old_seg", "new_seg").alias("seg"),
            F.when(F.col("op") == "I", F.lit(1))
            .when(F.col("op") == "D", F.lit(-1))
            .otherwise(F.lit(0))
            .alias("dn"),
            F.when(F.col("op") == "I", F.col("new_bal"))
            .when(F.col("op") == "D", -F.col("old_bal"))
            .otherwise(F.col("new_bal") - F.col("old_bal"))
            .alias("dbal"),
        )
        .groupBy("seg")
        .agg(F.sum("dn").alias("dn"), F.sum("dbal").alias("dbal"))
    )
    return (
        old_agg.join(delta, "seg", "full_outer")
        .select(
            "seg",
            (
                F.coalesce("n0", F.lit(0)) + F.coalesce("dn", F.lit(0))
            ).alias("n"),
            F.round(
                F.coalesce("bal0", F.lit(0.0)) + F.coalesce("dbal", F.lit(0.0)),
                2,
            ).alias("total_bal"),
        )
        .orderBy("seg")
    )


@query(
    "cdc_incremental_minmax",
    f"""
WITH changes AS ({_CDC_CHANGES_SQL}),
merged AS (
  SELECT COALESCE(b.c_custkey, c.key) AS key,
         COALESCE(c.new_bal, b.c_acctbal) AS bal,
         COALESCE(b.c_nationkey, c.new_nat) AS nat,
         c.op
  FROM customer b FULL OUTER JOIN changes c ON b.c_custkey = c.key
)
SELECT nat, COUNT(*) AS n, MIN(bal) AS min_bal, MAX(bal) AS max_bal
FROM merged
WHERE op IS NULL OR op != 'D'
GROUP BY nat
ORDER BY nat
""",
)
def cdc_incremental_minmax(spark, sf_dir):
    """Incremental view maintenance for NON-additive aggregates (r5 VERDICT
    task 6): per-nation count + min/max balance under the CDC batch.
    Count folds additively like cdc_incremental_agg; min/max are not
    self-maintainable under deletes — removing a row can only be absorbed
    if it wasn't the group's bound.  The classic IVM answer (re-scan of
    affected groups) is implemented literally:

    - every change row's REMOVED value (delete or update old_bal) is
      compared against the stored view's bounds; a group whose bound is
      removed (ties included — conservative, still exact) is ENDANGERED;
    - safe groups fold with no base access: n0+dn, least(min0, incoming),
      greatest(max0, incoming) — inserts/updates only ever tighten bounds
      monotonically;
    - endangered groups alone are recomputed from the merged snapshot,
      with the group list broadcast-semi-joined into BOTH scans, so at
      100 TB the retraction path reads only the endangered groups'
      partitions (the filter reaches the scan; on a nation-partitioned
      table that is partition pruning) instead of re-aggregating the
      world.

    The oracle is the FULL recompute over the merged snapshot, so the
    driver hash proves safe-fold + endangered-rescan ≡ rescan-everything.
    tests/test_storage_layout.py pins that the fixture exercises BOTH
    paths (some groups endangered, some safely folded) and that a change
    batch introducing a brand-new group routes it through the rescan
    (r6 ADVICE: the old view0-LEFT-delta join silently dropped groups
    present only in the change batch)."""
    base = load_table(spark, sf_dir, "customer")
    changes = _cdc_changes(base)
    return _ivm_minmax(base, changes)


def _ivm_minmax(base, changes):
    """The minmax-IVM core of :func:`cdc_incremental_minmax`, extracted so
    tests can drive it with a synthetic change batch (e.g. one inserting
    into a nation absent from the base — the new-group path)."""
    view0 = base.groupBy(F.col("c_nationkey").alias("nat")).agg(
        F.count(F.lit(1)).alias("n0"),
        F.min("c_acctbal").alias("min0"),
        F.max("c_acctbal").alias("max0"),
    )
    old_vals = base.select(
        F.col("c_custkey").alias("key"),
        F.col("c_acctbal").alias("old_bal"),
        F.col("c_nationkey").alias("old_nat"),
    )
    touched = old_vals.join(
        F.broadcast(changes.select("key")), "key", "left_semi"
    )
    ch = changes.join(F.broadcast(touched), "key", "left").select(
        F.coalesce("old_nat", "new_nat").alias("nat"),
        "op",
        F.when(F.col("op") != "D", F.col("new_bal")).alias("incoming"),
        F.when(F.col("op") != "I", F.col("old_bal")).alias("removed"),
    )
    delta = ch.groupBy("nat").agg(
        F.sum(
            F.when(F.col("op") == "I", 1)
            .when(F.col("op") == "D", -1)
            .otherwise(0)
        ).alias("dn"),
        F.min("incoming").alias("min_in"),
        F.max("incoming").alias("max_in"),
        F.min("removed").alias("min_rm"),
        F.max("removed").alias("max_rm"),
    )
    # full_outer, not left (r6 ADVICE): a group present ONLY in the change
    # batch (insert into a nation with no base rows) has no view0 row and
    # must not be dropped — it is routed through the rescan below, which
    # reads zero base rows for it and aggregates the inserts alone.
    folded = view0.join(delta, "nat", "full_outer")
    endangered = (
        F.col("n0").isNull()
        | (F.col("min_rm") <= F.col("min0"))
        | (F.col("max_rm") >= F.col("max0"))
    )
    safe = folded.where(~F.coalesce(endangered, F.lit(False))).select(
        "nat",
        (F.col("n0") + F.coalesce("dn", F.lit(0))).alias("n"),
        F.least("min0", "min_in").alias("min_bal"),
        F.greatest("max0", "max_in").alias("max_bal"),
    )
    bad_nats = folded.where(F.coalesce(endangered, F.lit(False))).select("nat")
    base_bad = base.join(
        F.broadcast(bad_nats), base["c_nationkey"] == bad_nats["nat"], "left_semi"
    )
    # nations never change in this batch (old_nat == new_nat), so the
    # change side prunes on its own nat column symmetrically
    ch_bad = changes.join(
        F.broadcast(bad_nats), changes["new_nat"] == bad_nats["nat"], "left_semi"
    )
    merged_bad = base_bad.join(
        ch_bad, base_bad["c_custkey"] == ch_bad["key"], "full_outer"
    )
    recomputed = (
        merged_bad.where(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.coalesce("c_nationkey", "new_nat").alias("nat"),
            F.coalesce("new_bal", "c_acctbal").alias("bal"),
        )
        .groupBy("nat")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("bal").alias("min_bal"),
            F.max("bal").alias("max_bal"),
        )
    )
    return safe.unionByName(recomputed).orderBy("nat")


# --------------------------------------------------------------------------
# N-gram LM familiarity (CCNet-style corpus-fit quality signal)
# --------------------------------------------------------------------------


def bigrams(docs):
    """``(doc_id, text)`` → ``(doc_id, bigram)`` rows of consecutive
    whitespace-token pairs, pure JVM (sequence + element_at, 1-based like
    DuckDB list indexing).  NULL/empty/single-token docs contribute no
    rows — tokens() yields NULL or a short array and the index sequence
    is empty (guarded: Spark's ``sequence(1, 0)`` would count DOWN)."""
    from tamar_spark.functions import text as T

    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("t"))
    idx = F.when(
        F.size("t") >= 2, F.sequence(F.lit(1), F.size("t") - 1)
    ).otherwise(F.expr("array()").cast("array<int>"))
    return toks.select("doc_id", F.explode(idx).alias("i"), "t").select(
        "doc_id",
        F.concat_ws(
            " ", F.element_at("t", F.col("i")), F.element_at("t", F.col("i") + 1)
        ).alias("bigram"),
    )


@query(
    "lm_familiarity",
    """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
bg AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
),
cnt AS (
  SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram
)
SELECT bg.doc_id AS doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(CAST(SUM(cnt.c) AS DOUBLE) / COUNT(*), 4) AS familiarity,
       ROUND(CAST(SUM(CASE WHEN cnt.c <= 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 4) AS oov_frac
FROM bg JOIN cnt USING (bigram)
GROUP BY bg.doc_id
ORDER BY doc_id
""",
)
def lm_familiarity(spark, sf_dir):
    """Corpus-fit LM proxy (the CCNet idea with the LM replaced by the
    corpus's own bigram counts): per document, the mean corpus frequency
    of its bigrams (high = built from common constructions) and the
    fraction of bigrams seen nowhere else (high = noise or novelty).
    Log-free — counts are exact integer sums and the two divisions are
    single IEEE ops, so scores hash bit-identically (the ln-perplexity
    form differs in the last ulp between engines; rank order is
    monotone-identical).  Scale: the bigram count table is a mergeable
    shuffle aggregate; the join back is a bigram-key equi-join; at 100 TB
    the count side is capped by a document-frequency floor or replaced by
    the count-min sketch (heavy_hitters_cms) — both one-sided, keeping
    familiarity an upper bound."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bg = bigrams(docs)
    cnt = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
    return (
        bg.join(cnt, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("c").cast("double") / F.count(F.lit(1)), 4
            ).alias("familiarity"),
            F.round(
                F.sum(F.when(F.col("c") <= 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("oov_frac"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# UDAF: grouped-agg pandas UDF (completes the UDF/UDAF/UDTF row)
# --------------------------------------------------------------------------


@query(
    "udaf_median_cents",
    """
SELECT event_type,
       MEDIAN(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS median_cents,
       COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def udaf_median_cents(spark, sf_dir):
    """Custom aggregate as a GROUPED_AGG pandas UDF — the UDAF leg of the
    reference's arbitrary-closure surface (src/lib.rs:127-174 lets any
    fold run per key; Spark's typed equivalent is an Arrow-batched
    grouped-agg UDF).  Exact median of integer cents per event type: the
    group's values arrive as ONE pandas Series (np.median sorts, so
    arrival order can't matter), int64 cents make the result exact (x or
    x.5), and the oracle is DuckDB's native MEDIAN over the same ints.
    Scale honesty: a grouped-agg UDF materializes each group on one
    executor — right for bounded groups (5 event types here); for
    unbounded groups use the built-in percentile/approx_percentile
    (percentile_agg, approx_percentile_value), which aggregate
    distributively.  The UDAF exists for folds Catalyst can't express."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def median_cents(v):
        return float(np.median(v.values))

    # Spark refuses to mix a grouped-agg pandas UDF with JVM aggregates in
    # one agg(), so the row count is a second pandas UDAF
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(v):
        return len(v)

    e = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    return (
        e.select("event_type", cents.alias("cents"))
        .groupBy("event_type")
        .agg(
            median_cents("cents").alias("median_cents"),
            n_rows("cents").alias("n"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# CEP: ordered event-sequence detection (MATCH_RECOGNIZE / Flink-CEP shape)
# --------------------------------------------------------------------------


@query(
    "cep_funnel_sequence",
    """
WITH f AS (
  SELECT user_id, event_id, event_type, ts FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
lagged AS (
  SELECT user_id, event_id, event_type, ts,
         LAG(event_type, 1) OVER w AS t1, LAG(event_id, 1) OVER w AS id1,
         LAG(event_type, 2) OVER w AS t2, LAG(event_id, 2) OVER w AS id2,
         LAG(ts, 2) OVER w AS ts2
  FROM f
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, id2 AS view_id, id1 AS click_id, event_id AS purchase_id,
       CAST((epoch_us(ts) - epoch_us(ts2)) // 1000000 AS BIGINT)
         AS elapsed_sec
FROM lagged
WHERE event_type = 'purchase' AND t1 = 'click' AND t2 = 'view'
  AND epoch_us(ts) - epoch_us(ts2) <= 172800000000
ORDER BY user_id, purchase_id
""",
)
def cep_funnel_sequence(spark, sf_dir):
    """Complex-event-processing pattern detection (the MATCH_RECOGNIZE /
    Flink-CEP capability Spark lacks natively): find every STRICTLY
    CONSECUTIVE view→click→purchase run in each user's funnel-event
    stream, with the whole pattern inside a 48-hour window.  Contiguity is
    over the filtered stream (other event types don't break a run), the
    per-user order is total (ts, then event_id, so timestamp ties can't
    reorder the lag chain between engines), and the time bound is exact
    integer microseconds.  The fixed-length pattern compiles to ONE
    window stage — two lags over the (user_id) shuffle the funnel filter
    already bounded; variable-length patterns (A B+ C) decompose into a
    run-id cumsum over the same window, the standard gaps-and-islands
    rewrite.  Contrast with funnel_conversion, which counts stage
    reachability rather than matching ordered runs."""
    e = load_table(spark, sf_dir, "events")
    return funnel_matches(e, within_us=172_800 * 1_000_000).orderBy(
        "user_id", "purchase_id"
    )


def funnel_matches(
    events,
    within_us: int,
    pattern=("view", "click", "purchase"),
    id_names=("view_id", "click_id", "purchase_id"),
):
    """CEP kernel behind ``cep_funnel_sequence``: strictly consecutive
    n-step ``pattern`` runs per user over the filtered stream, last step
    within ``within_us`` microseconds of the first (r6 VERDICT task 3
    generalized the lag chain from 3 to n — one ``lag(j)`` pair per
    earlier step, still a single window pass over one shuffle).  Total
    per-user order (ts, event_id) — a tie in ts cannot reorder the lag
    chain.  Output: ``user_id, *id_names, elapsed_sec``."""
    from pyspark.sql.window import Window as W

    n = len(pattern)
    if len(id_names) != n:
        raise ValueError("id_names must match the pattern length")
    f = events.where(F.col("event_type").isin(*pattern))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    sel = ["user_id", "event_id", "event_type", "ts"]
    for j in range(1, n):
        sel.append(F.lag("event_type", j).over(w).alias(f"t{j}"))
        sel.append(F.lag("event_id", j).over(w).alias(f"id{j}"))
    sel.append(F.lag("ts", n - 1).over(w).alias("ts_first"))
    lagged = f.select(*sel)
    us, us0 = epoch_us("ts"), epoch_us("ts_first")
    cond = F.col("event_type") == pattern[-1]
    for j in range(1, n):
        cond &= F.col(f"t{j}") == pattern[n - 1 - j]
    cond &= us - us0 <= within_us
    out_ids = [
        (F.col(f"id{n - 1 - i}") if n - 1 - i else F.col("event_id")).alias(name)
        for i, name in enumerate(id_names)
    ]
    return lagged.where(cond).select(
        "user_id",
        *out_ids,
        # exact integer floor-div (not /, not `div`): matches the
        # oracle's `//` for any sign of the delta
        floor_div(us - us0, 1_000_000).alias("elapsed_sec"),
    )


@query(
    "streaming_cep_funnel",
    """
WITH wm AS (
  SELECT (epoch_us(MAX(ts)) // 1000 - 600000) * 1000 AS wm_us FROM events
),
f AS (
  SELECT user_id, event_id, event_type, ts FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
lagged AS (
  SELECT user_id, event_id, event_type, ts,
         LAG(event_type, 1) OVER w AS t1, LAG(event_id, 1) OVER w AS id1,
         LAG(event_type, 2) OVER w AS t2, LAG(event_id, 2) OVER w AS id2,
         LAG(ts, 2) OVER w AS ts2
  FROM f
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, id2 AS view_id, id1 AS click_id, event_id AS purchase_id,
       CAST((epoch_us(ts) - epoch_us(ts2)) // 1000000 AS BIGINT)
         AS elapsed_sec
FROM lagged
WHERE event_type = 'purchase' AND t1 = 'click' AND t2 = 'view'
  AND epoch_us(ts) - epoch_us(ts2) <= 172800000000
  AND epoch_us(ts) < (SELECT wm_us FROM wm)
ORDER BY user_id, purchase_id
""",
)
def streaming_cep_funnel(spark, sf_dir):
    """The funnel pattern LIVE: cep_funnel_sequence's strictly-consecutive
    view→click→purchase match running as a streaming query on the keyed
    stateful API (streaming/cep.py — the reference's keyed process_state,
    src/lib.rs:323-361, is Flink-CEP's substrate, and this is that
    construction on applyInPandasWithState).  A match only emits once the
    watermark strictly passes its purchase timestamp — before that an
    admissible late event could still break the run's consecutiveness —
    which makes the output independent of micro-batch slicing and equal to
    the BATCH funnel restricted to purchases sealed by the final
    watermark.  The shared oracle is therefore cep_funnel_sequence's SQL
    plus that finality filter (watermark = ms-floored max event time −
    10 min, exactly Spark's arithmetic); matches still unsealed at
    end-of-stream never emit (the reference's no-flush,
    src/lib.rs:1316-1345).  Scale: per-key state is the unsealed horizon
    plus two rows — the Flink-CEP buffer bound; see streaming/cep.py."""
    from tamar_spark.stream import DataStream
    from tamar_spark.streaming.cep import funnel_match_streaming

    prep_session(spark)
    sdf = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_id", "event_type", "ts")
    )
    keyed = DataStream(sdf, event_time="ts").key_by("user_id")
    out = funnel_match_streaming(
        keyed,
        ("view", "click", "purchase"),
        within_us=172_800 * 1_000_000,
        id_names=("view_id", "click_id", "purchase_id"),
    )
    out = _run_to_memory(out.to_df(), sized_by=_events_path(sf_dir))
    return out.orderBy("user_id", "purchase_id")


@query(
    "streaming_cep_funnel4",
    """
WITH wm AS (
  SELECT (epoch_us(MAX(ts)) // 1000 - 600000) * 1000 AS wm_us FROM events
),
f AS (
  SELECT user_id, event_id, event_type, ts FROM events
  WHERE event_type IN ('signup', 'view', 'click', 'purchase')
),
lagged AS (
  SELECT user_id, event_id, event_type, ts,
         LAG(event_type, 1) OVER w AS t1, LAG(event_id, 1) OVER w AS id1,
         LAG(event_type, 2) OVER w AS t2, LAG(event_id, 2) OVER w AS id2,
         LAG(event_type, 3) OVER w AS t3, LAG(event_id, 3) OVER w AS id3,
         LAG(ts, 3) OVER w AS ts3
  FROM f
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, id3 AS signup_id, id2 AS view_id, id1 AS click_id,
       event_id AS purchase_id,
       CAST((epoch_us(ts) - epoch_us(ts3)) // 1000000 AS BIGINT)
         AS elapsed_sec
FROM lagged
WHERE event_type = 'purchase' AND t1 = 'click' AND t2 = 'view'
  AND t3 = 'signup'
  AND epoch_us(ts) - epoch_us(ts3) <= 345600000000
  AND epoch_us(ts) < (SELECT wm_us FROM wm)
ORDER BY user_id, purchase_id
""",
)
def streaming_cep_funnel4(spark, sf_dir):
    """The n-step generalization of streaming_cep_funnel exercised live
    (r6 VERDICT task 3): a strictly-consecutive 4-step
    signup→view→click→purchase match on the same watermark-final keyed
    stateful kernel — the match scan, emission shape, and retention bound
    all parameterized by the pattern length (streaming/cep.py; reference
    keyed process_state, src/lib.rs:323-361).  Same finality rule as the
    3-step query: a match emits only once the watermark strictly passes
    its purchase timestamp, so the oracle is the 4-lag batch chain plus
    that filter; matches still unsealed at end-of-stream never emit
    (the reference's no-flush, src/lib.rs:1316-1345).  Per-key state is
    the unsealed horizon plus THREE sealed rows — the n−1 retention the
    kernel derives from the pattern."""
    from tamar_spark.stream import DataStream
    from tamar_spark.streaming.cep import funnel_match_streaming

    prep_session(spark)
    sdf = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type").isin("signup", "view", "click", "purchase"))
        .select("user_id", "event_id", "event_type", "ts")
    )
    keyed = DataStream(sdf, event_time="ts").key_by("user_id")
    out = funnel_match_streaming(
        keyed,
        ("signup", "view", "click", "purchase"),
        within_us=345_600 * 1_000_000,
        id_names=("signup_id", "view_id", "click_id", "purchase_id"),
    )
    out = _run_to_memory(out.to_df(), sized_by=_events_path(sf_dir))
    return out.orderBy("user_id", "purchase_id")


@query(
    "cep_runs",
    """
WITH numbered AS (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn_all,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn_type
  FROM events
),
islands AS (
  SELECT user_id, event_type, rn_all - rn_type AS island,
         ARG_MIN(event_id, rn_all) AS run_start_id, COUNT(*) AS run_len
  FROM numbered
  GROUP BY user_id, event_type, rn_all - rn_type
)
SELECT user_id, event_type, run_start_id, run_len
FROM islands
WHERE run_len >= 3
ORDER BY user_id, run_start_id
""",
)
def cep_runs(spark, sf_dir):
    """Variable-length CEP pattern (the A+ case cep_funnel_sequence's
    fixed-length lag chain can't express): maximal runs of ≥3 consecutive
    same-type events per user, via the gaps-and-islands rewrite — two
    row_numbers whose difference is constant exactly within a run, so one
    GROUP BY recovers every maximal island in a single window + aggregate
    pass.  All integer arithmetic over a total (ts, event_id) order; both
    window functions share the user_id shuffle (the per-type numbering is
    a finer partition of the same exchange)."""
    e = load_table(spark, sf_dir, "events")
    return type_runs(e, min_len=3).orderBy("user_id", "run_start_id")


def type_runs(events, min_len: int):
    """CEP kernel behind ``cep_runs``: maximal same-type runs of length ≥
    ``min_len`` per user via gaps-and-islands (difference of two
    row_numbers over the total (ts, event_id) order).  ``run_start_id`` is
    the id of the run's first event IN TIME ORDER (min_by over the row
    number) — plain MIN(event_id) only coincides with it when ids happen
    to follow time, a wart the tied-timestamp property test caught."""
    from pyspark.sql.window import Window as W

    w_all = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    numbered = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.row_number().over(w_all).alias("rn_all"),
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias(
            "island"
        ),
    )
    return (
        numbered.groupBy("user_id", "event_type", "island")
        .agg(
            F.min_by("event_id", "rn_all").alias("run_start_id"),
            F.count(F.lit(1)).alias("run_len"),
        )
        .where(F.col("run_len") >= min_len)
        .select("user_id", "event_type", "run_start_id", "run_len")
    )


@query(
    "streaming_cep_runs",
    """
WITH wm AS (
  SELECT (epoch_us(MAX(ts)) // 1000 - 600000) * 1000 AS wm_us FROM events
),
numbered AS (
  SELECT user_id, event_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn_all,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn_type
  FROM events
),
islands AS (
  SELECT user_id, event_type, rn_all - rn_type AS island,
         ARG_MIN(event_id, rn_all) AS run_start_id, COUNT(*) AS run_len,
         MAX(rn_all) AS run_end
  FROM numbered
  GROUP BY user_id, event_type, rn_all - rn_type
)
SELECT i.user_id AS user_id, i.event_type AS event_type,
       i.run_start_id AS run_start_id, i.run_len AS run_len
FROM islands i
JOIN numbered s ON s.user_id = i.user_id AND s.rn_all = i.run_end + 1
WHERE i.run_len >= 3 AND epoch_us(s.ts) < (SELECT wm_us FROM wm)
ORDER BY i.user_id, i.run_start_id
""",
)
def streaming_cep_runs(spark, sf_dir):
    """Variable-length CEP (A+ runs) LIVE: cep_runs' maximal same-type-run
    detection as a streaming stateful query (streaming/cep.py
    ``type_runs_streaming``).  The watermark-finality rule is subtler than
    the funnel's: a run's LENGTH stays provisional until its TERMINATOR
    (the different-type event right after it — maximality guarantees one
    exists for every non-trailing run) is sealed, because an admissible
    late same-type event could still extend the run.  The shared oracle
    is therefore cep_runs' gaps-and-islands SQL restricted to runs whose
    successor event's timestamp is below the final watermark; a user's
    trailing run has no sealed terminator and never emits (no-flush,
    reference src/lib.rs:1316-1345).  Emission and state eviction are
    atomic — emitted groups leave the buffer, so no cross-batch dedup
    bookkeeping exists to get wrong."""
    from tamar_spark.stream import DataStream
    from tamar_spark.streaming.cep import type_runs_streaming

    prep_session(spark)
    sdf = _events_stream(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts"
    )
    keyed = DataStream(sdf, event_time="ts").key_by("user_id")
    out = type_runs_streaming(keyed, min_len=3)
    out = _run_to_memory(out.to_df(), sized_by=_events_path(sf_dir))
    return out.orderBy("user_id", "run_start_id")


# --------------------------------------------------------------------------
# Trend detection: closed-form OLS slope per group (exact-sum regression)
# --------------------------------------------------------------------------


@query(
    "trend_ols",
    """
WITH b AS (
  SELECT MIN(epoch_us(ts)) AS t0 FROM events
),
d AS (
  SELECT event_type,
         (epoch_us(ts) - (SELECT t0 FROM b)) // 3600000000 AS x,
         CAST(value AS DECIMAL(18,2)) AS y
  FROM events
),
s AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM d GROUP BY event_type
)
SELECT event_type, n,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_per_hour,
       ROUND((CAST(sy AS DOUBLE)
              - CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / n, 4) AS intercept
FROM s
ORDER BY event_type
""",
)
def trend_ols(spark, sf_dir):
    """Metric-trend monitor: closed-form OLS of value against time (hours
    since corpus start) per event type — the slope is the drift detector's
    'is this metric trending' primitive.  Time is centered to small exact
    integers FIRST (hours 0..720 instead of raw epoch micros) so every
    moment — Σx, Σy, Σx², Σxy — is an exact integer/decimal sum immune to
    shuffle order; the slope (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) and intercept are
    then scalar double ops, identical IEEE on both engines.  One partial
    aggregate over the fact table + a broadcast 1-row t0 — the same
    single-pass shape as q1."""
    e = load_table(spark, sf_dir, "events")
    t0 = e.agg(F.min(epoch_us("ts")).alias("t0"))
    d = e.crossJoin(F.broadcast(t0)).select(
        "event_type",
        floor_div(epoch_us("ts") - F.col("t0"), 3_600_000_000).alias("x"),
        F.col("value").cast("decimal(18,2)").alias("y"),
    )
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    return s.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope_per_hour"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n"),
            4,
        ).alias("intercept"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Table profiling (Deequ / Great-Expectations shape)
# --------------------------------------------------------------------------

_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


@query(
    "table_profile",
    "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_null,
       COUNT(DISTINCT {c}) AS n_distinct
FROM orders"""
        for c in _PROFILE_COLS
    )
    + "\nORDER BY col_name",
)
def table_profile(spark, sf_dir):
    """Data-profiling pass (the Deequ/Great-Expectations primitive): per
    column of the orders table, row count, NULL count, and EXACT distinct
    count, in ONE job.  Spark plans the six exact COUNT DISTINCTs as a
    single Expand + aggregate (each input row fans out once per column),
    so the table is scanned once regardless of column count; the result
    is one row, unpivoted driver-free via ``stack``.  At 100 TB the exact
    distinct expand is the deliberate-profiling path — continuous
    monitoring uses ``approx_count_distinct`` (approx_distinct_users),
    which aggregates in constant space.  All outputs are exact integers —
    nothing for a float hash to disagree on.

    Deliberately NOT spread (r16, measured): the Expand+partial-distinct
    stage runs as one 0.75 s task on the one-row-group fixture, but the
    conditional round-robin made the query SLOWER (interleaved A/B
    median 2.12 → 2.79 s) — with p partitions each distinct value
    survives partial aggregation once per partition, so the exchange
    carries up to p× the bytes and the final merge re-deduplicates them;
    the parallelism win loses to the partial-agg dilution.  At scale the
    scan arrives pre-split and the question is moot."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"{c}__nulls"
            ),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
    one = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__distinct" for c in _PROFILE_COLS
    )
    return (
        one.select(
            F.expr(
                f"stack({len(_PROFILE_COLS)}, {stack}) AS"
                " (col_name, n_rows, n_null, n_distinct)"
            )
        )
        .orderBy("col_name")
    )


# --------------------------------------------------------------------------
# Privacy: k-anonymity generalization / suppression
# --------------------------------------------------------------------------

_KANON_K = 8

_KANON_SQL = f"""
WITH q AS (
  SELECT c_custkey, c_nationkey AS nat, c_mktsegment AS seg,
         CAST(floor(c_acctbal / 2000) AS INT) AS bal
  FROM customer
), l0 AS (
  SELECT nat, seg, bal, count(*) AS n FROM q GROUP BY 1, 2, 3
), l1 AS (
  SELECT nat, seg, count(*) AS n FROM q GROUP BY 1, 2
), l2 AS (
  SELECT seg, count(*) AS n FROM q GROUP BY 1
)
SELECT q.c_custkey,
       CASE WHEN l0.n >= {_KANON_K} THEN 0
            WHEN l1.n >= {_KANON_K} THEN 1
            WHEN l2.n >= {_KANON_K} THEN 2 ELSE 3 END AS gen_level,
       CASE WHEN l0.n >= {_KANON_K} OR l1.n >= {_KANON_K}
            THEN CAST(q.nat AS VARCHAR) ELSE '*' END AS anon_nation,
       CASE WHEN l0.n >= {_KANON_K} OR l1.n >= {_KANON_K} OR l2.n >= {_KANON_K}
            THEN q.seg ELSE '*' END AS anon_segment,
       CASE WHEN l0.n >= {_KANON_K}
            THEN CAST(q.bal AS VARCHAR) ELSE '*' END AS anon_bal,
       CAST(CASE WHEN l0.n >= {_KANON_K} THEN l0.n
                 WHEN l1.n >= {_KANON_K} THEN l1.n
                 WHEN l2.n >= {_KANON_K} THEN l2.n
                 ELSE (SELECT count(*) FROM q) END AS BIGINT) AS class_size
FROM q
JOIN l0 ON l0.nat = q.nat AND l0.seg = q.seg AND l0.bal = q.bal
JOIN l1 ON l1.nat = q.nat AND l1.seg = q.seg
JOIN l2 ON l2.seg = q.seg
"""


@query("k_anonymity", _KANON_SQL)
def k_anonymity(spark, sf_dir):
    """k-anonymity (k=8) via a fixed generalization ladder over the
    quasi-identifiers (nation, segment, acctbal-bucket): each row is
    generalized to the FIRST level whose equivalence class reaches k —
    L0 keeps all three QIs, L1 drops the balance bucket, L2 drops nation,
    L3 fully suppresses — the release gate a training-data pipeline runs
    before shipping user-adjacent metadata columns (Sweeney's k-anonymity;
    the ladder is the Datafly-style single-path lattice walk).

    Plan: the three class-size tables come from ONE scan via
    ``groupingSets`` (one Expand + one aggregate — the same
    single-pass trick as ``time_rollup``), each is QI-cardinality-bounded
    (tiny vs the corpus), and joins back are all BROADCAST — the fact
    table never shuffles, so the operator is one scan + map-side joins at
    any corpus size.  All-integer arithmetic; bucket boundary floor(x/2000)
    divides exactly in IEEE for the 2-decimal fixture balances."""
    prep_session(spark)
    k = _KANON_K
    q = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 2000).cast("int").alias("bal"),
    )
    sets = (
        q.groupingSets(
            [["nat", "seg", "bal"], ["nat", "seg"], ["seg"]],
            "nat", "seg", "bal",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("nat").alias("g_nat"),
            F.grouping("bal").alias("g_bal"),
        )
    )
    l0 = sets.filter((F.col("g_nat") == 0) & (F.col("g_bal") == 0)).select(
        F.col("nat").alias("n0"), F.col("seg").alias("s0"),
        F.col("bal").alias("b0"), F.col("n").alias("cnt0"),
    )
    l1 = sets.filter((F.col("g_nat") == 0) & (F.col("g_bal") == 1)).select(
        F.col("nat").alias("n1"), F.col("seg").alias("s1"),
        F.col("n").alias("cnt1"),
    )
    l2 = sets.filter((F.col("g_nat") == 1) & (F.col("g_bal") == 1)).select(
        F.col("seg").alias("s2"), F.col("n").alias("cnt2"),
    )
    total = q.groupBy().agg(F.count(F.lit(1)).alias("cnt3"))
    out = (
        q.join(
            F.broadcast(l0),
            (q["nat"] == l0["n0"]) & (q["seg"] == l0["s0"]) & (q["bal"] == l0["b0"]),
        )
        .join(F.broadcast(l1), (q["nat"] == l1["n1"]) & (q["seg"] == l1["s1"]))
        .join(F.broadcast(l2), q["seg"] == l2["s2"])
        .join(F.broadcast(total))
    )
    lvl = (
        F.when(F.col("cnt0") >= k, F.lit(0))
        .when(F.col("cnt1") >= k, F.lit(1))
        .when(F.col("cnt2") >= k, F.lit(2))
        .otherwise(F.lit(3))
    )
    return out.select(
        "c_custkey",
        lvl.alias("gen_level"),
        F.when(lvl <= 1, F.col("nat").cast("string"))
        .otherwise(F.lit("*"))
        .alias("anon_nation"),
        F.when(lvl <= 2, F.col("seg")).otherwise(F.lit("*")).alias("anon_segment"),
        F.when(lvl == 0, F.col("bal").cast("string"))
        .otherwise(F.lit("*"))
        .alias("anon_bal"),
        F.when(F.col("cnt0") >= k, F.col("cnt0"))
        .when(F.col("cnt1") >= k, F.col("cnt1"))
        .when(F.col("cnt2") >= k, F.col("cnt2"))
        .otherwise(F.col("cnt3"))
        .cast("bigint")
        .alias("class_size"),
    )


# --------------------------------------------------------------------------
# Bucketed (co-located) join: the pre-shuffled table layout
# --------------------------------------------------------------------------

_N_BUCKETS = 8


def _bucketed_tables(spark, sf_dir):
    """Materialize lineitem + orders as Spark bucketed tables (hash-bucketed
    AND sorted by orderkey, ``_N_BUCKETS`` buckets) once per fixture dir;
    later calls reuse the warehouse copy.  Bucketing is the declared-layout
    contract that lets Catalyst drop BOTH exchanges AND both sorts from a
    key-equal sort-merge join — at 100 TB this is THE lever for repeated
    fact-fact joins: pay the layout shuffle once at ingest, never again."""
    import re as _re

    tag = _re.sub(r"\W+", "_", sf_dir.strip("/"))
    lt, ot = f"li_bucketed_{tag}", f"ord_bucketed_{tag}"
    specs = [
        (lt, "lineitem", "l_orderkey",
         ["l_orderkey", "l_extendedprice", "l_discount"]),
        (ot, "orders", "o_orderkey", ["o_orderkey", "o_orderpriority"]),
    ]
    for name, src, key, cols in specs:
        if not spark.catalog.tableExists(name):
            # bucket metadata lives in the session catalog (in-memory
            # here), so a fresh session must re-register; an orphaned
            # warehouse dir from a previous session blocks saveAsTable —
            # clear it and rewrite (at a real deployment the metastore is
            # durable and this branch never runs)
            import shutil

            loc = (
                spark.conf.get(
                    "spark.sql.warehouse.dir", "spark-warehouse"
                ).removeprefix("file:")
                + "/"
                + name.lower()
            )
            shutil.rmtree(loc, ignore_errors=True)
            (
                load_table(spark, sf_dir, src)
                .select(*cols)
                # repartition on the SAME murmur3-pmod hash bucketBy uses,
                # so each write task holds exactly one bucket → ONE file
                # per bucket — the layout precondition for Spark to also
                # elide the sort-merge sorts (multi-file buckets are only
                # per-file sorted, and Spark would re-sort)
                .repartition(_N_BUCKETS, F.col(key))
                .write.bucketBy(_N_BUCKETS, key)
                .sortBy(key)
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(name)
            )
    return lt, ot


@query(
    "bucketed_join_agg",
    """
SELECT o.o_orderkey, o.o_orderpriority,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
""",
)
def bucketed_join_agg(spark, sf_dir):
    """Fact-fact join on PRE-BUCKETED tables: lineitem ⋈ orders on
    orderkey, then a per-order revenue aggregate — and because both
    tables are bucketed AND sorted on the join key, the whole pipeline
    (join + groupBy on that same key) runs with ZERO exchanges and ZERO
    sorts: scans feed the sort-merge join directly and the aggregation
    rides the same co-partitioning (plan pinned by
    ``test_bucketed_join_has_no_exchange``).

    This is the Spark-native answer to the reference engine's single-node
    luxury of never shuffling: declare the layout once (ingest-time
    bucketBy — the one-off shuffle amortized over every later join),
    then every orderkey-equi join/agg in the workload is map-side.  The
    oracle runs the identical join on the plain parquet views — results
    are layout-independent, the PLAN is what bucketing buys."""
    prep_session(spark)
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    # propagate the per-bucket sort order out of the scan (off by default
    # since SPARK-28595 because multi-file buckets are only per-file
    # sorted; _bucketed_tables guarantees ONE file per bucket, the exact
    # precondition under which this is sound) — this elides even the
    # within-partition sorts, leaving scan → SMJ → agg with no exchange
    # and no sort anywhere
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    lt, ot = _bucketed_tables(spark, sf_dir)
    li = spark.table(lt)
    orders = spark.table(ot)
    return (
        # merge hint: at fixture scale Catalyst would broadcast the orders
        # side, which also works but hides the point — at 100 TB BOTH
        # sides are fact-sized, and the bucketed layout is what lets the
        # sort-merge join run exchange-free AND sort-free
        li.join(orders.hint("merge"), li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            dsum_r(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# CDC time travel: AS-OF-version snapshot via log replay
# --------------------------------------------------------------------------

_CDC_LOG_SQL = f"""
  SELECT 1 AS version, key, op, new_bal, new_seg FROM ({_CDC_CHANGES_SQL})
  UNION ALL
  SELECT 2 AS version, c_custkey AS key, 'U' AS op,
         c_acctbal + 50.0 AS new_bal, c_mktsegment AS new_seg
  FROM customer
  WHERE c_custkey % 7 = 2 AND c_custkey % 17 != 3
  UNION ALL
  SELECT 3 AS version, c_custkey AS key, 'D' AS op,
         NULL AS new_bal, c_mktsegment AS new_seg
  FROM customer WHERE c_custkey % 19 = 5 AND c_custkey % 17 != 3
"""


@query(
    "cdc_time_travel",
    f"""
WITH log AS ({_CDC_LOG_SQL}),
snap AS (
  SELECT key, op, new_bal, new_seg FROM (
    SELECT *, row_number() OVER (PARTITION BY key
                                 ORDER BY version DESC) AS rn
    FROM log WHERE version <= 2
  ) WHERE rn = 1
),
merged AS (
  SELECT COALESCE(b.c_custkey, a.key) AS key,
         COALESCE(a.new_bal, b.c_acctbal) AS bal,
         COALESCE(b.c_mktsegment, a.new_seg) AS seg,
         a.op
  FROM customer b FULL OUTER JOIN snap a ON b.c_custkey = a.key
)
SELECT seg, COUNT(*) AS n, ROUND(SUM(bal), 2) AS total_bal
FROM merged
WHERE op IS NULL OR op != 'D'
GROUP BY seg
ORDER BY seg
""",
)
def cdc_time_travel(spark, sf_dir):
    """Time travel over a CDC change log (the Delta/Iceberg ``VERSION AS
    OF`` read, reconstructed by log replay): a 3-version log over the
    customer base (v1 = the standard mixed batch, v2 = +50 updates on
    key%7=2, v3 = deletes on key%19=5), read AS OF version 2 — the
    replay filters the log to ``version <= 2``, keeps each key's LATEST
    image (one keyed window), and applies the result against the base in
    the same single full-outer join as cdc_upsert.  v3's deletes must NOT
    appear: time travel is precisely reading yesterday's table after
    today's compaction.

    Scale: log filter prunes on a version column (partition-prunable in a
    real table layout); latest-image-per-key is one keyed shuffle over
    the CHANGE volume only (never the base); the merge join is the
    standard CDC shape.  Versions whose rules overlap (a key updated in
    v1 AND v2) prove the replay takes images, not diffs."""
    from pyspark.sql.window import Window

    base = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    v1 = _cdc_changes(base).select("key", "op", "new_bal", "new_seg").withColumn(
        "version", F.lit(1)
    )
    v2 = base.where((k % 7 == 2) & (k % 17 != 3)).select(
        k.alias("key"),
        F.lit("U").alias("op"),
        (F.col("c_acctbal") + 50.0).alias("new_bal"),
        F.col("c_mktsegment").alias("new_seg"),
        F.lit(2).alias("version"),
    )
    v3 = base.where((k % 19 == 5) & (k % 17 != 3)).select(
        k.alias("key"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("new_bal"),
        F.col("c_mktsegment").alias("new_seg"),
        F.lit(3).alias("version"),
    )
    log = v1.unionByName(v2).unionByName(v3)
    w = Window.partitionBy("key").orderBy(F.col("version").desc())
    asof = (
        log.where(F.col("version") <= 2)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("key", "op", "new_bal", "new_seg")
    )
    merged = base.join(asof, base["c_custkey"] == asof["key"], "full_outer")
    return (
        merged.where(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.coalesce("c_mktsegment", "new_seg").alias("seg"),
            F.coalesce("new_bal", "c_acctbal").alias("bal"),
        )
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("bal"), 2).alias("total_bal"),
        )
        .orderBy("seg")
    )


# --------------------------------------------------------------------------
# SCD2 dimension build: type-2 history maintenance from a CDC batch
# --------------------------------------------------------------------------


@query(
    "scd2_dim_build",
    f"""
WITH changes AS ({_CDC_CHANGES_SQL}),
old AS (
  SELECT b.c_custkey AS key, b.c_acctbal AS bal, b.c_mktsegment AS seg,
         1 AS valid_from,
         CASE WHEN c.op IN ('U', 'D') THEN 2 END AS valid_to,
         c.op IS NULL AS is_current
  FROM customer b LEFT JOIN changes c ON b.c_custkey = c.key
),
new AS (
  SELECT key, new_bal AS bal, new_seg AS seg,
         2 AS valid_from, NULL AS valid_to, TRUE AS is_current
  FROM changes WHERE op != 'D'
)
SELECT key, bal, seg, CAST(valid_from AS INT) AS valid_from,
       CAST(valid_to AS INT) AS valid_to, is_current
FROM (SELECT * FROM old UNION ALL SELECT * FROM new)
""",
)
def scd2_dim_build(spark, sf_dir):
    """Slowly-changing-dimension type 2 maintenance (the Kimball SCD2
    MERGE): apply the standard CDC batch to the customer dimension as
    version 2, KEEPING history — updated and deleted keys get their
    version-1 row closed (``valid_to = 2``, no longer current) while
    updates and inserts add an open version-2 row.  The batch counterpart
    of ``streaming_asof_dim``, which consumes exactly this interval-
    versioned shape for point-in-time enrichment; ``cdc_upsert`` is the
    type-1 (overwrite) variant of the same change feed.

    The whole build is set algebra — one key-equi LEFT join of the base
    against the change batch (closes/carries old rows) plus one
    projection of the batch (opens new rows), unioned.  No window, no
    per-key sort, ONE shuffle (the join; at 100 TB both sides
    hash-partition on the dimension key, and the change batch is
    typically broadcast-sized anyway).  Inserts never collide with base
    keys by the change generator's max-key offset, so the 'I' rows need
    no old-row lookup — the same guarantee cdc_incremental_agg leans on."""
    base = load_table(spark, sf_dir, "customer")
    changes = _cdc_changes(base)
    old = (
        base.join(
            changes.select("key", "op"),
            base["c_custkey"] == F.col("key"),
            "left",
        )
        .select(
            base["c_custkey"].alias("key"),
            base["c_acctbal"].alias("bal"),
            base["c_mktsegment"].alias("seg"),
            F.lit(1).alias("valid_from"),
            F.when(F.col("op").isin("U", "D"), F.lit(2))
            .otherwise(F.lit(None))
            .cast("int")
            .alias("valid_to"),
            F.col("op").isNull().alias("is_current"),
        )
    )
    new = changes.filter(F.col("op") != "D").select(
        "key",
        F.col("new_bal").alias("bal"),
        F.col("new_seg").alias("seg"),
        F.lit(2).alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return old.unionByName(new)


# --------------------------------------------------------------------------
# Join-key skew profiler: the pre-flight diagnostic for shuffle planning
# --------------------------------------------------------------------------


@query(
    "key_skew_profile",
    """
WITH c AS (
  SELECT 'l_orderkey' AS join_key, l_orderkey AS k FROM lineitem
  UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem
), per AS (
  SELECT join_key, k, count(*) AS n FROM c GROUP BY 1, 2
)
SELECT join_key,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(max(n) AS BIGINT) AS max_rows,
       round(CAST(max(n) * count(*) AS DOUBLE) / sum(n), 4) AS skew_ratio,
       round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_share
FROM per GROUP BY join_key
ORDER BY join_key
""",
)
def key_skew_profile(spark, sf_dir):
    """Per-candidate-join-key skew profile over the fact table — the
    pre-flight diagnostic behind every partitioning decision this repo's
    scale notes lean on (salting thresholds, AQE skew-join expectations,
    bucket column choice): for each candidate key, its distinct-value
    count, the heaviest single key's row count, the skew ratio
    max/avg = max·distinct/rows (1.0 = perfectly uniform; the salted-join
    trigger), and the heaviest key's share of all rows (the
    single-reducer bound: no partitioning of this key can put less than
    top_share of the table in one task).

    ONE fact scan: groupingSets over the three single-key sets (one
    Expand + one partial-aggregated count per (set, value)), then a
    3-row second aggregate per set.  The per-value count table is the
    same intermediate a salted-join planner samples; at 100 TB the
    Expand triples scan rows but map-side combine collapses them to one
    row per distinct key value before the shuffle.  skew_ratio is the
    exact integer product max·distinct divided once (< 2^53 — exact),
    so both engines round the identical double."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    cnts = (
        li.groupingSets(
            [["l_orderkey"], ["l_partkey"], ["l_suppkey"]],
            "l_orderkey", "l_partkey", "l_suppkey",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("l_orderkey").alias("g_o"),
            F.grouping("l_partkey").alias("g_p"),
        )
    )
    key_name = (
        F.when(F.col("g_o") == 0, F.lit("l_orderkey"))
        .when(F.col("g_p") == 0, F.lit("l_partkey"))
        .otherwise(F.lit("l_suppkey"))
    )
    return (
        cnts.groupBy(key_name.alias("join_key"))
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.max("n").cast("bigint").alias("max_rows"),
            F.round(
                (F.max("n") * F.count(F.lit(1))).cast("double") / F.sum("n"), 4
            ).alias("skew_ratio"),
            F.round(F.max("n").cast("double") / F.sum("n"), 6).alias("top_share"),
        )
        .orderBy("join_key")
    )


# --------------------------------------------------------------------------
# Incremental sessionization: IVM for gap-based session windows
# --------------------------------------------------------------------------


def _gap_merge_sessions(items, gap: str = "INTERVAL 12 HOURS"):
    """Gap-merge a per-key set of time INTERVALS carrying partial
    aggregates: ``(user_id, s, e, n, psum)`` rows (an event is the
    degenerate interval s = e = ts) → merged sessions with summed
    partials.  Interval gap-merge equals point gap-merge because sessions
    are exactly the connected components of the ≤-gap relation on the
    timeline and an interval is the union of its points — which is what
    lets a session TABLE absorb an event DELTA without replaying the
    events inside the stored sessions.  New-session rule ``s >
    running_max(prev e) + gap`` mirrors the oracle's strict ``>`` (an
    event landing exactly on the boundary merges, same as the SQL twin).
    One keyed sort window + one aggregate; partial sums stay DECIMAL
    (associative) so re-summing partials is bit-identical to summing raw
    values."""
    from pyspark.sql.window import Window

    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_e = F.max("e").over(w_prev)
    flagged = items.withColumn(
        "is_new",
        F.when(prev_e.isNull() | (F.col("s") > prev_e + F.expr(gap)), 1).otherwise(
            0
        ),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = flagged.withColumn("session_id", F.sum("is_new").over(w_run))
    return sess.groupBy("user_id", "session_id").agg(
        F.min("s").alias("window_start"),
        (F.max("e") + F.expr(gap)).alias("window_end"),
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("psum").alias("psum"),
    )


_SESSION_IVM_ORACLE = _SESSION_ORACLE.replace("INTERVAL 30 MINUTE", "INTERVAL 12 HOUR")


@query("session_ivm", _SESSION_IVM_ORACLE)
def session_ivm(spark, sf_dir):
    """Incremental view maintenance for SESSION WINDOWS — the non-trivial
    IVM case (cdc_incremental_agg folds additive groups; sessions are
    NOT additive: one late event can weld two stored sessions into one).
    The maintained view is the session table (gap 12 h — wide enough
    that the fixture's sparse event stream actually WELDS delta events
    into stored sessions across the cut; at 30 min every session is a
    singleton and the hard path would idle) over all events older than a
    cut (max ts − 24 h); the delta is the last day of events.  The merge exploits that stored sessions are mergeable
    interval summaries: for AFFECTED KEYS ONLY, re-gap-merge their stored
    session rows together with the delta events as degenerate intervals —
    correctness from interval-merge ≡ point-merge (see
    ``_gap_merge_sessions``); every other key's rows pass through via an
    anti join, untouched and unread past the key column.

    Registered with the flagship session oracle (at the 12 h gap) — a
    full recompute over ALL events — the driver hash proves maintained ≡ recomputed, the same
    proof obligation as cdc_incremental_agg/minmax.

    Scale: the maintained table is amortized (built once, here
    checkpointed to stand in for the stored table); the incremental step
    costs one distinct over the delta's keys, one semi/anti join pair on
    user_id, and a sort window over (affected keys' session rows + delta
    events) — proportional to the DELTA and its keys' session counts,
    never to the corpus.  Partial sums stay DECIMAL end-to-end, so the
    final 2 dp round equals the full recompute bit-for-bit."""
    from tamar_spark.queries import _DEC

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    maxts = ev.agg(F.max("ts").alias("_maxts"))
    ev2 = ev.crossJoin(F.broadcast(maxts)).withColumn(
        "_cut", F.col("_maxts") - F.expr("INTERVAL 24 HOURS")
    )
    as_point = lambda df: df.select(  # noqa: E731
        "user_id",
        F.col("ts").alias("s"),
        F.col("ts").alias("e"),
        F.lit(1).alias("n"),
        F.col("value").cast(_DEC).alias("psum"),
    )
    v1 = _gap_merge_sessions(
        as_point(ev2.filter(F.col("ts") < F.col("_cut")))
    ).localCheckpoint()  # the "stored" session table
    delta = ev2.filter(F.col("ts") >= F.col("_cut"))
    affected = delta.select("user_id").distinct()
    untouched = v1.join(affected, "user_id", "left_anti")
    touched = v1.join(affected, "user_id", "left_semi")
    items = touched.select(
        "user_id",
        F.col("window_start").alias("s"),
        (F.col("window_end") - F.expr("INTERVAL 12 HOURS")).alias("e"),
        F.col("n_events").alias("n"),
        "psum",
    ).unionByName(as_point(delta))
    remerged = _gap_merge_sessions(items)
    cols = ["user_id", "window_start", "window_end", "n_events", "psum"]
    return (
        untouched.select(*cols)
        .unionByName(remerged.select(*cols))
        .select(
            "window_start",
            "window_end",
            "user_id",
            "n_events",
            F.round("psum", 2).cast("double").alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# Time-series resampling: regular grid + forward fill (gap-fill)
# --------------------------------------------------------------------------


@query(
    "resample_ffill",
    """
WITH ev AS (
  SELECT user_id, ts, value, event_id,
         date_trunc('hour', ts) AS slot
  FROM events WHERE user_id % 100 = 0
),
obs AS (
  SELECT user_id, slot, value FROM (
    SELECT user_id, slot, value,
           row_number() OVER (PARTITION BY user_id, slot
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev
  ) WHERE rn = 1
),
bounds AS (
  SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM ev GROUP BY 1
),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS slot
  FROM bounds
),
marked AS (
  SELECT g.user_id, g.slot, o.value,
         max(CASE WHEN o.value IS NOT NULL THEN g.slot END)
           OVER (PARTITION BY g.user_id ORDER BY g.slot
                 ROWS UNBOUNDED PRECEDING) AS carry
  FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.slot = g.slot
)
SELECT m.user_id, m.slot,
       c.value AS value_ffill,
       m.value IS NOT NULL AS is_observed,
       CAST(date_diff('hour', m.carry, m.slot) AS INT) AS hours_since_obs
FROM marked m JOIN obs c ON c.user_id = m.user_id AND c.slot = m.carry
""",
)
def resample_ffill(spark, sf_dir):
    """Regular-grid resampling with forward fill — the feature-store /
    monitoring primitive that turns an irregular event stream into the
    hourly panel a model or dashboard consumes (pandas ``resample('1h')
    .ffill()``, TimescaleDB ``time_bucket_gapfill + locf``), for every
    100th user: one slot per hour between the user's first and last
    event, carrying the most recent observation forward and reporting
    its staleness.

    Per (user, hour-slot) the representative observation is the LAST
    event in the slot (ties by event_id — total order, engine-identical);
    the grid comes from ``sequence()`` exploded off each user's bounds;
    the fill is ONE prefix-max window: max over struct(slot, value) of
    observed slots ≤ t — running max of a monotone sequence ≡ last
    non-null, without IGNORE NULLS (which SQL engines disagree on).

    Scale: everything keys on user_id — slot collapse, bounds, grid
    explode, and the fill window share one partitioning (AQE reuses it);
    grid rows are bounded by span/granularity per user, so the explode
    is output-proportional, and there is no cross-user operator anywhere.
    The staleness column is the monitor: hours_since_obs > SLA flags a
    silent feed."""
    from pyspark.sql.window import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 100 == 0)
        .select(
            "user_id",
            "ts",
            "value",
            "event_id",
            F.date_trunc("hour", F.col("ts")).alias("slot"),
        )
    )
    obs = (
        ev.groupBy("user_id", "slot")
        .agg(F.max(F.struct("ts", "event_id", "value")).alias("_last"))
        .select("user_id", "slot", F.col("_last.value").alias("value"))
    )
    bounds = ev.groupBy("user_id").agg(
        F.min("slot").alias("lo"), F.max("slot").alias("hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("slot"),
    )
    joined = grid.join(obs, ["user_id", "slot"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carry = F.max(
        F.when(F.col("value").isNotNull(), F.struct("slot", "value"))
    ).over(w)
    return joined.select(
        "user_id",
        "slot",
        carry.getField("value").alias("value_ffill"),
        F.col("value").isNotNull().alias("is_observed"),
        (
            (epoch_us("slot") - epoch_us(carry.getField("slot")))
            / F.lit(3_600_000_000)
        )
        .cast("int")
        .alias("hours_since_obs"),
    )


# ---------------------------------------------------------------------------
# Stored-sketch rollup: mergeable HLL re-aggregation across grouping levels
# ---------------------------------------------------------------------------

_HLL_ROLLUP_ORACLE = """
WITH typed AS (
  SELECT event_type,
         CAST(count(DISTINCT date_trunc('week', ts)) AS INT) AS n_weeks,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
         TRUE AS merged_ok
  FROM events GROUP BY event_type
),
total AS (
  SELECT '_ALL' AS event_type,
         CAST(count(DISTINCT date_trunc('week', ts)) AS INT) AS n_weeks,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
         TRUE AS merged_ok
  FROM events
)
SELECT * FROM typed UNION ALL SELECT * FROM total ORDER BY event_type
"""


@query("hll_sketch_rollup", _HLL_ROLLUP_ORACLE)
def hll_sketch_rollup(spark, sf_dir):
    """Stored-sketch re-aggregation — the pattern that makes COUNT(DISTINCT)
    dashboards viable at 100 TB: build Datasketches HLL sketches ONCE at a
    fine grain (event_type × week), persist them as binary columns, and
    answer every coarser grain (per-type, corpus-wide) by hll_union_agg
    over the FIXED-SIZE sketches — no rescan of the raw events, no shuffle
    of distinct keys.  This differs from approx_distinct_users
    (approx_count_distinct's internal partials never leave the aggregate):
    here the sketch is a first-class stored value, the nightly-materialize
    / instant-rollup architecture.

    The week-grain table is ~|types|·|weeks| rows of ~1.5 KB sketches; the
    rollup is a broadcast-size aggregation REGARDLESS of raw cardinality —
    at 1000 executors the raw scan parallelizes and everything after it is
    constant work.

    Sketch estimates are engine-specific, so the query SELF-VERIFIES
    (approx_distinct_users pattern): ``merged_ok`` pins
    |union-estimate − exact|/exact ≤ 5% (lgK=12 ⇒ rse ≈ 0.8%, so the
    margin is ~6σ) and the hash check rides on the exact counts, week
    counts, and the boolean."""
    e = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts")).alias("week")
    lvl1 = e.groupBy("event_type", week).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    per_type = lvl1.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx"),
        F.count(F.lit(1)).cast("int").alias("n_weeks"),
    )
    exact_t = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    typed = per_type.join(exact_t, "event_type").select(
        "event_type",
        "n_weeks",
        "exact_users",
        (
            F.abs(F.col("approx") - F.col("exact_users")) / F.col("exact_users")
            <= 0.05
        ).alias("merged_ok"),
    )
    total = (
        lvl1.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx"),
            F.countDistinct("week").cast("int").alias("n_weeks"),
        )
        .crossJoin(
            F.broadcast(e.agg(F.countDistinct("user_id").alias("exact_users")))
        )
        .select(
            F.lit("_ALL").alias("event_type"),
            "n_weeks",
            "exact_users",
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("merged_ok"),
        )
    )
    return typed.unionByName(total).orderBy("event_type")


# --------------------------------------------------------------------------
# Privacy: l-diversity audit (companion to k_anonymity)
# --------------------------------------------------------------------------

_LDIV_L = 3

_LDIV_SQL = f"""
SELECT c_nationkey AS nat,
       CAST(floor(c_acctbal / 2000) AS INT) AS bal,
       CAST(count(*) AS BIGINT) AS class_size,
       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
       count(DISTINCT c_mktsegment) >= {_LDIV_L} AS diverse
FROM customer GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("l_diversity", _LDIV_SQL)
def l_diversity(spark, sf_dir):
    """l-diversity audit (l=3), the check k-anonymity alone misses: a
    k-anonymous equivalence class whose SENSITIVE attribute is constant
    still leaks it (homogeneity attack — Machanavajjhala et al. 2007).
    Quasi-identifiers are (nation, acctbal-bucket) and the sensitive
    column is the market segment; each class reports its size, its
    distinct-sensitive count, and whether it meets l — the release gate
    runs ``filter(~diverse)`` to find classes needing further
    generalization before shipping.

    Plan: one hash aggregate with an exact COUNT DISTINCT (Expand + two
    partial aggregates, map-side combinable) — one fact scan, one
    QI-cardinality-bounded shuffle, no joins.  All-integer outputs.
    Bucket boundary floor(x/2000) is engine-identical (see k_anonymity).
    Reference parity: privacy gates are an extension family (SURVEY §2
    'beyond-reference pipeline operators'), same release-pipeline slot as
    k_anonymity/pii_redact."""
    q = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / 2000).cast("int").alias("bal"),
        "c_mktsegment",
    )
    return (
        q.groupBy("nat", "bal")
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
        .select(
            "nat",
            "bal",
            "class_size",
            "n_segments",
            (F.col("n_segments") >= _LDIV_L).alias("diverse"),
        )
        .orderBy("nat", "bal")
    )


# --------------------------------------------------------------------------
# Data-quality constraint suite (Deequ-style verification pass)
# --------------------------------------------------------------------------

_DQ_SQL = """
WITH om AS (
  SELECT count(*) AS n,
         count(o_custkey) AS n_cust,
         count(DISTINCT o_orderkey) AS n_key,
         sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS n_pos,
         sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS n_dom
  FROM orders
),
ri AS (
  SELECT count(*) AS n_li,
         sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM orders)
             THEN 1 ELSE 0 END) AS n_match
  FROM lineitem
)
SELECT constraint_name,
       floor(CAST(num AS DOUBLE) / den * 1000000 + 0.5) / 1000000.0 AS metric,
       num = den AS passed
FROM (
  SELECT 'completeness_o_custkey' AS constraint_name, n_cust AS num, n AS den FROM om
  UNION ALL SELECT 'unique_o_orderkey', n_key, n FROM om
  UNION ALL SELECT 'positive_o_totalprice', n_pos, n FROM om
  UNION ALL SELECT 'domain_o_orderstatus', n_dom, n FROM om
  UNION ALL SELECT 'ri_lineitem_orderkey', n_match, n_li FROM ri
)
ORDER BY constraint_name
"""


@query("dq_constraints", _DQ_SQL)
def dq_constraints(spark, sf_dir):
    """Deequ-style data-quality verification suite in two scans: per
    constraint, the satisfaction METRIC (fraction of rows passing) and a
    hard pass/fail — completeness(o_custkey), uniqueness(o_orderkey),
    positivity(o_totalprice), domain(o_orderstatus ∈ {O,F,P}), and
    referential integrity (every l_orderkey resolves in orders).  This is
    the CI gate an ingest pipeline runs before promoting a 100 TB batch:
    metrics make violations quantifiable (0.999997 ≠ 1), the boolean
    makes them actionable.

    Plan: all orders-side constraints fold into ONE aggregate over one
    scan (count/distinct/conditional sums share the pass); RI is a
    left-semi-shaped conditional count — expressed as a sum over an IN
    join so the lineitem table is scanned once and never widened.  The
    three 1-row legs cross-join (broadcast, zero cost) and unpivot via
    ``stack``, so output size is constants-only.  Metrics are exact
    integer ratios pushed through the cross-engine round_ieee form;
    passed compares INTEGERS (num = den), never the rounded double.
    Reference parity: extension family (data-quality gates), sharing the
    profiling slot with table_profile (Deequ 'analyzers' vs 'checks')."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    om = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_custkey").alias("n_cust"),
        F.countDistinct("o_orderkey").alias("n_key"),
        F.sum(F.when(F.col("o_totalprice") > 0, 1).otherwise(0)).alias("n_pos"),
        F.sum(
            F.when(F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("n_dom"),
    )
    matched = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .agg(F.count(F.lit(1)).alias("n_match"))
    )
    ri = li.agg(F.count(F.lit(1)).alias("n_li")).crossJoin(F.broadcast(matched))
    one = om.crossJoin(F.broadcast(ri))
    pairs = [
        ("completeness_o_custkey", "n_cust", "n"),
        ("unique_o_orderkey", "n_key", "n"),
        ("positive_o_totalprice", "n_pos", "n"),
        ("domain_o_orderstatus", "n_dom", "n"),
        ("ri_lineitem_orderkey", "n_match", "n_li"),
    ]
    stack = ", ".join(f"'{name}', {num}, {den}" for name, num, den in pairs)
    rows = one.select(
        F.expr(f"stack({len(pairs)}, {stack}) AS (constraint_name, num, den)")
    )
    return rows.select(
        "constraint_name",
        round_ieee(F.col("num").cast("double") / F.col("den"), 6).alias("metric"),
        (F.col("num") == F.col("den")).alias("passed"),
    ).orderBy("constraint_name")


# --------------------------------------------------------------------------
# Time-series: additive seasonal decomposition (trend + weekday + residual)
# --------------------------------------------------------------------------

_SEAS_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         sum(CAST(value AS DECIMAL(28,6))) AS y
  FROM events GROUP BY 1
),
win AS (
  SELECT day, y,
         sum(y) OVER w AS s7,
         count(*) OVER w AS n7,
         (epoch_us(day) // 86400000000) % 7 AS wd
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
trended AS (
  SELECT day, y, wd,
         CASE WHEN n7 = 7 THEN s7 END AS s7f
  FROM win
),
seas AS (
  SELECT wd,
         CAST(sum(7 * y - s7f) AS DOUBLE) / (7.0 * count(s7f)) AS seasonal
  FROM trended WHERE s7f IS NOT NULL GROUP BY wd
)
SELECT t.day AS day,
       CAST(round(t.y, 2) AS DOUBLE) AS total_value,
       floor(CAST(t.s7f AS DOUBLE) / 7 * 10000 + 0.5) / 10000.0 AS trend,
       floor(s.seasonal * 10000 + 0.5) / 10000.0 AS seasonal,
       CASE WHEN t.s7f IS NOT NULL THEN
         floor((CAST(t.y AS DOUBLE) - CAST(t.s7f AS DOUBLE) / 7 - s.seasonal)
               * 10000 + 0.5) / 10000.0 END AS residual
FROM trended t JOIN seas s ON s.wd = t.wd
ORDER BY day
"""


@query("seasonal_decompose", _SEAS_SQL)
def seasonal_decompose(spark, sf_dir):
    """Additive seasonal decomposition of the daily event-value series —
    classical-decomposition (moving-average) form: trend = centered
    7-day mean (full windows only), weekday seasonal = mean detrended
    value per day-of-week, residual = y − trend − seasonal.  The
    monitoring primitive behind 'is Tuesday's dip seasonal or an
    incident': alerting on ``residual`` instead of the raw series
    removes both drift and weekly shape.

    Plan: the fact table collapses to one row per DAY in the first
    aggregate (the only fact-scale shuffle); every later stage — the
    7-row centered window, the ≤7-row weekday aggregate, the broadcast
    join back — runs on the #days-row series, so the unpartitioned
    window sort is a deliberate single-partition operation on a tiny
    intermediate, not a scale hazard (same rationale as trend_ols's
    1-row broadcast).

    Determinism: daily sums accumulate in DECIMAL (exact, order-free);
    the window SUM of decimals stays exact, so trend = s7/7 and the
    seasonal numerator Σ(7·y − s7) are computed from identical inputs on
    both engines; weekday is pure epoch-day arithmetic ((epoch//86400)%7
    — Spark's dayofweek() is 1-based Sunday while DuckDB's is 0-based,
    exactly the convention trap the arithmetic form avoids); the only
    double ops are final scalar divisions and the round_ieee fold.
    Edge days (first/last 3) report trend/residual NULL rather than a
    silently-biased partial mean."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(28,6)")).alias("y")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "day",
        "y",
        F.sum("y").over(w).alias("s7"),
        F.count(F.lit(1)).over(w).alias("n7"),
        F.pmod(floor_div(epoch_us("day"), 86_400_000_000), F.lit(7)).alias("wd"),
    )
    trended = win.select(
        "day", "y", "wd", F.when(F.col("n7") == 7, F.col("s7")).alias("s7f")
    )
    seas = (
        trended.where(F.col("s7f").isNotNull())
        .groupBy("wd")
        .agg(
            (
                F.sum(7 * F.col("y") - F.col("s7f")).cast("double")
                / (7.0 * F.count("s7f"))
            ).alias("seasonal")
        )
    )
    t = trended.join(F.broadcast(seas), "wd")
    return t.select(
        "day",
        F.round(F.col("y"), 2).cast("double").alias("total_value"),
        round_ieee(F.col("s7f").cast("double") / 7, 4).alias("trend"),
        round_ieee(F.col("seasonal"), 4).alias("seasonal"),
        F.when(
            F.col("s7f").isNotNull(),
            round_ieee(
                F.col("y").cast("double")
                - F.col("s7f").cast("double") / 7
                - F.col("seasonal"),
                4,
            ),
        ).alias("residual"),
    ).orderBy("day")
