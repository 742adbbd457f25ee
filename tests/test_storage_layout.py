"""Storage-layout scale contracts: bucketing and partitioning.

At 100 TB the cheapest shuffle is the one you never run.  These tests pin
the two storage-side mechanisms for that:

- **bucketed tables**: both join sides pre-hashed into the same bucket
  count on the join key ⇒ the sort-merge join reads co-located buckets and
  the plan contains NO Exchange on either side.
- **partitioned writes**: a filter on the partition column becomes a
  PartitionFilters entry (directory pruning) — the scan never opens
  non-matching files.
"""

from pyspark.sql import functions as F

from tamar_spark.plans import executed_plan


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path_factory):
    from tamar_spark.sources import load_table

    wh = tmp_path_factory.mktemp("warehouse")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option("path", str(wh / "li_b")).mode("overwrite").saveAsTable("li_b")
    od.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").option("path", str(wh / "ord_b")).mode("overwrite").saveAsTable("ord_b")

    joined = (
        spark.table("li_b")
        .join(
            spark.table("ord_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    plan = executed_plan(joined)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    # the join inputs must come straight from the bucketed scans — no
    # Exchange between the scans and the join
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    # result correctness vs the plain (shuffling) join
    plain = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    got = {r.o_orderpriority: round(r.rev, 2) for r in joined.collect()}
    want = {r.o_orderpriority: round(r.rev, 2) for r in plain.collect()}
    assert got == want
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    from tamar_spark.sources import load_table

    out = str(tmp_path / "events_by_type")
    ev = load_table(spark, sf_dir, "events")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)

    df = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    plan = executed_plan(df)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "event_type" in pf, f"partition filter not pruned: {pf}"
    assert df.count() == ev.filter(F.col("event_type") == "purchase").count()


def test_rate_source_streams(spark):
    """The built-in rate source through the fluent API (reference Source
    trait — any push source maps to a readStream format)."""
    from tamar_spark.env import Environment

    env = Environment(spark, streaming=True)
    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", "100").load()
    )
    stream = env.add_source(sdf, event_time="timestamp")
    q = (
        stream.map(F.col("timestamp"), F.col("value"), doubled=F.col("value") * 2)
        .to_df()
        .writeStream.format("memory")
        .queryName("rate_out")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        while time.time() < deadline and spark.table("rate_out").count() == 0:
            time.sleep(0.5)
        rows = spark.table("rate_out").collect()
        assert rows, "rate source produced no rows in 20s"
        assert all(r.doubled == r.value * 2 for r in rows)
    finally:
        q.stop()


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling: a pathologically hot key must be split into
    multiple tasks at runtime (plan shows skew=true) instead of one
    straggler partition — the first line of defense before manual salting
    (`plans.salted_join`)."""
    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ

        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("pl"),
        )
        right = spark.range(0, 1_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("pr")
        )
        joined = left.join(right, "k")
        # collect() executes joined's own QueryExecution (count() would build
        # a separate one and the inspected plan would stay pre-adaptive)
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the skewed partition"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_incremental_dedup_index_is_bucketed(spark, sf_dir, tmp_path_factory):
    """The minhash_lsh_join docstring claims the old corpus's band table is
    a persistable INDEX an ingest batch joins without the old side ever
    re-shuffling.  Prove it: write the old-corpus band rows bucketed by
    (band, bucket), join a fresh batch's band rows against the stored
    table, and pin that the only Exchange in the plan belongs to the NEW
    side — plus that the candidate set equals the in-memory join's."""
    from tamar_spark.operators import dedup as D
    from tamar_spark.operators.dedup import _band_keys
    from tamar_spark.sources import load_table

    wh = tmp_path_factory.mktemp("lsh_index_wh")
    spark.sql("DROP TABLE IF EXISTS lsh_index")
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    num_perm, bands = 64, 16
    rows = num_perm // bands

    old_banded = D.minhash_signatures(old, num_perm=num_perm).select(
        F.col("doc_id").alias("doc_id_2"),
        F.posexplode(_band_keys(F.col("sig"), rows, bands)).alias("band", "bucket"),
    )
    (
        old_banded.write.bucketBy(8, "band", "bucket")
        .sortBy("band", "bucket")
        .option("path", str(wh / "lsh_index"))
        .mode("overwrite")
        .saveAsTable("lsh_index")
    )

    new_banded = D.minhash_signatures(new, num_perm=num_perm).select(
        F.col("doc_id").alias("doc_id_1"),
        F.posexplode(_band_keys(F.col("sig"), rows, bands)).alias("band_n", "bucket_n"),
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the shuffled-join path: broadcast would trivially satisfy
        # the no-Exchange-on-the-index-side assertion
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cand = (
            new_banded.join(
                spark.table("lsh_index"),
                (F.col("band_n") == F.col("band"))
                & (F.col("bucket_n") == F.col("bucket")),
            )
            .select("doc_id_1", "doc_id_2")
            .distinct()
        )
        plan = executed_plan(cand)
        assert "hashpartitioning(band_n" in plan, plan  # new side shuffles
        assert "hashpartitioning(band#" not in plan.replace(
            "hashpartitioning(band_n", ""
        ), plan  # index side must NOT
        got = sorted(map(tuple, cand.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)

    want = sorted(
        map(tuple, D.minhash_lsh_join(new, old, 0.5, num_perm=num_perm,
                                      bands=bands, verify=False).collect())
    )
    assert got == want and len(got) > 0
    spark.sql("DROP TABLE IF EXISTS lsh_index")


def test_runtime_bloom_filter_prunes_fact_join(spark, sf_dir):
    """Runtime Bloom-filter join pruning — the third scale lever next to
    bucketing and AQE skew handling: when one join side is selective,
    Spark builds a Bloom filter over its keys and applies might_contain
    on the big side BEFORE the shuffle, so non-matching fact rows never
    cross the wire.  Local fixtures sit under the production size
    thresholds, so the test overrides them; at 100 TB the defaults
    (creation side ≤ 10 MB after filtering, application scan ≥ 10 GB)
    engage on their own."""
    from tamar_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        od = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = executed_plan(j)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
        got = {(r.o_orderpriority, r.n) for r in j.collect()}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    plain = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert got == {(r.o_orderpriority, r.n) for r in plain.collect()}


def _row_groups_scanned(path, x_rng, y_rng):
    """Row groups whose (x, y) min/max envelope intersects the query box —
    exactly the stats-based skip decision Spark's parquet reader (and every
    other min/max-pruning reader) makes per row group."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    names = [pf.schema_arrow.names.index("x"), pf.schema_arrow.names.index("y")]
    hit = 0
    for rg in range(pf.metadata.num_row_groups):
        meta = pf.metadata.row_group(rg)
        sx, sy = (meta.column(i).statistics for i in names)
        if (sx.min <= x_rng[1] and sx.max >= x_rng[0]) and (
            sy.min <= y_rng[1] and sy.max >= y_rng[0]
        ):
            hit += 1
    return hit, pf.metadata.num_row_groups


def test_zorder_layout_prunes_2d_boxes(spark, sf_dir, tmp_path):
    """Z-order vs linear sort under min/max row-group pruning (the
    queries_layout.zorder_layout claim).  Writing the fact table sorted by
    the Morton key makes BOTH dimensions' row-group envelopes tight, so a
    2-D box predicate skips most row groups; a linear sort is only tight in
    its leading column, so a trailing-column predicate scans everything.
    Keys are spread to the full 10-bit domain via xxhash64 so the test
    exercises every interleave bit even at sf0.001."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tamar_spark.queries_layout import zvalue_expr
    from tamar_spark.sources import load_table

    pdf = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.xxhash64("l_orderkey", "l_linenumber").bitwiseAND(F.lit(1023)).alias("x"),
            F.xxhash64("l_partkey", "l_suppkey").bitwiseAND(F.lit(1023)).alias("y"),
        )
        .withColumn("z", zvalue_expr(F.col("x"), F.col("y")))
        .toPandas()
    )
    linear = tmp_path / "linear.parquet"
    zsort = tmp_path / "zsort.parquet"
    pq.write_table(
        pa.Table.from_pandas(pdf.sort_values("x").reset_index(drop=True)),
        linear,
        row_group_size=128,
    )
    pq.write_table(
        pa.Table.from_pandas(pdf.sort_values("z").reset_index(drop=True)),
        zsort,
        row_group_size=128,
    )

    # trailing-dimension box: linear layout can't prune at all
    y_box = ((0, 1023), (256, 383))
    lin_y, total = _row_groups_scanned(linear, *y_box)
    z_y, _ = _row_groups_scanned(zsort, *y_box)
    assert lin_y == total  # every row group spans the full y range
    assert z_y <= total // 2, f"z-order scanned {z_y}/{total} for y-box"

    # 2-D box: z-order at least matches the leading-column-only prune
    box2d = ((256, 383), (256, 383))
    lin_2d, _ = _row_groups_scanned(linear, *box2d)
    z_2d, _ = _row_groups_scanned(zsort, *box2d)
    assert z_2d <= lin_2d, f"2-D box: z {z_2d} vs linear {lin_2d}"

    # soundness: skipped row groups truly contain no matching rows
    import pandas as pd

    full = pq.read_table(zsort).to_pandas()
    n_match = len(
        full[
            full.x.between(*box2d[0]) & full.y.between(*box2d[1])
        ]
    )
    scanned_rows = z_2d * 128
    assert scanned_rows >= n_match


def test_zvalue_matches_python_morton(spark):
    """The JVM bit-interleave expression equals the direct Python model on
    the full corner set + a deterministic sample."""
    import itertools

    from tamar_spark.queries_layout import zvalue_expr

    def morton(x, y):
        z = 0
        for i in range(10):
            z |= ((x >> i) & 1) << (2 * i + 1)
            z |= ((y >> i) & 1) << (2 * i)
        return z

    corners = [0, 1, 2, 511, 512, 682, 1023]
    pairs = list(itertools.product(corners, corners)) + [
        ((37 * k) % 1024, (k * k + 11) % 1024) for k in range(200)
    ]
    df = spark.createDataFrame(pairs, "x INT, y INT").select(
        "x", "y", zvalue_expr(F.col("x"), F.col("y")).alias("z")
    )
    for r in df.collect():
        assert r.z == morton(r.x, r.y), (r.x, r.y, r.z)


def test_schema_evolution_merge_schema(spark, tmp_path):
    """Schema evolution on an append-only table: a later batch adds a
    column; reading with ``mergeSchema`` must surface the union schema with
    NULLs for pre-evolution rows, and a filter on the new column must still
    push down.  At 100 TB this is the difference between re-writing the
    corpus on every schema change and just appending — pin the read path."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.parquet(
        p + "/batch=1"
    )
    spark.createDataFrame(
        [(3, "c", 7.5)], "id long, v string, score double"
    ).write.parquet(p + "/batch=2")

    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert {f.name for f in df.schema.fields} >= {"id", "v", "score"}
    rows = {r.id: (r.v, r.score) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 7.5)}

    got = spark.read.option("mergeSchema", "true").parquet(p).where(
        F.col("score") > 5
    )
    assert [r.id for r in got.collect()] == [3]


def test_zorder_write_path_produces_tight_files(spark, sf_dir, tmp_path):
    """The distributed z-order WRITE path (queries_layout.zorder_write):
    range-partitioning output files by the Morton key must leave every
    file covering one contiguous z range, so a 2-D box predicate can skip
    most FILES on their (x, y) min/max footprints — the cluster-scale
    analogue of the row-group test above, exercised through Spark's real
    write shuffle instead of a local pyarrow writer."""
    import glob

    import pyarrow.parquet as pq

    from tamar_spark.queries_layout import zorder_write
    from tamar_spark.sources import load_table

    src = load_table(spark, sf_dir, "lineitem").select(
        F.xxhash64("l_orderkey", "l_linenumber").bitwiseAND(F.lit(1023)).alias("x"),
        F.xxhash64("l_partkey", "l_suppkey").bitwiseAND(F.lit(1023)).alias("y"),
    )
    out = str(tmp_path / "zfiles")
    zorder_write(src, F.col("x"), F.col("y"), out, n_files=16)

    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) >= 8  # range partitioner may merge near-empty tails
    box = ((256, 383), (256, 383))
    hit, n_rows_scanned, total_rows = 0, 0, 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = [md.schema.to_arrow_schema().names.index(c) for c in ("x", "y")]
        mnx = min(md.row_group(g).column(idx[0]).statistics.min for g in range(md.num_row_groups))
        mxx = max(md.row_group(g).column(idx[0]).statistics.max for g in range(md.num_row_groups))
        mny = min(md.row_group(g).column(idx[1]).statistics.min for g in range(md.num_row_groups))
        mxy = max(md.row_group(g).column(idx[1]).statistics.max for g in range(md.num_row_groups))
        total_rows += md.num_rows
        if mnx <= box[0][1] and mxx >= box[0][0] and mny <= box[1][1] and mxy >= box[1][0]:
            hit += 1
            n_rows_scanned += md.num_rows
    # a 1/8 x 1/8 box must not require scanning every file
    assert hit < len(files), f"no file-level pruning: {hit}/{len(files)}"
    assert n_rows_scanned < total_rows


def test_cdc_minmax_exercises_both_ivm_paths(spark, sf_dir):
    """cdc_incremental_minmax's equivalence oracle would pass trivially if
    the fixture made every group endangered (then the query degenerates to
    a full recompute) or none (then retraction handling is dead code).
    Pin that BOTH paths run: some groups fold safely with no base access,
    some re-scan — so the driver hash genuinely certifies the split plan."""
    from tamar_spark.queries_layout import _cdc_changes
    from tamar_spark.sources import load_table

    base = load_table(spark, sf_dir, "customer")
    changes = _cdc_changes(base)
    view0 = base.groupBy(F.col("c_nationkey").alias("nat")).agg(
        F.min("c_acctbal").alias("min0"), F.max("c_acctbal").alias("max0")
    )
    old_vals = base.select(
        F.col("c_custkey").alias("key"),
        F.col("c_acctbal").alias("old_bal"),
        F.col("c_nationkey").alias("old_nat"),
    )
    removed = (
        changes.join(old_vals, "key", "left")
        .where(F.col("op") != "I")
        .groupBy(F.coalesce("old_nat", "new_nat").alias("nat"))
        .agg(F.min("old_bal").alias("min_rm"), F.max("old_bal").alias("max_rm"))
    )
    folded = view0.join(removed, "nat", "left")
    endangered = F.coalesce(
        (F.col("min_rm") <= F.col("min0")) | (F.col("max_rm") >= F.col("max0")),
        F.lit(False),
    )
    n_end = folded.where(endangered).count()
    n_safe = folded.where(~endangered).count()
    assert n_end > 0, "no endangered group: retraction path untested"
    assert n_safe > 0, "every group endangered: incremental fold untested"


def test_cdc_minmax_new_group_not_dropped(spark):
    """r6 ADVICE: a change batch inserting into a group with NO base rows
    must surface that group in the maintained view (the old view0-LEFT-
    delta join silently dropped it).  Drive _ivm_minmax with a synthetic
    batch whose insert lands in nation 99, absent from the base, and
    check the result against a direct recompute of the merged snapshot."""
    from tamar_spark.queries_layout import _ivm_minmax

    base = spark.createDataFrame(
        [(1, 10.0, 1), (2, 20.0, 1), (3, 30.0, 2)],
        "c_custkey long, c_acctbal double, c_nationkey long",
    )
    changes = spark.createDataFrame(
        [
            (100, "I", 5.0, 99),   # insert into brand-new nation 99
            (2, "U", 25.0, 1),     # update inside an existing nation
            (3, "D", None, 2),     # delete that empties nation 2 entirely
        ],
        "key long, op string, new_bal double, new_nat long",
    )
    got = {
        r["nat"]: (r["n"], r["min_bal"], r["max_bal"])
        for r in _ivm_minmax(base, changes).collect()
    }
    # merged snapshot: nation 1 -> {10.0, 25.0}; nation 2 -> {} ; 99 -> {5.0}
    assert got[99] == (1, 5.0, 5.0), f"new group dropped or wrong: {got}"
    assert got[1] == (2, 10.0, 25.0)
    assert 2 not in got or got[2][0] == 0


def test_k_anonymity_guarantee_and_minimality(spark, sf_dir):
    """The released table must honor the k=8 guarantee (every non-fully-
    suppressed row's equivalence class reaches k) AND be minimal (a row is
    only generalized when its finer class was genuinely below k — no
    over-suppression destroying utility)."""
    from tamar_spark.queries import QUERIES

    out = QUERIES["k_anonymity"](spark, sf_dir)
    k = 8
    assert out.filter((F.col("gen_level") <= 2) & (F.col("class_size") < k)).count() == 0
    # minimality: recompute L0 classes from the raw table; every row
    # released at level >= 1 must come from an L0 class below k
    raw = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey",
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 2000).cast("int").alias("bal"),
    )
    l0 = raw.groupBy("nat", "seg", "bal").agg(F.count(F.lit(1)).alias("n0"))
    joined = out.join(raw, "c_custkey").join(l0, ["nat", "seg", "bal"])
    assert joined.filter((F.col("gen_level") >= 1) & (F.col("n0") >= k)).count() == 0
    assert joined.filter((F.col("gen_level") == 0) & (F.col("n0") < k)).count() == 0
    # released columns agree with the level: level L masks exactly the
    # QIs above L ('*' markers), never more, never fewer
    bad_mask = out.filter(
        ((F.col("gen_level") <= 1) & (F.col("anon_nation") == "*"))
        | ((F.col("gen_level") >= 2) & (F.col("anon_nation") != "*"))
        | ((F.col("gen_level") <= 2) & (F.col("anon_segment") == "*"))
        | ((F.col("gen_level") == 0) & (F.col("anon_bal") == "*"))
        | ((F.col("gen_level") >= 1) & (F.col("anon_bal") != "*"))
    ).count()
    assert bad_mask == 0
    # (the sf0.01 oracle run exercises levels 0, 1 and 2 simultaneously;
    # at sf0.001 every class collapses to the segment level)


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """The bucketed-layout showcase: lineitem ⋈ orders on the bucket key,
    plus the groupBy on that key, must compile to scan → sort-merge join →
    aggregate with ZERO exchanges and ZERO sorts — the layout shuffle was
    paid at ingest, nothing at query time."""
    import re

    from tamar_spark.plans import executed_plan, shuffle_count
    from tamar_spark.queries import QUERIES

    df = QUERIES["bucketed_join_agg"](spark, sf_dir)
    plan = executed_plan(df)
    assert shuffle_count(df) == 0
    assert "Exchange" not in plan, plan
    assert not re.search(r"\bSort \[", plan), plan
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan


def test_cdc_time_travel_excludes_future_versions(spark, sf_dir):
    """AS OF 2 must contain v1+v2 but not v3: per-segment row counts equal
    the v1-only snapshot's (v2 is updates-only), while v3's deletes would
    shrink them; and the fixture must actually exercise the image-wins
    path (keys updated in BOTH v1 and v2)."""
    from tamar_spark.queries import QUERIES

    asof2 = {
        r["seg"]: (r["n"], r["total_bal"])
        for r in QUERIES["cdc_time_travel"](spark, sf_dir).collect()
    }
    v1only = {
        r["seg"]: (r["n"], r["total_bal"])
        for r in QUERIES["cdc_upsert"](spark, sf_dir).collect()
    }
    assert set(asof2) == set(v1only)
    for seg in asof2:
        assert asof2[seg][0] == v1only[seg][0]  # same membership (no v3)
    # balances shifted by v2's +50 updates somewhere
    assert any(asof2[s][1] != v1only[s][1] for s in asof2)
    # image-wins coverage: some base key is updated in both v1 and v2
    base = spark.read.parquet(f"{sf_dir}/customer.parquet")
    both = base.filter(
        (F.col("c_custkey") % 10 == 0)
        & (F.col("c_custkey") % 7 == 2)
        & (F.col("c_custkey") % 17 != 3)
    ).count()
    assert both > 0
    # and v3 would have deleted something, so the exclusion is non-vacuous
    v3 = base.filter(
        (F.col("c_custkey") % 19 == 5) & (F.col("c_custkey") % 17 != 3)
    ).count()
    assert v3 > 0


def test_scd2_dim_build_history_invariants(spark, sf_dir):
    """Kimball type-2 invariants on the built history: every key has
    exactly one current row unless deleted; updated keys carry BOTH their
    closed v1 row (original balance) and an open v2 row at +100; deleted
    keys carry only a closed row; inserts only an open v2 row; untouched
    keys exactly their original current row.  Validity intervals must
    tile: a closed row's valid_to equals its successor's valid_from."""
    from pyspark.sql import functions as F

    from tamar_spark.queries import QUERIES
    from tamar_spark.sources import load_table

    rows = QUERIES["scd2_dim_build"](spark, sf_dir).collect()
    base = {
        r["c_custkey"]: r["c_acctbal"]
        for r in load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_acctbal")
        .collect()
    }
    maxk = max(base)
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r.key, []).append(r)
    checked = {"U": 0, "D": 0, "I": 0, "-": 0}
    for key, rs in by_key.items():
        cur = [r for r in rs if r.is_current]
        closed = [r for r in rs if not r.is_current]
        assert len(cur) <= 1, key
        for r in closed:
            assert r.valid_to == 2 and r.valid_from == 1, r
        if key > maxk:  # insert (offset keys are new by construction)
            assert len(rs) == 1 and cur and cur[0].valid_from == 2
            assert cur[0].bal == 0.0
            checked["I"] += 1
        elif key % 17 == 3:  # delete: history kept, nothing current
            assert len(rs) == 1 and not cur
            checked["D"] += 1
        elif key % 10 == 0:  # update: closed v1 + open v2 at +100
            assert len(rs) == 2 and len(closed) == 1 and len(cur) == 1
            assert closed[0].bal == base[key]
            assert cur[0].bal == base[key] + 100.0
            assert cur[0].valid_from == closed[0].valid_to
            checked["U"] += 1
        else:  # untouched
            assert len(rs) == 1 and cur and cur[0].valid_from == 1
            assert cur[0].bal == base[key]
            checked["-"] += 1
    assert all(v > 0 for v in checked.values()), checked


def test_session_ivm_welds_across_the_cut(spark, sf_dir):
    """The IVM merge must actually exercise its hard case on the fixture:
    at least one output session STARTS before the 24 h cut and ENDS
    after it (a delta event welded onto — or into — a stored session),
    and at least one key passes through the anti join untouched.
    Additionally the welded result must differ from the naive
    'stored ∪ sessionize(delta alone)' union, proving the delta cannot
    just be sessionized independently."""
    import datetime

    from pyspark.sql import functions as F

    from tamar_spark.queries import QUERIES
    from tamar_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(F.max("ts").alias("m")).collect()[0]["m"] - datetime.timedelta(
        hours=24
    )
    rows = QUERIES["session_ivm"](spark, sf_dir).collect()
    gap = datetime.timedelta(hours=12)
    spans_cut = [
        r for r in rows if r.window_start < cut and (r.window_end - gap) >= cut
    ]
    assert spans_cut, "no session welds across the cut — IVM case untested"
    delta_keys = {
        r.user_id
        for r in ev.filter(F.col("ts") >= F.lit(cut)).select("user_id").collect()
    }
    untouched_keys = {r.user_id for r in rows} - delta_keys
    assert untouched_keys, "every key was affected — anti-join path untested"
    # welded sessions contain events from BOTH sides of the cut, so their
    # event counts can't be reproduced by sessionizing the delta alone
    for r in spans_cut[:5]:
        pre = ev.filter(
            (F.col("user_id") == r.user_id)
            & (F.col("ts") >= F.lit(r.window_start))
            & (F.col("ts") < F.lit(cut))
        ).count()
        assert pre > 0, "welded session has no stored-side events"


def test_resample_ffill_grid_is_contiguous_and_carries(spark, sf_dir):
    """Gap-fill invariants: each user's grid is a contiguous hourly run
    from first to last event slot; hours_since_obs is 0 exactly on
    observed slots and increments by 1 per unobserved slot since the
    carry; filled values equal the most recent observed value."""
    import datetime

    from tamar_spark.queries import QUERIES

    rows = QUERIES["resample_ffill"](spark, sf_dir).collect()
    assert rows
    by_u: dict = {}
    for r in rows:
        by_u.setdefault(r.user_id, []).append(r)
    saw_gap = False
    for u, rs in by_u.items():
        rs.sort(key=lambda r: r.slot)
        last_val = None
        since = None
        for i, r in enumerate(rs):
            if i:
                assert r.slot - rs[i - 1].slot == datetime.timedelta(hours=1)
            if r.is_observed:
                assert r.hours_since_obs == 0
                last_val = r.value_ffill
                since = 0
            else:
                saw_gap = True
                since += 1
                assert r.hours_since_obs == since
                assert r.value_ffill == last_val
        assert rs[0].is_observed  # grid starts at an event's slot
    assert saw_gap  # the fixture must actually exercise the fill
