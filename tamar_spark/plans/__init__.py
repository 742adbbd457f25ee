"""Plan inspection helpers and the manual skew tool.

The inspection helpers read a DataFrame's physical plan, so tests can
assert that filters reach the parquet scan, that dimension joins
broadcast and that JVM-only operators ship no Python stages.
:func:`salted_join` spreads one hot join key over several tasks.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, functions as F

__all__ = [
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
    """Number of BroadcastHashJoin operators in the physical plan.

    Walks the tree like :func:`shuffle_count`, with AQE's initial plan,
    and also walks subquery plans and each persisted subtree once: the
    plan text repeats a persisted subtree under every scan of it."""
    count = 0
    seen: set = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
            continue
        if cls == "InMemoryTableScanExec":
            cached = node.relation().cachedPlan()
            key = cached.toString()
            if key not in seen:
                seen.add(key)
                stack.append(cached)
            continue
        if node.nodeName().startswith("BroadcastHashJoin"):
            count += 1
        for seq in (node.children(), node.subqueries()):
            for i in range(seq.size()):
                stack.append(seq.apply(i))
    return count


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
# is rejected too: salted_join always joins ON [key, salt],
# so a how="cross" caller would silently get an inner equi-join rather
# than a cartesian product.
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
