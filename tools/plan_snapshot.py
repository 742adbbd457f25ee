"""Write one normalised formatted physical plan per registered query.

Usage::

    python tools/plan_snapshot.py OUT_DIR [--sf DIR] [--only a,b]

Runs every query of ``tamar_spark.queries.QUERIES`` (or the ``--only``
subset) in registration order on a vanilla ``local[$SPARK_GRAFT_CPUS]``
session, against the scale-factor directory ``--sf`` (default
``$SPARK_GRAFT_SF_DIR``).  It writes:

- ``OUT_DIR/<query>.txt``, the gate: for each stream the query starts,
  the formatted plan of its last micro-batch (``DataStreamWriter.start``
  is wrapped to capture the query handle), then the formatted plan of the
  returned DataFrame taken before it is collected, i.e. AQE's initial
  plan;
- ``OUT_DIR/final/<query>.txt``: the formatted plan after the collect,
  i.e. the final adaptive plan, whose join sides AQE picks at run time;
- ``OUT_DIR/oracles.sha256``: one ``<sha256>  <query>`` line per
  ``ORACLES`` entry.

Ids and labels that change from run to run are replaced by fixed tokens
and the per-node detail blocks are sorted (see :func:`normalise`), so the
gate of two commits can be compared with ``diff -r --exclude final``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import os
import re
import sys

_RULES = [
    # expression ids: col#123, col#123L, sum#45.0 ...
    (re.compile(r"#\d+L?"), "#N"),
    # higher-order-function lambda variables (x_316) count per JVM
    (re.compile(r"lambda ([a-z]+)_\d+\b"), r"lambda \1_N"),
    # plan ids of ReusedExchange / Subquery references
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # UUIDs (checkpoint dirs, state store ids, run ids)
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    # RDD ids and their call-site labels
    (re.compile(r"(\w+RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r" at [^\s\]]+:\d+"), " at <callsite>"),
    # memory sinks are named per run
    (re.compile(r"tamar_stream_out_\d+"), "tamar_stream_out_N"),
    # object hashes (Class@1a2b3c)
    (re.compile(r"@[0-9a-f]{4,}\b"), "@<hash>"),
    # streaming epochs / batch ids
    (re.compile(r"\b(epoch|batchId|currentBatchId)([=: ]+)\d+"), r"\1\2N"),
    # absolute paths
    (re.compile(r"(?:file:)?/[^\s,\]\)]+"), "<path>"),
]


# AQE numbers plan nodes, codegen stages and query stages in the order
# stages complete, so these differ between two runs of one commit; the
# tree keeps its shape, so masking them keeps two plans comparable line
# by line once the detail blocks are sorted
_AQE_RULES = [
    # node ordinals: "(12) Project" headers, "+- Project (12)" tree lines
    (re.compile(r"^\(\d+\) ", re.M), "(N) "),
    (re.compile(r"(?<=\w)( +)\(\d+\)"), r"\1(N)"),
    (re.compile(r"(Reuses operator id|Hosting operator id)([:=] )\d+"), r"\1\2N"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    # a query stage's only argument is its stage id
    (re.compile(r"^(\(N\) \w*QueryStage\n(?:(?!\(N\) ).*\n)*?Arguments: )\d+$", re.M), r"\1N"),
]


def _sort_blocks(text: str) -> str:
    """Sort each run of adjacent ``(N) Name`` detail blocks by their text.

    The formatted plan lists one detail block per node in ordinal order,
    and AQE assigns ordinals as stages complete, so two runs of one plan
    can list the same blocks in another order."""
    body = text.rstrip("\n")
    parts = re.split(r"(\n\n+)", body)
    i = 0
    while i < len(parts):
        j = i
        if parts[i].startswith("(N) "):
            while (
                j + 2 < len(parts)
                and parts[j + 1] == "\n\n"
                and parts[j + 2].startswith("(N) ")
            ):
                j += 2
            parts[i : j + 1 : 2] = sorted(parts[i : j + 1 : 2])
        i = j + 2
    return "".join(parts) + text[len(body):]


def normalise(text: str) -> str:
    """Replace run-dependent ids, labels, names, paths and AQE numbering
    with fixed tokens, and put the detail blocks in a fixed order."""
    for pat, repl in _RULES + _AQE_RULES:
        text = pat.sub(repl, text)
    return _sort_blocks(text)


@contextlib.contextmanager
def capture_streams():
    """Yield a list that collects every StreamingQuery started inside."""
    from pyspark.sql.streaming import DataStreamWriter

    started = []
    original = DataStreamWriter.start

    def start(self, *args, **kwargs):
        q = original(self, *args, **kwargs)
        started.append(q)
        return q

    DataStreamWriter.start = start
    try:
        yield started
    finally:
        DataStreamWriter.start = original


def _formatted(spark, query_execution) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return query_execution.explainString(mode)


def _write(path: str, text: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


def write_oracle_hashes(out_dir: str) -> None:
    """Write ``out_dir/oracles.sha256``, one line per oracle SQL string."""
    from tamar_spark.queries import ORACLES

    _write(
        os.path.join(out_dir, "oracles.sha256"),
        "".join(
            f"{hashlib.sha256(sql.encode()).hexdigest()}  {name}\n"
            for name, sql in sorted(ORACLES.items())
        ),
    )


def snapshot(spark, out_dir: str, sf_dir: str, only=None) -> list:
    """Write the gate and final plan of each query and the oracle hashes;
    return the names written."""
    from tamar_spark.queries import QUERIES

    names = [n for n in QUERIES if only is None or n in only]
    missing = sorted(set(only or ()) - set(QUERIES))
    if missing:
        raise KeyError(f"unknown queries: {missing}")
    os.makedirs(os.path.join(out_dir, "final"), exist_ok=True)
    write_oracle_hashes(out_dir)
    for name in names:
        with capture_streams() as started:
            df = QUERIES[name](spark, sf_dir)
            initial = _formatted(spark, df._jdf.queryExecution())
            df.collect()
        parts = []
        for i, q in enumerate(started):
            q.awaitTermination()
            last = q._jsq.streamingQuery().lastExecution()
            parts.append(f"== stream {i} ==\n{_formatted(spark, last)}")
        parts.append(f"== result ==\n{initial}")
        _write(os.path.join(out_dir, f"{name}.txt"), normalise("\n".join(parts)))
        final = _formatted(spark, df._jdf.queryExecution())
        _write(os.path.join(out_dir, "final", f"{name}.txt"), normalise(final))
    return names


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR"),
        help="scale-factor directory the queries read",
    )
    ap.add_argument("--only", help="comma-separated query names")
    args = ap.parse_args(argv)
    if not args.sf:
        ap.error("pass --sf or set $SPARK_GRAFT_SF_DIR")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from pyspark.sql import SparkSession

    from tamar_spark.env import _default_parallelism

    spark = SparkSession.builder.master(f"local[{_default_parallelism()}]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    only = set(args.only.split(",")) if args.only else None
    try:
        for name in snapshot(spark, args.out_dir, args.sf, only):
            print(name)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
