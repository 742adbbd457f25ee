"""Execution environment: SparkSession factory + source/sink wiring.

Re-expresses the reference's ``Environment`` (reference src/lib.rs:907-941):
``add_source`` returns the head of a dataflow, ``execute`` runs everything to
completion.  Here the "task graph" is a lazily-recorded DataFrame plan that
Catalyst optimizes; ``execute`` starts any pending streaming queries and
awaits them (reference ``Environment::execute``, src/lib.rs:920-925).

Scale notes (100 TB design):
- AQE is on: runtime shuffle-partition coalescing + skew-join splitting.
- ``spark.sql.shuffle.partitions`` defaults to a local-friendly number but is
  env-overridable; on a real cluster this should be ~2-3x total cores or left
  to AQE's coalescing with a high initial value.
- RocksDB state store is configured for streaming stateful ops so session
  state at 100 TB spills to local disk instead of executor heap.
"""

from __future__ import annotations

import os
from typing import Optional, Union

from pyspark.sql import DataFrame, SparkSession

from tamar_spark.stream import DataStream

__all__ = ["Environment", "get_spark", "prep_session"]


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "tamar-spark",
    master: Optional[str] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for this engine and prepared
    by :func:`prep_session`, whose confs override an ``extra_conf`` entry
    for the same key on a new session.  To change one of them (say, the shuffle
    width), ``spark.conf.set`` it on the returned session; the value
    survives later query calls.

    In local test mode this is ``local[$SPARK_GRAFT_CPUS]``; on a cluster the
    caller supplies ``master``/conf via spark-submit and we only set SQL-level
    knobs (all runtime-safe).
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # streaming state at scale: RocksDB + changelog checkpointing
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.shuffle.spill.compress", "true")
        # local-mode driver hosts all executors: the 1g JVM default dies on
        # a misestimated broadcast (see bench_scale.py); harmless on a real
        # cluster where spark-submit overrides it
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{_default_parallelism()}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return prep_session(builder.getOrCreate())


_PREPARED = "spark.tamar.sessionPrepared"


def prep_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to a session, once.

    Sets the UTC session timezone (parquet timestamps compare against
    naive-timestamp oracles such as DuckDB), AQE, the shuffle width
    ``$SPARK_GRAFT_CPUS``, the codegen method-split threshold and
    ``nanosAsLong`` (TIMESTAMP(NANOS) parquet reads as long, which
    :func:`tamar_spark.sources.load_table` truncates to µs).  A conf the
    session rejects raises.  A session already prepared is returned as
    it is, so a conf the caller sets afterwards (say, the shuffle width)
    survives every later query call.
    """
    if spark.conf.get(_PREPARED, None) == "true":
        return spark
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # the harness session defaults to 200 shuffle partitions — far too
    # many for local test scale factors; AQE coalesces down from this
    spark.conf.set("spark.sql.shuffle.partitions", str(_default_parallelism()))
    # split generated code into smaller JIT-friendly methods: wide
    # aggregates and projections (the 192-cell sketch, the 60-bit SimHash
    # sums) otherwise emit one huge method whose janino compile dominates
    # small-SF wall clock and risks JIT bailout (>8KB bytecode) at any
    # scale; whole-stage codegen itself stays ON
    spark.conf.set("spark.sql.codegen.methodSplitThreshold", "128")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set(_PREPARED, "true")
    return spark


class Environment:
    """Owner of the dataflow graph (reference ``Environment``, src/lib.rs:907-941).

    - ``add_source(path_or_df)`` -> head :class:`DataStream`
      (reference ``add_source``, src/lib.rs:927-940).
    - ``execute()`` starts queued streaming sinks and awaits termination
      (reference ``execute``, src/lib.rs:920-925).  Batch sinks run eagerly at
      ``add_sink`` time, so for pure-batch graphs ``execute`` is a no-op.
    """

    def __init__(self, spark: Optional[SparkSession] = None, streaming: bool = False):
        self.spark = prep_session(spark) if spark is not None else get_spark()
        self.streaming = streaming
        self._queries = []  # pending StreamingQuery handles

    # -- sources ---------------------------------------------------------
    def add_source(
        self,
        source: Union[str, DataFrame],
        fmt: str = "parquet",
        schema=None,
        event_time: Optional[str] = None,
        watermark_delay: Optional[str] = None,
        options: Optional[dict] = None,
    ) -> DataStream:
        """Attach a source and return the head DataStream.

        ``source`` may be a path (read with ``fmt``) or an existing DataFrame.
        ``event_time`` names the event-time column (reference
        ``event_date_time``); ``watermark_delay`` maps the reference's
        per-event fixed-offset watermark (src/lib.rs:560-563) onto
        ``withWatermark`` in streaming mode.
        """
        if isinstance(source, DataFrame):
            df = source
        else:
            if self.streaming:
                reader = self.spark.readStream.format(fmt)
                if schema is not None:
                    reader = reader.schema(schema)
                else:
                    # file streams need a schema; infer from a batch peek
                    reader = reader.schema(self.spark.read.format(fmt).load(source).schema)
            else:
                reader = self.spark.read.format(fmt)
                if schema is not None:
                    reader = reader.schema(schema)
            for k, v in (options or {}).items():
                reader = reader.option(k, v)
            df = reader.load(source)
        if event_time and watermark_delay and df.isStreaming:
            df = df.withWatermark(event_time, watermark_delay)
        return DataStream(df, env=self, event_time=event_time)

    # -- execution -------------------------------------------------------
    def register_query(self, query) -> None:
        self._queries.append(query)

    def execute(self, timeout: Optional[float] = None) -> None:
        """Await all streaming queries (batch sinks already ran eagerly)."""
        for q in self._queries:
            if timeout is not None:
                q.awaitTermination(timeout)
            else:
                q.awaitTermination()
        self._queries.clear()
