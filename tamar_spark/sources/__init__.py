"""Source helpers: fixture-table loading and the one partitioning policy.

Loading.  The reference's ``Source`` trait is a push-based task (reference
src/lib.rs:60-62); here sources are Spark readers.  Parquet timestamps stored
as TIMESTAMP(NANOS), which Spark cannot read natively, are read through
``spark.sql.legacy.parquet.nanosAsLong`` (set once by ``prep_session``)
and converted ``ns div 1000`` → ``timestamp_micros`` — the same truncation
DuckDB applies, so oracle comparisons line up exactly.  The conversion is a projection inside
whole-stage codegen; pruning and pushdown on other columns are unaffected.

Partitioning policy.  Every partition-width decision in the library is made
here, from one size probe (``_local_sizes``) and the session's two width
confs (:func:`session_width`, :func:`default_parallelism`).  On input
already split at cluster scale every rule leaves the configured width.

=====================  =====================================  ==============================
rule                   decision                               used by
=====================  =====================================  ==============================
``spread``             narrow scan → round-robin to the       CPU-bound projections right
                       core count                             after ``load_table``
``widen_shingles``     narrow shingle frame → hash to 8       the ``operators.dedup``
                       on the id column                       shingle family
``state_width``        stream state → min(configured,         ``queries._run_to_memory``
                       max(floor, ceil(bytes / 8 MiB)))       (``sized_by=``, ``floor=``)
``pin_session_width``  CPU-bound Python stage →               ``streaming.process_state``,
                       repartition(session width, keys)      the SemDeDup pair join
=====================  =====================================  ==============================

Measured exceptions (history in OPTIMIZATION_r15.md and OPTIMIZATION_r16.md):

- ``streaming_session_process`` is not sized: its per-session pandas fire is
  CPU-bound, and the derived width 8 read 10.05 → 26.15 s against the
  configured width.
- ``streaming_dedup_minhash`` and ``streaming_dedup_minhash_sig`` size from
  ``documents`` with floor 16: the Python bucket verification read
  49.5 → 74.5 s at floor 8.
- ``lang_segments`` spreads (5.04 → 1.08 s); ``table_profile`` does not
  (spread measured 2.12 → 2.79 s).
"""

from __future__ import annotations

import os
from functools import lru_cache
from typing import Dict, Iterable, Optional
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession, functions as F

from tamar_spark.env import prep_session

__all__ = [
    "default_parallelism",
    "load_table",
    "load_tables",
    "pin_session_width",
    "register_views",
    "scan_partition_estimate",
    "session_width",
    "spread",
    "state_width",
    "ts_ns_columns",
    "widen_shingles",
    "TABLES",
]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# codecs Spark cannot split: at most one scan partition per file
_NON_SPLITTABLE = (".gz", ".gzip", ".zst", ".zstd", ".lz4", ".snappy",
                   ".deflate", ".br")
# input bytes per streaming state partition
_STATE_BYTES = 8 << 20


@lru_cache(maxsize=256)
def _ts_ns_columns_cached(path: str, _mtime_ns: int, _size: int) -> tuple:
    import pyarrow.dataset as pads
    import pyarrow.types as pat

    try:
        schema = pads.dataset(path, format="parquet").schema
    except Exception:
        return ()
    return tuple(
        f.name for f in schema if pat.is_timestamp(f.type) and f.type.unit == "ns"
    )


def ts_ns_columns(path: str) -> tuple:
    """Columns stored as TIMESTAMP(NANOS) in the parquet footer (pyarrow).

    Cached per (path, mtime, size) — one stat per call — so a file
    rewritten in place under the same path never serves a stale schema
    (r9 VERDICT nit; a bare path key did)."""
    try:
        st = os.stat(path)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = (-1, -1)
    return _ts_ns_columns_cached(path, *key)


def _parse_bytes(s: str) -> int:
    """Spark size-conf string → bytes (handles bare ints, '134217728b',
    '128m', '4mb', '1g' — the forms Spark's own byte confs round-trip)."""
    s = str(s).strip().lower()
    units = {
        "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
        "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
        "p": 1 << 50, "pb": 1 << 50, "b": 1,
    }
    for suffix in sorted(units, key=len, reverse=True):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * units[suffix])
    return int(s)


def _local_sizes(paths) -> Optional[list]:
    """The size probe: bytes of every data file under ``paths`` (local
    paths or ``file:`` URIs).  A directory contributes its files, skipping
    ``.``/``_``-prefixed entries (``_SUCCESS``, ``.crc``).  ``None`` when
    any path is remote, missing or unreadable."""
    files = []
    for p in paths:
        url = urlparse(p)
        if url.scheme not in ("", "file"):
            return None  # remote storage arrives pre-split
        p = unquote(url.path) if url.scheme else p
        if not os.path.isdir(p):
            files.append(p)
            continue
        for root, dirs, names in os.walk(p):
            dirs[:] = [d for d in dirs if d[0] not in "._"]
            files += [os.path.join(root, n) for n in names if n[0] not in "._"]
    try:
        return [os.path.getsize(f) for f in files]
    except OSError:
        return None


def session_width(spark: SparkSession) -> int:
    """The configured shuffle width, ``spark.sql.shuffle.partitions``."""
    return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


def default_parallelism(spark: SparkSession) -> int:
    """The cluster's core count (``defaultParallelism``); the session
    width under Spark Connect, which has no SparkContext handle."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        return session_width(spark)


def scan_partition_estimate(df: DataFrame):
    """``(estimated_scan_partitions, default_parallelism)`` for a frame
    whose plan reads LOCAL files, else ``None`` (non-file or remote
    source, unreadable conf).  Mirrors Spark's FilePartition packing:
    each file is padded by ``openCostInBytes``, the split is
    ``min(maxPartitionBytes, max(openCost, total / parallelism))``, and
    non-splittable codecs cap the count at one partition per file."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    sizes = _local_sizes(files) if files else None
    if sizes is None:
        return None
    conf = df.sparkSession.conf
    try:
        par = default_parallelism(df.sparkSession)
        max_pb = _parse_bytes(conf.get("spark.sql.files.maxPartitionBytes", "128m"))
        open_cost = _parse_bytes(conf.get("spark.sql.files.openCostInBytes", "4m"))
    except (ValueError, TypeError):
        return None  # an unknown conf form must not crash the query mid-plan
    total = sum(sz + open_cost for sz in sizes)
    split = min(max_pb, max(open_cost, total // max(1, par)))
    est_partitions = -(-total // max(1, split))
    if any(uri.lower().endswith(_NON_SPLITTABLE) for uri in files):
        est_partitions = min(est_partitions, len(files))
    return est_partitions, par


def spread(df: DataFrame) -> DataFrame:
    """Round-robin a scan-backed frame to the core count when its scan
    estimate (:func:`scan_partition_estimate`) is narrower than that, so
    a CPU-bound projection over a one-file input does not run as one
    task.  Anything else — a pre-split input, a derived or non-file
    frame — is returned unchanged (the same object)."""
    est = scan_partition_estimate(df)
    if est is None:
        return df
    est_partitions, par = est
    if est_partitions < par:
        return df.repartition(par)
    return df


def widen_shingles(sh: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition an exploded shingle frame to 8 partitions on
    ``id_col`` when its scan estimate is narrower than 8; else return it
    unchanged.  Hashing on the document id lets the
    per-document aggregates downstream (fingerprints, set sizes,
    ``collect_list``) run without a further exchange."""
    est = scan_partition_estimate(sh)
    if est is not None and est[0] < 8:
        return sh.repartition(8, F.col(id_col))
    return sh


def state_width(path: str, configured: int, floor: int = 8) -> Optional[int]:
    """State-partition width for a stream reading the dataset at ``path``
    (a file or a directory of part files): ``min(configured, max(floor,
    ceil(bytes / 8 MiB)))``, or ``None`` — keep the configured width —
    when the input is missing, empty or unreadable.  The width is frozen
    at stream start and never coalesced, so it follows the input size;
    at cluster scale the size term exceeds ``configured``, which binds."""
    sizes = _local_sizes([path])
    if not sizes:
        return None
    return min(configured, max(floor, -(-sum(sizes) // _STATE_BYTES)))


def pin_session_width(df: DataFrame, *keys) -> DataFrame:
    """``repartition(session width, *keys)`` before a CPU-bound Python
    stage.  AQE sizes shuffles by bytes and would fold a small but
    CPU-heavy input into one or two tasks; a repartition by number is
    never coalesced, and its hash partitioning on ``keys`` satisfies the
    following ``groupBy`` or join without another exchange."""
    return df.repartition(session_width(df.sparkSession), *keys)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table on a prepared session (:func:`prep_session`
    reads TIMESTAMP(NANOS) as long), truncating nanosecond columns to
    µs timestamps."""
    prep_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = ts_ns_columns(path)
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: Optional[Iterable[str]] = None
) -> Dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, names: Optional[Iterable[str]] = None) -> None:
    """Register fixture tables as temp views so ``spark.sql`` queries can use
    the same table names the DuckDB oracle sees."""
    for n, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(n)
