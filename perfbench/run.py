"""The repository benchmark: registered queries on seeded inputs, timed from
outside, checked against their DuckDB oracles.

Run from the repository root::

    python3 perfbench/run.py --workload event_stream --seed 1 --seconds 20 --trace 0

One run is one closed-loop client process: queries run strictly one after
another on ``local[$SPARK_GRAFT_CPUS]`` (default: every core).  It

1. generates the workload's tables from ``--seed`` (``perfbench/gen.py``)
   and computes each query's DuckDB reference, both untimed;
2. sets up a session (``get_spark`` plus the first read of every table
   the workload uses); ``setup_s`` is the time from process start to that
   ready session, less the generation and reference time of step 1;
3. runs one cold pass, then warm passes until ``--seconds`` have gone by
   since the cold pass began, at least two.  A query's time is its call
   (DataFrame build, including any eager jobs) plus the timed action;
   ``cold_s`` sums the cold pass, and the per-layer ``wall_s`` sums each
   query's fastest warm pass.  After every pass the memory-sink views are
   dropped and Python and the JVM collect garbage;
4. with ``--trace 1``, also probes the environment floor
   (``bench.floor_probe``) and runs one more pass with spans, wrapped layer
   functions, a streaming-progress listener and job groups
   (``perfbench/tracing.py``), and prints the per-layer metrics instead of
   the end-to-end ones.

The timed action is a ``noop``-format write, which materialises every
output column; under ``count()`` Catalyst prunes projections (the
``doc_quality`` plan keeps only the scan).  Streaming queries drain inside
the query call into a memory sink, so their action reads the sink table.
The cold pass and the last warm and traced passes are compared with the
reference; a mismatch, exception or timeout counts as a failed execution.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  Every run also writes a
self-identifying artifact under ``perfbench/results/`` and never overwrites
another one.
"""

from __future__ import annotations

import time

_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import datetime as dt  # noqa: E402
import gc  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
QUERY_TIMEOUT_S = 90.0
# a third pass would add 4-9 s to a run on a loaded host, which the time
# budget of the repeated runs cannot carry; ``--seconds`` adds passes
MIN_WARM_PASSES = 2


@dataclass(frozen=True)
class Workload:
    sf: float  # scale of the generated inputs (``--sf`` overrides it)
    tables: tuple  # generated, and read once at set-up
    queries: tuple


# why each workload exists is recorded in BENCHMARK.json
WORKLOADS = {
    "corpus_curate": Workload(
        sf=0.1,
        tables=("documents", "embeddings"),
        queries=("dedup_minhash_lsh", "embed_filtered_topk", "doc_quality"),
    ),
    "event_stream": Workload(
        sf=0.01,
        tables=("events",),
        queries=("streaming_session_agg", "stateful_event_numbering", "streaming_dedup_bounded"),
    ),
}


def _log(msg: str) -> None:
    elapsed = time.perf_counter() - _PROCESS_START
    print(f"[perfbench {elapsed:7.2f}s] {msg}", file=sys.stderr, flush=True)


# -- correctness ------------------------------------------------------------


def _normalize(pdf):
    """The normalisation of tests/test_oracle.py (copied, so the benchmark
    does not import the test suite): columns by name, dtype families
    unified, rows sorted."""
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("Int64")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
    return pdf.sort_values(by=list(pdf.columns), na_position="first").reset_index(drop=True)


def mismatch(out, ref) -> str | None:
    """Why ``out`` differs from the normalised reference, or None."""
    import pandas as pd

    if sorted(out.columns) != list(ref.columns):
        return f"columns {sorted(out.columns)} vs {list(ref.columns)}"
    if len(out) != len(ref):
        return f"rows {len(out)} vs {len(ref)}"
    try:
        pd.testing.assert_frame_equal(
            _normalize(out), ref, check_dtype=False, check_exact=True
        )
    except AssertionError as e:
        return f"values differ: {str(e).splitlines()[0]}"
    return None


def references(data_dir: str, names: tuple) -> dict:
    """Each query's DuckDB oracle result on the generated tables."""
    import duckdb

    from tamar_spark.queries import ORACLES
    from tamar_spark.sources import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            if not os.path.exists(f"{data_dir}/{t}.parquet"):
                continue  # the workload reads only the tables generated
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return {n: _normalize(con.execute(ORACLES[n]).df()) for n in names}
    finally:
        con.close()


# -- the closed loop --------------------------------------------------------


class Runner:
    """Runs passes over one workload and keeps every execution's outcome."""

    def __init__(self, spark, data_dir: str, wl: Workload, refs: dict, corrupt: bool):
        from tamar_spark.queries import QUERIES

        self.spark, self.data_dir, self.wl = spark, data_dir, wl
        self.fns = {n: QUERIES[n] for n in wl.queries}
        self.refs, self.corrupt = refs, corrupt
        self.attempted = 0
        self.failures: list[dict] = []

    def _execute(self, name: str, check: bool, tracer) -> tuple:
        sc = self.spark.sparkContext
        fired = threading.Event()

        def cancel():
            fired.set()
            sc.cancelAllJobs()

        timer = threading.Timer(QUERY_TIMEOUT_S, cancel)
        timer.start()
        span = tracer.span if tracer else lambda *a, **k: contextlib.nullcontext()
        build = action = 0.0
        err = None
        try:
            with span(f"query.{name}", kind="query"):
                if tracer:
                    sc.setJobGroup(name, name)
                t0 = time.perf_counter()
                with span("build", kind="build", query=name):
                    df = self.fns[name](self.spark, self.data_dir)
                t1 = time.perf_counter()
                with span("action", kind="action", query=name):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                build, action = t1 - t0, t2 - t1
            if check:
                out = df.toPandas()
                if self.corrupt:
                    out = out.iloc[1:]
                err = mismatch(out, self.refs[name])
            del df
        except Exception as e:  # a failed execution is counted, not fatal
            err = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        finally:
            timer.cancel()
            if tracer:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        if fired.is_set():
            err = f"timeout after {QUERY_TIMEOUT_S:.0f} s ({err})"
        self.attempted += 1
        if err is not None:
            self.failures.append({"query": name, "error": err[:500]})
            _log(f"FAILED {name}: {err[:200]}")
        gc.collect()
        return build, action

    def run_pass(self, check: bool, tracer=None) -> dict:
        """One pass over the workload's queries.  With a tracer, every query
        also runs under a job group named after it."""
        per_query = {name: self._execute(name, check, tracer) for name in self.wl.queries}
        for t in self.spark.catalog.listTables():
            if t.isTemporary and t.name.startswith("tamar_stream_out_"):
                self.spark.catalog.dropTempView(t.name)
        gc.collect()
        # the JVM half of the clean-up: what Python released is collected
        # here, not by a pause inside the next pass's first query
        self.spark.sparkContext._jvm.System.gc()
        return {
            "wall_s": sum(b + a for b, a in per_query.values()),
            "build_s": sum(b for b, _ in per_query.values()),
            "action_s": sum(a for _, a in per_query.values()),
            "queries": per_query,
        }


# -- set-up -----------------------------------------------------------------


def _sandbox(work: str) -> dict:
    """Keep every file Spark, its workers and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM Spark starts, its launcher included; no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true",  # the traced pass reads its status REST API
    }


def _session(conf: dict, data_dir: str, tables: tuple):
    """``get_spark`` plus the first read of every workload table."""
    from tamar_spark.env import get_spark
    from tamar_spark.sources import load_table

    spark = get_spark(app_name="tamar-perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    for t in tables:
        load_table(spark, data_dir, t).count()
    return spark


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _stamp(args, wl: Workload, sf: float, cpus: int) -> dict:
    """Identify the run: a checkout without git still has the source digest."""
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        with contextlib.suppress(OSError, subprocess.SubprocessError):
            sha = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
    digest = hashlib.sha256()
    lib = os.path.join(ROOT, "tamar_spark")
    for path in sorted(glob.glob(os.path.join(lib, "**", "*.py"), recursive=True)):
        digest.update(os.path.relpath(path, lib).encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "sf": sf,
        "cpus": cpus,
        "trace": bool(args.trace),
        "seconds": args.seconds,
        "git_sha": sha,
        "source_sha256": digest.hexdigest(),
        "queries": list(wl.queries),
        "utc": dt.datetime.now(dt.timezone.utc).isoformat(),
    }


# -- main -------------------------------------------------------------------


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None, help="input scale (default: the workload's)")
    p.add_argument(
        "--corrupt",
        action="store_true",
        help="drop a row from every checked output, to prove the correctness gate",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    wl = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else wl.sf
    if not os.path.isdir(os.path.join(ROOT, "tamar_spark")):
        _log(f"no tamar_spark package next to {HERE}; run from a repository checkout")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)

    stamp_utc = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
    run_id = f"{args.workload}-seed{args.seed}-sf{sf:g}-cpus{cpus}-trace{args.trace}-{stamp_utc}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    conf = _sandbox(work)
    spark = None
    try:
        t0 = time.perf_counter()
        import gen

        data_dir = os.path.join(work, "data")
        gen.generate(data_dir, args.seed, sf, wl.tables)
        generate_s = time.perf_counter() - t0

        import bench
        import tamar_spark.queries  # noqa: F401  (registers every query)

        t0 = time.perf_counter()
        refs = references(data_dir, wl.queries)
        reference_s = time.perf_counter() - t0

        spark = _session(conf, data_dir, wl.tables)
        setup_s = time.perf_counter() - _PROCESS_START - generate_s - reference_s
        _log(f"setup {setup_s:.2f} s (generate {generate_s:.2f} s, reference {reference_s:.2f} s)")

        runner = Runner(spark, data_dir, wl, refs, args.corrupt)
        deadline = time.perf_counter() + args.seconds
        cold = runner.run_pass(check=True)
        _log(f"cold pass {cold['wall_s']:.2f} s")
        warm = []
        while True:
            est = statistics.median(p["wall_s"] for p in warm) if warm else 0.0
            last = len(warm) >= MIN_WARM_PASSES - 1 and time.perf_counter() + est >= deadline
            warm.append(runner.run_pass(check=last))
            _log(f"warm pass {len(warm)} {warm[-1]['wall_s']:.2f} s")
            if last:
                break
        # each query's fastest warm pass, summed.  Pass times still fall for
        # several passes after the cold one (8.7 -> 4.3 s over six warm
        # passes of event_stream on 4 shared vCPUs), and contention from
        # other tenants only ever adds time, so a median of the first
        # passes measures how far warm-up got under the load of the moment;
        # the minimum does not.
        wall = sum(min(sum(p["queries"][q]) for p in warm) for q in wl.queries)
        # The cold pass is the end-to-end figure: it is what a run-to-
        # completion job pays in a fresh session, and it repeats.  Mostly
        # serial work (class loading, codegen, JIT) dominates it, while the
        # warm passes are parallel tasks.  On a shared 4-vCPU virtual
        # machine that gets between two and four cores' worth of time from
        # one minute to the next, sets of ten seeds read wall_s with a
        # quartile spread of 0.23-0.30 of the median, cold_s with 0.08-0.20.
        metrics = {"setup_s": (setup_s, "s"), "cold_s": (cold["wall_s"], "s")}
        artifact = {
            "setup": {"setup_s": setup_s, "generate_s": generate_s, "reference_s": reference_s},
            "cold": cold,
            "warm": warm,
        }
        if args.trace:
            floor = bench.floor_probe(spark, runs=1)
            artifact["floor"] = floor
            layers, spans, traced = _traced_pass(spark, runner, run_id, cpus)
            layers.update(
                {
                    "wall_s": (wall, "s"),
                    "fail_ratio": (len(runner.failures) / runner.attempted, "ratio"),
                    # one pass against the pass just before it: wall_s is a
                    # best-of figure and would count noise as overhead
                    "trace.overhead_s": (traced["wall_s"] - warm[-1]["wall_s"], "s"),
                    "setup.generate_s": (generate_s, "s"),
                    "setup.reference_s": (reference_s, "s"),
                    **{f"floor.{k}_s": (v, "s") for k, v in floor.items()},
                }
            )
            artifact.update({"traced": traced, "spans": spans})
            metrics_out, shown = {**metrics, **layers}, layers
        else:
            metrics_out = shown = metrics
        failed = len(runner.failures)
        artifact.update(
            {
                "stamp": _stamp(args, wl, sf, cpus),
                "attempted": runner.attempted,
                "fail_ratio": failed / runner.attempted,
                "failures": runner.failures,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics_out.items()},
            }
        )
        _write_artifact(run_id, artifact)
        result = {
            "correct": failed == 0,
            "attempted": runner.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only once no other run uses it
        _log("stopped")
    print(json.dumps(result))
    return 0


def _traced_pass(spark, runner: Runner, run_id: str, cpus: int):
    """One pass with tracing on; returns per-layer metrics, spans, pass."""
    import tracing as tr

    tracer = tr.Tracer(run_id)
    listener = tr.ProgressListener()
    api = tr.StatusApi(spark.sparkContext)
    spark.streams.addListener(listener)
    start = time.time()
    jit0, gc0 = tr.jvm_seconds(spark.sparkContext)
    try:
        with tr.wrap_layers(tracer):
            traced = runner.run_pass(check=True, tracer=tracer)
    finally:
        spark.streams.removeListener(listener)
    jit1, gc1 = tr.jvm_seconds(spark.sparkContext)
    listener.drain()
    jobs = api.settled_jobs(int(start * 1000))
    queries = [s for s in tracer.spans if s.get("kind") == "query"]
    pass_jobs = [j for s in queries for j in tr.jobs_in(jobs, s["start"], s["end"])]
    for s in tracer.spans:
        if s.get("kind") in ("query", "build", "action"):
            ids = [j["jobId"] for j in tr.jobs_in(jobs, s["start"], s["end"])]
            s["job_ids"] = [min(ids), max(ids)] if ids else None
            s["jobs"] = len(ids)

    def kind_jobs(kind):
        return sum(s["jobs"] for s in tracer.spans if s.get("kind") == kind)

    def unit(name):
        suffixes = {"_s": "s", "_mb": "MiB", "share": "ratio", "skew": "ratio"}
        return next((u for suf, u in suffixes.items() if name.endswith(suf)), "count")

    names = set(runner.wl.queries)
    layers = {
        "queries.build_s": (traced["build_s"], "s"),
        "queries.build_jobs": (kind_jobs("build"), "count"),
        "queries.action_s": (traced["action_s"], "s"),
        "queries.action_jobs": (kind_jobs("action"), "count"),
        "spark.job_group_jobs": (sum(1 for j in pass_jobs if j.get("jobGroup") in names), "count"),
        "jvm.heap_peak_mb": (tr.heap_peak_mb(api), "MiB"),
        # compiler-thread time, summed over threads: it competes with tasks for cores
        "jvm.jit_compile_s": (jit1 - jit0, "s"),
        "jvm.gc_s": (gc1 - gc0, "s"),
    }
    counters = {
        **tr.spark_layer(api, pass_jobs, traced["wall_s"], cpus),
        **tr.streaming_layer(listener.progress),
    }
    for layer in tr.LAYERS:
        counters[f"{layer}.calls"] = tracer.calls[layer]
        counters[f"{layer}.call_s"] = tracer.call_s[layer]
    layers.update({k: (v, unit(k)) for k, v in counters.items()})
    traced["streaming_progress"] = listener.progress
    return layers, tracer.spans, traced


def _write_artifact(run_id: str, artifact: dict) -> None:
    """Write the run's artifact under a name no other run can have."""
    out = os.path.join(HERE, "results")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{run_id}.json")
    with open(path, "x") as f:
        json.dump(artifact, f, indent=1, sort_keys=True, default=str)
    _log(f"artifact {path}")


if __name__ == "__main__":
    sys.exit(main())
