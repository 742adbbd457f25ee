#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "runs": R, "bands": {q: [min, median, max]}, "cold": {...},
   "cold_total": N, "baseline_set": [...], "baseline_median_total": N,
   "baseline_cold_total": N, "nonfocus_passes": R2}

Variance protocol (r4 VERDICT task 3; two-tier split r5 task 8; rotating
focus tier r7 task 3): the RECORDED_BASELINE set — the 21 queries whose
per-query numbers BASELINE.md pins as the regression anchor — ALWAYS runs
``$SPARK_GRAFT_BENCH_RUNS`` times (default 3), regardless of budget, so
its medians never silently degrade to fewer passes as the inventory
grows.  The EXTENDED set (newer headline queries) runs one guaranteed
cold pass for EVERY query, and on top of that a rotating FOCUS THIRD —
slice ``round % 3`` of the extended list, with the round inferred from
the BENCH_r*.json ledger (override: $SPARK_GRAFT_BENCH_ROUND) — always
gets its full ``runs`` passes, so every extended query earns a true
multi-pass median at least once every three rounds no matter how large
the inventory grows.  Whatever remains of the soft wall budget
($SPARK_GRAFT_BENCH_BUDGET, default 420 s) then buys extra passes over
the NON-FOCUS extended queries (reported as ``nonfocus_passes``).

Per-query ``value`` semantics (r13 VERDICT task 4): with 3+ passes a
query reports its MEDIAN; with FEWER than 3 passes it reports its warm
MINIMUM — a 2-pass "median" is the midpoint of a heated-session first
pass and a warm pass, which pattern-matches a regression to any reader
not cross-checking the band triple (r13: dedup_semantic_prod "8.57"
from passes 4.83/12.31).  ``bands`` always carries the true
[min, median, max] and ``passes`` the per-query pass count, so the
artifact is self-identifying; ``cold`` is each query's first pass
(absorbing its one-time whole-stage-codegen cost).  The
``protocol`` block (run counts + this round's focus slice) is emitted at
the END of the JSON line because the driver archives only the tail of
stdout.  Runs on local[$SPARK_GRAFT_CPUS] with the engine's tuned
session (AQE, broadcast joins, pruned scans).
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import time


def git_sha(path: str) -> str | None:
    """``git rev-parse HEAD`` of the checkout at ``path``; None outside one."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=path, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def bench_round() -> int:
    """This bench invocation's round number: one past the newest
    BENCH_r*.json the driver has recorded next to this file (round 1 on a
    fresh checkout), overridable with $SPARK_GRAFT_BENCH_ROUND.  Drives
    the deterministic focus-third rotation — same mechanism as the
    correctness ledger's stalest-first ordering: computed from artifacts,
    never hand-maintained."""
    env = os.environ.get("SPARK_GRAFT_BENCH_ROUND")
    if env:
        return int(env)
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [0]
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds) + 1


# The per-query regression anchor (BASELINE.md "Recorded per-query
# baseline"): the original r1-r4 headline set. Do not reorder — cold
# numbers depend on what warmed the JVM before each query.
RECORDED_BASELINE = [
    "session_agg",
    "tumbling_agg",
    "sliding_agg",
    "keyed_count",
    "q1_pricing",
    "q3_shipping",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q10_returned_top",
    "q18_large_orders",
    "window_rank",
    "asof_join_latest_order",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_embedding_lsh",
    "embed_cosine_topk",
    "embed_ivf_topk",
    "doc_quality",
    "stateful_event_numbering",
    "streaming_session_agg",
    "streaming_stream_join",
]

EXTENDED = [
    # round-5 additions
    "corpus_shuffle",
    "video_frames",
    "audio_wav_meta",
    "embed_filtered_topk",
    "tfidf_top_terms",
    "dedup_containment",
    "embed_kmeans",
    "pagerank_nations",
    "heavy_hitters_cms",
    "ewma_user_value",
    "session_agg_salted",
    "dedup_substring_spans",
    "data_mixture",
    "embed_pq_topk",
    "dedup_incremental",
    "corpus_curate",
    "streaming_heavy_hitters",
    "embed_hard_negatives",
    "dedup_span_rewrite",
    "fingerprint_winnow",
    "chunk_cdc",
    "dedup_semantic",
    "zorder_layout",
    "cdc_upsert",
    "anomaly_zscore",
    "drift_bins",
    "streaming_dedup_bounded",
    "compaction_plan",
    "equidepth_histogram",
    "cdc_incremental_agg",
    "lm_familiarity",
    "data_mixture_temperature",
    "cep_funnel_sequence",
    "cep_runs",
    "trend_ols",
    "table_profile",
    # round-6 additions
    "streaming_cep_funnel",
    "streaming_cep_runs",
    "cdc_incremental_minmax",
    "bpe_merges",
    "bpe_encode",
    "graph_triangles",
    "dedup_edit_distance",
    "dedup_keep_best",
    # round-7 additions
    "streaming_cep_funnel4",
    "dedup_semantic_prod",
    "corpus_tokenize_pack",
    "image_bmp_pixels",
    "embed_ivfpq_topk",
    "lang_segments",
    "streaming_asof_dim",
    "embed_mmr_topk",
    "k_anonymity",
    "streaming_ewma_anomaly",
    "bucketed_join_agg",
    "dsir_select",
    "cdc_time_travel",
    "graph_kcore",
    "hybrid_rrf_topk",
    "scd2_dim_build",
    "key_skew_profile",
    "bpe_fertility",
    "session_ivm",
    "resample_ffill",
    "quantile_normalize",
    "rendezvous_shards",
    "embed_pca_power",
    "pii_redact",
    "hll_sketch_rollup",
    "embed_abtt_topk",
    "bloom_join_prune",
    "weighted_sample",
    "dq_constraints",
    "l_diversity",
    "seasonal_decompose",
    "retrieval_ndcg",
    "attribution_last_touch",
    "attribution_time_decay",
    "event_transition_matrix",
    "streaming_attribution",
    "conversion_lag_stats",
    "session_paths",
    "user_ltv_cohort",
    # round-8 additions (near-freeze round: ledger catch-up)
    "image_png_pixels",
    "corpus_e2e",
    # round-9 additions
    "embed_abtt_ivf_topk",
    # round-10 additions
    "session_agg_auto",
    # round-11 additions
    "session_agg_auto_skew",
    "embed_ivf_trained_topk",
    # round-12 additions
    "embed_ivfpq_trained_topk",
    # round-13 additions: the codegen-cheap new rows.  image_jpeg_rst_
    # roundtrip (~25 s/sf0.1 pure-Python entropy coding, same class as
    # image_jpeg_roundtrip) and streaming_dedup_minhash (~45 s/sf0.1:
    # exact in-stream verification pays a 16-band payload routing +
    # per-bucket state commit) are deliberately NOT headline — measured
    # and recorded in BASELINE.md, driver-checked at sf0.01
    "html_extract",
    "audio_pcm_stats",
    "audio_silence_segments",
    "url_canonicalize",
    # round-14 additions.  streaming_dedup_minhash_sig stays NOT
    # headline like its exact-verify sibling (same micro-batch/state
    # machinery floor; measured in BASELINE.md's state A/B cell,
    # driver-checked at sf0.01)
    "crawl_normalize",
    "paragraph_filter",
    # round-15 additions: the new crawl-front-end stages (single-scan,
    # one Arrow stage each — crawl_decompress has two: the compress
    # synthesis + the kernel; bands pinned in BASELINE.md r15)
    "text_normalize",
    "decode_charset",
    "crawl_decompress",
    "crawl_e2e",
    "warc_extract",
    "warc_e2e",
]

HEADLINE = RECORDED_BASELINE + EXTENDED

# Canonical anchor numbers (BASELINE.md "Canonical per-query baseline",
# re-recorded r6 under the median protocol): {query: (median, band_max)}.
# Used to make every BENCH_r*.json artifact self-diagnosing (r6 VERDICT
# task 7): shared-box contention shows up as a UNIFORM inflation across
# the anchor set including untouched queries, while a real regression is
# CONCENTRATED in the queries whose code changed.  The artifact separates
# the two mechanically instead of needing prose.
CANONICAL_ANCHOR = {
    "session_agg": (0.71, 2.41),
    "tumbling_agg": (0.35, 0.84),
    "sliding_agg": (0.39, 0.74),
    "keyed_count": (0.29, 0.51),
    "q1_pricing": (0.48, 0.75),
    "q3_shipping": (0.99, 1.87),
    "q5_region_revenue": (0.87, 1.35),
    "q6_forecast_revenue": (0.25, 0.34),
    "q10_returned_top": (0.76, 1.05),
    "q18_large_orders": (1.16, 1.24),
    "window_rank": (0.34, 0.57),
    "asof_join_latest_order": (0.38, 0.45),
    # dedup anchors re-recorded r11: the r6 warm medians (2.04 / 1.24)
    # silently depended on a session-lifetime cache LEAK — un-released
    # internal persists let pass 2+ reuse pass 1's shingle/signature
    # caches.  Persists are lease-scoped since r11 (operators.cache), so
    # every pass pays its true cache-free cost, the property the r10
    # triangles row established.  In-context post-lease medians 5.15 /
    # 5.76 at index 1.195; dedicated warm 3.6-4.8 / 4.7-4.9.
    # re-recorded r16 (VERDICT r15 task 9): the r15 shingle-width batch
    # changed both plans (hash-repartition width 8 on the exploded
    # frame); quiet r16 runs read 4.13 [3.93, 5.19] / 3.96 [3.63, 5.91]
    # (minhash) and 3.57 [3.55, 4.39] / 4.43 [3.58, 4.45] (jaccard) —
    # the old (5.0/5.5) anchors described the pre-widening plans and
    # would let a regression back to those shapes pass unflagged.
    "dedup_minhash_lsh": (4.0, 5.9),
    "dedup_ngram_jaccard": (3.9, 4.5),
    "dedup_embedding_lsh": (1.34, 3.05),
    "embed_cosine_topk": (1.26, 1.37),
    # re-recorded r11 under the r10 size-derived ⌈√n⌉ geometry (r10
    # VERDICT task 1 — the old (1.73, 1.74) was the retired 16/4 shape
    # and made the regression rule cry wolf on the intended change):
    # r10 artifact 2.22 in-bench-context; r11 quiet re-measure 2.536 raw
    # at contention index 1.106 (2.29 adjusted), dedicated-session warm
    # 1.9-2.5.  Median pinned at the adjusted in-context figure.
    "embed_ivf_topk": (2.25, 2.90),
    "doc_quality": (0.30, 0.36),
    # re-recorded r16: the r15 batch-4 repartition pin before
    # applyInPandas changed the plan (3.87 → ~1.1 warm); quiet r16 runs
    # read 1.05 [0.98, 1.56] / 1.41 [1.24, 1.55] — the old anchor would
    # mask a 3× regression back to the serialized shape.
    "stateful_event_numbering": (1.15, 1.80),
    # median re-recorded r16 after the r15 batch-11 size-derived state
    # width (quiet runs 2.68 [2.58, 3.40]); the 4.30 cold max from the
    # r12 adjudication is kept — streaming colds still reach it.
    "streaming_session_agg": (2.65, 4.30),
    # re-recorded r11: no code change on this path, but it runs directly
    # after the dedup anchors in RECORDED_BASELINE order, and with their
    # caches lease-released each pass the predecessors now do full work
    # per pass, heating the session before the streaming tail (in-context
    # median 3.57 pre-lease → 4.86 post at index 1.195).
    "streaming_stream_join": (4.2, 5.6),
}


def floor_probe(spark, runs: int) -> dict:
    """Environmental-floor probe (r10 VERDICT task 5): three fixed-cost
    micro-measurements whose wall is pure machinery — a 1-row batch job
    (scheduler + codegen dispatch), an empty streaming micro-batch
    (Structured Streaming runner + noop sink), and a 1-key
    applyInPandasWithState no-op over one row (state-store provider +
    Arrow worker round-trip).  None touches the SF data, so drift here is
    the BOX/JVM moving, not a query regression — recorded as ``floor`` in
    the artifact so absolute-constant drift (stream_session_process,
    corpus_e2e bands were widened for exactly this in r9/r10) divides out
    like the contention index instead of eroding per-query bands.  Each
    probe reports its median over ``runs`` passes."""
    import shutil
    import tempfile

    from pyspark.sql.streaming.state import GroupStateTimeout

    tmp = tempfile.mkdtemp(prefix="tamar_floor_")
    try:
        tiny = os.path.join(tmp, "tiny")
        spark.createDataFrame([(1, 1.0)], "k int, v double").coalesce(1).write.parquet(tiny)
        schema = spark.read.parquet(tiny).schema

        def stream():
            return spark.readStream.schema(schema).parquet(tiny)

        def noop(key, pdfs, state):
            import pandas as pd

            n = sum(len(p) for p in pdfs)
            yield pd.DataFrame({"k": [key[0]], "n": [n]})

        def run(sdf):
            q = (
                sdf.writeStream.outputMode("append")
                .format("noop")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        probes = {
            "range_job": lambda: spark.range(1).count(),
            "empty_microbatch": lambda: run(stream().filter("k < 0")),
            "stateful_1key_noop": lambda: run(
                stream()
                .groupBy("k")
                .applyInPandasWithState(
                    noop,
                    "k int, n long",
                    "cnt long",
                    "append",
                    GroupStateTimeout.NoTimeout,
                )
            ),
        }
        out = {}
        for name, fn in probes.items():
            xs = []
            for _ in range(runs):
                t0 = time.perf_counter()
                fn()
                xs.append(round(time.perf_counter() - t0, 3))
            s = sorted(xs)
            m = len(s) // 2
            out[name] = s[m] if len(s) % 2 else round((s[m - 1] + s[m]) / 2, 3)
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def contention_report(timings: dict[str, float]) -> dict:
    """Self-diagnosing regression block for the bench artifact.

    - ``index``: median of per-query (run median / canonical median) over
      the anchor set — the machine-load multiplier for this run.
    - ``uniform``: True when the inflation is broad (index > 1.2 AND at
      least 80% of anchor queries run >1.1× their canonical median) —
      the shared-box contention signature, not a code regression.
    - ``regressions_raw``: anchor queries breaching the recorded rule
      literally (median > max(1.2×canonical, band max)).
    - ``regressions_adjusted``: the same rule after dividing this run's
      medians by ``index`` — what survives here is concentrated in a few
      queries and IS a code regression even on a loaded machine.
    """
    ratios = {
        q: round(timings[q] / med, 3)
        for q, (med, _) in CANONICAL_ANCHOR.items()
        if q in timings and med > 0
    }
    rs = sorted(ratios.values())
    idx = rs[len(rs) // 2] if len(rs) % 2 else round((rs[len(rs) // 2 - 1] + rs[len(rs) // 2]) / 2, 3)
    broad = sum(1 for r in ratios.values() if r > 1.1) / max(1, len(ratios))
    thresh = {q: max(1.2 * med, bmax) for q, (med, bmax) in CANONICAL_ANCHOR.items()}
    raw = sorted(q for q in ratios if timings[q] > thresh[q])
    adjusted = sorted(q for q in ratios if timings[q] / max(idx, 1.0) > thresh[q])
    return {
        "index": idx,
        "uniform": idx > 1.2 and broad >= 0.8,
        "anchor_ratios": ratios,
        "regressions_raw": raw,
        "regressions_adjusted": adjusted,
        "verdict": (
            "uniform-contention"
            if (idx > 1.2 and broad >= 0.8)
            else ("concentrated-regression" if adjusted else "quiet")
        ),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    from tamar_spark.env import get_spark
    from tamar_spark.queries import QUERIES

    spark = get_spark(app_name="tamar-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # untimed warmup: JVM codegen + parquet footer reads, so the first timed
    # query doesn't absorb session startup cost
    from tamar_spark.sources import load_table

    for t in ("events", "lineitem", "orders", "customer", "documents", "embeddings"):
        load_table(spark, sf_dir, t).count()

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "420"))
    # floor probe runs BEFORE the budget clock: ~5 s of fixed-cost
    # machinery measurements that must not eat tier-4 passes
    floor = floor_probe(spark, runs)
    started = time.perf_counter()
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}

    # Block hygiene between queries: checkpoint/persist blocks are freed
    # by the JVM ContextCleaner only after the Python-side DataFrame
    # proxies are garbage-collected, and CPython's cycle collector lags
    # behind a 90-query session — measured: without the collect, the
    # checkpoint-heavy queries degrade monotonically across passes
    # (retrieval_ndcg 2.8 → 8.2 → 13.6 s) as dead blocks crowd the heap.
    # An explicit gc.collect() after each query releases the proxies so
    # the cleaner can drop the blocks; SQL-cache clears stay out — they
    # would also evict caches live queries legitimately reuse.
    import gc

    def one_pass(names: list[str]) -> None:
        for name in names:
            fn = QUERIES[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            samples[name].append(round(time.perf_counter() - t0, 3))
            gc.collect()

    # tier 1: the regression anchor always gets its full pass count
    for _ in range(runs):
        one_pass(RECORDED_BASELINE)
    # tier 2: extended set — one guaranteed cold pass for everyone
    rnd = bench_round()
    focus = [q for i, q in enumerate(EXTENDED) if i % 3 == rnd % 3]
    one_pass(EXTENDED)
    ext_runs = 1
    # tier 3: the rotating focus third always earns its full pass count,
    # budget or not — every extended query gets a true multi-pass median
    # at least once every three rounds
    for _ in range(runs - 1):
        one_pass(focus)
    # tier 4: leftover budget buys extra NON-FOCUS passes (the focus third
    # already has its full run count from tier 3, so these passes skip it)
    for _ in range(runs - 1):
        if time.perf_counter() - started > budget_s:
            break
        one_pass([q for q in EXTENDED if q not in focus])
        ext_runs += 1

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        m = len(s) // 2
        return s[m] if len(s) % 2 else round((s[m - 1] + s[m]) / 2, 3)

    med = {name: median(xs) for name, xs in samples.items()}
    # <3 passes → warm minimum, not the cold-contaminated midpoint
    # (r13 VERDICT task 4; see module docstring).  Anchor + focus rows
    # always have `runs` passes, so their medians are unaffected.
    timings = {
        name: (min(xs) if len(xs) < 3 else med[name])
        for name, xs in samples.items()
    }
    bands = {
        name: [min(xs), med[name], max(xs)] for name, xs in samples.items()
    }
    passes = {name: len(xs) for name, xs in samples.items()}
    cold = {name: xs[0] for name, xs in samples.items()}
    # the driver archives only the TAIL of stdout: keep the per-run
    # diagnostics (baseline totals, contention verdict, protocol) LAST so
    # truncation can never eat them
    result = {
                "metric": "headline_query_wall_sec",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "runs": runs,
                # pass count for NON-FOCUS extended queries (tier 2 cold
                # pass + tier-4 budget passes, which exclude the focus
                # third); focus queries get `runs` samples (r8 ADVICE:
                # the old name "extended_runs"/"extended_full_passes"
                # claimed full extended passes that tier 4 never runs)
                "nonfocus_passes": ext_runs,
                "bands": bands,
                # per-query pass counts: rows with passes < 3 report the
                # warm MINIMUM as their value (module docstring)
                "passes": passes,
                "cold": cold,
                "baseline_set": RECORDED_BASELINE,
                "cold_total": round(sum(cold.values()), 3),
                "baseline_median_total": round(
                    sum(timings[n] for n in RECORDED_BASELINE), 3
                ),
                "baseline_cold_total": round(
                    sum(cold[n] for n in RECORDED_BASELINE), 3
                ),
                "contention": contention_report(timings),
                # fixed-cost machinery medians (see floor_probe): compare
                # against BASELINE.md's recorded floor before reading any
                # absolute per-query drift as a regression
                "floor": floor,
                # focus membership is derivable: EXTENDED[i] with
                # i % 3 == focus_slice — no name list, the tail is scarce
                "protocol": {
                    "anchor_runs": runs,
                    "nonfocus_passes": ext_runs,
                    "bench_round": rnd,
                    "focus_slice": rnd % 3,
                    "focus_runs": runs,
                    "focus_size": len(focus),
                },
    }
    # The driver's BENCH_r*.json keeps only a truncated stdout TAIL — the
    # first ~two-thirds of per-query medians were lost every round and the
    # judge had to reconstruct anchor values from anchor_ratios (r11
    # VERDICT task 3).  Persist the COMPLETE artifact (plus the raw
    # per-pass samples the stdout line never carried) next to this file,
    # overwritten per run and committed, so the full timing record
    # survives independent of the stdout cap.  Only a 32-core run writes
    # BENCH_local.json; any other width writes BENCH_local_c{cpus}.json,
    # so a scaling run never overwrites the default-width record.
    here = os.path.dirname(os.path.abspath(__file__))
    cpus = spark.sparkContext.defaultParallelism
    name = "BENCH_local.json" if cpus == 32 else f"BENCH_local_c{cpus}.json"
    with open(os.path.join(here, name), "w") as f:
        json.dump(
            {**result, "samples": samples, "cpus": cpus, "git_sha": git_sha(here)},
            f,
            indent=1,
            sort_keys=True,
        )
    print(json.dumps(result))


if __name__ == "__main__":
    main()
