"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in :mod:`tamar_spark.queries`; each query there is a
(Spark DataFrame, DuckDB SQL) pair with aligned column names/types.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: event-time session windows
    (gap 30 min) per user with incremental aggregation."""
    from tamar_spark.queries import QUERIES

    return QUERIES["session_agg"](spark, "/root/testdata/sf0.001")


# The driver evaluates registration order and caps the correctness run at 50
# queries per round, so registration is a priority queue.  Since round 6 the
# order is COMPUTED from the CORRECTNESS_r*.json ledger in this directory
# (r5 VERDICT task 1: rotation must not depend on hand-maintained lists):
# stalest-first — a query's priority is the last round a GREEN driver row
# verified it (r6 ADVICE: rows with a non-null err or a failed match don't
# attest anything, so a failing query stays at the head), with
# never-verified (new) queries and semantics-changed entries at the head.
# A semantics change is recorded below with the round it happened in; once
# a green ledger row from that round or later exists, the entry is spent
# and the query rejoins the normal rotation automatically (r6 ADVICE: the
# old unscoped list pinned entries to the head forever until someone
# remembered to empty it).  Ties keep stable registration order.  A test
# (tests/test_oracle.py::test_rotation_is_stalest_first) recomputes this
# independently and pins both the ordering invariant and head membership.
_CHANGED_IN_ROUND = {
    # r6: CDC pair reworked per ADVICE (spent once a green r6+ row exists).
    "cdc_incremental_agg": 6,
    "cdc_upsert": 6,
    # r7: edit_sim recomputed with the cross-engine round_ieee form in both
    # engines (r6 ADVICE medium) — the r6 row attests the old rounding.
    "dedup_edit_distance": 7,
    # r7: view0-delta join widened to full_outer so change-batch-only
    # groups route through the rescan (r6 ADVICE).
    "cdc_incremental_minmax": 7,
    # r7: bloom rebuilt as a sized dense xxhash64 filter (results provably
    # unchanged — exact join removes FPs — but a mis-built filter would
    # DROP rows, so the attested row should postdate the rewrite).
    "bloom_join_prune": 7,
    # r8: kcore peel rewritten (one-sided semi-join with the dominance
    # proof, pre-partitioned sym, fused checkpoint+count, round budget
    # aligned to the oracle per r7 ADVICE) — fixpoint provably unchanged,
    # but an engine rewrite should not ride an old attestation.
    "graph_kcore": 8,
    # r8: oracle tiebreak aligned to max(struct)'s highest-shard rule and
    # shard cast to bigint on the Spark side (r7 ADVICE).
    "rendezvous_shards": 8,
    # r17: the five BPE queries share one word split, one bracketed repr
    # and one literal rule chain, and the learned rules stay a driver-side
    # list (bpe_merges returns them as a local relation).
    "bpe_merges": 17,
    "bpe_encode": 17,
    "bpe_fertility": 17,
    "corpus_tokenize_pack": 17,
    "corpus_e2e": 17,
    # r10 (supersedes the r9 broadcast-vs-shuffle-hash entry): triangles
    # persist scoped by a per-invocation cache lease and the dead kv
    # column dropped from the cached frame (r9 task 4) — results provably
    # unchanged, plan rewrite carries a fresh attestation.
    "graph_triangles": 10,
    # r14: canonical_url grew percent-encoding normalization,
    # dot-segment resolution, and userinfo handling (spent by the
    # green r14 row); r15: percent_normalize grew the leading bare-'%'
    # protection pass (r14 ADVICE — the chain is now idempotent on ALL
    # input).  The fixture is bare-%-free so the registered output is
    # provably unchanged, but the kernel-rewrite convention applies to
    # every query riding the chain.
    "url_canonicalize": 15,
    # r15: crawl_normalize rides the rewritten percent chain AND
    # changed semantics on its own — entity-encoded splice halves (the
    # r14 ADVICE fixture-purity item) plus the IDN/punycode fixture
    # shape (r14 task 4); paragraph_filter's reassembly was rewritten
    # linear (r14 task 5 — output provably unchanged, equality
    # property-tested on ≥1k-paragraph docs).
    "crawl_normalize": 15,
    "paragraph_filter": 15,
    # r18: the media operators emit the caller's id column through one
    # per-row Arrow adapter and the payload synthesis is one per-value
    # UDF; table_profile is one unpivot + single-distinct aggregate.
    # Only the queries whose plan shape changed are pinned: the rotation
    # head holds 50 queries and the r17 entries keep 43 of them live.
    "video_frames": 18,
    "audio_wav_meta": 18,
    "audio_pcm_stats": 18,
    "audio_silence_segments": 18,
    "image_bmp_pixels": 18,
    "image_png_pixels": 18,
    "table_profile": 18,
    # r17: min-label propagation deleted; both queries now run the
    # large-star/small-star connected components that dedup_clusters_star
    # ran — the engine rewrite carries a fresh attestation.
    "dedup_clusters": 17,
    "dedup_keep_best": 17,
    # r17: the as-of kernel drops right rows with a NULL time and never
    # matches a left row with a NULL time (SQL ``rt <= t`` semantics).
    "asof_join_latest_order": 17,
    "asof_join_next_order": 17,
    "attribution_last_touch": 17,
    "conversion_lag_stats": 17,
    # r17: batch and stream MinHash share one per-document kernel (gram
    # set → xxhash64 → Arrow/numpy permutation minimums) instead of the
    # batch 64-column min aggregate over exploded shingles.
    "dedup_minhash_lsh": 17,
    "dedup_incremental": 17,
    "streaming_dedup_minhash": 17,
    "streaming_dedup_minhash_sig": 17,
    # r17: jaccard_pairs and containment_pairs run one inverted-index
    # kernel, and every tier keeps a pair on its unrounded score
    # (supersedes the r10 star-CC entry).
    "dedup_ngram_jaccard": 17,
    "dedup_containment": 17,
    "dedup_clusters_star": 17,
    # r17: every Python stateful stream runs on one keyed-state runner;
    # the CEP timers now fire on the tick that seals a match, and keyed
    # process_state calls its function once per key and micro-batch.
    "streaming_ewma_anomaly": 17,
    "streaming_attribution": 17,
    "streaming_global_state": 17,
    "streaming_session_process": 17,
    "streaming_cep_funnel": 17,
    "streaming_cep_funnel4": 17,
    "streaming_cep_runs": 17,
    # r17: the six top-k operators share one candidate → exact-cosine
    # scorer, the LSH buckets are one SQL expression, and the embedding
    # near-dup kernels share one GEMM tile scorer (supersedes the r6 PQ,
    # r10 IVF and r11 IVFPQ entries).
    "embed_cosine_topk": 17,
    "embed_filtered_topk": 17,
    "embed_lsh_topk": 17,
    "embed_ivf_topk": 17,
    "embed_ivf_trained_topk": 17,
    "embed_pq_topk": 17,
    "embed_ivfpq_topk": 17,
    "embed_ivfpq_trained_topk": 17,
    "embed_mmr_topk": 17,
    "embed_hard_negatives": 17,
    "embed_abtt_topk": 17,
    "embed_abtt_ivf_topk": 17,
    "hybrid_rrf_topk": 17,
    "retrieval_ndcg": 17,
    "dedup_embedding": 17,
    "dedup_embedding_lsh": 17,
    "dedup_semantic": 17,
    "dedup_semantic_prod": 17,
}
# One entry per query name, enforced: a duplicate key in this literal is
# silently last-wins in Python, and a LOWER-round duplicate added later
# would un-pin a head entry (r10 VERDICT task 4).  The AST guard in
# tests/test_oracle.py::test_changed_in_round_has_no_duplicate_keys
# rejects any duplicate at test time.


def _last_checked() -> dict[str, int]:
    """Latest driver round whose row VERIFIED each query — green only:
    err null and no explicit mismatch.  (rows_match/hash_match are None
    for rows-only checks; only False disqualifies.)"""
    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for q, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = (
                row.get("err") is None
                and row.get("rows_match") is not False
                and row.get("hash_match") is not False
                and row.get("schema_match") is not False
            )
            if green:
                last[q] = max(last.get(q, 0), rnd)
    return last


def _ordered(mapping: dict) -> dict:
    last = _last_checked()

    def prio(name: str) -> int:
        lg = last.get(name, 0)
        return 0 if lg < _CHANGED_IN_ROUND.get(name, 0) else lg

    names = sorted(mapping, key=lambda n: prio(n))  # stable: ties keep order
    return {k: mapping[k] for k in names}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from tamar_spark.queries import QUERIES

    return _ordered(dict(QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query — every registered query has one
    (the approximate operators carry bit-identical deterministic twins,
    see the LSH/IVF oracle builders in tamar_spark.queries)."""
    from tamar_spark.queries import ORACLES

    return _ordered(dict(ORACLES))
