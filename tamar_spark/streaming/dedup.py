"""Streaming MinHash/LSH near-duplicate detection with the signature store
as watermark-bounded keyed state.

- **Keyed by LSH band bucket.** Each document carries its hashed shingle
  set and its band keys (the batch MinHash kernel of ``operators/dedup.py``,
  bit-identical); exploding to ``(band, bucket)`` rows routes it to the
  groups where a collision can occur.
- **Bounded by the pairing window.** Two documents pair only if their event
  times lie within ``window`` of each other, so a bucket keeps only
  documents with ``ts >= watermark - window`` and drops its state entry
  when none are left.
- **Watermark-final.** A pair emits once the watermark passes the later
  document's timestamp, so the emitted set does not depend on micro-batch
  slicing; pairs still unsealed at end of stream never emit (the
  reference's no-flush semantic, src/lib.rs:1316-1345).
- **Exactly once across bands.** Only the pair's canonical band, the
  smallest band where the two documents' keys collide, emits it.
- **Verified.** Candidates are checked by exact Jaccard over the carried
  shingle sets, or by the MinHash estimator over stored signatures.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from tamar_spark.streaming.stateful import _run_keyed_state

__all__ = ["attach_minhash_bands", "minhash_dedup_streaming"]


def _round_half_up(x: float, digits: int = 4) -> float:
    """HALF_UP rounding on the double's shortest decimal representation
    — the semantics Spark's ``F.round`` (BigDecimal of the double) and
    DuckDB's ``round`` apply.  Python's builtin ``round`` is banker's
    (ties to even), and exact binary ties DO occur here: Jaccard values
    with power-of-two unions are dyadic, e.g. 17/32 = 0.53125 rounds to
    0.5313 under HALF_UP but 0.5312 under the builtin — a latent
    oracle-hash divergence on any corpus where such a pair appears."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def attach_minhash_bands(
    sdf: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    keep_signature: bool = False,
) -> DataFrame:
    """Add ``shingles`` (the distinct word n-gram set as int64 ``xxhash64``
    values) and ``bands`` (one LSH bucket key per band) columns to a
    streaming DataFrame, dropping rows under ``n`` tokens — no shuffle,
    no groupBy, streaming-safe.  ``keep_signature`` also keeps the
    ``num_perm``-long ``sig``.

    The construction is the batch one of
    :func:`operators.dedup.minhash_signatures` — the same gram set, the
    same :func:`operators.dedup.minhash_udf` and
    :func:`operators.dedup._band_keys` — so stream and batch band keys
    agree bit-for-bit (pinned by test).

    Downstream state carries the int64 shingle hashes, not the strings:
    Jaccard over the hashed sets equals string Jaccard up to 64-bit
    collisions inside one document pair (probability ≈ |set|²/2⁶⁵ ≈
    10⁻¹², and deterministic either way), and the explode-by-16-bands
    shuffle moves 8-byte values instead of 20-byte grams."""
    from tamar_spark.operators.dedup import _band_keys, _gram_set, _words, minhash_udf

    if num_perm % bands:
        raise ValueError("num_perm must divide evenly into bands")
    cols = sdf.columns
    out = (
        sdf.select(*cols, _words(text_col))
        .filter(F.size("_words") >= n)
        .select(*cols, F.transform(_gram_set(n), lambda g: F.xxhash64(g)).alias("shingles"))
    )
    out = out.withColumn("sig", minhash_udf(num_perm)(F.col("shingles")))
    out = out.withColumn("bands", _band_keys(F.col("sig"), num_perm // bands, bands))
    return out if keep_signature else out.drop("sig")


def minhash_dedup_streaming(
    sdf: DataFrame,
    threshold: float,
    window_us: int,
    id_col: str = "doc_id",
    ts_col: str = "ts",
    store_shingles: bool = True,
) -> DataFrame:
    """Run the band-bucket signature store over a stream prepared by
    :func:`attach_minhash_bands` (watermark already applied) and emit
    near-dup pairs ``(doc_id_1, doc_id_2, jaccard)`` — ``doc_id_1 <
    doc_id_2``, 4dp HALF_UP rounded like the batch family.

    ``store_shingles=True`` (default) buffers each document's hashed
    shingle set and verifies candidates by exact Jaccard.  With
    ``store_shingles=False`` the state keeps only the ``num_perm``-long
    signature (requires :func:`attach_minhash_bands`'s
    ``keep_signature=True``) and verifies by the MinHash estimator, the
    matching-component fraction; ``jaccard`` then carries the estimate.
    The per-document state no longer grows with document length.

    See the module docstring for the state/eviction/finality contract.
    """
    payload_col = "shingles" if store_shingles else "sig"
    as_payload = frozenset if store_shingles else tuple

    def step(key, rows, state, wm_us):
        band_idx = int(key[0])
        docs, prev_wm_us = state
        if rows is not None:
            ts_us = rows[ts_col].astype("datetime64[us]").astype("int64")
            for rid, tus, payload, bd in zip(
                rows[id_col], ts_us, rows[payload_col], rows["bands"]
            ):
                rid = int(rid)
                if rid not in docs:  # idempotent on source replays
                    # Python ints: a pickled numpy int64 costs ~30x more
                    docs[rid] = (int(tus), as_payload(map(int, payload)), tuple(map(int, bd)))

        out_rows = []
        seal_us = None
        order = sorted(docs.items(), key=lambda kv: (kv[1][0], kv[0]))
        for j in range(len(order)):
            idj, (tj, shj, bdj) = order[j]
            if tj >= wm_us:
                # unsealed: its pair with the nearest earlier doc (the
                # buffer is ts-sorted) asks for a timer if in the window
                if j > 0 and tj - order[j - 1][1][0] <= window_us:
                    if seal_us is None or tj < seal_us:
                        seal_us = tj
                continue
            if tj < prev_wm_us:
                continue  # this doc's pairs emitted in an earlier batch
            # walk earlier docs newest-first and stop at the window edge
            for i in range(j - 1, -1, -1):
                idi, (ti, shi, bdi) = order[i]
                if tj - ti > window_us:
                    break
                # canonical band: exactly one bucket group emits a pair
                first = next(
                    (b for b in range(len(bdi)) if bdi[b] == bdj[b]),
                    None,
                )
                if first != band_idx:
                    continue
                if store_shingles:
                    inter = len(shi & shj)
                    if not inter:
                        continue
                    union = len(shi) + len(shj) - inter
                    jac = inter / union
                else:
                    # MinHash estimator: matching-component fraction
                    matches = sum(1 for a, b in zip(shi, shj) if a == b)
                    if not matches:
                        continue
                    jac = matches / len(shi)
                if jac >= threshold:
                    a, b = (idi, idj) if idi < idj else (idj, idi)
                    out_rows.append((a, b, _round_half_up(jac)))
        # a doc older than (watermark - window) can never pair with an
        # admissible future row, whose event time is >= watermark
        docs = {rid: v for rid, v in docs.items() if v[0] >= wm_us - window_us}
        out = (
            pd.DataFrame(out_rows, columns=["doc_id_1", "doc_id_2", "jaccard"])
            if out_rows
            else None
        )
        if not docs:
            return out, None, None
        # wake for the next pair to seal, or at the latest when the newest
        # doc leaves the window, so the bucket's state cleans itself up
        cleanup_us = max(v[0] for v in docs.values()) + window_us
        return (
            out,
            (docs, max(prev_wm_us, wm_us)),
            cleanup_us if seal_us is None else min(seal_us, cleanup_us),
        )

    # route ONLY the verification payload through the 16-band explode:
    # in signature mode the shingle sets never leave the projection —
    # the state/shuffle shrink is real, not just a state-side trim
    exploded = sdf.select(
        id_col,
        ts_col,
        payload_col,
        "bands",
        F.posexplode("bands").alias("band", "bucket"),
    )
    return _run_keyed_state(
        exploded,
        ["band", "bucket"],
        step,
        "doc_id_1 long, doc_id_2 long, jaccard double",
        init=lambda key: ({}, -1),
        timers=True,
    )
