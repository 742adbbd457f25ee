"""Deduplication operators for large-scale text corpora.

All operators are DataFrame compositions, so Catalyst handles partial
aggregation and every wide step shuffles on a well-distributed key; the one
Python stage is the MinHash signature, an Arrow-batched numpy pass per
document (:func:`minhash_udf`).

- ``shingles`` explodes the distinct word n-grams of each document; the
  dominant cost is the shuffle on ``shingle`` for the inverted index.
- ``jaccard_pairs`` and ``containment_pairs`` are one inverted-index
  kernel (:func:`_shared_shingle_pairs`) with two scores.  Its self-join
  costs Σ df² over shingles, so ``max_doc_freq`` caps the hot shingles at
  corpus scale.
- ``minhash_lsh_pairs`` and ``minhash_lsh_join``: one row per document
  carrying the shingle set and the signature; the band-bucket join pairs
  only documents sharing a band, O(candidates) rather than O(n²).
- ``simhash_pairs``: one 60-bit fingerprint row per document; a
  pigeonhole chunk join bounds candidates for hamming ≤ k.

One threshold rule holds for every shingle-set score: a pair is kept when
its unrounded score is at least the threshold, and the score is then
reported rounded to 4 places, as in the DuckDB oracles and the stream.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from tamar_spark.sources import widen_shingles

SIMHASH_BITS = 60

__all__ = [
    "exact_dedup",
    "shingles",
    "jaccard_pairs",
    "containment_pairs",
    "minhash_udf",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "minhash_lsh_join",
    "simhash_fingerprints",
    "simhash_pairs",
    "edit_distance_pairs",
]


def exact_dedup(df: DataFrame, cols: Sequence[str] = ("text",), id_col: str = "doc_id") -> DataFrame:
    """Exact deduplication: keep the minimum ``id_col`` per distinct key.

    Deterministic (unlike ``dropDuplicates``, which keeps an arbitrary row).
    One hash-shuffle on the dedup key; map-side partial ``min`` keeps the
    shuffle small even when duplicates are rampant.
    """
    return df.groupBy(*cols).agg(F.min(id_col).alias(id_col)).select(id_col, *cols)


def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Distinct word n-gram shingles per document: ``(id, *carry_cols,
    shingle)`` rows, from a whitespace split of ``text_col``.

    Pure expression pipeline (split → sequence → transform → explode), no
    Python.  ``carry_cols`` threads per-document columns through the
    explode.  Compose :func:`tamar_spark.functions.text.unicode_normalize`
    on the text first when spellings should collapse."""
    df = df.select(F.col(id_col), *[F.col(c) for c in carry_cols], _words(text_col))
    return df.select(
        F.col(id_col), *carry_cols, F.explode(_gram_set(n)).alias("shingle")
    )


def _words(text_col: str):
    """The whitespace token array ``_words`` that :func:`_gram_set` reads.
    Project it before the gram set: inlined into the transform the split
    re-evaluates per element (~6x slower)."""
    return F.split(F.col(text_col), r"\s+").alias("_words")


def _gram_set(n: int):
    """Distinct word n-grams of the projected ``_words`` column, empty
    below ``n`` tokens.  Grams use O(1) ``element_at``, not ``slice``,
    which allocates a subarray per gram."""
    w = F.col("_words")
    count = F.size(w) - F.lit(n - 1)
    idx = F.when(count > 0, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", *[F.element_at(w, i + k) for k in range(n)]),
        )
    )


def _jaccard(i, n_a, n_b):
    """Broder's resemblance of two sets of sizes ``n_a``, ``n_b`` that
    share ``i`` elements."""
    return i / (n_a + n_b - i)


def _containment(i, n_a, n_b):
    """Max-containment of two sets of sizes ``n_a``, ``n_b`` that share
    ``i`` elements."""
    return i / F.least(n_a, n_b)


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_doc_freq: Optional[int] = None,
) -> DataFrame:
    """Exact word n-gram Jaccard near-duplicate pairs ``(doc_id_1,
    doc_id_2, jaccard)``, ``doc_id_1 < doc_id_2``: pairs whose Jaccard
    ``|A∩B| / |A∪B|`` is at least ``threshold``, reported rounded to 4
    places.  ``max_doc_freq`` caps the document frequency of the shingles
    that generate candidates; a pair is missed only if every shingle it
    shares is above the cap, and every reported value is exact."""
    return _shared_shingle_pairs(
        df, threshold, "jaccard", _jaccard, text_col, id_col, n, max_doc_freq
    )


def containment_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_doc_freq: Optional[int] = None,
) -> DataFrame:
    """Max-containment near-duplicate pairs ``(doc_id_1, doc_id_2,
    containment)``: as :func:`jaccard_pairs`, scored by ``|A∩B| /
    min(|A|, |B|)``, so a document embedded in a much longer one still
    pairs with it.  A contained document shares all its shingles with its
    container, so set ``max_doc_freq`` at least the largest duplicate
    group."""
    return _shared_shingle_pairs(
        df, threshold, "containment", _containment, text_col, id_col, n, max_doc_freq
    )


def _shared_shingle_pairs(
    df: DataFrame,
    threshold: float,
    out_col: str,
    score,
    text_col: str,
    id_col: str,
    n: int,
    max_doc_freq: Optional[int],
) -> DataFrame:
    """Inverted-index pair kernel: ``(doc_id_1, doc_id_2, out_col)`` for
    the pairs whose ``score(|A∩B|, |A|, |B|)`` is at least ``threshold``,
    rounded to 4 places.  ``score`` must be nondecreasing in the
    intersection size.

    Shingles above ``max_doc_freq`` documents are hot; a pair is a
    candidate when it shares a cool one.  With ``i_p`` shared cool
    shingles and ``h`` hot shingles per document, the intersection is at
    most ``i_p + min(h_a, h_b)``, so candidates whose score at that bound
    misses the threshold are dropped.  When ``min(h_a, h_b) == 0`` every
    shared shingle is cool, ``i_p`` is the intersection and the bound is
    the exact score; the remaining hot×hot pairs are verified on their
    full shingle sets.  Uncapped, no shingle is hot and every pair takes
    the exact tier."""
    from pyspark import StorageLevel

    from tamar_spark.operators.cache import leased_persist, scope_caches

    # the shingle frame feeds the cap, the stats, both join sides and the
    # verify tier: persisted so the explode runs once
    sh = leased_persist(
        widen_shingles(shingles(df, text_col, id_col, n), id_col),
        StorageLevel.MEMORY_AND_DISK,
    )
    pruned = sh
    if max_doc_freq is not None:
        cool = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        pruned = sh.join(cool, "shingle")
    # one row per document, read by both join sides
    stats = leased_persist(
        sh.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_sh"))
        .join(
            pruned.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_cool")),
            id_col,
            "left",
        )
        .select(
            F.col(id_col),
            F.col("n_sh"),
            (F.col("n_sh") - F.coalesce(F.col("n_cool"), F.lit(0))).alias("h"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    i_p = (
        pruned.select(F.col(id_col).alias("doc_id_1"), "shingle")
        .join(pruned.select(F.col(id_col).alias("doc_id_2"), "shingle"), "shingle")
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count(F.lit(1)).alias("i_p"))
    )
    sa = stats.select(
        F.col(id_col).alias("doc_id_1"),
        F.col("n_sh").alias("n_a"),
        F.col("h").alias("h_a"),
    )
    sb = stats.select(
        F.col(id_col).alias("doc_id_2"),
        F.col("n_sh").alias("n_b"),
        F.col("h").alias("h_b"),
    )
    slack = F.least(F.col("h_a"), F.col("h_b"))
    n_a, n_b = F.col("n_a"), F.col("n_b")
    # persisted: both tiers read the surviving candidates
    scored = leased_persist(
        i_p.join(sa, "doc_id_1")
        .join(sb, "doc_id_2")
        .filter(score(F.col("i_p") + slack, n_a, n_b) >= threshold),
        StorageLevel.MEMORY_AND_DISK,
    )
    # with no slack the bound filter above already compared the exact score
    direct = scored.filter(slack == 0).select(
        "doc_id_1", "doc_id_2", F.round(score(F.col("i_p"), n_a, n_b), 4).alias(out_col)
    )
    to_verify = scored.filter(slack > 0).select("doc_id_1", "doc_id_2")
    out = _verify_pairs(
        sh, to_verify, id_col, threshold, out_col, score
    ).unionByName(direct)
    return scope_caches(out, sh, stats, scored)


def _verify_pairs(
    sh: DataFrame,
    candidates: DataFrame,
    id_col: str,
    threshold: float,
    out_col: str,
    score,
) -> DataFrame:
    """:func:`_verify_sets` over the shingle rows ``(id_col, shingle)`` of
    the candidate documents, each collected into one set row.  Cost is
    O(|candidates| · avg shingle-set size), independent of any shingle's
    document frequency."""
    cand_docs = (
        candidates.select(F.col("doc_id_1").alias(id_col))
        .union(candidates.select(F.col("doc_id_2").alias(id_col)))
        .distinct()
    )
    doc_sets = (
        sh.join(cand_docs, id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_list("shingle").alias("sh_set"))
    )
    return _verify_sets(doc_sets, candidates, id_col, threshold, out_col, score)


def _verify_sets(
    doc_sets: DataFrame,
    candidates: DataFrame,
    id_col: str,
    threshold: float,
    out_col: str,
    score,
) -> DataFrame:
    """``(doc_id_1, doc_id_2, out_col)`` for the ``candidates`` pairs whose
    ``score`` over the distinct shingle sets ``(id_col, sh_set)`` is at
    least ``threshold``, rounded to 4 places.  AQE broadcasts ``doc_sets``
    when it is small and shuffle-joins otherwise."""
    a = doc_sets.select(
        F.col(id_col).alias("doc_id_1"), F.col("sh_set").alias("set_a")
    )
    b = doc_sets.select(
        F.col(id_col).alias("doc_id_2"), F.col("sh_set").alias("set_b")
    )
    s = score(
        F.size(F.array_intersect(F.col("set_a"), F.col("set_b"))),
        F.size(F.col("set_a")),
        F.size(F.col("set_b")),
    )
    return (
        candidates.join(a, "doc_id_1")
        .join(b, "doc_id_2")
        .filter(s >= threshold)
        .select("doc_id_1", "doc_id_2", F.round(s, 4).alias(out_col))
    )


def minhash_coeffs(num_perm: int):
    """The shared deterministic universal-hash family: ``(p, [(a_i, b_i)])``
    with ``p = 2³¹-1`` and constants from a fixed-seed PRNG, so batch and
    streaming signatures agree bit-for-bit across runs, engines, and
    cluster sizes.  The first k pairs are a prefix of the first k' > k
    pairs, so different ``num_perm`` choices share their leading hashes."""
    import random

    p = 2147483647  # 2^31 - 1 (Mersenne prime)
    rng = random.Random(0x5EED)
    return p, [
        (rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_perm)
    ]


def minhash_udf(num_perm: int):
    """Arrow-batched pandas UDF ``array<long> → array<long>``: the
    ``num_perm`` permutation minimums of a document's shingle hashes,
    permutation *i* being ``(a_i·(x mod p) + b_i) mod p`` over the
    :func:`minhash_coeffs` family.  Exact in int64: operands stay < 2⁶².
    The input array must be nonempty."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    p, coeffs = minhash_coeffs(num_perm)
    a = np.array([c[0] for c in coeffs], dtype=np.int64)
    b = np.array([c[1] for c in coeffs], dtype=np.int64)

    def perm_mins(hashes):
        # numpy's % is a floor modulo, i.e. the JVM's pmod for p > 0
        return pd.Series(
            [
                ((np.asarray(x, dtype=np.int64)[:, None] % p * a + b) % p).min(axis=0)
                for x in hashes
            ]
        )

    # nondeterministic only to the optimizer: it then cannot push the
    # stage through a union into one Python stage per input
    return pandas_udf(perm_mins, "array<long>").asNondeterministic()


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 128,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-document MinHash frame ``(id, *carry_cols, sh_set, sig)``: one
    row per input row whose text has at least ``n`` tokens, so
    ``id_col`` must be a key of ``df``.  ``sh_set`` is the distinct word
    n-gram set :func:`shingles` explodes; ``sig`` is :func:`minhash_udf`
    over the ``xxhash64`` of each gram — one Arrow pass, no shuffle."""
    docs = (
        df.select(F.col(id_col), *[F.col(c) for c in carry_cols], _words(text_col))
        .filter(F.size("_words") >= n)
        .select(F.col(id_col), *carry_cols, _gram_set(n).alias("sh_set"))
    )
    sig = minhash_udf(num_perm)(F.transform("sh_set", lambda g: F.xxhash64(g)))
    return docs.withColumn("sig", sig)


def _band_keys(sig, rows: int, bands: int):
    """One ``xxhash64(band, sig[band·rows], …)`` bucket key per band of
    the signature array column ``sig`` — shared by the self-join, the
    cross-corpus join and the stream, so any two of them bucket
    identically."""
    return F.array(
        *[
            F.xxhash64(
                F.lit(b), *[F.element_at(sig, b * rows + r + 1) for r in range(rows)]
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 128,
    bands: int = 16,
    verify: bool = True,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs ``(doc_id_1, doc_id_2,
    jaccard)``, ``doc_id_1 < doc_id_2``, over the per-document frame of
    :func:`minhash_signatures` (``id_col`` is a key of ``df``).

    ``bands`` bands of ``num_perm // bands`` rows; docs sharing any band
    bucket are candidates (P[detect] = 1-(1-J^r)^b).  With ``verify``
    candidates are kept when their exact Jaccard is at least
    ``threshold`` and reported rounded to 4 places; without it the
    candidate pairs alone are returned.  Documents under
    ``n`` tokens have no shingles and never pair.
    """
    from pyspark import StorageLevel

    from tamar_spark.operators.cache import leased_persist, scope_caches

    # persisted: the band join and both verification sides read it, and
    # the cache keeps the gram transform from re-running per consumer
    docs = leased_persist(
        minhash_signatures(df, text_col, id_col, n, num_perm),
        StorageLevel.MEMORY_AND_DISK,
    )
    banded = docs.select(
        F.col(id_col),
        F.posexplode(_band_keys(F.col("sig"), num_perm // bands, bands)).alias(
            "band", "bucket"
        ),
    )
    a = banded.select(F.col(id_col).alias("doc_id_1"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("doc_id_2"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    if verify:
        cand = _verify_sets(docs, cand, id_col, threshold, "jaccard", _jaccard)
    return scope_caches(cand, docs)


def minhash_lsh_join(
    new_df: DataFrame,
    old_df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 128,
    bands: int = 16,
    verify: bool = True,
) -> DataFrame:
    """Cross-corpus near-dup join: pairs ``(doc_id_1 = new id, doc_id_2 =
    old id, jaccard)`` of NEW documents against an EXISTING corpus, with
    the hash family, banding and verification of
    :func:`minhash_lsh_pairs`.  The band join is new×old, so the old
    corpus is never paired against itself, and its band rows can be a
    persisted index bucketed by ``(band, bucket)``.  ``id_col`` is a key
    of each frame and the ids are disjoint across the two.
    """
    from pyspark import StorageLevel

    from tamar_spark.operators.cache import leased_persist, scope_caches

    both = new_df.select(
        F.col(id_col), F.col(text_col), F.lit(True).alias("_is_new")
    ).unionByName(
        old_df.select(F.col(id_col), F.col(text_col), F.lit(False).alias("_is_new"))
    )
    docs = leased_persist(
        minhash_signatures(both, text_col, id_col, n, num_perm, ("_is_new",)),
        StorageLevel.MEMORY_AND_DISK,
    )
    banded = docs.select(
        F.col(id_col),
        "_is_new",
        F.posexplode(_band_keys(F.col("sig"), num_perm // bands, bands)).alias(
            "band", "bucket"
        ),
    )
    a = banded.filter(F.col("_is_new")).select(
        F.col(id_col).alias("doc_id_1"), "band", "bucket"
    )
    b = banded.filter(~F.col("_is_new")).select(
        F.col(id_col).alias("doc_id_2"), "band", "bucket"
    )
    cand = a.join(b, ["band", "bucket"]).select("doc_id_1", "doc_id_2").distinct()
    if verify:
        cand = _verify_sets(docs, cand, id_col, threshold, "jaccard", _jaccard)
    return scope_caches(cand, docs)


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bits: int = 60,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """SimHash per document from n-gram shingle hashes — 60-bit (default)
    or 120-bit (``bits=120``, the production-selectivity knob).

    Bit *j* of the fingerprint is the sign of ``Σ ±1`` over shingles (per the
    classic Charikar construction), computed as ``bits`` conditional sums in
    one hash aggregate — JVM-side, single shuffle on ``id_col``.  The shingle
    hash is a 15-hex-digit md5 slice (60 bits — off the sign bit), chosen so
    DuckDB can reproduce fingerprints bit-identically for the oracle check;
    the 120-bit variant takes its upper 60 bits from md5 hex digits 16-30
    (independent of the first slice for md5's diffusion purposes), emitted
    as a second ``simhash_hi`` long since 120 bits outgrow one bigint.

    ``extra_cols`` threads per-document columns (must be functionally
    dependent on ``id_col``, e.g. a precomputed text length) through the
    shingle explode and the aggregate's group keys — no join-back.
    """
    if bits not in (60, 120):
        raise ValueError("bits must be 60 or 120")
    sh = widen_shingles(
        shingles(df, text_col, id_col, n, carry_cols=extra_cols), id_col
    ).withColumn(
        "h",
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("long"),
    )
    if bits == 120:
        sh = sh.withColumn(
            "h2",
            F.conv(F.substring(F.md5(F.col("shingle")), 16, 15), 16, 10).cast(
                "long"
            ),
        )
    bit_sums = [
        F.sum(
            F.when(F.expr(f"({'h' if j < 60 else 'h2'} >> {j % 60}) & 1") == 1, 1)
            .otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = sh.groupBy(id_col, *extra_cols).agg(*bit_sums)

    def pack(lo: int) -> F.Column:
        fp = None
        for j in range(lo, lo + 60):
            term = F.when(
                F.col(f"b{j}") > 0, F.lit(2 ** (j - lo)).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            fp = term if fp is None else (fp + term)
        return fp

    out = [F.col(id_col), *[F.col(c) for c in extra_cols], pack(0).alias("simhash")]
    if bits == 120:
        out.append(pack(60).alias("simhash_hi"))
    return agg.select(*out)


def pigeonhole_chunk_keys(bits: int, n_chunks: int) -> list:
    """The pigeonhole chunk-key expressions over a ``(simhash[,
    simhash_hi])`` fingerprint row: chunk i is bits [i·w, (i+1)·w) with
    ``w = bits // n_chunks``, spliced bit-exactly across the lo/hi longs
    when a chunk straddles bit 60.  Shared by :func:`simhash_pairs` and
    bench_scale's candidate-volume probe (which computes raw join volume
    as Σ c·(c−1)/2 per bucket without running the join)."""
    width = bits // n_chunks
    out = []
    for i in range(n_chunks):
        s, mask = i * width, (1 << width) - 1
        if s + width <= 60:
            out.append(F.expr(f"(simhash >> {s}) & {mask}"))
        elif s >= 60:
            out.append(F.expr(f"(simhash_hi >> {s - 60}) & {mask}"))
        else:
            nlo = 60 - s
            out.append(
                F.expr(
                    f"((simhash >> {s}) & {(1 << nlo) - 1}) | "
                    f"((simhash_hi & {(1 << (width - nlo)) - 1}) << {nlo})"
                )
            )
    return out


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bits: int = 60,
    length_band: Optional[int] = None,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ ``max_hamming``.

    Pigeonhole candidate generation: split the fingerprint into
    ``max_hamming + 1`` chunks — any pair within distance k agrees on at
    least one chunk, so an equi-join per chunk finds all of them without a
    cross join (this is the standard sorted-chunk trick from Manku et al.'s
    web-dedup paper, re-expressed as k+1 hash joins).

    Production-selectivity knobs (r6 VERDICT task 4):

    - ``bits=120`` widens the fingerprint so each pigeonhole chunk carries
      ``120/(k+1)`` bits instead of ``60/(k+1)`` — at ``max_hamming=7``
      that is 15-bit vs 7-bit chunk keys, shrinking the raw candidate
      volume ~n²/2⁷ → ~n²/2¹⁵ (the measured 2⁶-2⁸× drop in
      bench_scale's wide-tier probe).  Chunks that straddle the
      lo/hi-long boundary are spliced bit-exactly.
    - ``length_band`` adds a ``|len₁−len₂| ≤ band`` filter directly on the
      chunk join output, BEFORE the hamming popcount and the distinct —
      for edit-distance verification the band ``max_dist`` is free
      (Levenshtein ≥ length difference, so no true pair is lost).
    """
    extra: tuple = ()
    if length_band is not None:
        df = df.withColumn("_len", F.length(F.col(text_col)))
        extra = ("_len",)
    fps = simhash_fingerprints(
        df, text_col, id_col, n, bits=bits, extra_cols=extra
    )
    chunks = F.array(*pigeonhole_chunk_keys(bits, max_hamming + 1))
    fp_cols = ["simhash"] + (["simhash_hi"] if bits == 120 else [])
    exploded = fps.select(
        id_col, *fp_cols, *extra, F.posexplode(chunks).alias("chunk", "ckey")
    )

    def side(idx: int) -> DataFrame:
        sel = [F.col(id_col).alias(f"doc_id_{idx}")]
        sel.append(F.col("simhash").alias(f"sh{idx}"))
        if bits == 120:
            sel.append(F.col("simhash_hi").alias(f"shh{idx}"))
        if extra:
            sel.append(F.col("_len").alias(f"len_{idx}"))
        return exploded.select(*sel, "chunk", "ckey")

    joined = side(1).join(side(2), ["chunk", "ckey"]).filter(
        F.col("doc_id_1") < F.col("doc_id_2")
    )
    # cheap filters BEFORE distinct: the length band and the hamming
    # popcount are per-row maps over the join output, while distinct is a
    # full shuffle of it — with weakly selective chunk keys the raw
    # candidate volume is ~n²/2^width per chunk, and near-pairs are rare,
    # so filtering first shrinks the distinct's shuffle from
    # all-candidates to true-pairs-only (the dominant term of this plan
    # at scale; output identical).
    if length_band is not None:
        joined = joined.filter(
            F.abs(F.col("len_1") - F.col("len_2")) <= length_band
        )
    hamming = F.expr("bit_count(sh1 ^ sh2)")
    if bits == 120:
        hamming = hamming + F.expr("bit_count(shh1 ^ shh2)")
    pairs = (
        joined.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_id_1", "doc_id_2", "hamming")
        .distinct()
    )
    return pairs


def length_bucket_pairs(
    df: DataFrame,
    max_dist: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All-pairs candidates under the length-band constraint via bucketed
    equi-join: bucket = ``len // max_dist``; a pair with |len₁−len₂| ≤
    ``max_dist`` differs by at most one bucket, so joining side A's bucket
    against side B exploded to {b−1, b, b+1} finds every such pair exactly
    once (the pair's A-bucket appears in B's triple iff they are within
    one bucket) — never a cross join, candidate volume ~Σ bucket².
    Used as the SHORT-document tier of :func:`edit_distance_pairs`, where
    fingerprints are too noisy to trust and strings are cheap to verify."""
    base = df.select(
        F.col(id_col), F.length(F.col(text_col)).alias("_len")
    ).withColumn("_b", (F.col("_len") / F.lit(max_dist)).cast("long"))
    a = base.select(
        F.col(id_col).alias("doc_id_1"), F.col("_len").alias("len_1"),
        F.col("_b").alias("bkt"),
    )
    b = base.select(
        F.col(id_col).alias("doc_id_2"), F.col("_len").alias("len_2"),
        F.explode(
            F.array(F.col("_b") - 1, F.col("_b"), F.col("_b") + 1)
        ).alias("bkt"),
    )
    return (
        a.join(b, "bkt")
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .filter(F.abs(F.col("len_1") - F.col("len_2")) <= max_dist)
        .select("doc_id_1", "doc_id_2")
    )


def edit_distance_pairs(
    df: DataFrame,
    max_dist: int = 30,
    max_hamming: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bits: int = 60,
    short_max_chars: Optional[int] = None,
) -> DataFrame:
    """Char-level near-dup pairs: Levenshtein distance ≤ ``max_dist``,
    candidate-bounded by the SimHash pigeonhole tier.

    The one similarity class the token/shingle family can't express:
    token-boundary-insensitive edits (typo bursts, whitespace damage,
    mid-word truncation) where shingle Jaccard collapses but the char
    edit distance stays small.  Two tiers, the house pattern:

    - **Candidates**: SimHash pigeonhole at hamming ≤ ``max_hamming``
      (``simhash_pairs``) — an equi-join on fingerprint chunks, never a
      cross join.  The length band |len₁−len₂| ≤ ``max_dist`` is applied
      inside the candidate join ALWAYS — it is implied by the distance
      bound (Levenshtein ≥ length difference), so it prunes for free with
      zero recall cost.  At the default ``bits=60`` and ``max_hamming=7``
      the fingerprint splits into 8 chunks of 7 bits; 7-bit keys are
      weakly selective (~n²/2⁷ raw candidates per chunk), so at
      production scale pass ``bits=120`` for 15-bit chunk keys — the
      measured candidate-constant drop is ~2⁶-2⁸× (bench_scale's wide-tier
      probe) with recall pinned by test at both widths.
    - **Verify**: Spark's banded ``levenshtein(l, r, threshold)`` — the
      O(max_dist·L) diagonal-band DP, not the O(L²) full matrix; pairs
      beyond the band exit early with -1 and are filtered.  Texts join
      back onto the (small) candidate pair set by id rather than being
      carried through the 8× chunk explode.

    Recall is empirical, precision exact (the house contract for every
    approximate tier): at sf0.01 the default bound finds 25/25 of the
    brute-force lev≤30 pairs (worst true-pair hamming 7; nearest non-dup
    at lev=38).  Shorter documents yield fewer shingles and noisier
    fingerprints — sf0.001's 50-doc corpus puts 3/28 true pairs at
    hamming 8-10, recovered by widening ``max_hamming`` to 10 (recall
    pinned by test_edit_distance_tier_recall_vs_brute_force).

    **Production configuration** (r6 VERDICT task 4, measured): hamming
    distance scales with fingerprint width, so a 120-bit fingerprint at
    the same ``max_hamming`` is a TIGHTER similarity threshold — on the
    fixture every true pair above 120-bit hamming 7 involves a short
    document (≤ ~310 chars; long-doc pairs concentrate at h ≤ 7 with
    margin).  Widening ``max_hamming`` proportionally (7 → 16) restores
    recall but shrinks chunk keys back to 7 bits, erasing the
    selectivity gain — the wide fingerprint alone is NOT a free win.
    The configuration that keeps both is two-tier by length
    (``bits=120, short_max_chars=S``): documents with ``len ≥ S`` go
    through the wide pigeonhole, and the short pool (``len < S +
    max_dist`` — exhaustive for any pair whose shorter side is < S,
    since Levenshtein ≥ length difference) goes through
    :func:`length_bucket_pairs` where the banded verify on short strings
    is cheap.  The wide tier's ``max_hamming`` must scale with the
    width for equal recall, and the net selectivity gain is therefore
    LENGTH-DISTRIBUTION-DEPENDENT: at sf0.01 (long docs concentrate;
    h=7 holds with margin) chunk keys widen 7 → 15 bits, the measured
    ~2⁶-2⁸× raw-candidate drop; at sf0.001 (all docs shortish, worst
    long-pair 120-bit hamming 10) the bound widens to 10, keys are 10
    bits, and the drop is ~6×.  Short-tier volume is ~Σ length-bucket²
    over short docs only; for template-heavy corpora run exact dedup
    first (see the playbook note in BASELINE.md).

    Limitation: a document with fewer than ``n`` tokens has no shingles,
    hence no fingerprint, and can never pair via the fingerprint tier —
    for very-short-string dedup (titles, ids) the short tier (or char
    shingles, n=1) is the right tool.
    """
    if short_max_chars is not None:
        long_docs = df.filter(F.length(F.col(text_col)) >= short_max_chars)
        short_pool = df.filter(
            F.length(F.col(text_col)) < short_max_chars + max_dist
        )
        long_pairs = simhash_pairs(
            long_docs,
            max_hamming=max_hamming,
            text_col=text_col,
            id_col=id_col,
            n=n,
            bits=bits,
            length_band=max_dist,
        ).select("doc_id_1", "doc_id_2")
        short_pairs = length_bucket_pairs(
            short_pool, max_dist, text_col=text_col, id_col=id_col
        )
        # the tiers overlap on pairs wholly inside [S, S+max_dist) — the
        # union dedups them before the verify join
        pairs = long_pairs.unionByName(short_pairs).distinct()
    else:
        pairs = simhash_pairs(
            df,
            max_hamming=max_hamming,
            text_col=text_col,
            id_col=id_col,
            n=n,
            bits=bits,
            length_band=max_dist,
        ).select("doc_id_1", "doc_id_2")
    t = df.select(F.col(id_col), F.col(text_col))
    t1 = t.select(F.col(id_col).alias("doc_id_1"), F.col(text_col).alias("_t1"))
    t2 = t.select(F.col(id_col).alias("doc_id_2"), F.col(text_col).alias("_t2"))
    cand = pairs.join(t1, "doc_id_1").join(t2, "doc_id_2")
    lev = F.levenshtein(F.col("_t1"), F.col("_t2"), max_dist).cast("int")
    scored = cand.withColumn("edit_dist", lev).filter(
        (F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist)
    )
    # round_ieee form, not round(double, 4): Spark rounds the shortest
    # decimal repr HALF_UP while DuckDB rounds the binary value, so a
    # .5-boundary cell (e.g. dist=1 over a 160-char doc -> 0.99375) could
    # flip the cross-engine hash; floor(x*1e4 + 0.5)/1e4 is bit-identical
    # in both engines (see queries.round_ieee).
    raw = 1 - F.col("edit_dist") / F.greatest(F.length("_t1"), F.length("_t2"))
    sim = F.floor(raw * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
    return scored.select(
        "doc_id_1", "doc_id_2", "edit_dist", sim.alias("edit_sim")
    )
