"""Deduplication operators for large-scale text corpora.

Capability absent in the reference (its only dedup-adjacent tool is keyed
state, reference src/lib.rs:323-361); required by the LLM-pipeline extension
surface (SURVEY §2.7).  All operators are pure DataFrame compositions —
no Python UDFs in the hot path — so Catalyst handles partial aggregation,
and every wide step shuffles on a well-distributed key.

Scale design (100 TB):
- ``shingles`` explodes ~L tokens/doc into ≤L rows; the dominant cost is the
  shuffle on ``shingle`` for the inverted index.  Shingle keys are
  high-cardinality (vocabulary^n) → good hash distribution.
- ``jaccard_pairs`` (exact) is quadratic in per-shingle document frequency;
  ``max_doc_freq`` caps hot shingles (standard posting-list pruning) — at
  100 TB always set it; the MinHash-LSH path below is the intended scale
  route, with exact Jaccard verification only on candidate pairs.
- ``minhash_lsh_pairs``: signatures are 1 row/doc (128 longs); banding
  explodes to B rows/doc; the band-bucket self-join only pairs docs sharing
  a band — O(candidates), not O(n²).
- ``simhash_pairs``: 1 row/doc 64-bit fingerprints; pigeonhole chunk join
  bounds candidates for hamming ≤ k.
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
    "minhash_signatures",
    "minhash_lsh_pairs",
    "minhash_lsh_join",
    "simhash_fingerprints",
    "simhash_pairs",
    "edit_distance_pairs",
    "embedding_neardup_pairs",
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
    distinct: bool = True,
    carry_cols: Sequence[str] = (),
    nfc: bool = False,
) -> DataFrame:
    """Word n-gram shingle set per document: ``(id, shingle)`` rows.

    Pure expression pipeline (split → sequence → transform → explode) — no
    Python.  The tokenized array is projected ONCE per row before the
    higher-order transform (inlining the split re-evaluates it per element —
    ~6× slower), and per-gram assembly uses O(1) ``element_at`` lookups
    rather than ``slice`` (which allocates a subarray per gram).

    ``carry_cols`` threads additional per-document columns (e.g. a corpus
    side tag) through the explode without a later join back.

    ``nfc=True`` (r15) prepends Unicode NFC normalization so composed and
    decomposed spellings shingle identically — the opt-in first stage for
    real crawl corpora (one Arrow stage ahead of the expression pipeline;
    default off keeps every registered dedup query byte-identical and
    Python-free)."""
    src = F.col(text_col)
    if nfc:
        from tamar_spark.functions.text import unicode_normalize

        src = unicode_normalize(src)
    df = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.split(src, r"\s+").alias("_words"),
    )
    w = F.col("_words")
    count = F.size(w) - F.lit(n - 1)
    idx = F.when(count > 0, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(w, i + k) for k in range(n)]),
    )
    grams = F.array_distinct(grams) if distinct else grams
    return df.select(
        F.col(id_col), *carry_cols, F.explode(grams).alias("shingle")
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_doc_freq: Optional[int] = None,
    candidates: Optional[DataFrame] = None,
    sh: Optional[DataFrame] = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs: ``(doc_id_1, doc_id_2, jaccard)``.

    Inverted-index self-join: |A∩B| via grouping on shared shingles, then
    ``J = i / (|A| + |B| - i)``.  ``candidates`` restricts the pair space
    (used by the LSH path so exact verification is candidate-bounded, not
    quadratic).

    ``max_doc_freq`` is the posting-list scale guard: the self-join cost is
    Σ df² over shingles, so ONE boilerplate phrase shared by d documents
    costs d² pairs — at 100 TB always set it.  The cap prunes CANDIDATE
    GENERATION only; pairs are then verified exactly on their FULL shingle
    sets via the candidate-bounded path (r2 VERDICT fix — the old code
    computed intersections on the pruned postings, silently deflating J for
    pairs containing a hot shingle).  Recall rule: a true pair is missed
    only if every shared shingle is hot, so set the cap ≥ the largest
    duplicate-group size you expect (a group of g near-identical docs
    shares shingles of df ≈ g; unrelated boilerplate runs far hotter).
    """
    # the shingle set feeds three consumers (sizes, both join sides) — persist
    # so the explode+distinct runs once; MEMORY_AND_DISK spills at scale.
    # Every persist this call creates is lease-scoped AT CREATION
    # (leased_persist): alive while a consumer holds a referencing frame,
    # released when the last reference drops — including on exception
    # paths between the persist and the return, so no session-lifetime
    # cache residue either way.
    from pyspark import StorageLevel

    from tamar_spark.operators.cache import leased_persist, scope_caches

    own = []  # persists created by THIS call (a caller-passed sh is theirs)
    if sh is None:
        sh = leased_persist(
            widen_shingles(shingles(df, text_col, id_col, n), id_col),
            StorageLevel.MEMORY_AND_DISK,
        )
        own.append(sh)
    if candidates is None and max_doc_freq is not None:
        cool = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        pruned = sh.join(cool, "shingle")
        pa = pruned.select(F.col(id_col).alias("doc_id_1"), "shingle")
        pb = pruned.select(F.col(id_col).alias("doc_id_2"), "shingle")
        # Upper-bound prefilter before exact verification: with i_p shared
        # COOL shingles counted and h_x hot (pruned) shingles per doc, the
        # true intersection is ≤ i_p + min(h_a, h_b) and the true union is
        # ≥ n_a + n_b − i_p − min(h_a, h_b), so
        #   J ≤ (i_p + min(h)) / (n_a + n_b − i_p − min(h))
        # Pairs whose bound misses the threshold provably can't pass — most
        # incidental 1-2-shingle collisions die here, so the exact
        # array_intersect verify only runs on near-threshold survivors
        # (measured 8.0 s → ~4 s at sf0.1 with identical output).  Per-doc
        # stats joins are left to AQE: one row per doc, so it broadcasts at
        # bench scale but must shuffle-join at corpus scale.  Persisted:
        # the one-row-per-doc frame feeds both join sides (sa/sb) — without
        # the cache the full-shingle + pruned-shingle groupBy subtree
        # executes twice.
        stats = (
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
            )
        )
        stats = leased_persist(stats, StorageLevel.MEMORY_AND_DISK)
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
        i_p = (
            pa.join(pb, "shingle")
            .filter(F.col("doc_id_1") < F.col("doc_id_2"))
            .groupBy("doc_id_1", "doc_id_2")
            .agg(F.count(F.lit(1)).alias("i_p"))
        )
        slack = F.least(F.col("h_a"), F.col("h_b"))
        j_ub = (F.col("i_p") + slack) / (
            F.col("n_b") + F.col("n_a") - F.col("i_p") - slack
        )
        # persisted: the surviving candidate set feeds the direct/verify
        # split below (and the verify branch reads it three times) —
        # without the cache the pruned self-join subtree re-executes
        scored = leased_persist(
            i_p.join(sa, "doc_id_1").join(sb, "doc_id_2").filter(j_ub >= threshold),
            StorageLevel.MEMORY_AND_DISK,
        )
        # Exact direct-emit tier: when min(h_a, h_b) == 0, one doc has no
        # hot (pruned) shingles at all, so every SHARED shingle is cool and
        # the pruned intersection i_p IS the full intersection — the exact
        # Jaccard is i_p / (n_a + n_b − i_p), no set materialization or
        # verify join needed.  In a capped corpus only boilerplate-bearing
        # docs have hot shingles, so most candidate pairs take this tier;
        # only hot×hot pairs pay the array_intersect verify.  Provably
        # lossless: the emitted value is exact, and pairs in the verify
        # tier are handled exactly as before.
        j_exact = F.round(
            F.col("i_p") / (F.col("n_a") + F.col("n_b") - F.col("i_p")), 4
        )
        direct = (
            scored.filter(slack == 0)
            .withColumn("jaccard", j_exact)
            .filter(F.col("jaccard") >= threshold)
            .select("doc_id_1", "doc_id_2", "jaccard")
        )
        to_verify = scored.filter(slack > 0).select("doc_id_1", "doc_id_2")
        out = _verify_pairs(sh, to_verify, id_col, threshold).unionByName(
            direct
        )
        return scope_caches(out, *own, stats, scored)
    if candidates is not None:
        # verification is candidate-PAIR-bounded (not candidate-doc-bounded:
        # in a hot-boilerplate corpus nearly every doc lands in SOME pair, so
        # restricting the inverted-index self-join to candidate docs re-pays
        # the full n² hot-shingle cost — measured 125 s vs 57 s uncapped at
        # 32k docs before this fix).  Jaccard is still computed on the FULL
        # shingle sets — max_doc_freq affects candidate generation only, so
        # emitted values are exact.
        return scope_caches(_verify_pairs(sh, candidates, id_col, threshold), *own)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_id_1"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_id_2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_id_1"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_id_2"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "doc_id_1")
        .join(sb, "doc_id_2")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_1", "doc_id_2", "jaccard")
    )
    return scope_caches(out, *own)


def _verify_pairs(
    sh: DataFrame, candidates: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification bounded by candidate PAIRS.

    Materializes each candidate doc's shingle SET as one array row and
    verifies pairs with ``array_intersect`` — two joins on the candidate
    set instead of re-running the inverted-index self-join.  A doc's
    shingle set is per-row data (bounded by doc length), so this holds at
    corpus scale; AQE broadcasts ``doc_sets`` when the candidate
    population is small and shuffle-joins otherwise (100 TB safety).
    Cost is O(|candidates| · avg shingle-set size), independent of any
    shingle's corpus-wide document frequency.
    """
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
    a = doc_sets.select(
        F.col(id_col).alias("doc_id_1"), F.col("sh_set").alias("set_a")
    )
    b = doc_sets.select(
        F.col(id_col).alias("doc_id_2"), F.col("sh_set").alias("set_b")
    )
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    union_sz = F.size(F.col("set_a")) + F.size(F.col("set_b")) - inter
    return (
        candidates.join(a, "doc_id_1")
        .join(b, "doc_id_2")
        .withColumn("jaccard", F.round(inter / union_sz, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_1", "doc_id_2", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_doc_freq: Optional[int] = None,
) -> DataFrame:
    """Max-containment near-dup pairs: ``C = |A∩B| / min(|A|, |B|)``.

    Detects near-SUBSET duplication that symmetric Jaccard misses: a doc
    fully embedded in one 10× longer has J ≈ 0.1 but C = 1.0 — the
    common quote/aggregator/boilerplate-wrapper case in web corpora
    (Broder's containment measure).

    Mirrors :func:`jaccard_pairs`' capped three-tier structure (the
    measured-fast shape — the first cut used a DISTINCT candidate
    self-join + unconditional array verify and benched 8.1 s at sf0.1 vs
    ~1 s for the tiered path): count shared COOL shingles ``i_p`` per
    pair, discard pairs whose provable upper bound
    ``(i_p + min(h_a, h_b)) / min(n_a, n_b)`` misses the threshold, emit
    ``i_p / min(n_a, n_b)`` directly when one doc has no hot shingles
    (every shared shingle is then cool, so ``i_p`` IS the intersection —
    the cool filter is per-shingle, so a shingle of an all-cool doc is
    cool in BOTH postings), and array-verify only hot×hot survivors.
    ``max_doc_freq`` recall rule matches :func:`jaccard_pairs`: a true
    pair is missed only if EVERY shared shingle exceeds the cap, and a
    contained doc shares all its shingles with its container, so set the
    cap ≥ the largest duplicate-group size.
    """
    from pyspark import StorageLevel

    from tamar_spark.operators.cache import leased_persist, scope_caches

    sh = leased_persist(
        widen_shingles(shingles(df, text_col, id_col, n), id_col),
        StorageLevel.MEMORY_AND_DISK,
    )
    if max_doc_freq is None:
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
        inter = (
            sh.select(F.col(id_col).alias("doc_id_1"), "shingle")
            .join(sh.select(F.col(id_col).alias("doc_id_2"), "shingle"), "shingle")
            .filter(F.col("doc_id_1") < F.col("doc_id_2"))
            .groupBy("doc_id_1", "doc_id_2")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        sa = sizes.select(F.col(id_col).alias("doc_id_1"), F.col("n_sh").alias("n_a"))
        sb = sizes.select(F.col(id_col).alias("doc_id_2"), F.col("n_sh").alias("n_b"))
        out = (
            inter.join(sa, "doc_id_1")
            .join(sb, "doc_id_2")
            .withColumn(
                "containment",
                F.round(F.col("n_inter") / F.least("n_a", "n_b"), 4),
            )
            .filter(F.col("containment") >= threshold)
            .select("doc_id_1", "doc_id_2", "containment")
        )
        return scope_caches(out, sh)
    cool = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_doc_freq)
        .select("shingle")
    )
    pruned = sh.join(cool, "shingle")
    stats = (
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
        )
    )
    stats = leased_persist(stats, StorageLevel.MEMORY_AND_DISK)
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
    denom = F.least(F.col("n_a"), F.col("n_b"))
    scored = leased_persist(
        i_p.join(sa, "doc_id_1")
        .join(sb, "doc_id_2")
        .filter((F.col("i_p") + slack) / denom >= threshold),
        StorageLevel.MEMORY_AND_DISK,
    )
    direct = (
        scored.filter(slack == 0)
        .withColumn("containment", F.round(F.col("i_p") / denom, 4))
        .filter(F.col("containment") >= threshold)
        .select("doc_id_1", "doc_id_2", "containment")
    )
    to_verify = scored.filter(slack > 0).select("doc_id_1", "doc_id_2")
    cand_docs = (
        to_verify.select(F.col("doc_id_1").alias(id_col))
        .union(to_verify.select(F.col("doc_id_2").alias(id_col)))
        .distinct()
    )
    doc_sets = (
        sh.join(cand_docs, id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_list("shingle").alias("sh_set"))
    )
    a = doc_sets.select(F.col(id_col).alias("doc_id_1"), F.col("sh_set").alias("set_a"))
    b = doc_sets.select(F.col(id_col).alias("doc_id_2"), F.col("sh_set").alias("set_b"))
    v_inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    v_denom = F.least(F.size("set_a"), F.size("set_b"))
    verified = (
        to_verify.join(a, "doc_id_1")
        .join(b, "doc_id_2")
        .withColumn("containment", F.round(v_inter / v_denom, 4))
        .filter(F.col("containment") >= threshold)
        .select("doc_id_1", "doc_id_2", "containment")
    )
    return scope_caches(verified.unionByName(direct), sh, stats, scored)


def minhash_coeffs(num_perm: int):
    """The shared deterministic universal-hash family: ``(p, [(a_i, b_i)])``
    with ``p = 2³¹-1`` and constants from a fixed-seed PRNG, so batch
    signatures (:func:`minhash_signatures`) and the streaming per-row fold
    (streaming/dedup.py) agree bit-for-bit across runs, engines, and
    cluster sizes.  The first k pairs are a prefix of the first k' > k
    pairs, so different ``num_perm`` choices share their leading hashes."""
    import random

    p = 2147483647  # 2^31 - 1 (Mersenne prime)
    rng = random.Random(0x5EED)
    return p, [
        (rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_perm)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 128,
    sh: Optional[DataFrame] = None,
    group_extra: Sequence[str] = (),
) -> DataFrame:
    """Per-document MinHash signature: ``num_perm`` minimums over universal
    hash permutations.  ``group_extra`` keeps additional per-document
    columns (carried through ``sh``) in the grouping — they must be
    functionally dependent on ``id_col``.

    Each shingle is hashed ONCE (``xxhash64``), then permutation *i* is the
    classic universal hash ``(a_i·x + b_i) mod p`` with ``p = 2³¹-1`` — one
    string hash plus cheap integer arithmetic per permutation instead of
    ``num_perm`` string hashes (~8× faster at 128 perms).  Constants come
    from a fixed-seed PRNG, so signatures are deterministic across runs and
    clusters.  Operands stay < 2⁶² — safe under ANSI overflow checking.
    One shuffle on ``id_col``; map-side partial ``min`` per permutation.
    """
    p, coeffs = minhash_coeffs(num_perm)
    if sh is None:
        sh = shingles(df, text_col, id_col, n)
    sh = sh.withColumn("x", F.pmod(F.xxhash64(F.col("shingle")), F.lit(p)))
    aggs = [
        F.min(F.pmod(F.col("x") * F.lit(a) + F.lit(b), F.lit(p))).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return sh.groupBy(id_col, *group_extra).agg(*aggs)


def _band_keys(rows: int, bands: int):
    """One xxhash64 bucket key per band over ``rows`` signature columns —
    shared by the self-join and cross-corpus LSH paths so both sides of
    any band join bucket identically."""
    return F.array(
        *[
            F.xxhash64(F.lit(b), *[F.col(f"h{b * rows + r}") for r in range(rows)])
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
    """MinHash + LSH banding near-dup candidates, exact-Jaccard verified.

    ``bands`` bands of ``num_perm // bands`` rows; docs sharing any band
    bucket become candidates (P[detect] = 1-(1-J^r)^b ≈ 1 for J ≥ 0.9 at
    128/16).  With ``verify=True`` candidates are confirmed with exact
    Jaccard restricted to the candidate set — the 100 TB-safe route: LSH
    prunes the pair space, exact verification touches only survivors.
    """
    from pyspark import StorageLevel

    from tamar_spark.operators.cache import leased_persist, scope_caches

    rows = num_perm // bands
    # one persisted shingle set feeds both the signature aggregation and the
    # exact-Jaccard verification — without this the explode+distinct runs twice
    sh = leased_persist(
        widen_shingles(shingles(df, text_col, id_col, n), id_col),
        StorageLevel.MEMORY_AND_DISK,
    )
    # both sides of the band self-join derive from the signature table; persist
    # it (1 row/doc — tiny next to the corpus) so the 128-permutation
    # aggregation runs once, not once per join side
    sig = leased_persist(
        minhash_signatures(df, text_col, id_col, n, num_perm, sh=sh),
        StorageLevel.MEMORY_AND_DISK,
    )
    banded = sig.select(
        F.col(id_col),
        F.posexplode(_band_keys(rows, bands)).alias("band", "bucket"),
    )
    a = banded.select(F.col(id_col).alias("doc_id_1"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("doc_id_2"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    if not verify:
        return scope_caches(cand, sh, sig)
    # candidate-pair-bounded exact verification (shared with the capped
    # jaccard_pairs path — see _verify_pairs for the scale rationale)
    cand = leased_persist(cand, StorageLevel.MEMORY_AND_DISK)
    return scope_caches(_verify_pairs(sh, cand, id_col, threshold), sh, sig, cand)


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
    """Incremental (cross-corpus) near-dup join: match NEW documents
    against an EXISTING corpus — the "dedup this crawl against everything
    already ingested" operation, which self-join dedup cannot express
    without re-pairing the old corpus against itself.

    Same deterministic MinHash family and banding as
    :func:`minhash_lsh_pairs`; the band join is new×old instead of
    self×self, so cost is O(new-side candidates) — the old corpus
    contributes only its (1 row/doc) signature table.  At 100 TB the old
    side's signatures/band buckets are the persisted INDEX (write them
    once per ingest, bucketed by band key); an incremental batch computes
    its own signatures and equi-joins the index — nothing about the old
    corpus is rescanned.  Ids must be disjoint across the two frames.

    Returns ``(doc_id_1 = new id, doc_id_2 = old id, jaccard)``, exact-
    Jaccard verified at ``threshold`` when ``verify`` (pair-bounded, as
    everywhere in this module).

    Both corpora run through ONE tagged shingle/signature pass: the wide
    ``num_perm``-column aggregate is the dominant whole-stage-codegen
    cost, and two separate passes would compile (and scan) it twice for
    an identical plan shape (measured: single-pass halved the cold run).
    """
    from pyspark import StorageLevel

    from tamar_spark.operators.cache import leased_persist, scope_caches

    rows = num_perm // bands
    both = new_df.select(
        F.col(id_col), F.col(text_col), F.lit(True).alias("_is_new")
    ).unionByName(
        old_df.select(F.col(id_col), F.col(text_col), F.lit(False).alias("_is_new"))
    )
    sh = leased_persist(
        widen_shingles(
            shingles(both, text_col, id_col, n, carry_cols=("_is_new",)), id_col
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    sig = leased_persist(
        minhash_signatures(
            both, text_col, id_col, n, num_perm, sh=sh, group_extra=("_is_new",)
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    banded = sig.select(
        F.col(id_col),
        "_is_new",
        F.posexplode(_band_keys(rows, bands)).alias("band", "bucket"),
    )
    a = banded.filter(F.col("_is_new")).select(
        F.col(id_col).alias("doc_id_1"), "band", "bucket"
    )
    b = banded.filter(~F.col("_is_new")).select(
        F.col(id_col).alias("doc_id_2"), "band", "bucket"
    )
    cand = (
        a.join(b, ["band", "bucket"])
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    if not verify:
        return scope_caches(cand, sh, sig)
    cand = leased_persist(cand, StorageLevel.MEMORY_AND_DISK)
    return scope_caches(
        _verify_pairs(sh.select(id_col, "shingle"), cand, id_col, threshold),
        sh,
        sig,
        cand,
    )


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


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
    method: str = "blocked",
    dim: Optional[int] = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ``(src_id, dup_id, score)`` for
    every unordered pair with cosine ≥ ``threshold``.

    Three implementations:

    - ``method="lsh"`` (the 100 TB path): sign-LSH candidate buckets + exact
      in-bucket GEMM verify (:func:`dedup_embedding.lsh_cosine_pairs`) —
      scored pairs drop from O(n²) to Σ bucket²; requires ``dim``.
      Deterministic; ``n_tables`` auto-sized from the threshold so a pair
      AT the threshold is missed with probability ≤ 1e-4 (see
      ``dedup_embedding.lsh_tables_for`` — recall depends on each pair's
      actual cosine, and the boundary pair is the worst case).
    - ``method="blocked"`` (default, exact): block-pair fan-out + one dense
      numpy GEMM per tile inside ``applyInPandas`` (see
      :mod:`tamar_spark.operators.dedup_embedding`).  ~20× faster than the
      expression path at 5k vectors; replication factor ``n_blocks``, no
      broadcast, no driver collect — but O(n²) scored pairs by definition.
    - ``method="expr"``: pure-JVM self-join with a ``zip_with``/``aggregate``
      fold per pair — zero Python, used as the independent cross-check.
    """
    if method == "lsh":
        from tamar_spark.operators.dedup_embedding import lsh_cosine_pairs

        if dim is None:
            raise ValueError('method="lsh" requires dim')
        return lsh_cosine_pairs(
            df, threshold, dim=dim, id_col=id_col, vec_col=vec_col
        )
    if method == "blocked":
        from tamar_spark.operators.dedup_embedding import blocked_cosine_pairs

        return blocked_cosine_pairs(
            df, threshold, id_col=id_col, vec_col=vec_col, n_blocks=n_blocks
        )

    from tamar_spark.operators.similarity import dot, l2_norm

    v = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col).alias("_id"), v.alias("_v")).withColumn(
        "_n", l2_norm(F.col("_v"))
    )
    a = base.select(
        F.col("_id").alias("src_id"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    b = base.select(
        F.col("_id").alias("dup_id"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    score = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        a.join(b, F.col("src_id") < F.col("dup_id"))
        .withColumn("_s", score)
        .filter(F.col("_s") >= threshold)
        .select("src_id", "dup_id", F.round("_s", 6).alias("score"))
    )
