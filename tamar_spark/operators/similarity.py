"""Similarity search over embedding columns (``array<float>``).

LLM-pipeline extension surface (SURVEY §2.7) — absent in the reference.

Two tiers:
- :func:`cosine_topk` — exact brute force.  All math is JVM-side expression
  code (``zip_with`` + ``aggregate`` fold), no Python in the hot path.  The
  query side is broadcast; the corpus side streams through — at 100 TB this
  is one scan, no shuffle until the per-query top-k aggregation, which is
  tiny (k rows per query).
- :func:`lsh_topk` — sign-random-projection LSH bucketing with exact rerank
  inside buckets (multi-probe across ``n_tables`` independent tables).  The
  scale path: candidate generation is an equi-join on bucket keys instead of
  a full cross product.  Projections are derived deterministically from
  ``xxhash64`` so results are reproducible across runs and clusters with no
  shipped model state.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "cosine_topk",
    "lsh_topk",
    "mmr_topk",
    "ivf_geometry",
    "ivf_topk",
    "ivfpq_topk",
    "pq_topk",
    "sign_lsh_buckets",
]


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns (JVM fold — no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is broadcast (it must be small — the query set); the corpus
    scan is embarrassingly parallel; ranking is a per-query window over at
    most |corpus| rows, reduced early by Spark's TakeOrdered when possible.
    Deterministic tie-break: (score DESC, neighbor id ASC).
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col), _as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_qn", l2_norm(F.col("_qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    ).withColumn("_cn", l2_norm(F.col("_cv")))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col(query_id_col))
        .withColumn("score", dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            F.round("score", 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_candidates: int = 16,
    lam: float = 0.7,
    mu: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein):
    greedily pick ``k`` results maximizing ``lam·rel(q,d) −
    mu·max_{s∈selected} sim(d,s)`` — the diversified-retrieval /
    representative-sampling primitive (pick k EXAMPLES that cover a
    neighborhood, not k near-copies of the single best hit).

    Two stages:
    1. Candidate generation — exact cosine top-``n_candidates`` per query
       (broadcast query side, one corpus scan, per-query window).  At
       100 TB this is the only stage that touches the corpus.
    2. Greedy selection — ONE cogrouped-pandas stage over the candidate
       set and its pair sims, both bounded at ``n_queries ×
       n_candidates`` rows (``× n_candidates`` for pairs), NEVER
       corpus-sized; the per-query greedy walk is inherently sequential
       in ``k``, so it runs inside the stage instead of as ``k``
       unrolled plan rounds (r16 — the rounds were pure plan machinery:
       43 stages → 10, −57% wall).

    ``lam`` and ``mu`` are passed separately (NOT ``1 − lam``) so both
    engines parse the same decimal literal — ``1 − 0.7`` in IEEE double is
    0.30000000000000004, which would diverge from SQL's ``0.3``.
    Deterministic: argmax ties break on candidate id; float chains are
    bit-identical across engines (same fold order, same literals).
    Returns ``(query_id, pick, vec_id, mmr_score, relevance)`` with
    ``pick`` = 1-based selection order; ``pick`` 1 is the raw top-1 (its
    mmr_score = relevance; no penalty term yet).  Raises ``ValueError``
    (inside the selection stage) when a query's candidate ids repeat."""
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        _as_double(F.col(vec_col)).alias("_qv"),
    ).withColumn("_qn", l2_norm(F.col("_qv")))
    c = corpus.select(
        F.col(id_col).alias("cand"), _as_double(F.col(vec_col)).alias("_cv")
    ).withColumn("_cn", l2_norm(F.col("_cv")))
    scored = c.join(
        F.broadcast(q), F.col("cand") != F.col(query_id_col)
    ).withColumn(
        "rel", dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
    )
    w_rel = Window.partitionBy(query_id_col).orderBy(
        F.col("rel").desc(), F.col("cand").asc()
    )
    # localCheckpoint: cands and pairs are re-referenced by every greedy
    # round; without truncation Catalyst re-derives the corpus scan per
    # round branch.  All checkpoints in this kernel are LAZY (eager=False,
    # r15): the greedy loop is pure plan construction, and the one action
    # that consumes the final selection materializes the whole checkpoint
    # chain inside a single job — the eager form ran one fixed-cost job
    # per round (k+1 jobs of scheduler/AQE machinery for candidate-bounded
    # data that never exceeds n_queries × n_candidates rows).
    cands = (
        scored.withColumn("_rnk", F.row_number().over(w_rel))
        .filter(F.col("_rnk") <= n_candidates)
        .select(query_id_col, "cand", "rel", "_cv", "_cn")
        .localCheckpoint(eager=False)
    )
    a = cands.select(
        query_id_col,
        F.col("cand").alias("ca"),
        F.col("_cv").alias("_va"),
        F.col("_cn").alias("_na"),
    )
    b = cands.select(
        F.col(query_id_col).alias("_qb"),
        F.col("cand").alias("cb"),
        F.col("_cv").alias("_vb"),
        F.col("_cn").alias("_nb"),
    )
    pairs = (
        a.join(
            b,
            (F.col(query_id_col) == F.col("_qb")) & (F.col("ca") != F.col("cb")),
        )
        .withColumn(
            "sim",
            dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
        )
        .select(query_id_col, "ca", "cb", "sim")
        .localCheckpoint(eager=False)
    )
    slim = cands.select(query_id_col, "cand", "rel")
    # Greedy selection in ONE cogrouped stage (r16).  The k unrolled
    # DataFrame rounds were pure fixed cost: each round an anti-join, a
    # pair join + aggregate and a per-query window over a candidate set
    # bounded at n_queries × n_candidates rows — ~8 plan operators per
    # round and a lazy-checkpoint chain, dominating wall-clock at any SF
    # (scaling ratio 0.37: FASTER at 8 cores than 32).  The selection is
    # inherently sequential in k, so instead of k plan rounds it runs as
    # one `cogroup().applyInPandas` over (candidates, pair sims) per
    # query — the shuffled data is the same candidate-bounded set, the
    # plan is one exchange per side plus one Python stage.
    #
    # Float identity with the unrolled form (the declared oracle pins
    # results to 1e-6 but we keep exact bit parity): rel and sim stay
    # Spark-computed upstream (same zip_with/aggregate fold), and the
    # only arithmetic here — lam·rel − mu·maxsim — is the same two IEEE
    # multiplies and subtract.  Comparison semantics mirror Spark
    # ordering: DESC ranks NaN above everything, F.max treats NaN as
    # largest, ties break on candidate id ascending.
    import pandas as pd  # noqa: F401  (applyInPandas contract)
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(query_id_col, slim.schema[query_id_col].dataType),
            StructField("cand", slim.schema["cand"].dataType),
            StructField("mmr", DoubleType()),
            StructField("rel", DoubleType()),
            StructField("pick", IntegerType()),
        ]
    )

    def _greedy(left, right):
        import pandas as pd

        def better(v1, c1, v2, c2):
            # (v DESC with NaN largest, cand ASC) — Spark's sort order
            n1, n2 = v1 != v1, v2 != v2
            if n1 != n2:
                return n1
            if not n1 and v1 != v2:
                return v1 > v2
            return c1 < c2

        out = {query_id_col: [], "cand": [], "mmr": [], "rel": [], "pick": []}
        if not left.empty:
            qid = left[query_id_col].iloc[0]
            dup = left["cand"][left["cand"].duplicated()].tolist()
            if dup:
                raise ValueError(f"mmr_topk: query {qid} has duplicate ids {dup}")
            rel_by_c = dict(zip(left["cand"], left["rel"]))
            sim = {}
            for ca, cb, s in zip(right["ca"], right["cb"], right["sim"]):
                sim[(ca, cb)] = s
            best = None
            for c, r in rel_by_c.items():
                if best is None or better(r, c, best[1], best[0]):
                    best = (c, r)
            sel = [best[0]]
            rows = [(qid, best[0], best[1], rel_by_c[best[0]], 1)]
            for i in range(2, k + 1):
                best = None
                for c, r in rel_by_c.items():
                    if c in sel:
                        continue
                    sims = [sim[(c, s)] for s in sel if (c, s) in sim]
                    if not sims:  # inner-join semantics of the unrolled form
                        continue
                    maxsim = sims[0]
                    for v in sims[1:]:
                        if v != v or (maxsim == maxsim and v > maxsim):
                            maxsim = v  # F.max: NaN largest
                    mmr = lam * r - mu * maxsim
                    if best is None or better(mmr, c, best[1], best[0]):
                        best = (c, mmr)
                if best is None:
                    break
                sel.append(best[0])
                rows.append((qid, best[0], best[1], rel_by_c[best[0]], i))
            for row in rows:
                for col, v in zip(out, row):
                    out[col].append(v)
        return pd.DataFrame(
            {
                query_id_col: pd.Series(
                    out[query_id_col], dtype=left.dtypes[query_id_col]
                ),
                "cand": pd.Series(out["cand"], dtype=left.dtypes["cand"]),
                "mmr": pd.Series(out["mmr"], dtype="float64"),
                "rel": pd.Series(out["rel"], dtype="float64"),
                "pick": pd.Series(out["pick"], dtype="int32"),
            }
        )

    selected = (
        slim.groupBy(query_id_col)
        .cogroup(pairs.groupBy(query_id_col))
        .applyInPandas(_greedy, schema=out_schema)
    )
    return selected.select(
        query_id_col,
        F.col("pick").alias("pick"),
        F.col("cand").alias(id_col),
        "mmr",
        "rel",
    )


def _projection(dim: int, table: int, bit: int) -> list:
    """Deterministic pseudo-random unit projection via splitmix-style hashing."""
    import numpy as np

    rng = np.random.default_rng(abs(hash((0x9E3779B9, table, bit))) % (2**32))
    v = rng.standard_normal(dim)
    return (v / np.linalg.norm(v)).tolist()


def sign_lsh_buckets(vec: Column, dim: int, n_tables: int, n_bits: int) -> Column:
    """``array<int>`` of one sign-random-projection bucket id per table.

    Pure JVM expression (literal projection vectors + ``zip_with`` folds) —
    shared by :func:`lsh_topk` (ANN search) and
    :func:`tamar_spark.operators.dedup_embedding.lsh_cosine_pairs`
    (near-dup candidate generation).  Projections are derived
    deterministically from hashed (table, bit) seeds, so bucket ids are
    reproducible across runs and clusters with no shipped model state."""
    keys = []
    for t in range(n_tables):
        bit_terms = None
        for b in range(n_bits):
            proj = F.array(*[F.lit(x) for x in _projection(dim, t, b)])
            sgn = F.when(dot(vec, proj) >= 0, F.lit(1 << b)).otherwise(F.lit(0))
            bit_terms = sgn if bit_terms is None else bit_terms + sgn
        keys.append(bit_terms)
    return F.array(*keys)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_tables: int = 4,
    n_bits: int = 8,
    dim: Optional[int] = None,
) -> DataFrame:
    """Approximate top-k via sign-random-projection LSH + exact rerank.

    Each table hashes a vector to an ``n_bits`` sign bucket; a query only
    compares against corpus vectors sharing a bucket in at least one table.
    Recall improves with ``n_tables``; cost scales with bucket occupancy
    (~n / 2^n_bits per table).  Rerank inside candidates is exact cosine
    with the same deterministic tie-break as :func:`cosine_topk`.

    ``dim`` is required unless the ``vec_col`` schema field carries a
    ``{"dim": N}`` metadata entry — plan construction never runs a Spark
    job (an eager ``first()`` here would full-scan at 100 TB scale).
    """
    if dim is None:
        dim = corpus.schema[vec_col].metadata.get("dim")
    if dim is None:
        raise ValueError(
            "lsh_topk needs the embedding dimension: pass dim= or attach "
            f'{{"dim": N}} metadata to the {vec_col!r} schema field '
            "(inferring it would run an eager corpus scan at plan time)"
        )

    def bucket_expr(vec: Column) -> Column:
        return sign_lsh_buckets(vec, dim, n_tables, n_bits)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    ).withColumn("_cn", l2_norm(F.col("_cv")))
    q = queries.select(
        F.col(id_col).alias(query_id_col), _as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_qn", l2_norm(F.col("_qv")))

    c_b = c.select(
        "*", F.posexplode(bucket_expr(F.col("_cv"))).alias("table", "bucket")
    )
    q_b = q.select(
        "*", F.posexplode(bucket_expr(F.col("_qv"))).alias("table", "bucket")
    )
    cand = (
        c_b.join(F.broadcast(q_b), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", "_qv", "_qn", "_cv", "_cn")
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    scored = cand.withColumn(
        "score", dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            F.round("score", 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ivf_geometry(n: int) -> tuple:
    """Size-derived IVF geometry (r9 VERDICT task 3): ``nlist = ⌈√n⌉``
    (the standard IVF sizing rule — list length ~√n balances the
    centroid-compare cost against the probed-list scan) and
    ``nprobe = ⌈nlist/4⌉`` (a fixed 1/4 scan fraction, the operating
    point BASELINE.md's recall curve records: with the order-stable
    md5-sampled centroids, finer geometry at the SAME scan fraction
    strictly improves recall@5 — 0.465 → 0.57 raw at sf0.1 — because
    more random lists average out assignment noise).  At 100 TB swap in
    k-means-trained ``centroids=`` and lower the probe fraction; the
    derivation is only the untrained default."""
    nlist = max(1, math.ceil(math.sqrt(max(0, n))))
    return nlist, max(1, math.ceil(nlist / 4))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_centroids: Optional[int] = None,
    n_probe: Optional[int] = None,
    centroids: Optional[DataFrame] = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization.

    Structure: assign every corpus vector to its nearest of ``n_centroids``
    coarse centroids (the inverted lists); a query probes only its
    ``n_probe`` nearest lists and reranks those candidates exactly.  Probing
    ``n_probe/n_centroids`` of the corpus cuts scored pairs ~proportionally —
    the classic FAISS-style IVF trade-off, here as pure DataFrame ops:

    - centroid assignment: broadcast the (tiny) centroid table, per-row
      ``min_by`` over the scored cross product — no shuffle of the corpus;
    - the inverted "lists" are just a ``list_id`` column; the candidate
      generation is an equi-join on it (hash-shuffled at scale, or broadcast
      when the probed query set is small);
    - rerank: exact cosine, deterministic (score DESC, id ASC) tie-break.

    Default centroid seed: the ``n_centroids`` corpus rows with the
    smallest ``md5(id)`` hex digest — an order-stable deterministic sample
    (r2 ADVICE fix: the previous ``filter().limit()`` pick was
    partition-layout-dependent, as was ``monotonically_increasing_id`` for
    ``list_id``).  md5 rather than xxhash64 so the DuckDB oracle can
    reproduce the identical pick (both engines agree on md5 hex of the
    same string).  ``orderBy(hash).limit(n)`` compiles to
    TakeOrderedAndProject — a per-partition top-n heap + single merge, NOT
    a full sort shuffle — and the hash ordering spreads picks across the
    id space.  ``list_id`` is a ``row_number`` over the ≤n_centroids-row
    seed, so assignments are reproducible across partition layouts and
    AQE decisions.  Lazy: no Spark job runs at plan-construction time
    with explicit geometry; the size-derived default costs exactly one
    corpus-count pre-flight (pinned in the laziness contract test).
    At 100 TB pass ``centroids=`` an offline-trained k-means table (e.g.
    ``pyspark.ml.clustering.KMeans`` on a sample) with columns
    ``(list_id, _cent, _cent_n)`` — the plan shape and everything
    downstream of the centroid table is unchanged.

    ``n_centroids`` / ``n_probe`` default to the SIZE-DERIVED geometry
    (:func:`ivf_geometry` — one corpus count as the pre-flight, the
    same measured-condition pattern as the k-core broadcast pick and
    SemDeDup's in-plan ``k``); pass explicit values to pin a geometry.
    With a trained ``centroids=`` table the default ``n_probe`` is
    ``⌈centroids.count()/4⌉`` — the trained table's OWN list count, so
    the 1/4 scan-fraction contract holds whatever nlist was trained —
    and the corpus is never counted (r10 ADVICE).
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    ).withColumn("_cn", l2_norm(F.col("_cv")))
    q = queries.select(
        F.col(id_col).alias(query_id_col), _as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_qn", l2_norm(F.col("_qv")))
    if centroids is not None:
        # Trained-centroid path (r10 ADVICE): the list count is the
        # CENTROID table's row count, not ⌈√corpus⌉ — deriving nprobe
        # from the corpus would silently break the documented 1/4-of-
        # nlist scan fraction whenever the trained nlist differs (and
        # pay a corpus-count pre-flight whose nlist is then unused).
        # The centroid table is broadcast-small by contract, so this
        # count is a cheap pre-flight; pass explicit n_probe to skip it.
        if n_probe is None:
            n_probe = max(1, math.ceil(centroids.count() / 4))
    elif n_centroids is None or n_probe is None:
        d_nlist, d_nprobe = ivf_geometry(corpus.count())
        n_centroids = d_nlist if n_centroids is None else n_centroids
        n_probe = d_nprobe if n_probe is None else n_probe

    if centroids is not None:
        cents = centroids
    else:
        seed = (
            c.withColumn("_h", F.md5(F.col("neighbor_id").cast("string")))
            .orderBy("_h", "neighbor_id")
            .limit(n_centroids)
        )
        # the seed is ≤ n_centroids rows, so the unpartitioned window is a
        # single tiny task, not a data funnel
        cents = seed.select(
            (
                F.row_number().over(Window.orderBy("_h", "neighbor_id")) - 1
            ).alias("list_id"),
            F.col("_cv").alias("_cent"),
            F.col("_cn").alias("_cent_n"),
        )
    sim_to_cent = dot(F.col("_cv"), F.col("_cent")) / (F.col("_cn") * F.col("_cent_n"))
    assigned = (
        c.join(F.broadcast(cents))
        .withColumn("_s", sim_to_cent)
        .groupBy("neighbor_id")
        .agg(
            F.min_by("list_id", F.struct((-F.col("_s")).alias("s"), "list_id")).alias("list_id"),
            F.first("_cv").alias("_cv"),
            F.first("_cn").alias("_cn"),
        )
    )
    q_sim = dot(F.col("_qv"), F.col("_cent")) / (F.col("_qn") * F.col("_cent_n"))
    q_lists = (
        q.join(F.broadcast(cents))
        .withColumn("_s", q_sim)
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy(query_id_col).orderBy(F.col("_s").desc(), "list_id")
            ),
        )
        .filter(F.col("_rk") <= n_probe)
        .select(query_id_col, "list_id", "_qv", "_qn")
    )
    cand = (
        assigned.join(q_lists, "list_id")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
    )
    scored = cand.withColumn(
        "score", dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            F.round("score", 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_sub: int = 4,
    n_codes: int = 16,
    dim: Optional[int] = None,
    codebooks: Optional[DataFrame] = None,
    rerank: Optional[int] = None,
) -> DataFrame:
    """Approximate top-k via product quantization (PQ) with ADC scoring.

    The memory-bound tier of the ANN family: each vector is compressed to
    ``n_sub`` codebook indices (here 4×4 bits = 2 bytes vs 256 bytes of
    floats — a 128× compression), and query-to-vector inner products are
    approximated **asymmetrically** (ADC, Jégou et al. 2011): the exact
    query chunk is dotted against each subspace codebook once, producing a
    per-query lookup table of ``n_sub × n_codes`` partial scores; scoring a
    compressed vector is then ``n_sub`` table lookups + adds, no float
    vector ever touched.

    As DataFrame ops:
    - codebooks: deterministic seed (the ``n_codes`` corpus rows with
      smallest ``md5(id)``, the IVF pattern) sliced into per-subspace
      chunks — a ≤``n_sub·n_codes``-row broadcast table.  At 100 TB pass
      ``codebooks=`` an offline-trained table ``(m, code, _ce)`` — plan
      shape unchanged.
    - encode (one-off, amortized across queries): corpus chunks ⋈
      broadcast codebook, nearest code per (vector, subspace) by squared
      L2 — no shuffle of the corpus beyond the tiny per-key ``min_by``.
    - ADC scan: the code table ⋈ broadcast LUT is a map-side join; the
      only shuffle is the per-(query, neighbor) 4-row rollup and the
      per-query top-k — both on well-distributed keys.
    - rerank (default ``4·k``, ``rerank=0`` for pure ADC): the ADC scan
      PRUNES to the top-``rerank`` candidates, which are then scored by
      exact cosine — the standard PQ+rerank pipeline.  Compression this
      coarse (n_codes^n_sub cells) collapses ultra-close neighbors onto
      one code word, so pure ADC cannot order within a tight cluster;
      rerank touches only R float vectors per query and restores exact
      ordering among survivors.

    Determinism: every float op is an exactly-rounded IEEE double op in a
    FIXED order — ``d² = (⟨x,x⟩ − 2⟨x,c⟩) + ⟨c,c⟩`` left-to-right, the ADC
    sum added in subspace order (never a ``sum()`` whose order the engine
    chooses) — so the DuckDB twin replays scores bitwise and ties break on
    (score DESC, id).
    """
    if dim is None:
        dim = corpus.schema[vec_col].metadata.get("dim")
    if dim is None:
        raise ValueError(
            "pq_topk needs the embedding dimension: pass dim= or attach "
            f'{{"dim": N}} metadata to the {vec_col!r} schema field'
        )
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible into {n_sub} subspaces")
    sub_dim = dim // n_sub

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col), _as_double(F.col(vec_col)).alias("_qv")
    )

    def chunks(vec: Column) -> Column:
        return F.array(*[F.slice(vec, m * sub_dim + 1, sub_dim) for m in range(n_sub)])

    if codebooks is None:
        seed = (
            c.withColumn("_h", F.md5(F.col("neighbor_id").cast("string")))
            .orderBy("_h", "neighbor_id")
            .limit(n_codes)
        )
        cents = seed.select(
            (F.row_number().over(Window.orderBy("_h", "neighbor_id")) - 1).alias("code"),
            F.col("_cv"),
        )
        codebooks = cents.select(
            "code", F.posexplode(chunks(F.col("_cv"))).alias("m", "_ce")
        )

    d2 = (
        dot(F.col("_ch"), F.col("_ch")) - 2 * dot(F.col("_ch"), F.col("_ce"))
    ) + dot(F.col("_ce"), F.col("_ce"))
    c_chunks = c.select(
        "neighbor_id", F.posexplode(chunks(F.col("_cv"))).alias("m", "_ch")
    )
    codes = (
        c_chunks.join(F.broadcast(codebooks), "m")
        .withColumn("_d2", d2)
        .groupBy("neighbor_id", "m")
        .agg(F.min_by("code", F.struct("_d2", "code")).alias("code"))
    )

    q_chunks = q.select(
        query_id_col, F.posexplode(chunks(F.col("_qv"))).alias("m", "_qh")
    )
    lut = q_chunks.join(F.broadcast(codebooks), "m").select(
        query_id_col, "m", "code", dot(F.col("_qh"), F.col("_ce")).alias("_p")
    )
    parts = codes.join(F.broadcast(lut), ["m", "code"]).filter(
        F.col("neighbor_id") != F.col(query_id_col)
    )
    pivot = parts.groupBy(query_id_col, "neighbor_id").agg(
        *[
            F.sum(F.when(F.col("m") == j, F.col("_p"))).alias(f"_p{j}")
            for j in range(n_sub)
        ]
    )
    score = F.col("_p0")
    for j in range(1, n_sub):
        score = score + F.col(f"_p{j}")
    scored = pivot.withColumn("score", score)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    if rerank is None:
        rerank = 4 * k
    if rerank:
        # PQ's resolution is n_codes^n_sub cells: ultra-close neighbors
        # collapse to one code word and tie under ADC, so the compressed
        # scan is a PRUNER, not a ranker.  Keep the ADC top-``rerank`` and
        # rank those exactly — only R float vectors per query are touched.
        cand = (
            scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= rerank)
            .select(query_id_col, "neighbor_id")
        )
        cw = c.withColumn("_cn", l2_norm(F.col("_cv")))
        qw = q.withColumn("_qn", l2_norm(F.col("_qv")))
        scored = (
            cand.join(cw, "neighbor_id")
            .join(F.broadcast(qw), query_id_col)
            .withColumn(
                "score",
                dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")),
            )
        )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            F.round("score", 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_centroids: Optional[int] = None,
    n_probe: Optional[int] = None,
    n_sub: int = 4,
    n_codes: int = 16,
    dim: Optional[int] = None,
    rerank: int = 50,
    centroids: Optional[DataFrame] = None,
) -> DataFrame:
    """IVF+PQ composed (Jégou et al. 2011, the FAISS ``IVFPQ`` shape) —
    the production ANN tier at 100 TB, where neither standalone path
    suffices: IVF alone still stores and scans full float vectors inside
    probed lists; PQ alone still ADC-scans the ENTIRE corpus.  Composed:

    - **coarse prune (IVF)**: assign every vector to its nearest of
      ``n_centroids`` coarse centroids; a query touches only its
      ``n_probe`` nearest lists — candidate volume ~``n_probe/n_centroids``
      of the corpus;
    - **residual PQ encode**: compress ``v − centroid(list)`` (the
      residual — much lower variance than raw vectors, so the same
      codebook budget quantizes finer) to ``n_sub`` codebook indices;
      codebooks are SHARED across lists (the classic memory/accuracy
      trade; per-list codebooks are the other knob);
    - **ADC scan inside probed lists**: ``⟨q,v⟩ = ⟨q,c_list⟩ +
      ⟨q, v−c_list⟩`` — the first term is already computed when probing,
      the second is ``n_sub`` lookup-table adds against the per-query LUT
      ``⟨q_m, codebook_entry⟩`` (no corpus float vector touched); the
      approximate cosine divides by the STORED exact vector norm (one
      float per vector — standard practice; the per-query ``‖q‖`` is a
      constant factor and drops out of the ranking);
    - **exact rerank** of the ADC top-``rerank`` (the measured-r6 quality
      knob: rerank depth, not codebook size, dominates recall).

    Determinism (full oracle-hash checkability): coarse centroids seed
    from the ``n_centroids`` smallest ``md5(id)`` rows (the IVF pattern);
    residual codebooks seed from the ``n_codes`` smallest
    ``md5('r' || id)`` rows — a DIFFERENT hash stream, because the
    coarse-seed rows are their own centroids and their residuals are the
    zero vector (a degenerate codebook).  Every float op is an
    exactly-rounded IEEE double in a pinned order: residual subtraction
    per component, ``d² = (⟨r,r⟩ − 2⟨r,ce⟩) + ⟨ce,ce⟩``, the ADC sum as
    ``(((⟨q,c⟩ + p₀) + p₁) + p₂) + p₃``.  Ties break (score DESC, id).

    Scale: centroid and codebook tables broadcast (KBs); the corpus-side
    plan is one assignment pass (broadcast argmax), one encode pass
    (broadcast argmin per subspace), then an equi-join on ``list_id``
    with the probed query lists; per-vector storage afterward is
    ``n_sub`` codes + one norm + one list id.

    Coarse geometry (``n_centroids``/``n_probe``) defaults to the same
    SIZE-DERIVED rule as :func:`ivf_topk` (:func:`ivf_geometry`, one
    corpus-count pre-flight); the PQ compression config
    (``n_sub``/``n_codes``) stays an explicit knob — it sets bytes per
    vector, a capacity decision, not an index-shape one.

    ``centroids=`` accepts the same offline-TRAINED coarse-quantizer
    table as :func:`ivf_topk` (``(list_id, _cent, _cent_n)``, e.g. from
    ``clustering.kmeans_centroids``) — the production IVFPQ shape at
    100 TB, where the quantizer is trained once on a sample and every
    index build reuses it.  Under the same contract: the default
    ``n_probe`` follows the TRAINED table's own row count
    (``⌈centroids.count()/4⌉`` — the 1/4 scan fraction holds whatever
    nlist was trained) and the corpus is never counted.  The residual
    codebooks still seed from the corpus's own ``md5('r'||id)`` stream:
    with trained centroids no corpus row is exactly its own centroid, so
    every seed residual is informative (strictly better-conditioned than
    the untrained case the separate hash stream exists to protect).
    """
    if dim is None:
        dim = corpus.schema[vec_col].metadata.get("dim")
    if dim is None:
        raise ValueError(
            "ivfpq_topk needs the embedding dimension: pass dim= or attach "
            f'{{"dim": N}} metadata to the {vec_col!r} schema field'
        )
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible into {n_sub} subspaces")
    sub_dim = dim // n_sub
    if centroids is not None:
        # trained-quantizer path: the scan-fraction contract follows the
        # CENTROID table's own row count, never the corpus (the r10
        # ADVICE rule ivf_topk pins; same rationale here)
        if n_probe is None:
            n_probe = max(1, math.ceil(centroids.count() / 4))
    elif n_centroids is None or n_probe is None:
        d_nlist, d_nprobe = ivf_geometry(corpus.count())
        n_centroids = d_nlist if n_centroids is None else n_centroids
        n_probe = d_nprobe if n_probe is None else n_probe

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    ).withColumn("_cn", l2_norm(F.col("_cv")))
    q = queries.select(
        F.col(id_col).alias(query_id_col), _as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_qn", l2_norm(F.col("_qv")))

    if centroids is not None:
        cents = centroids
    else:
        seed = (
            c.withColumn("_h", F.md5(F.col("neighbor_id").cast("string")))
            .orderBy("_h", "neighbor_id")
            .limit(n_centroids)
        )
        cents = seed.select(
            (F.row_number().over(Window.orderBy("_h", "neighbor_id")) - 1).alias(
                "list_id"
            ),
            F.col("_cv").alias("_cent"),
            F.col("_cn").alias("_cent_n"),
        )

    sim = dot(F.col("_cv"), F.col("_cent")) / (F.col("_cn") * F.col("_cent_n"))

    def assign_residual(rows: DataFrame, *carry: str) -> DataFrame:
        # Nearest-centroid assignment + residual as a partial-aggregating
        # min_by over the broadcast cross product (the ivf_topk shape) —
        # NOT a per-vector sort window: the hash aggregate combines
        # map-side, needs no sort, and shuffles one row per vector.
        # min_by on struct(-_s, list_id) ≡ row_number over
        # (_s DESC, list_id ASC): negation is exact on doubles and the
        # struct comparison is lexicographic, so the winner is identical.
        return (
            rows.join(F.broadcast(cents))
            .withColumn("_s", sim)
            .groupBy("neighbor_id")
            .agg(
                F.min_by(
                    F.struct("list_id", "_cent"),
                    F.struct((-F.col("_s")).alias("s"), "list_id"),
                ).alias("_win"),
                F.first("_cv").alias("_cv"),
                *[F.first(col).alias(col) for col in carry],
            )
            .select(
                "neighbor_id",
                F.col("_win.list_id").alias("list_id"),
                F.zip_with(
                    "_cv", F.col("_win._cent"), lambda x, y: x - y
                ).alias("_rv"),
                *carry,
            )
        )

    def chunks(vec: Column) -> Column:
        return F.array(
            *[F.slice(vec, m * sub_dim + 1, sub_dim) for m in range(n_sub)]
        )

    assigned = assign_residual(c, "_cn")
    # The codebook seed is hash-picked by md5('r' || id) — a pure function
    # of the id, so the ≤n_codes winners are selected from the RAW corpus
    # first (one TakeOrdered over the scan) and only those rows pay the
    # centroid assignment, instead of evaluating the full corpus-wide
    # assignment subtree just to discard all but n_codes rows of it.
    cb_seed = assign_residual(
        c.withColumn(
            "_h",
            F.md5(F.concat(F.lit("r"), F.col("neighbor_id").cast("string"))),
        )
        .orderBy("_h", "neighbor_id")
        .limit(n_codes),
        "_h",
    )
    cbooks = cb_seed.select(
        (F.row_number().over(Window.orderBy("_h", "neighbor_id")) - 1).alias(
            "code"
        ),
        F.col("_rv"),
    ).select("code", F.posexplode(chunks(F.col("_rv"))).alias("m", "_ce"))

    d2 = (
        dot(F.col("_rh"), F.col("_rh")) - 2 * dot(F.col("_rh"), F.col("_ce"))
    ) + dot(F.col("_ce"), F.col("_ce"))
    r_chunks = assigned.select(
        "neighbor_id",
        "list_id",
        "_cn",
        F.posexplode(chunks(F.col("_rv"))).alias("m", "_rh"),
    )
    codes = (
        r_chunks.join(F.broadcast(cbooks), "m")
        .withColumn("_d2", d2)
        .groupBy("neighbor_id", "m")
        .agg(
            F.min_by("code", F.struct("_d2", "code")).alias("code"),
            F.first("list_id").alias("list_id"),
            F.first("_cn").alias("_cn"),
        )
    )

    q_sim = dot(F.col("_qv"), F.col("_cent")) / (F.col("_qn") * F.col("_cent_n"))
    w_probe = Window.partitionBy(query_id_col).orderBy(
        F.col("_s").desc(), "list_id"
    )
    q_lists = (
        q.join(F.broadcast(cents))
        .withColumn("_s", q_sim)
        .withColumn("_qc", dot(F.col("_qv"), F.col("_cent")))
        .withColumn("_prk", F.row_number().over(w_probe))
        .filter(F.col("_prk") <= n_probe)
        .select(query_id_col, "list_id", "_qc")
    )
    q_chunks = q.select(
        query_id_col, F.posexplode(chunks(F.col("_qv"))).alias("m", "_qh")
    )
    lut = q_chunks.join(F.broadcast(cbooks), "m").select(
        query_id_col, "m", "code", dot(F.col("_qh"), F.col("_ce")).alias("_p")
    )

    parts = (
        codes.join(F.broadcast(q_lists), "list_id")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .join(F.broadcast(lut), [query_id_col, "m", "code"])
    )
    pivot = parts.groupBy(query_id_col, "neighbor_id").agg(
        F.first("_qc").alias("_qc"),
        F.first("_cn").alias("_cn"),
        *[
            F.sum(F.when(F.col("m") == j, F.col("_p"))).alias(f"_p{j}")
            for j in range(n_sub)
        ],
    )
    ip = F.col("_qc")
    for j in range(n_sub):
        ip = ip + F.col(f"_p{j}")
    # ranked by ip/‖v‖ — the per-query ‖q‖ factor is constant within a
    # partition, so dividing by it cannot change any ADC ordering
    scored = pivot.withColumn("score", ip / F.col("_cn"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= rerank)
        .select(query_id_col, "neighbor_id")
    )
    qw = q.select(query_id_col, "_qv", "_qn")
    exact = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(qw), query_id_col)
        .withColumn(
            "score",
            dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")),
        )
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            F.round("score", 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
