"""Similarity search over embedding columns (``array<float>``).

Six top-k operators.  Each index only proposes ``(query, neighbor)``
candidates; one exact scorer ranks them:

- :func:`cosine_topk` — brute force: every corpus row is a candidate of
  every (broadcast) query.
- :func:`lsh_topk` — sign-random-projection LSH: the corpus rows sharing
  a bucket with the query in at least one of ``n_tables`` tables.
- :func:`ivf_topk` — IVF: the corpus rows in the query's ``n_probe``
  nearest coarse lists.
- :func:`pq_topk` — product quantization: the ADC top ``_RERANK`` of a
  compressed scan of the whole corpus.
- :func:`ivfpq_topk` — IVF + residual PQ: the ADC top ``_RERANK`` inside
  the probed lists.
- :func:`mmr_topk` — the exact top ``n_candidates`` feed one greedy
  diversification stage.

The scorer is :func:`_exact_rank`: the exact cosine ``⟨q,c⟩/(‖q‖·‖c‖)``
as a JVM ``zip_with``/``aggregate`` fold, then a per-query
``row_number`` over (score DESC, neighbor id ASC).  Every float chain is
an IEEE fold in a fixed order, so the DuckDB oracles replay scores bit
for bit.  Building a plan runs no Spark job, except the corpus or
centroid count that sizes a default IVF geometry.
"""

from __future__ import annotations

import math
from functools import reduce
from operator import add
from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

__all__ = [
    "dot",
    "l2_norm",
    "cosine_topk",
    "lsh_topk",
    "mmr_topk",
    "ivf_geometry",
    "ivf_topk",
    "ivfpq_topk",
    "pq_topk",
    "sign_lsh_buckets",
]

# ADC candidates per query that pq_topk and ivfpq_topk pass to the exact
# scorer: rerank depth, not codebook size, sets their recall
_RERANK = 50


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns (JVM fold — no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _cosine(a: str, na: str, b: str, nb: str) -> Column:
    """Exact cosine of array columns ``a`` and ``b`` with norms ``na``, ``nb``."""
    return dot(F.col(a), F.col(b)) / (F.col(na) * F.col(nb))


def _side(
    df: DataFrame, id_col: str, vec_col: str, key: str, tag: str, *carry
) -> DataFrame:
    """``(key, *carry, _<tag>v, _<tag>n)``: the id, the ``carry`` columns,
    the vector as ``array<double>`` and its L2 norm.  ``tag`` is ``c``
    for the corpus and ``q`` for the queries."""
    v = f"_{tag}v"
    return df.select(
        F.col(id_col).alias(key), *carry, F.col(vec_col).cast("array<double>").alias(v)
    ).withColumn(f"_{tag}n", l2_norm(F.col(v)))


def _dim(
    corpus: DataFrame, vec_col: str, dim: Optional[int], who: str, n_sub: int = 1
) -> int:
    """``dim``, else the ``{"dim": N}`` metadata of the vector field; a
    plan never infers it, because that would scan the corpus."""
    if dim is None:
        dim = corpus.schema[vec_col].metadata.get("dim")
    if dim is None:
        raise ValueError(
            f"{who} needs the embedding dimension: pass dim= or attach "
            f'{{"dim": N}} metadata to the {vec_col!r} schema field '
            "(inferring it would run an eager corpus scan at plan time)"
        )
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible into {n_sub} subspaces")
    return dim


def _ranked(
    df: DataFrame, n: int, part: str, score: str, key: str, rank: str
) -> DataFrame:
    """The rows numbered 1..``n`` in column ``rank`` by ``row_number``
    over (``score`` DESC, ``key`` ASC) within each ``part``."""
    w = Window.partitionBy(part).orderBy(F.col(score).desc(), F.col(key).asc())
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= n)


def _exact_rank(
    pairs: DataFrame,
    n: int,
    query_id_col: str,
    key: str = "neighbor_id",
    score: str = "score",
    rank: str = "rank",
) -> DataFrame:
    """The scorer: each query's top ``n`` candidate rows by exact cosine.
    ``pairs`` carries both vectors and norms (``_qv, _qn, _cv, _cn``)."""
    scored = pairs.withColumn(score, _cosine("_qv", "_qn", "_cv", "_cn"))
    return _ranked(scored, n, query_id_col, score, key, rank)


def _exact_topk(pairs: DataFrame, k: int, query_id_col: str, *extra) -> DataFrame:
    """``(query_id, neighbor_id, *extra, score, rank)``: :func:`_exact_rank`
    with the score rounded to 6 places and an int rank."""
    return _exact_rank(pairs, k, query_id_col).select(
        query_id_col,
        "neighbor_id",
        *extra,
        F.round("score", 6).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )


def _all_pairs(
    c: DataFrame,
    q: DataFrame,
    query_id_col: str,
    key: str = "neighbor_id",
    cond: Optional[Column] = None,
) -> DataFrame:
    """Brute-force candidates: every corpus row against every broadcast
    query except itself, narrowed by ``cond``."""
    on = F.col(key) != F.col(query_id_col)
    return c.join(F.broadcast(q), on if cond is None else on & cond)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector:
    ``(query_id, neighbor_id, score, rank)``.

    ``queries`` is broadcast (it must be small — the query set); the corpus
    scan is embarrassingly parallel; ranking is a per-query window.
    Deterministic tie-break: (score DESC, neighbor id ASC).
    """
    c = _side(corpus, id_col, vec_col, "neighbor_id", "c")
    q = _side(queries, id_col, vec_col, query_id_col, "q")
    return _exact_topk(_all_pairs(c, q, query_id_col), k, query_id_col)


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
    mu·max_{s∈selected} sim(d,s)``.

    Two stages:
    1. Candidates — the exact cosine top-``n_candidates`` per query
       (broadcast query side, one corpus scan, per-query window).  This
       is the only stage that touches the corpus.
    2. Greedy selection — one cogrouped-pandas stage over the candidates
       and their pair sims, at most ``n_queries × n_candidates`` rows
       (``× n_candidates`` for pairs), never corpus-sized.

    ``lam`` and ``mu`` are passed separately (not ``1 − lam``) so both
    engines parse the same decimal literal — ``1 − 0.7`` in IEEE double is
    0.30000000000000004, which would diverge from SQL's ``0.3``.
    Deterministic: argmax ties break on candidate id; float chains are
    bit-identical across engines (same fold order, same literals).
    Returns ``(query_id, pick, vec_id, mmr_score, relevance)`` with
    ``pick`` = 1-based selection order; ``pick`` 1 is the raw top-1 (its
    mmr_score = relevance; no penalty term yet).  Raises ``ValueError``
    (inside the selection stage) when a query's candidate ids repeat."""
    q = _side(queries, id_col, vec_col, query_id_col, "q")
    c = _side(corpus, id_col, vec_col, "cand", "c")
    # lazy checkpoints: the selection reads cands twice (slim and pairs),
    # and the one action that consumes it materializes both in one job
    cands = (
        _exact_rank(
            _all_pairs(c, q, query_id_col, "cand"),
            n_candidates,
            query_id_col,
            key="cand",
            score="rel",
            rank="_rnk",
        )
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
        .withColumn("sim", _cosine("_va", "_na", "_vb", "_nb"))
        .select(query_id_col, "ca", "cb", "sim")
        .localCheckpoint(eager=False)
    )
    slim = cands.select(query_id_col, "cand", "rel")
    # rel and sim are Spark-computed upstream; the only arithmetic in the
    # stage is lam·rel − mu·maxsim (two IEEE multiplies and a subtract).
    # Comparisons mirror Spark ordering: DESC ranks NaN above everything,
    # F.max treats NaN as largest, ties break on candidate id ascending.
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
                    if not sims:  # a candidate with no pair sim is skipped
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
    """``array<int>`` of one sign-random-projection bucket id per table:
    bit ``b`` of table ``t`` is set when ``⟨vec, _projection(dim, t, b)⟩
    ≥ 0``.  Projections are seeded by (table, bit), so bucket ids are
    reproducible across runs and clusters with no shipped model state.

    One ``F.expr`` over one SQL string: ``vec`` enters by its SQL text,
    each projection as ``repr(x)D`` double literals, and each dot product
    is :func:`dot`'s left-to-right ``aggregate(zip_with(...))`` fold, which
    ``queries._lsh_topk_oracle`` replays."""
    v = vec._jc.toString()

    def bit(t: int, b: int) -> str:
        proj = ", ".join(f"{x!r}D" for x in _projection(dim, t, b))
        return (
            f"CASE WHEN aggregate(zip_with({v}, array({proj}), (x, y) -> x * y), "
            f"0.0D, (x, y) -> x + y) >= 0 THEN {1 << b} ELSE 0 END"
        )

    tables = (" + ".join(bit(t, b) for b in range(n_bits)) for t in range(n_tables))
    return F.expr(f"array({', '.join(tables)})")


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
    (~n / 2^n_bits per table).  Candidates are ranked by the exact cosine
    with the same deterministic tie-break as :func:`cosine_topk`.

    ``dim`` is required unless the ``vec_col`` schema field carries a
    ``{"dim": N}`` metadata entry.
    """
    dim = _dim(corpus, vec_col, dim, "lsh_topk")
    c = _side(corpus, id_col, vec_col, "neighbor_id", "c")
    q = _side(queries, id_col, vec_col, query_id_col, "q")

    def bucketed(side: DataFrame, vec: str) -> DataFrame:
        buckets = sign_lsh_buckets(F.col(vec), dim, n_tables, n_bits)
        return side.select("*", F.posexplode(buckets).alias("table", "bucket"))

    cand = (
        bucketed(c, "_cv")
        .join(F.broadcast(bucketed(q, "_qv")), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", "_qv", "_qn", "_cv", "_cn")
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    return _exact_topk(cand, k, query_id_col)


def ivf_geometry(n: int) -> tuple:
    """Size-derived IVF geometry: ``nlist = ⌈√n⌉`` (list length ~√n
    balances the centroid compare against the probed-list scan) and
    ``nprobe = ⌈nlist/4⌉``, a fixed 1/4 scan fraction.  This is only the
    untrained default; at scale pass k-means-trained centroids and a
    lower probe fraction."""
    nlist = max(1, math.ceil(math.sqrt(max(0, n))))
    return nlist, max(1, math.ceil(nlist / 4))


def _md5_seed(c: DataFrame, n: int, prefix: str = "") -> DataFrame:
    """The ``n`` corpus rows with the smallest ``md5(prefix || id)`` hex
    digest, kept as ``_h``: an order-stable sample that DuckDB picks
    identically.  Compiles to one TakeOrderedAndProject."""
    key = F.col("neighbor_id").cast("string")
    if prefix:
        key = F.concat(F.lit(prefix), key)
    return c.withColumn("_h", F.md5(key)).orderBy("_h", "neighbor_id").limit(n)


def _ordinal(name: str) -> Column:
    """0-based position of a :func:`_md5_seed` row in (``_h``, id) order;
    the window runs over at most ``n`` rows."""
    return (F.row_number().over(Window.orderBy("_h", "neighbor_id")) - 1).alias(name)


def _coarse(
    corpus: DataFrame,
    c: DataFrame,
    n_centroids: Optional[int],
    n_probe: Optional[int],
    centroids: Optional[DataFrame],
) -> tuple:
    """``(cents, n_probe)``: the coarse centroid table
    ``(list_id, _cent, _cent_n)`` and the probe count.

    A trained ``centroids`` table is used as given, and the default
    ``n_probe`` is ``⌈centroids.count()/4⌉``: the 1/4 scan fraction of
    the trained list count, and the corpus is never counted.  Otherwise
    the centroids are the ``n_centroids`` md5-seed rows of ``c``, and
    a missing ``n_centroids`` or ``n_probe`` comes from
    :func:`ivf_geometry` over one corpus count."""
    if centroids is not None:
        if n_probe is None:
            n_probe = max(1, math.ceil(centroids.count() / 4))
        return centroids, n_probe
    if n_centroids is None or n_probe is None:
        d_nlist, d_nprobe = ivf_geometry(corpus.count())
        n_centroids = d_nlist if n_centroids is None else n_centroids
        n_probe = d_nprobe if n_probe is None else n_probe
    cents = _md5_seed(c, n_centroids).select(
        _ordinal("list_id"),
        F.col("_cv").alias("_cent"),
        F.col("_cn").alias("_cent_n"),
    )
    return cents, n_probe


def _to_centroids(rows: DataFrame, cents: DataFrame, tag: str) -> DataFrame:
    """Each row against every broadcast centroid, with the cosine of its
    ``_<tag>v`` vector to the centroid as ``_s``."""
    return rows.join(F.broadcast(cents)).withColumn(
        "_s", _cosine(f"_{tag}v", f"_{tag}n", "_cent", "_cent_n")
    )


def _probe(
    q: DataFrame,
    cents: DataFrame,
    n_probe: int,
    query_id_col: str,
    rank: str,
    *keep,
    **extra,
) -> DataFrame:
    """``(query_id, list_id, *keep)`` for each query's ``n_probe`` nearest
    lists (ties on the lower list id); ``extra`` columns are computed on
    the (query, centroid) rows before ranking."""
    lists = _to_centroids(q, cents, "q")
    for name, col in extra.items():
        lists = lists.withColumn(name, col)
    return _ranked(lists, n_probe, query_id_col, "_s", "list_id", rank).select(
        query_id_col, "list_id", *keep
    )


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

    Every corpus vector is assigned to its nearest coarse centroid (a
    per-row ``min_by`` over the broadcast centroid table, no corpus
    shuffle); a query probes its ``n_probe`` nearest lists, and the rows
    of those lists (an equi-join on ``list_id``) are its candidates.

    Centroids are the :func:`_coarse` table: by default the
    ``n_centroids`` corpus rows with the smallest ``md5(id)`` (an
    order-stable sample DuckDB reproduces), numbered by ``row_number``,
    so assignments do not depend on partition layout.  ``n_centroids``
    and ``n_probe`` default to :func:`ivf_geometry` over one corpus
    count; explicit values make plan construction run no job.  At scale
    pass ``centroids=`` an offline-trained table with columns
    ``(list_id, _cent, _cent_n)``; the default ``n_probe`` then follows
    its own row count.
    """
    c = _side(corpus, id_col, vec_col, "neighbor_id", "c")
    q = _side(queries, id_col, vec_col, query_id_col, "q")
    cents, n_probe = _coarse(corpus, c, n_centroids, n_probe, centroids)
    assigned = (
        _to_centroids(c, cents, "c")
        .groupBy("neighbor_id")
        .agg(
            F.min_by(
                "list_id", F.struct((-F.col("_s")).alias("s"), "list_id")
            ).alias("list_id"),
            F.first("_cv").alias("_cv"),
            F.first("_cn").alias("_cn"),
        )
    )
    q_lists = _probe(q, cents, n_probe, query_id_col, "_rk", "_qv", "_qn")
    cand = assigned.join(q_lists, "list_id").filter(
        F.col("neighbor_id") != F.col(query_id_col)
    )
    return _exact_topk(cand, k, query_id_col)


def _chunks(vec: Column, n_sub: int, sub_dim: int) -> Column:
    return F.array(*[F.slice(vec, m * sub_dim + 1, sub_dim) for m in range(n_sub)])


def _codebook(seed: DataFrame, vec: str, n_sub: int, sub_dim: int) -> DataFrame:
    """``(code, m, _ce)``: subvector ``m`` of seed row ``code``'s ``vec``."""
    return seed.select(_ordinal("code"), F.col(vec)).select(
        "code", F.posexplode(_chunks(F.col(vec), n_sub, sub_dim)).alias("m", "_ce")
    )


def _encode(
    rows: DataFrame,
    cbook: DataFrame,
    vec: str,
    chunk: str,
    n_sub: int,
    sub_dim: int,
    *carry,
) -> DataFrame:
    """``(neighbor_id, m, code, *carry)``: the nearest code word of each
    subvector by ``d² = (⟨x,x⟩ − 2⟨x,ce⟩) + ⟨ce,ce⟩``, ties on the lower
    code."""
    x, ce = F.col(chunk), F.col("_ce")
    d2 = (dot(x, x) - 2 * dot(x, ce)) + dot(ce, ce)
    return (
        rows.select(
            "neighbor_id",
            *carry,
            F.posexplode(_chunks(F.col(vec), n_sub, sub_dim)).alias("m", chunk),
        )
        .join(F.broadcast(cbook), "m")
        .withColumn("_d2", d2)
        .groupBy("neighbor_id", "m")
        .agg(
            F.min_by("code", F.struct("_d2", "code")).alias("code"),
            *[F.first(col).alias(col) for col in carry],
        )
    )


def _lut(
    q: DataFrame, cbook: DataFrame, query_id_col: str, n_sub: int, sub_dim: int
) -> DataFrame:
    """``(query_id, m, code, _p)``: the ADC lookup table, ``⟨q_m, ce⟩`` for
    every query subvector and code word."""
    return (
        q.select(
            query_id_col,
            F.posexplode(_chunks(F.col("_qv"), n_sub, sub_dim)).alias("m", "_qh"),
        )
        .join(F.broadcast(cbook), "m")
        .select(query_id_col, "m", "code", dot(F.col("_qh"), F.col("_ce")).alias("_p"))
    )


def _adc(
    parts: DataFrame, query_id_col: str, n_sub: int, *first, start: Optional[str] = None
) -> tuple:
    """``(pivot, ip)``: one row per (query, neighbor) with the ``first``
    columns and the partials ``_p0..``, and the ADC inner product that
    adds them in subspace order after ``start`` (never a ``sum()`` whose
    order the engine picks)."""
    pivot = parts.groupBy(query_id_col, "neighbor_id").agg(
        *[F.first(col).alias(col) for col in first],
        *[
            F.sum(F.when(F.col("m") == j, F.col("_p"))).alias(f"_p{j}")
            for j in range(n_sub)
        ],
    )
    terms = [F.col(f"_p{j}") for j in range(n_sub)]
    return pivot, reduce(add, [F.col(start)] + terms if start else terms)


def _rerank(
    adc: DataFrame, c: DataFrame, q: DataFrame, k: int, query_id_col: str
) -> DataFrame:
    """The exact top-k of each query's ADC top-``_RERANK`` candidates."""
    cand = _ranked(adc, _RERANK, query_id_col, "score", "neighbor_id", "_rk").select(
        query_id_col, "neighbor_id"
    )
    pairs = cand.join(c, "neighbor_id").join(F.broadcast(q), query_id_col)
    return _exact_topk(pairs, k, query_id_col)


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
) -> DataFrame:
    """Approximate top-k via product quantization (PQ) with ADC pruning.

    Each vector is compressed to ``n_sub`` codebook indices, and the
    query-to-vector inner product is approximated asymmetrically (ADC,
    Jégou et al. 2011): each query subvector is dotted against its
    subspace's codebook once, and a compressed vector scores as ``n_sub``
    table lookups added in subspace order.

    - codebooks: the ``n_codes`` corpus rows with the smallest
      ``md5(id)`` (the IVF seed), sliced into ``n_sub`` subvectors — a
      broadcast table of at most ``n_sub·n_codes`` rows;
    - encode: each corpus subvector takes its nearest code word by
      squared L2;
    - ADC scan: the code table joins the broadcast lookup table map-side;
      the per-(query, neighbor) rollup and the prune are the shuffles;
    - the ADC top ``_RERANK`` per query are ranked by exact cosine.
      Coarse codes collapse near neighbors onto one code word, so ADC
      prunes and the exact scorer orders.

    Every float op is an exactly-rounded IEEE double op in a fixed order,
    so the DuckDB twin replays scores bitwise.
    """
    sub_dim = _dim(corpus, vec_col, dim, "pq_topk", n_sub) // n_sub
    c = _side(corpus, id_col, vec_col, "neighbor_id", "c")
    q = _side(queries, id_col, vec_col, query_id_col, "q")
    cbook = _codebook(_md5_seed(c, n_codes), "_cv", n_sub, sub_dim)
    codes = _encode(c, cbook, "_cv", "_ch", n_sub, sub_dim)
    lut = _lut(q, cbook, query_id_col, n_sub, sub_dim)
    parts = codes.join(F.broadcast(lut), ["m", "code"]).filter(
        F.col("neighbor_id") != F.col(query_id_col)
    )
    pivot, ip = _adc(parts, query_id_col, n_sub)
    return _rerank(pivot.withColumn("score", ip), c, q, k, query_id_col)


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
    centroids: Optional[DataFrame] = None,
) -> DataFrame:
    """IVF+PQ composed (Jégou et al. 2011, the FAISS ``IVFPQ`` shape):

    - coarse prune: the :func:`ivf_topk` lists, centroids and probe;
    - residual PQ encode: ``v − centroid(list)`` is compressed to
      ``n_sub`` codes with codebooks shared across lists;
    - ADC inside the probed lists: ``⟨q,v⟩ = ⟨q,c_list⟩ + ⟨q, v−c_list⟩``,
      the first term from the probe and the second from the lookup table,
      divided by the stored exact ``‖v‖`` (``‖q‖`` is constant per query);
    - the ADC top ``_RERANK`` per query are ranked by exact cosine.

    Coarse centroids seed from the smallest ``md5(id)`` rows, residual
    codebooks from the smallest ``md5('r' || id)`` rows: a different hash
    stream, because a coarse-seed row is its own centroid and its
    residual is the zero vector.  With trained ``centroids=`` the
    residual codebooks still seed from that stream.  Float ops run in a
    fixed order: residuals per component, ``d² = (⟨r,r⟩ − 2⟨r,ce⟩) +
    ⟨ce,ce⟩``, the ADC sum as ``(((⟨q,c⟩ + p₀) + p₁) + …)``.  Ties break
    (score DESC, id).  ``n_centroids``/``n_probe`` default as in
    :func:`ivf_topk`; ``n_sub``/``n_codes`` set the bytes per vector.
    """
    sub_dim = _dim(corpus, vec_col, dim, "ivfpq_topk", n_sub) // n_sub
    c = _side(corpus, id_col, vec_col, "neighbor_id", "c")
    q = _side(queries, id_col, vec_col, query_id_col, "q")
    cents, n_probe = _coarse(corpus, c, n_centroids, n_probe, centroids)

    def assign_residual(rows: DataFrame, *carry: str) -> DataFrame:
        # min_by on struct(-_s, list_id) picks the row_number-first list
        # of (_s DESC, list_id ASC): negation is exact on doubles
        return (
            _to_centroids(rows, cents, "c")
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
                F.zip_with("_cv", F.col("_win._cent"), lambda x, y: x - y).alias("_rv"),
                *carry,
            )
        )

    # the codebook seed is a function of the id alone, so only its
    # n_codes rows pay the centroid assignment
    cb_seed = assign_residual(_md5_seed(c, n_codes, "r"), "_h")
    cbook = _codebook(cb_seed, "_rv", n_sub, sub_dim)
    assigned = assign_residual(c, "_cn")
    codes = _encode(assigned, cbook, "_rv", "_rh", n_sub, sub_dim, "list_id", "_cn")
    qc = dot(F.col("_qv"), F.col("_cent"))
    q_lists = _probe(q, cents, n_probe, query_id_col, "_prk", "_qc", _qc=qc)
    lut = _lut(q, cbook, query_id_col, n_sub, sub_dim)
    parts = (
        codes.join(F.broadcast(q_lists), "list_id")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .join(F.broadcast(lut), [query_id_col, "m", "code"])
    )
    pivot, ip = _adc(parts, query_id_col, n_sub, "_qc", "_cn", start="_qc")
    return _rerank(pivot.withColumn("score", ip / F.col("_cn")), c, q, k, query_id_col)
