"""Corpus-mining extensions: TF-IDF keyterms, containment dedup, k-means
clustering, trade-graph PageRank.

The reference engine (src/lib.rs) has no analytics surface; these extend
the §2.7 LLM-pipeline family with the remaining corpus-curation staples:

- **tfidf_top_terms** — per-document keyterm extraction, the classic
  relevance weight tf · N/df in its log-free rational form (one exact
  integer product, one double division — deterministic across engines,
  same reasoning as bm25_search's rational idf).
- **dedup_containment** — Broder's containment C = |A∩B|/min(|A|,|B|),
  the asymmetric near-SUBSET detector Jaccard misses (quote pages,
  aggregator wrappers).  Pruned-postings candidates, exact array verify.
- **embed_kmeans** — Lloyd's k-means over the embedding column with
  deterministic init (k smallest ids) and a fixed 2 iterations; the
  coarse-quantizer / domain-clustering primitive.  The DuckDB twin
  unrolls both iterations in CTEs; decimal-summed centroid means keep
  the float chain engine-identical.
- **pagerank_nations** — weighted PageRank on the customer→supplier
  nation trade graph, 3 unrolled iterations, the link-graph quality
  weight used for corpus source scoring (e.g. Common Crawl host ranks).

Registered into the same QUERIES/ORACLES registry as tamar_spark.queries.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from tamar_spark.env import prep_session
from tamar_spark.operators import clustering as C
from tamar_spark.operators import dedup as D
from tamar_spark.queries import query, _events_path, _events_stream, _run_to_memory
from tamar_spark.sources import load_table, pin_session_width, spread
from tamar_spark.functions import text as T


@query(
    "tfidf_top_terms",
    """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT word, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, word, tf,
         round(CAST(tf * n_docs AS DOUBLE) / df, 6) AS tfidf
  FROM tf JOIN dfreq USING (word), n
), ranked AS (
  SELECT doc_id, word, tf, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, word) AS rank
  FROM scored
)
SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, tfidf, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
""",
)
def tfidf_top_terms(spark, sf_dir):
    """Top-3 keyterms per document by tf·idf with the LOG-FREE rational
    idf N/df: tf·N is an exact integer product and the single double
    division is an exactly-rounded IEEE op, so scores are bit-identical
    across engines (ln() differs in the last ulp between JVM and DuckDB —
    same determinism reasoning as bm25_search).  Ties break on the word.

    Scale: tf is a (doc_id, word) aggregate (shuffle on a high-cardinality
    compound key), df a word aggregate over the DISTINCT incidence —
    both partial-aggregated map-side; N threads through as a broadcast
    1-row cross join; the per-doc top-3 is a window over doc_id, the
    same key tf already shuffled on, so AQE reuses the partitioning."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("word")
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        toks.distinct()
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            F.round(
                (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "word", "tf", "tfidf", "rank")
    )


@query(
    "dedup_containment",
    """
WITH words AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) t
), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_1, doc_id_2,
       round(n_inter * 1.0 / least(sa.n_sh, sb.n_sh), 4) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = doc_id_1
JOIN sizes sb ON sb.doc_id = doc_id_2
WHERE n_inter * 1.0 / least(sa.n_sh, sb.n_sh) >= 0.8
""",
)
def dedup_containment(spark, sf_dir):
    """Asymmetric near-subset pairs at containment ≥ 0.8 (Broder's
    C = |A∩B|/min(|A|,|B|)) — catches a doc embedded in a longer one,
    which Jaccard scores at ~len ratio.  Posting-list cap engaged with
    the same ≥-group-size rule as dedup_ngram_jaccard (fixture groups
    ≤10, cap 32); verification is exact on full shingle sets, so the
    output hash equals the uncapped oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(docs, threshold=0.8, max_doc_freq=32)


# The squared-L2 distance expression over a point ``v`` and centroid ``cv``
# (DuckDB SQL) — ONE definition shared by the CTE prefix and the oracle's
# final assignment, so the two can never silently desynchronize (r11 ADVICE).
_KMEANS_DIST_SQL = (
    "list_dot_product(v, v) - 2 * list_dot_product(v, cv)"
    " + list_dot_product(cv, cv)"
)


def _kmeans_ctes(k: int = 8, k_sql: str | None = None) -> str:
    """The unrolled 2-iteration Lloyd's CTE prefix ``e→c0→a1→s1→c1``
    (no leading WITH) — shared by :func:`_kmeans_oracle` and the
    trained-IVF twin, so the centroid floats both twins feed downstream
    are ONE definition.  ``k_sql`` (a scalar SQL expression over CTE
    ``e``, e.g. a ceil(count/len) subquery) overrides the literal ``k``
    — the production-shape SemDeDup twin derives k from corpus size the
    same way the Spark side does."""
    dist = _KMEANS_DIST_SQL
    return f"""e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         v AS cv
  FROM e ORDER BY vec_id LIMIT {k_sql or k}
), a1 AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY {dist}, cluster) AS rn
    FROM e, c0
  ) WHERE rn = 1
), s1 AS (
  SELECT cluster, i AS pos,
         round(CAST(SUM(CAST(round(v[i], 6) AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*), 6) AS c
  FROM a1 JOIN e USING (vec_id),
       LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) t
  GROUP BY cluster, i
), c1 AS (
  SELECT cluster, list(c ORDER BY pos) AS cv FROM s1 GROUP BY cluster
)"""


def _kmeans_oracle(k: int = 8, k_sql: str | None = None) -> str:
    """Full 2-iteration Lloyd's twin: the shared CTE chain + the final
    assignment against the updated centroids."""
    dist = _KMEANS_DIST_SQL
    return f"""
WITH {_kmeans_ctes(k, k_sql)}, a2 AS (
  SELECT vec_id, cluster, d FROM (
    SELECT vec_id, cluster, {dist} AS d,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY {dist}, cluster) AS rn
    FROM e, c1
  ) WHERE rn = 1
)
SELECT vec_id, cluster, round(d, 6) AS dist FROM a2
"""


@query("embed_kmeans", _kmeans_oracle())
def embed_kmeans(spark, sf_dir):
    """Lloyd's k-means (k=8, 2 iterations) over the embedding table with
    deterministic init — the embedding-space clustering primitive (domain
    mixing weights, IVF coarse quantizer, cluster-level dedup summaries).
    The DuckDB twin unrolls assign→update→assign in CTEs; identical
    fixed-order float chains and decimal-summed means make the hash
    exact.  See operators/clustering.py for the 100 TB plan shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    return C.kmeans(emb, k=8, iters=2)


_IVF_TRAINED_SQL = (
    "\nWITH "
    + _kmeans_ctes(8)
    + """,
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0),
cents AS (
  SELECT cluster AS list_id, cv AS cent FROM c1
), assigned AS (
  SELECT neighbor_id, cv, list_id FROM (
    SELECT c.neighbor_id, c.cv, cents.list_id,
           row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
             list_dot_product(c.cv, cents.cent) /
               (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(cents.cent, cents.cent))) DESC,
             cents.list_id) AS rk
    FROM c, cents)
  WHERE rk = 1
), q_lists AS (
  SELECT query_id, qv, list_id FROM (
    SELECT q.query_id, q.qv, cents.list_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_dot_product(q.qv, cents.cent) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cents.cent, cents.cent))) DESC,
             cents.list_id) AS rk
    FROM q, cents)
  WHERE rk <= (SELECT CAST(ceil(count(*) / 4.0) AS BIGINT) FROM cents)
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) /
           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS s
  FROM assigned JOIN q_lists USING (list_id)
  WHERE neighbor_id <> query_id
), ranked AS (
  SELECT query_id, neighbor_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(s, 6) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""
)


@query("embed_ivf_trained_topk", _IVF_TRAINED_SQL)
def embed_ivf_trained_topk(spark, sf_dir):
    """IVF top-5 over a TRAINED coarse quantizer — the production ANN
    call shape at 100 TB (the √n-seeded geometry of embed_ivf_topk is
    only the untrained default): k-means centroids (k=8, 2 Lloyd
    iterations, the same deterministic engine as embed_kmeans) are
    materialized once via ``localCheckpoint`` — train-once semantics,
    the k-row table an offline job would hand the index build — then
    ``ivf_topk(centroids=)`` derives ``n_probe = ⌈nlist/4⌉`` from the
    CENTROID table's own row count (the r10-ADVICE contract this query
    driver-attests end-to-end: the scan fraction follows the TRAINED
    list count, and the corpus is never counted — its pre-flight is one
    count of the checkpointed k-row table).  The DuckDB twin chains the
    shared kmeans CTE prefix (identical centroid floats by construction)
    into the same cosine assign → probe → exact-rerank pipe as the
    untrained IVF twin, so the output is fully hash-checked.  Scale:
    training cost is amortized across every index build that reuses the
    table; assignment stays a broadcast argmax (k·dim doubles); nothing
    here scans more than ``n_probe/nlist`` of the corpus."""
    from tamar_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    # `trained` stays referenced through the EAGER checkpoint so its
    # lease-scoped training persist is live while the Lloyd iterations
    # actually run; once the k rows are materialized the handle drops
    # and the training cache is released with it
    trained = C.kmeans_centroids(emb, k=8, iters=2)
    cents = (
        trained.select(
            F.col("cluster").alias("list_id"), F.col("_c").alias("_cent")
        )
        .withColumn("_cent_n", S.l2_norm(F.col("_cent")))
        .localCheckpoint(eager=True)
    )
    del trained
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return S.ivf_topk(emb, queries_df, k=5, centroids=cents)


_IVFPQ_TRAINED_SQL = (
    "\nWITH "
    + _kmeans_ctes(8)
    + """,
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0),
cents AS (
  SELECT cluster AS list_id, cv AS cent FROM c1
), assigned AS (
  SELECT neighbor_id, cv, list_id, cent FROM (
    SELECT c.neighbor_id, c.cv, cents.list_id, cents.cent,
           row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
             list_dot_product(c.cv, cents.cent) /
               (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(cents.cent, cents.cent))) DESC,
             cents.list_id) AS rk
    FROM c, cents)
  WHERE rk = 1
), res AS (
  SELECT neighbor_id, list_id, sqrt(list_dot_product(cv, cv)) AS cn,
         list_transform(range(1, len(cv) + 1), i -> cv[i] - cent[i]) AS rv
  FROM assigned
), cbseed AS (
  SELECT neighbor_id, rv, md5('r' || CAST(neighbor_id AS VARCHAR)) AS h
  FROM res ORDER BY h, neighbor_id LIMIT 16
), cbooks0 AS (
  SELECT row_number() OVER (ORDER BY h, neighbor_id) - 1 AS code, rv FROM cbseed
), mm AS (
  SELECT CAST(unnest(range(8)) AS INT) AS m
), cb AS (
  SELECT code, m, list_slice(rv, m*8+1, m*8+8) AS ce FROM cbooks0, mm
), rchunk AS (
  SELECT neighbor_id, list_id, cn, m, list_slice(rv, m*8+1, m*8+8) AS rh FROM res, mm
), codes AS (
  SELECT neighbor_id, list_id, cn, m, code FROM (
    SELECT rchunk.neighbor_id, rchunk.list_id, rchunk.cn, rchunk.m, cb.code,
           row_number() OVER (PARTITION BY rchunk.neighbor_id, rchunk.m ORDER BY
             (list_dot_product(rh, rh) - 2*list_dot_product(rh, ce)) + list_dot_product(ce, ce),
             cb.code) AS rk
    FROM rchunk JOIN cb USING (m))
  WHERE rk = 1
), q_lists AS (
  SELECT query_id, list_id, qc FROM (
    SELECT q.query_id, cents.list_id,
           list_dot_product(q.qv, cents.cent) AS qc,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_dot_product(q.qv, cents.cent) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cents.cent, cents.cent))) DESC,
             cents.list_id) AS rk
    FROM q, cents)
  WHERE rk <= (SELECT CAST(ceil(count(*) / 4.0) AS BIGINT) FROM cents)
), qchunk AS (
  SELECT query_id, m, list_slice(qv, m*8+1, m*8+8) AS qh FROM q, mm
), lut AS (
  SELECT query_id, m, code, list_dot_product(qh, ce) AS p FROM qchunk JOIN cb USING (m)
), parts AS (
  SELECT ql.query_id, codes.neighbor_id, ql.qc, codes.cn, codes.m, lut.p
  FROM codes JOIN q_lists ql USING (list_id)
  JOIN lut ON lut.query_id = ql.query_id AND lut.m = codes.m AND lut.code = codes.code
  WHERE codes.neighbor_id <> ql.query_id
), adcscore AS (
  SELECT query_id, neighbor_id,
         (((((((((max(qc) + sum(CASE WHEN m = 0 THEN p END))
                 + sum(CASE WHEN m = 1 THEN p END))
                + sum(CASE WHEN m = 2 THEN p END))
               + sum(CASE WHEN m = 3 THEN p END))
              + sum(CASE WHEN m = 4 THEN p END))
             + sum(CASE WHEN m = 5 THEN p END))
            + sum(CASE WHEN m = 6 THEN p END))
           + sum(CASE WHEN m = 7 THEN p END)) / max(cn)) AS s
  FROM parts GROUP BY 1, 2
), adc AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rk
  FROM adcscore
), rr AS (
  SELECT a.query_id, a.neighbor_id,
         list_dot_product(q.qv, c.cv) /
           (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS s
  FROM adc a
  JOIN c ON a.neighbor_id = c.neighbor_id
  JOIN q ON a.query_id = q.query_id
  WHERE a.rk <= 50
), ranked AS (
  SELECT query_id, neighbor_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
  FROM rr
)
SELECT query_id, neighbor_id, round(s, 6) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""
)


@query("embed_ivfpq_trained_topk", _IVFPQ_TRAINED_SQL)
def embed_ivfpq_trained_topk(spark, sf_dir):
    """IVF+PQ over a TRAINED coarse quantizer — the full production ANN
    shape at 100 TB (FAISS ``IVFPQ`` with a k-means-trained coarse stage,
    Jégou et al. 2011 §IV): the quantizer is trained once offline
    (k-means k=8, 2 Lloyd iterations here — the same tractable-oracle
    scale as embed_ivf_trained_topk; production trains ⌈√n⌉ on a sample,
    and BASELINE.md's r12 recall probe records the trained-at-45 gain),
    materialized via ``localCheckpoint``, and handed to
    ``ivfpq_topk(centroids=)``: residuals are taken against the TRAINED
    centroids (lower variance than against md5-sampled corpus rows, so
    the same 8×16 codebook budget quantizes finer), ``n_probe`` follows
    the trained table's own row count (⌈8/4⌉ = 2 — the scan-fraction
    contract, corpus never counted), and everything downstream (residual
    encode → probe → LUT → ADC → exact rerank-50) is the registered
    IVFPQ pipe unchanged.  The DuckDB twin chains the shared kmeans CTE
    prefix (bit-identical centroid floats) into the full IVFPQ unroll,
    so the composition is hash-checked end-to-end.  Completes the
    trained-quantizer story: embed_ivf_trained_topk attests train+IVF,
    this attests train+IVF+PQ — at 100 TB the pair differ only in
    whether probed lists scan floats or 8-byte codes."""
    from tamar_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    trained = C.kmeans_centroids(emb, k=8, iters=2)
    cents = (
        trained.select(
            F.col("cluster").alias("list_id"), F.col("_c").alias("_cent")
        )
        .withColumn("_cent_n", S.l2_norm(F.col("_cent")))
        .localCheckpoint(eager=True)
    )
    del trained
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return S.ivfpq_topk(emb, queries_df, k=5, dim=64, n_sub=8, centroids=cents)


def _pagerank_oracle(iters: int = 3) -> str:
    sql = """
WITH edges AS (
  SELECT cn.n_name AS src, sn.n_name AS dst, count(*) AS w
  FROM lineitem
  JOIN orders    ON l_orderkey = o_orderkey
  JOIN customer  ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN supplier  ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE cn.n_name <> sn.n_name
  GROUP BY 1, 2
), outw AS (
  SELECT src, SUM(w) AS out_w FROM edges GROUP BY 1
), e AS (
  SELECT edges.src, edges.dst, edges.w, outw.out_w
  FROM edges JOIN outw USING (src)
), nodes AS (
  SELECT n_name AS node FROM nation
), nn AS (
  SELECT count(*) AS n_nodes FROM nodes
), pr0 AS (
  SELECT node, CAST(1.0 AS DOUBLE) / n_nodes AS pr FROM nodes, nn
)"""
    for i in range(1, iters + 1):
        sql += f""", c{i} AS (
  SELECT dst AS node,
         SUM(CAST(floor(pr * w / out_w * 1e12 + 0.5) / 1e12
                  AS DECIMAL(28,12))) AS s
  FROM e JOIN pr{i - 1} p ON e.src = p.node
  GROUP BY 1
), pr{i} AS (
  SELECT nodes.node,
         floor((CAST(0.15 AS DOUBLE) / n_nodes
                + CAST(0.85 AS DOUBLE)
                  * coalesce(CAST(s AS DOUBLE), CAST(0.0 AS DOUBLE)))
               * 1e12 + 0.5) / 1e12 AS pr
  FROM nodes LEFT JOIN c{i} USING (node), nn
)"""
    sql += f"\nSELECT node AS n_name, pr FROM pr{iters}"
    return sql


@query("pagerank_nations", _pagerank_oracle())
def pagerank_nations(spark, sf_dir):
    """Weighted PageRank (d=0.85, 3 iterations) on the customer-nation →
    supplier-nation trade graph, edge weight = lineitem count — the
    link-graph quality-weighting primitive (host-rank style source
    scoring for web corpora).  Edges come from the TPC-H join chain
    (every join a broadcast of the nation/supplier/customer dims at this
    shape); iterations are unrolled DataFrame rounds per
    operators/clustering.py.  The oracle unrolls the same 3 rounds in
    CTEs; 12-decimal rounded contributions summed as DECIMAL keep the
    float chain engine-identical."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cn = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("src")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("dst")
    )
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(cn), cust["c_nationkey"] == cn["c_nk"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(sn), supp["s_nationkey"] == sn["s_nk"])
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = nation.select(F.col("n_name").alias("node"))
    from tamar_spark.operators.cache import attach_lease

    pr = C.pagerank(edges, damping=0.85, iters=3, nodes=nodes)
    return attach_lease(pr.select(F.col("node").alias("n_name"), "pr"), pr)


_CMS_SQL = """
WITH e AS (
  SELECT CAST(user_id AS VARCHAR) AS u FROM events
), pos AS (
  SELECT u, k,
         CAST(CAST(('0x' || substr(md5(u), 1 + 8 * k, 8)) AS UBIGINT) % 64
              AS BIGINT) AS pos
  FROM e, LATERAL (SELECT unnest([0, 1, 2]) AS k) t
), cells AS (
  SELECT k, pos, count(*) AS cnt FROM pos GROUP BY 1, 2
), exact AS (
  SELECT u, count(*) AS exact_cnt FROM e GROUP BY 1
), upos AS (
  SELECT DISTINCT u, k, pos FROM pos
), est AS (
  SELECT u, min(cnt) AS cm_est FROM upos JOIN cells USING (k, pos) GROUP BY 1
)
SELECT CAST(u AS BIGINT) AS user_id, exact_cnt,
       CAST(cm_est AS BIGINT) AS cm_est,
       cm_est >= exact_cnt AS never_under
FROM exact JOIN est USING (u)
ORDER BY exact_cnt DESC, user_id LIMIT 20
"""


def _cms_positions(u: str):
    """3 md5-derived (row, cell) positions per key — shared by the batch
    and streaming sketch builders so both hash identically."""
    return F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                (
                    F.conv(F.substring(F.md5(u), 1 + 8 * k, 8), 16, 10).cast(
                        "bigint"
                    )
                    % 64
                ).alias("pos"),
            )
            for k in range(3)
        ]
    )


@query("heavy_hitters_cms", _CMS_SQL)
def heavy_hitters_cms(spark, sf_dir):
    """Heavy hitters via a 3×64 count-min sketch (Cormode & Muthukrishnan):
    per-event counter increments at 3 md5-derived cell positions, estimate
    = min over the 3 rows.  The sketch is the 100 TB point: frequency
    state is 192 mergeable counters regardless of key cardinality, vs an
    exact groupBy whose state is one row per key.  Output joins the
    estimate to the exact count for the true top-20 and pins the
    sketch's one-sided-error invariant as a ``never_under`` boolean.
    Hash family is md5-hex-slice (engine-identical, same as bloom_sketch);
    everything is integer arithmetic, so the hash gate is exact.

    Scale: the cells aggregate is a 192-group partial-aggregated count
    (map-side combine collapses each partition to ≤192 rows — this is the
    operator's entire shuffle); cells broadcast to the probe join."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("u")
    )
    pos = e.select("u", F.explode(_cms_positions("u")).alias("kp")).select(
        "u", F.col("kp.k").alias("k"), F.col("kp.pos").alias("pos")
    )
    cells = pos.groupBy("k", "pos").agg(F.count(F.lit(1)).alias("cnt"))
    exact = e.groupBy("u").agg(F.count(F.lit(1)).alias("exact_cnt"))
    upos = pos.distinct()
    est = (
        upos.join(F.broadcast(cells), ["k", "pos"])
        .groupBy("u")
        .agg(F.min("cnt").alias("cm_est"))
    )
    return (
        exact.join(est, "u")
        .select(
            F.col("u").cast("bigint").alias("user_id"),
            "exact_cnt",
            "cm_est",
            (F.col("cm_est") >= F.col("exact_cnt")).alias("never_under"),
        )
        .orderBy(F.desc("exact_cnt"), "user_id")
        .limit(20)
    )


def _ewma_oracle(depth: int = 8) -> str:
    num_terms, den_terms = [], []
    for i in range(depth):
        wt = 2.0 ** -(i + 1)
        src = "value" if i == 0 else f"lag(value, {i}) OVER w"
        num_terms.append(
            f"CASE WHEN {src} IS NOT NULL"
            f" THEN {src} * CAST({wt!r} AS DOUBLE)"
            f" ELSE CAST(0 AS DOUBLE) END"
        )
        den_terms.append(
            f"CASE WHEN {src} IS NOT NULL THEN CAST({wt!r} AS DOUBLE)"
            f" ELSE CAST(0 AS DOUBLE) END"
        )
    num = "\n      + ".join(num_terms)
    den = "\n      + ".join(den_terms)
    return f"""
SELECT event_id, user_id,
       round(({num})
             / ({den}), 6) AS ewma
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@query("ewma_user_value", _ewma_oracle())
def ewma_user_value(spark, sf_dir):
    """Per-user exponentially-decayed value (EWMA, α=1/2, depth 8) — the
    rolling time-series feature (decayed engagement/quality signals).
    Weights are negative powers of two, so every ``value * 2^-k`` is an
    EXACT double scaling and the 8-term sums evaluate in a fixed
    left-associative order on both engines — the whole chain is
    bit-deterministic without decimal staging; the depth cap is what
    bounds it (an unbounded running EWMA is a loop-carried dependency —
    that shape lives in stateful_event_numbering's kernel instead).

    Scale: one shuffle on user_id + per-partition sort — the same
    ROWS-frame plan as running_total; lag(k) reads within the frame, no
    extra shuffle per term."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num, den = None, None
    for i in range(8):
        src = F.col("value") if i == 0 else F.lag("value", i).over(w)
        wt = F.lit(2.0 ** -(i + 1))
        t = F.when(src.isNotNull(), src * wt).otherwise(F.lit(0.0))
        d = F.when(src.isNotNull(), wt).otherwise(F.lit(0.0))
        num = t if num is None else num + t
        den = d if den is None else den + d
    return ev.select(
        "event_id", "user_id", F.round(num / den, 6).alias("ewma")
    )


@query("streaming_heavy_hitters", _CMS_SQL)
def streaming_heavy_hitters(spark, sf_dir):
    """The count-min sketch as STREAMING state: the 192-cell counter
    aggregate runs as a complete-mode streaming query, so the state store
    holds ≤192 rows no matter how many distinct keys the stream carries —
    the unbounded-cardinality frequency tracker an exact streaming groupBy
    (state = one row per key) cannot be at 100 TB.  Count-min cells are
    mergeable across micro-batches by construction, so the final sink
    table equals the batch sketch exactly and the whole query shares the
    batch oracle.  The probe/rank side (exact counts for the true top-20
    and the one-sided-error pin) reads the same fixture in batch."""
    prep_session(spark)
    e_s = _events_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("u")
    )
    pos_s = e_s.select("u", F.explode(_cms_positions("u")).alias("kp")).select(
        F.col("kp.k").alias("k"), F.col("kp.pos").alias("pos")
    )
    cells = _run_to_memory(
        pos_s.groupBy("k", "pos").agg(F.count(F.lit(1)).alias("cnt")),
        mode="complete",
        sized_by=_events_path(sf_dir),
    )

    e = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("u")
    )
    pos = e.select("u", F.explode(_cms_positions("u")).alias("kp")).select(
        "u", F.col("kp.k").alias("k"), F.col("kp.pos").alias("pos")
    )
    exact = e.groupBy("u").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = (
        pos.distinct()
        .join(F.broadcast(cells), ["k", "pos"])
        .groupBy("u")
        .agg(F.min("cnt").alias("cm_est"))
    )
    return (
        exact.join(est, "u")
        .select(
            F.col("u").cast("bigint").alias("user_id"),
            "exact_cnt",
            "cm_est",
            (F.col("cm_est") >= F.col("exact_cnt")).alias("never_under"),
        )
        .orderBy(F.col("exact_cnt").desc(), "user_id")
        .limit(20)
    )


def _semdedup_oracle(tau: float = 0.4, k_sql: str | None = None) -> str:
    """DuckDB twin of SemDeDup: the unrolled k-means CTE chain (shared
    with ``embed_kmeans``) extended with the within-cluster exact-cosine
    pair join.  ``k_sql`` threads through to the k-means init."""
    cos = (
        "list_dot_product(x.v, y.v) / "
        "(sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)))"
    )
    final = "SELECT vec_id, cluster, round(d, 6) AS dist FROM a2"
    pairs = f""", pv AS (
  SELECT a2.vec_id, a2.cluster, e.v FROM a2 JOIN e USING (vec_id)
)
SELECT x.vec_id AS src_id, y.vec_id AS dup_id,
       CAST(x.cluster AS INT) AS cluster,
       round({cos}, 6) AS score
FROM pv x JOIN pv y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
WHERE {cos} >= {tau}"""
    base = _kmeans_oracle(k_sql=k_sql)
    assert final in base
    return base.replace(final, pairs)


def _semdedup_pairs(spark, sf_dir, k: int, tau: float = 0.4):
    """Shared SemDeDup plan: k-means assignment, then exact cosine only
    within clusters (operators/clustering.py has the 100 TB shape)."""
    from tamar_spark.operators.graph import attach_lease

    emb = load_table(spark, sf_dir, "embeddings")
    km = C.kmeans(emb, k=k, iters=2)
    asg = km.select("vec_id", "cluster")
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_v")
    )
    pv = asg.join(v, "vec_id")
    # the within-cluster cosine is CPU-bound per output pair over a
    # sub-MB shuffle: keep AQE from folding it into one task
    pv = pin_session_width(pv, "cluster")
    from tamar_spark.operators.similarity import dot, l2_norm

    x = pv.select(
        F.col("vec_id").alias("src_id"), "cluster", F.col("_v").alias("_xv")
    ).withColumn("_xn", l2_norm(F.col("_xv")))
    y = pv.select(
        F.col("vec_id").alias("dup_id"), "cluster", F.col("_v").alias("_yv")
    ).withColumn("_yn", l2_norm(F.col("_yv")))
    score = dot(F.col("_xv"), F.col("_yv")) / (F.col("_xn") * F.col("_yn"))
    out = (
        x.join(y, "cluster")
        .filter(F.col("src_id") < F.col("dup_id"))
        .withColumn("_s", score)
        .filter(F.col("_s") >= tau)
        .select(
            "src_id",
            "dup_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.round("_s", 6).alias("score"),
        )
    )
    # the kmeans training persist is lease-scoped (r11); carry it onto
    # the derived frame so execution still reuses the cached input
    # across the plan's multiple emb references
    return attach_lease(out, km)


@query("dedup_semantic", _semdedup_oracle())
def dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs found
    by clustering the embedding space first (the shared k-means kernel,
    deterministic init, 2 Lloyd iterations) and scoring exact cosine only
    WITHIN clusters — the pruning that makes semantic dedup tractable:
    pairwise cost drops from n² to ~n²/k, and the cross-cluster pairs it
    skips are the pairs k-means already deemed far apart.  Threshold 0.4
    (this corpus is near-random; real corpora run ~0.95+).

    Scale: clustering is the kmeans plan (broadcast centroids, one
    id-shuffle per iteration); the pair join shuffles on cluster — at
    production k (thousands), clusters are small and the per-cluster
    quadratic term is bounded; skewed clusters split with a sub-cluster
    salt exactly like any hot aggregation key.  Both claims are now
    MEASURED (bench_scale.py semdedup_* rows, BASELINE.md): with corpus
    and k scaled together (constant cluster size ~100) the pair join is
    linear to 64×; a 10%-hot cluster runs 11.3→8.0 s at 16× under the
    salt, checksum-identical output, with the crossover (~16×) recorded —
    engage the salt in the hot regime only."""
    return _semdedup_pairs(spark, sf_dir, k=8)


# Target cluster population for the production-shape SemDeDup: k scales
# with the corpus so the per-cluster quadratic term stays bounded — the
# regime bench_scale's semdedup probe measured as linear (constant
# cluster size ~100 while corpus and k scale together).
_SEMDEDUP_CLUSTER_SIZE = 100


@query(
    "dedup_semantic_prod",
    _semdedup_oracle(
        k_sql=(
            f"(SELECT CAST(ceil(count(*) / {_SEMDEDUP_CLUSTER_SIZE}.0) AS INT)"
            " FROM e)"
        )
    ),
)
def dedup_semantic_prod(spark, sf_dir):
    """SemDeDup at production shape (r6 VERDICT task 5): k is DERIVED from
    corpus size at a constant target cluster population (~100 vectors per
    cluster, k = ceil(n/100)), instead of the fixture-frozen k=8 of
    ``dedup_semantic``.  This is the configuration whose scaling
    bench_scale.py's semdedup probe actually measured — corpus and k grow
    together, per-cluster pair cost stays ~cluster_size²·k = O(n), and
    the within-cluster cosine join is linear in the corpus (validated to
    64× with this exact constant).

    The corpus size comes from one count job over the parquet scan — a
    metadata-cheap scalar (row-group counts), the same statistic a
    production planner reads from the table catalog; everything after it
    is one declarative plan (k-means assign/update unrolled, broadcast
    centroids, pair join shuffled on cluster).  The DuckDB twin derives k
    with the identical ceil(count/100) subquery in its init CTE, so the
    hash check covers the k-derivation too.  At sf0.01 (500 vectors)
    k=5; at sf0.1 (2000) k=20 — cluster geometry stays constant while
    ``dedup_semantic``'s frozen k=8 would let clusters grow linearly."""
    n = load_table(spark, sf_dir, "embeddings").count()
    k = int(-(-n // _SEMDEDUP_CLUSTER_SIZE))
    return _semdedup_pairs(spark, sf_dir, k=k)


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered orientation) — graph-mining completion
# ---------------------------------------------------------------------------


@query(
    "graph_triangles",
    """
WITH li AS (
  SELECT l_orderkey AS ok, l_suppkey AS s FROM lineitem
),
edges AS (
  SELECT DISTINCT x.s AS a, y.s AS b
  FROM li x JOIN li y ON x.ok = y.ok AND x.s < y.s
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN da.d * 100000000 + a < db.d * 100000000 + b
              THEN a ELSE b END AS u,
         CASE WHEN da.d * 100000000 + a < db.d * 100000000 + b
              THEN b ELSE a END AS v,
         CASE WHEN da.d * 100000000 + a < db.d * 100000000 + b
              THEN db.d * 100000000 + b ELSE da.d * 100000000 + a END AS kv
  FROM edges
  JOIN deg da ON da.node = a
  JOIN deg db ON db.node = b
),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM oriented e1
  JOIN oriented e2 ON e2.u = e1.u AND e1.kv < e2.kv
  JOIN oriented e3 ON e3.u = e1.v AND e3.v = e2.v
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri)
GROUP BY node
ORDER BY n_triangles DESC, node
LIMIT 20
""",
)
def graph_triangles(spark, sf_dir):
    """Triangle counting over the supplier co-occurrence graph (suppliers
    sharing an order are adjacent) with DEGREE-ORDERED ORIENTATION — the
    algorithm that makes triangle enumeration tractable at scale (Cohen /
    Suri-Vassilvitskii MapReduce form): orient every edge from its
    lower-(degree, id) endpoint to the higher, so each node's
    out-neighborhood is bounded by O(sqrt(|E|)) regardless of raw degree,
    and the closure — the quadratic step — is quadratic only in
    OUT-degree.  A hub with a million neighbors contributes no wedges at
    all unless those neighbors are themselves high-degree.  Completes the
    graph-mining family (connected components, large/small-star, PageRank)
    with the community-density primitive used to inspect near-dup cluster
    cohesion.  Output: the 20 nodes participating in the most triangles
    (each triangle credits all three corners).

    Determinism & scale: edge building is a per-order bounded self-join
    (TPC-H orders hold ≤7 items); all arithmetic is exact integers; the
    orientation key packs (degree, id) into one bigint so both engines
    compare identically.  The closure is adjacency-intersect (each
    triangle's unique base edge u→v closes against out(u) ∩ out(v) — see
    triangles_per_node), replacing the wedge self-join's Σ outdeg²
    streamed rows with one array_intersect per edge: 2.3× faster on the
    124.5M-triangle sf0.1 graph and 2.4× faster than DuckDB's wedge plan
    on the same input.  Every shuffle is on node/edge keys, no cartesian
    anywhere."""
    from tamar_spark.operators.graph import attach_lease, triangles_per_node

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s")
    )
    x, y = li.alias("x"), li.alias("y")
    edges = (
        x.join(y, (F.col("x.ok") == F.col("y.ok")) & (F.col("x.s") < F.col("y.s")))
        .select(F.col("x.s").alias("a"), F.col("y.s").alias("b"))
        .distinct()
    )
    tri = triangles_per_node(edges)
    # carry the operator's cache lease onto the returned frame: the
    # oriented-edge persist lives exactly as long as this result does
    # (r9 VERDICT task 4 — released when the consumer drops the frame)
    return attach_lease(
        tri.orderBy(F.col("n_triangles").desc(), "node").limit(20), tri
    )


def _mmr_oracle(k: int = 5, n_candidates: int = 16) -> str:
    """Unrolled greedy-MMR twin: sel1 = argmax relevance; each later step
    anti-joins the selected set, aggregates max pair-sim against it, and
    takes the per-query (0.7·rel − 0.3·maxsim) argmax — the same fixed
    literals and fold order as the Spark side, so every float compares
    bit-identically and the argmax never diverges."""
    sql = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id % 100 = 0
), c AS (
  SELECT vec_id AS cand, embedding::DOUBLE[] AS cv FROM embeddings
), scored AS (
  SELECT query_id, cand, cv,
         list_dot_product(qv, cv) /
           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS rel
  FROM q, c WHERE cand <> query_id
), cands AS (
  SELECT query_id, cand, cv, rel FROM (
    SELECT query_id, cand, cv, rel,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, cand) AS rnk
    FROM scored
  ) WHERE rnk <= {n_candidates}
), pairs AS (
  SELECT a.query_id, a.cand AS ca, b.cand AS cb,
         list_dot_product(a.cv, b.cv) /
           (sqrt(list_dot_product(a.cv, a.cv))
            * sqrt(list_dot_product(b.cv, b.cv))) AS sim
  FROM cands a JOIN cands b
    ON a.query_id = b.query_id AND a.cand <> b.cand
), sel1 AS (
  SELECT query_id, cand, rel AS mmr, rel, 1 AS pick FROM (
    SELECT query_id, cand, rel,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, cand) AS rn
    FROM cands
  ) WHERE rn = 1
)"""
    for i in range(2, k + 1):
        p = i - 1
        sql += f""", pick{i} AS (
  SELECT query_id, cand, mmr, rel, {i} AS pick FROM (
    SELECT r.query_id, r.cand,
           0.7 * r.rel - 0.3 * m.maxsim AS mmr, r.rel,
           row_number() OVER (PARTITION BY r.query_id
                              ORDER BY (0.7 * r.rel - 0.3 * m.maxsim) DESC,
                                       r.cand) AS rn
    FROM (
      SELECT * FROM cands r0
      WHERE NOT EXISTS (SELECT 1 FROM sel{p} s0
                        WHERE s0.query_id = r0.query_id
                          AND s0.cand = r0.cand)
    ) r
    JOIN (
      SELECT p.query_id, p.ca AS cand, max(p.sim) AS maxsim
      FROM pairs p JOIN sel{p} s
        ON p.query_id = s.query_id AND p.cb = s.cand
      GROUP BY 1, 2
    ) m ON r.query_id = m.query_id AND r.cand = m.cand
  ) WHERE rn = 1
), sel{i} AS (
  SELECT * FROM sel{p} UNION ALL SELECT * FROM pick{i}
)"""
    sql += f"""
SELECT query_id, CAST(pick AS INT) AS pick, cand AS vec_id,
       floor(mmr * 1e6 + 0.5) / 1e6 AS mmr_score,
       floor(rel * 1e6 + 0.5) / 1e6 AS relevance
FROM sel{k}"""
    return sql


@query("embed_mmr_topk", _mmr_oracle())
def embed_mmr_topk(spark, sf_dir):
    """Diversified retrieval: greedy maximal-marginal-relevance top-5 from
    exact-cosine top-16 candidates (λ=0.7, μ=0.3) for every 100th vector —
    the representative-sampling primitive for curation UIs and few-shot
    example selection, where the plain top-k returns five near-copies of
    the best hit.  Candidate generation is the only corpus-touching stage
    (broadcast queries, one scan); the greedy rounds run on the
    n_queries×16 candidate set with candidate-bounded shuffles only — at
    100 TB the selection cost is independent of corpus size.  The oracle
    unrolls the same 5 greedy steps as CTEs; fixed 0.7/0.3 literals (not
    1−λ, which is 0.30000000000000004 in IEEE) keep every argmax
    bit-identical across engines."""
    from tamar_spark.operators import similarity as S
    from tamar_spark.queries import round_ieee

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 100 == 0)
    out = S.mmr_topk(emb, queries_df, k=5, n_candidates=16, lam=0.7, mu=0.3)
    return out.select(
        "query_id",
        "pick",
        "vec_id",
        round_ieee(F.col("mmr"), 6).alias("mmr_score"),
        round_ieee(F.col("rel"), 6).alias("relevance"),
    )


# ---------------------------------------------------------------------------
# k-core decomposition — the graph-density primitive (Matula & Beck peel)
# ---------------------------------------------------------------------------

_KCORE_ROUNDS = 12


def _kcore_oracle(rounds: int = _KCORE_ROUNDS) -> str:
    """Unrolled peel twin: a0 filters on full-graph degree; every later
    round recomputes degrees within the previous survivor set and
    re-filters.  ``rounds`` counts degree-filter STATES — a0 plus
    ``rounds - 1`` recomputes (a1..a{rounds-1}) — exactly the engine's
    budget (kcore() loops at most ``max_rounds - 1`` recomputes after
    its initial filter; r7 ADVICE aligned the two).  Extra rounds past
    the fixpoint are no-ops, so the comparison is exact whether or not
    the Spark side's early exit fired."""
    sql = """
WITH li AS (
  SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem
),
edges AS MATERIALIZED (
  SELECT DISTINCT x.p AS a, y.p AS b
  FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p
),
sym AS MATERIALIZED (
  SELECT a AS u, b AS v FROM edges
  UNION ALL SELECT b AS u, a AS v FROM edges
),
kval AS MATERIALIZED (
  SELECT CAST((7 * ((2 * (SELECT count(*) FROM edges))
                    // (SELECT count(*) FROM (SELECT DISTINCT u FROM sym))))
              // 10 AS BIGINT) AS k
),
a0 AS MATERIALIZED (
  SELECT u, count(*) AS d FROM sym GROUP BY u
  HAVING count(*) >= (SELECT k FROM kval)
)"""
    for i in range(1, rounds):
        p = i - 1
        sql += f""", a{i} AS MATERIALIZED (
  SELECT s.u, count(*) AS d
  FROM sym s
  JOIN a{p} x ON s.u = x.u
  JOIN a{p} y ON s.v = y.u
  GROUP BY s.u
  HAVING count(*) >= (SELECT k FROM kval)
)"""
    sql += f"""
SELECT u AS node, CAST(d AS BIGINT) AS core_degree
FROM a{rounds - 1}
ORDER BY node
"""
    return sql


@query("graph_kcore", _kcore_oracle())
def graph_kcore(spark, sf_dir):
    """k-core of the part co-purchase graph (parts sharing an order are
    adjacent), k derived from the data as 0.7× the average degree in
    exact integer arithmetic (k = (7·(2E div V)) div 10) so the operator
    tracks graph density across scale factors the way a production
    curation job would (the same statistic-derived-parameter pattern as
    ``dedup_semantic_prod``).  k-cores are the graph-density primitive
    raw degree can't fake (a star has high center degree but an empty
    2-core) — the standard lens for locating the cohesive kernel of
    near-dup cluster graphs and link/citation graphs before sampling.

    Output: every surviving node with its WITHIN-CORE degree (≥ k by the
    fixpoint property).  The peel cascade is real on this graph: at
    sf0.01, k=80 strips 143 of 2000 parts over 5 rounds; pushing k just
    20% higher collapses the entire graph — the sharp core-collapse
    threshold of near-regular graphs, which is exactly why k must be
    data-derived.

    Scale: edge building is the per-order bounded self-join (≤7 items
    per order); each peel round is ONE job — keys-only double semi-join
    (broadcast while the previous round's count, already in hand, stays
    under the adaptive threshold; shuffle semi-join above it) + one
    count aggregate, lazily checkpointed so the convergence count is
    also the materializing action and plan depth stays flat (the CC
    lesson); the alive set only shrinks, so per-round cost is monotone
    non-increasing and the early exit (count unchanged ⇒ fixpoint, by
    monotonicity) is free.  The oracle unrolls the identical budget —
    a0 + 11 recomputes, matching the engine's initial filter + ≤11
    recomputes (r7 ADVICE alignment) — and extra rounds past the
    fixpoint are no-ops, so the hash check is exact regardless of where
    the early exit fires."""
    from tamar_spark.operators.graph import kcore

    li = spread(load_table(spark, sf_dir, "lineitem")).select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    )
    x, y = li.alias("x"), li.alias("y")
    edges = (
        x.join(y, (F.col("x.ok") == F.col("y.ok")) & (F.col("x.p") < F.col("y.p")))
        .select(F.col("x.p").alias("a"), F.col("y.p").alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # one job for both graph statistics: exploding each edge to its two
    # endpoints gives |V| as the distinct count and 2·|E| as the row
    # count of the same frame (and the action doubles as the edges
    # checkpoint materializer)
    g = (
        edges.select(F.explode(F.array("a", "b")).alias("n"))
        .agg(
            F.count_distinct(F.col("n")).alias("v"),
            F.count(F.lit(1)).alias("e2"),
        )
        .first()
    )
    n_edges, n_nodes = g["e2"] // 2, g["v"]
    k = (7 * ((2 * n_edges) // n_nodes)) // 10
    return kcore(edges, k=k, max_rounds=_KCORE_ROUNDS).orderBy("node")


# ---------------------------------------------------------------------------
# Hybrid retrieval: lexical + semantic legs fused by reciprocal-rank fusion
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF damping constant (Cormack et al.)

_HYBRID_RRF_SQL = f"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
tok AS MATERIALIZED (
  SELECT DISTINCT doc_id, unnest(w) AS word FROM words
),
sizes AS MATERIALIZED (
  SELECT doc_id, count(*) AS n FROM tok GROUP BY 1
),
lexinter AS (
  SELECT q.doc_id AS qid, c.doc_id AS did, count(*) AS ni
  FROM tok q JOIN tok c ON q.word = c.word
  WHERE q.doc_id % 100 = 0 AND c.doc_id <> q.doc_id
  GROUP BY 1, 2
),
lex AS (
  SELECT qid, did,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY CAST(ni AS DOUBLE) / (sq.n + sc.n - ni) DESC, did
         ) AS r
  FROM lexinter
  JOIN sizes sq ON sq.doc_id = qid
  JOIN sizes sc ON sc.doc_id = did
),
lex20 AS (SELECT * FROM lex WHERE r <= 20),
qv AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id % 100 = 0
),
cv AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
),
semscored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) /
           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS s
  FROM qv, cv WHERE neighbor_id <> query_id
),
sem20 AS (
  SELECT query_id, neighbor_id, r FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY s DESC, neighbor_id) AS r
    FROM semscored
  ) WHERE r <= 20
),
fused AS (
  SELECT COALESCE(l.qid, s.query_id) AS query_id,
         COALESCE(l.did, s.neighbor_id) AS doc_id,
         l.r AS lex_rank, s.r AS sem_rank,
         COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + l.r), CAST(0 AS DOUBLE))
           + COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + s.r), CAST(0 AS DOUBLE))
           AS f
  FROM lex20 l
  FULL OUTER JOIN sem20 s ON l.qid = s.query_id AND l.did = s.neighbor_id
)
SELECT query_id, doc_id, round(f, 6) AS rrf_score,
       CAST(lex_rank AS INT) AS lex_rank, CAST(sem_rank AS INT) AS sem_rank,
       CAST(rnk AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY f DESC, doc_id) AS rnk
  FROM fused
) WHERE rnk <= 10
"""


@query("hybrid_rrf_topk", _HYBRID_RRF_SQL)
def hybrid_rrf_topk(spark, sf_dir):
    """Hybrid search: a lexical leg (exact word-set Jaccard to the anchor
    document) and a semantic leg (exact cosine to the anchor embedding)
    fused by reciprocal-rank fusion — score(d) = Σ_legs 1/(60 + rank_leg(d))
    (Cormack et al.), the standard way production retrieval stacks combine
    BM25-class and embedding-class signals without score calibration.
    RRF sees only RANKS, which is exactly what makes it engine-portable
    too: the fused score is a sum of two reciprocals of small integers —
    identical IEEE doubles on both engines, no float ordering anywhere
    upstream of an argmax that isn't itself rank-based.

    Per anchor (every 100th doc): top-20 lexical candidates, top-20
    semantic candidates, full-outer-join the two lists (a doc may appear
    in one or both), fuse, keep the top-10.  Leg ranks are emitted so the
    result shows WHERE each hit came from — the classic hybrid-recall
    diagnostic.

    Scale: both legs are anchor-bounded — the lexical leg is one corpus
    scan against a broadcast anchor token-set table (constant per row;
    the shared-token inverted-index join is the alternative when the
    anchor set itself is large), the semantic leg is the existing
    broadcast-queries cosine scan; the fusion join and final window touch
    ≤ 40 candidate rows per anchor, so fusion cost is independent of
    corpus size (the MMR lesson).  Candidate generation dominates and is
    embarrassingly parallel."""
    from tamar_spark.operators import similarity as S

    docs_raw = load_table(spark, sf_dir, "documents")
    # spread(): the lexical leg does ~|anchors| array_intersects per
    # corpus row inside the scan projection — on the 1-row-group local
    # fixture that serialized in one task (measured 3.9 s of a 4 s
    # single-task broadcast build); round-robin widening parallelizes
    # it and is a no-op on pre-split production input
    docs = spread(docs_raw).select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.array_distinct(T.tokens(F.col("text"))).alias("w")
    )
    # anchors come from the NATURAL scan (not the spread frame): the
    # %100 filter then pushes into the parquet scan and the broadcast
    # build tokenizes only the anchor rows
    anchors = (
        docs_raw.select("doc_id", "text")
        .filter(F.col("doc_id") % 100 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_distinct(T.tokens(F.col("text"))).alias("qw"),
        )
    )
    inter = F.size(F.array_intersect("w", "qw"))
    union = F.size("w") + F.size("qw") - inter
    lex_scored = (
        toks.join(F.broadcast(anchors), F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            inter.alias("ni"),
            (inter.cast("double") / union).alias("jacc"),
        )
        .filter(F.col("ni") > 0)
    )
    w_lex = Window.partitionBy("query_id").orderBy(F.desc("jacc"), "doc_id")
    lex20 = (
        lex_scored.withColumn("lex_rank", F.row_number().over(w_lex))
        .filter(F.col("lex_rank") <= 20)
        .select("query_id", "doc_id", "lex_rank")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    sem20 = S.cosine_topk(emb, emb.filter(F.col("vec_id") % 100 == 0), k=20).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("sem_rank")
    )
    one = F.lit(1.0)
    zero = F.lit(0.0)
    fused = (
        lex20.join(sem20, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "f",
            F.coalesce(one / (_RRF_K + F.col("lex_rank")), zero)
            + F.coalesce(one / (_RRF_K + F.col("sem_rank")), zero),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(F.desc("f"), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(w_f))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            F.round("f", 6).alias("rrf_score"),
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("sem_rank").cast("int").alias("sem_rank"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Retrieval evaluation: nDCG@10 of the lexical leg vs semantic ground truth
# ---------------------------------------------------------------------------

_NDCG_K = 10
# 1/log2(rank+1) discounts, pre-rounded to 12 dp and embedded as DECIMAL
# literals on BOTH engines: log2() itself can differ by 1 ulp between
# libm implementations, but identical decimal constants × integer gains
# accumulate exactly, so no float ever enters the hash un-pinned.
_NDCG_DISC = [
    "1.0", "0.630929753571", "0.5", "0.430676558073", "0.386852807235",
    "0.356207187108", "0.333333333333", "0.315464876786",
    "0.301029995664", "0.289064826318",
]
# IDCG@10 for the graded scale rel = 11 - ideal_rank (10..1): an exact
# decimal because it is an integer combination of the 12-dp discounts.
_NDCG_IDCG = "29.966109248936"

_NDCG_SQL = f"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
tok AS MATERIALIZED (
  SELECT DISTINCT doc_id, unnest(w) AS word FROM words
),
sizes AS MATERIALIZED (
  SELECT doc_id, count(*) AS n FROM tok GROUP BY 1
),
lexinter AS (
  SELECT q.doc_id AS qid, c.doc_id AS did, count(*) AS ni
  FROM tok q JOIN tok c ON q.word = c.word
  WHERE q.doc_id % 100 = 0 AND c.doc_id <> q.doc_id
  GROUP BY 1, 2
),
lex10 AS (
  SELECT qid, did, r FROM (
    SELECT qid, did,
           row_number() OVER (
             PARTITION BY qid
             ORDER BY CAST(ni AS DOUBLE) / (sq.n + sc.n - ni) DESC, did
           ) AS r
    FROM lexinter
    JOIN sizes sq ON sq.doc_id = qid
    JOIN sizes sc ON sc.doc_id = did
  ) WHERE r <= {_NDCG_K}
),
qv AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id % 100 = 0
),
cv AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
),
sem10 AS (
  SELECT query_id, neighbor_id, r FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY
             list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
             DESC, neighbor_id) AS r
    FROM qv, cv WHERE neighbor_id <> query_id
  ) WHERE r <= {_NDCG_K}
),
graded AS (
  SELECT l.qid AS query_id,
         CAST(COALESCE(11 - s.r, 0) AS DECIMAL(4,0)) AS rel,
         CASE l.r {' '.join(f"WHEN {i + 1} THEN CAST('{d}' AS DECIMAL(18,12))" for i, d in enumerate(_NDCG_DISC))} END AS disc
  FROM lex10 l
  LEFT JOIN sem10 s ON s.query_id = l.qid AND s.neighbor_id = l.did
)
SELECT query_id,
       CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
       CAST(sum(rel * disc) AS DOUBLE) AS dcg,
       floor(CAST(sum(rel * disc) AS DOUBLE)
             / CAST(CAST('{_NDCG_IDCG}' AS DECIMAL(18,12)) AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS ndcg
FROM graded GROUP BY query_id ORDER BY query_id
"""


@query("retrieval_ndcg", _NDCG_SQL)
def retrieval_ndcg(spark, sf_dir):
    """Retrieval-quality evaluation: graded nDCG@10 of the LEXICAL leg
    (word-set Jaccard ranking, the BM25-class signal) measured against
    semantic ground truth (exact-cosine top-10, graded rel = 11 − rank)
    per anchor query — the offline eval loop a retrieval stack runs to
    decide whether the cheap leg alone is good enough or hybrid fusion
    (hybrid_rrf_topk) is worth the second index.  Per query: number of
    relevant docs retrieved, DCG, and nDCG against the constant ideal
    (all ten relevance grades in order).

    Determinism: DCG accumulates as Σ rel·disc in DECIMAL — the
    discounts are 12-dp decimal literals shared by both engines (libm
    log2 is NOT guaranteed bit-identical across implementations, so the
    discount table is pinned, not computed), rel is integer, so every
    per-query sum is exact; nDCG is one double division by the exact
    decimal IDCG pushed through the round_ieee floor form.  Both leg
    rankings tie-break on doc id.

    Scale: both legs are anchor-bounded scans (broadcast anchor
    token-sets / query vectors against the corpus — candidate
    generation is embarrassingly parallel, same shape as
    hybrid_rrf_topk); the grading join touches ≤10 rows per anchor, so
    evaluation cost is independent of corpus size once the legs have
    run.  Reference parity: extension family (retrieval eval), the
    measurement side of the ANN/hybrid operators."""
    from tamar_spark.operators import similarity as S
    from tamar_spark.queries import round_ieee

    docs_raw = load_table(spark, sf_dir, "documents")
    # spread(): the lexical leg does ~|anchors| array_intersects per
    # corpus row inside the scan projection — on the 1-row-group local
    # fixture that serialized in one task (measured 3.9 s of a 4 s
    # single-task broadcast build); round-robin widening parallelizes
    # it and is a no-op on pre-split production input
    docs = spread(docs_raw).select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.array_distinct(T.tokens(F.col("text"))).alias("w")
    )
    # anchors come from the NATURAL scan (not the spread frame): the
    # %100 filter then pushes into the parquet scan and the broadcast
    # build tokenizes only the anchor rows
    anchors = (
        docs_raw.select("doc_id", "text")
        .filter(F.col("doc_id") % 100 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_distinct(T.tokens(F.col("text"))).alias("qw"),
        )
    )
    inter = F.size(F.array_intersect("w", "qw"))
    union = F.size("w") + F.size("qw") - inter
    lex_scored = (
        toks.join(F.broadcast(anchors), F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            inter.alias("ni"),
            (inter.cast("double") / union).alias("jacc"),
        )
        .filter(F.col("ni") > 0)
    )
    w_lex = Window.partitionBy("query_id").orderBy(F.desc("jacc"), "doc_id")
    lex10 = (
        lex_scored.withColumn("lex_rank", F.row_number().over(w_lex))
        .filter(F.col("lex_rank") <= _NDCG_K)
        .select("query_id", "doc_id", "lex_rank")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    sem10 = S.cosine_topk(
        emb, emb.filter(F.col("vec_id") % 100 == 0), k=_NDCG_K
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )
    disc_arr = F.array(
        *[F.lit(d).cast("decimal(18,12)") for d in _NDCG_DISC]
    )
    graded = (
        lex10.join(sem10, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            F.coalesce(11 - F.col("sem_rank"), F.lit(0))
            .cast("decimal(4,0)")
            .alias("rel"),
            F.element_at(disc_arr, F.col("lex_rank")).alias("disc"),
        )
    )
    idcg = F.lit(_NDCG_IDCG).cast("decimal(18,12)").cast("double")
    agg = graded.groupBy("query_id").agg(
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).alias("n_rel"),
        F.sum(F.col("rel") * F.col("disc")).alias("dcg_dec"),
    )
    return agg.select(
        "query_id",
        "n_rel",
        F.col("dcg_dec").cast("double").alias("dcg"),
        round_ieee(F.col("dcg_dec").cast("double") / idcg, 6).alias("ndcg"),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# Distributed PCA: top principal component by unrolled power iteration
# ---------------------------------------------------------------------------

_PCA_DIM = 64
_PCA_ITERS = 2


def _pca_cte(dim: int = _PCA_DIM, iters: int = _PCA_ITERS) -> tuple[str, str]:
    """Shared unrolled power-iteration CTE chain (used by both the PCA and
    the ABTT oracle): center (6 dp exact-decimal means), then per iteration
    w = Σ_rows round((x̃·v)·x̃ᵢ, 9 dp) in DECIMAL sums, normalize by the
    fixed-order Σw² norm, re-round components to 9 dp.  Every float op is
    either an exactly-rounded scalar IEEE op or an exact decimal sum, so
    the chain is bit-identical across engines.  Returns (with_chain,
    final_cte_name); the final CTE has columns (pv, lam)."""
    sql = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
mean_c AS MATERIALIZED (
  SELECT i AS pos,
         round(CAST(SUM(CAST(round(v[i], 6) AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*), 6) AS m
  FROM e, LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) t
  GROUP BY i
),
mean_v AS MATERIALIZED (
  SELECT list(m ORDER BY pos) AS mv FROM mean_c
),
x AS MATERIALIZED (
  SELECT vec_id,
         list_transform(range(1, {dim} + 1), i -> v[i] - mv[i]) AS xv
  FROM e, mean_v
),
v0 AS MATERIALIZED (
  SELECT list_transform(range(1, {dim} + 1),
                        i -> CASE WHEN i = 1 THEN CAST(1 AS DOUBLE)
                                  ELSE CAST(0 AS DOUBLE) END) AS pv
)"""
    prev = "v0"
    for it in range(1, iters + 1):
        sql += f""",
w{it} AS MATERIALIZED (
  SELECT i AS pos,
         CAST(SUM(CAST(round(list_dot_product(xv, pv) * xv[i], 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS w
  FROM x, {prev}, LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) t
  GROUP BY i
),
n{it} AS MATERIALIZED (
  SELECT sqrt(CAST(SUM(CAST(round(w * w, 9) AS DECIMAL(28,9))) AS DOUBLE))
    AS nrm
  FROM w{it}
),
v{it} AS MATERIALIZED (
  SELECT list(CASE WHEN nrm = 0 THEN CAST(0 AS DOUBLE)
                   ELSE round(w / nrm, 9) END ORDER BY pos) AS pv,
         first(nrm) AS lam
  FROM w{it}, n{it}
)"""
        prev = f"v{it}"
    return sql, prev


def _pca_oracle(dim: int = _PCA_DIM, iters: int = _PCA_ITERS) -> str:
    chain, prev = _pca_cte(dim, iters)
    return (
        chain
        + f"""
SELECT CAST(i AS INT) AS dim, pv[i] AS component, round(lam, 6) AS eigenvalue
FROM {prev}, LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) t
ORDER BY dim
"""
    )


@query("embed_pca_power", _pca_oracle())
def embed_pca_power(spark, sf_dir):
    """Top principal component of the embedding table by DISTRIBUTED
    power iteration — the spectral primitive under embedding whitening,
    ABTT ("all-but-the-top") post-processing, spectral outlier scoring,
    and PCA-compressed ANN.  Two unrolled iterations from the fixed e₁
    start: w ← Σ_rows (x̃·v)·x̃ computed WITHOUT materializing the d×d
    covariance (the whole point at scale — Σ(x·v)x touches each row
    once; the Gram matrix never exists), then normalize.  Emits the
    64-dim component vector and the Rayleigh-quotient eigenvalue
    estimate.

    Determinism (the hard part, same discipline as embed_kmeans): the
    per-row dot x̃·v is one fixed-order fold (identical IEEE doubles both
    engines); per-term contributions round to 9 dp and accumulate in
    DECIMAL (associative — partition count can't flip a bit); the norm
    is a fixed-order 64-term decimal sum; components re-round to 9 dp
    before entering the next iteration, so the chain replays exactly.

    Plan: centering is one decimal aggregate broadcast back; each
    iteration is one posexplode → 64-key aggregate (map-side combine
    collapses every task to ≤64 partial rows — the 64-key shuffle
    carries partitions×64 rows, not n×64) and two 1-row broadcasts.
    Rows never pairwise-join: cost is O(n·d) per iteration, the plan a
    1000-executor run wants."""
    x, v_df = _pca_center_component(
        spark, spread(load_table(spark, sf_dir, "embeddings"))
    )
    return v_df.select(
        F.posexplode("pv").alias("pos", "component"), F.col("lam")
    ).select(
        (F.col("pos") + 1).cast("int").alias("dim"),
        "component",
        F.round("lam", 6).alias("eigenvalue"),
    ).orderBy("dim")


def _pca_center_component(spark, emb, dim: int = _PCA_DIM, iters: int = _PCA_ITERS):
    """Spark half of the shared PCA kernel: returns (x, v_df) where ``x``
    holds the centered vectors (vec_id, xv) and ``v_df`` is the 1-row
    (pv, lam) top-component frame after ``iters`` unrolled power
    iterations — the exact twin of :func:`_pca_cte`."""
    dec6, dec9 = "decimal(28,6)", "decimal(28,9)"
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    mean_c = (
        e.select(F.posexplode("v").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.round(
                F.sum(F.round("val", 6).cast(dec6)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("m")
        )
    )
    mean_v = mean_c.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("mv")
    )
    x = e.crossJoin(F.broadcast(mean_v)).select(
        "vec_id",
        F.zip_with("v", "mv", lambda a, b: a - b).alias("xv"),
    )
    v_df = spark.range(1).select(
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: F.when(i == 1, F.lit(1.0)).otherwise(F.lit(0.0)),
        ).alias("pv")
    )
    for _ in range(iters):
        d = F.aggregate(
            F.zip_with("xv", "pv", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        w = (
            x.crossJoin(F.broadcast(v_df))
            .select(d.alias("d"), F.posexplode("xv").alias("pos", "xj"))
            .groupBy("pos")
            .agg(
                F.sum(F.round(F.col("d") * F.col("xj"), 9).cast(dec9))
                .cast("double")
                .alias("w")
            )
        )
        nrm = w.agg(
            F.sqrt(
                F.sum(F.round(F.col("w") * F.col("w"), 9).cast(dec9)).cast(
                    "double"
                )
            ).alias("nrm")
        )
        # rank-0 guard (all-constant input centers to the zero matrix):
        # the component is undefined, so emit the zero vector and lam=0
        # instead of dividing by zero — keeps the kernel total on any input
        comp = F.when(
            F.col("nrm") == 0.0, F.lit(0.0)
        ).otherwise(F.round(F.col("w") / F.col("nrm"), 9))
        v_df = (
            w.crossJoin(F.broadcast(nrm))
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", comp.alias("c")))),
                    lambda s: s["c"],
                ).alias("pv"),
                F.first("nrm").alias("lam"),
            )
        )
    return x, v_df


def _abtt_oracle(dim: int = _PCA_DIM, iters: int = _PCA_ITERS) -> str:
    chain, prev = _pca_cte(dim, iters)
    return (
        chain
        + f""",
abtt AS MATERIALIZED (
  SELECT vec_id,
         list_transform(range(1, {dim} + 1),
                        i -> xv[i] - list_dot_product(xv, pv) * pv[i]) AS cv
  FROM x, {prev}
),
q AS (
  SELECT vec_id AS query_id, cv AS qv FROM abtt WHERE vec_id % 50 = 0
),
scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         list_dot_product(qv, cv) /
           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS s
  FROM q, abtt WHERE vec_id <> query_id
),
ranked AS (
  SELECT query_id, neighbor_id, s,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(s, 6) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""
    )


@query("embed_abtt_topk", _abtt_oracle())
def embed_abtt_topk(spark, sf_dir):
    """All-but-the-top (Mu & Viswanath, ICLR 2018) embedding
    post-processing, composed end-to-end with retrieval: center the
    embedding table, estimate the top principal component with the shared
    distributed power-iteration kernel (:func:`_pca_center_component`),
    remove each vector's projection onto it (x' = x̃ − (x̃·v)v), and run
    exact cosine top-5 for every 50th vector over the CORRECTED space.
    Removing the dominant common direction is the standard isotropy fix
    that measurably improves embedding retrieval — this query is the
    whole pipeline (estimate → correct → search) as ONE Catalyst plan.

    Determinism: the component is the 9 dp-rounded kernel output; the
    per-row projection scalar is the same fixed-order fold both engines
    run; x'ᵢ = x̃ᵢ − d·vᵢ is two exactly-rounded IEEE ops — so corrected
    vectors are bit-identical and the cosine ranking carries no engine
    noise (ties broken by neighbor id as everywhere).

    Scale: the correction is a broadcast of one 64-float row + a per-row
    map, and the corrected corpus is MATERIALIZED once
    (localCheckpoint — in production you persist the corrected table;
    it is a corpus transformation searched many times, never recomputed
    per query).  Without the cut, Catalyst would inline the whole
    estimate+correct chain into BOTH sides of the search join (measured:
    27 shuffles → 1); with it, search is the brute-force kernel's one
    window over the stored vectors (the honest baseline; the LSH/IVF/PQ
    tiers compose with corrected vectors unchanged —
    :func:`embed_abtt_ivf_topk` is exactly that composition)."""
    from tamar_spark.operators import similarity as S

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    corrected = _abtt_corrected(spark, emb)
    probes = corrected.filter(F.col("vec_id") % 50 == 0)
    return S.cosine_topk(corrected, probes, k=5)


def _abtt_corrected(spark, emb):
    """The ABTT-corrected corpus (vec_id, embedding), materialized once
    (localCheckpoint — in production this is the persisted corrected
    table, searched many times): estimate the top component with the
    shared power-iteration kernel, remove each vector's projection
    x' = x̃ − (x̃·v)v.  Shared by the exact-search baseline
    (:func:`embed_abtt_topk`) and the IVF-composed production shape
    (:func:`embed_abtt_ivf_topk`) so the correction cannot drift between
    them."""
    x, v_df = _pca_center_component(spark, emb)
    d = F.aggregate(
        F.zip_with("xv", "pv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return (
        x.crossJoin(F.broadcast(v_df))
        .withColumn("_d", d)
        .select(
            "vec_id",
            F.zip_with(
                "xv", "pv", lambda a, b: a - F.col("_d") * b
            ).alias("embedding"),
        )
        .localCheckpoint()
    )


def _abtt_ivf_oracle(dim: int = _PCA_DIM, iters: int = _PCA_ITERS) -> str:
    """Chain of the existing stage twins (r8 VERDICT task 4): the ABTT
    correction CTE feeds the shared IVF pipeline fragment
    (queries_tpch._IVF_PIPE_SQL) with the corrected vectors as both
    corpus and probe set — one SQL statement replaying index-build and
    search over x' exactly as the registered parts do separately."""
    from tamar_spark.queries_tpch import _IVF_PIPE_SQL

    chain, prev = _pca_cte(dim, iters)
    return (
        chain
        + f""",
abtt AS MATERIALIZED (
  SELECT vec_id,
         list_transform(range(1, {dim} + 1),
                        i -> xv[i] - list_dot_product(xv, pv) * pv[i]) AS cv
  FROM x, {prev}
),
c AS (SELECT vec_id AS neighbor_id, cv FROM abtt),
q AS (SELECT vec_id AS query_id, cv AS qv FROM abtt WHERE vec_id % 50 = 0),
"""
        + _IVF_PIPE_SQL
    )


@query("embed_abtt_ivf_topk", _abtt_ivf_oracle())
def embed_abtt_ivf_topk(spark, sf_dir):
    """The ABTT isotropy correction composed WITH the IVF index — the
    production shape (r8 VERDICT task 4): apply the correction at
    index-BUILD time, then search the corrected space through the
    inverted-file index (size-derived geometry: ⌈√n⌉ lists / probe a
    1/4 fraction, r9 task 3; exact rerank), all one plan over the
    materialized corrected table.  ``embed_abtt_topk`` stays registered
    as the exact-scan ground truth; recall@5 of this query against it
    (and the full recall-vs-nprobe curve) is recorded in BASELINE.md.

    Determinism: corrected vectors are bit-identical across engines (the
    9 dp-rounded component, one fixed-order fold, two exactly-rounded
    IEEE ops per element — embed_abtt_topk's argument), and everything
    downstream is the already-hash-checked IVF pipeline over identical
    inputs (md5 seed pick, rk-1 assignment, probe-4 rerank with the
    score DESC / neighbor ASC tie-break).

    Scale: the correction is a 1-row broadcast + per-row map paid once
    at index build; search probes 4/16 of the corrected corpus via the
    list_id equi-join — the same bucket-bounded candidate generation as
    embed_ivf_topk, now over the isotropy-fixed space where cosine
    neighborhoods are better separated (the reason production systems
    correct BEFORE indexing: the index partitions the geometry that
    search will actually use)."""
    from tamar_spark.operators import similarity as S

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    corrected = _abtt_corrected(spark, emb)
    probes = corrected.filter(F.col("vec_id") % 50 == 0)
    return S.ivf_topk(corrected, probes, k=5)
