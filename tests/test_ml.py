"""Operator-level tests for clustering / PageRank / containment kernels
(tamar_spark.operators.clustering, dedup.containment_pairs).

The full-query oracle gate lives in test_oracle.py; these pin the kernel
semantics on crafted inputs where the expected answer is known by
construction.
"""

import pytest
from pyspark.sql import functions as F

from tamar_spark.operators import clustering as C
from tamar_spark.operators import dedup as D


def test_kmeans_separates_well_separated_groups(spark):
    # two tight groups far apart: k=2 must split them exactly, whatever
    # the init, because iteration 1 already assigns by nearest init vector
    # (id 0 from group A, id 1... ids interleave groups to exercise the
    # deterministic smallest-id init across both)
    rows = []
    for i in range(10):
        base = 0.0 if i % 2 == 0 else 100.0
        rows.append((i, [base + 0.01 * i, base - 0.01 * i, base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = C.kmeans(df, k=2, iters=2).collect()
    assert len(out) == 10
    by_group = {0: set(), 1: set()}
    for r in out:
        by_group[r["vec_id"] % 2].add(r["cluster"])
    # each parity class (= spatial group) lands in exactly one cluster,
    # and the two clusters differ
    assert len(by_group[0]) == 1 and len(by_group[1]) == 1
    assert by_group[0] != by_group[1]
    assert all(r["dist"] >= 0 for r in out)


def test_kmeans_deterministic_across_runs(spark, sf_dir):
    from tamar_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, C.kmeans(emb, k=8, iters=2).collect()))
    b = sorted(map(tuple, C.kmeans(emb, k=8, iters=2).collect()))
    assert a == b
    assert {r[0] for r in a} == {
        r["vec_id"] for r in emb.select("vec_id").collect()
    }


def test_pagerank_uniform_on_symmetric_cycle(spark):
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)],
        "src string, dst string, w long",
    )
    out = {r["node"]: r["pr"] for r in C.pagerank(edges, iters=5).collect()}
    # a symmetric cycle's stationary distribution is uniform and 1/3 is
    # a fixed point of the damped update, so every iterate stays there
    assert out.keys() == {"a", "b", "c"}
    for v in out.values():
        assert v == pytest.approx(1 / 3, abs=1e-9)


def test_pagerank_hub_ranks_highest_and_mass_bounded(spark):
    # star: every spoke points at the hub; hub points at one spoke
    spokes = [f"s{i}" for i in range(5)]
    rows = [(s, "hub", 1) for s in spokes] + [("hub", "s0", 1)]
    edges = spark.createDataFrame(rows, "src string, dst string, w long")
    out = {r["node"]: r["pr"] for r in C.pagerank(edges, iters=3).collect()}
    assert max(out, key=out.get) == "hub"
    # no dangling nodes here, so total mass stays 1 (up to rounding)
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-6)


def test_containment_catches_subset_that_jaccard_misses(spark):
    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally different words here ok")],
        "doc_id long, text string",
    )
    cont = D.containment_pairs(df, threshold=0.9).collect()
    assert [(r["doc_id_1"], r["doc_id_2"]) for r in cont] == [(1, 2)]
    assert cont[0]["containment"] == 1.0
    jac = D.jaccard_pairs(df, threshold=0.9).collect()
    assert jac == []  # symmetric Jaccard scores the pair at ~len ratio


def test_containment_cap_matches_uncapped(spark, sf_dir):
    from tamar_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    capped = sorted(
        map(tuple, D.containment_pairs(docs, 0.8, max_doc_freq=32).collect())
    )
    uncapped = sorted(map(tuple, D.containment_pairs(docs, 0.8).collect()))
    assert capped == uncapped
    assert len(capped) > 0  # fixture dup groups must surface


def test_mmr_matches_direct_greedy_model(spark):
    """mmr_topk vs a direct numpy greedy MMR on a crafted set: one tight
    near-dup cluster close to the query plus scattered singletons.  Plain
    top-k would return the whole cluster; MMR must interleave singletons.
    The DataFrame rounds must reproduce the reference greedy EXACTLY
    (same lam/mu literals, id tiebreaks)."""
    import numpy as np

    from tamar_spark.operators.similarity import mmr_topk

    rng = np.random.default_rng(7)
    dim = 8
    vecs = {}
    q = np.zeros(dim)
    q[0] = 1.0
    vecs[0] = q  # the query itself (excluded from candidates)

    def at(angle, axis):
        # vector at `angle` from q in the (q, e_axis) plane, tiny jitter
        # to break exact ties deterministically
        v = np.zeros(dim)
        v[0] = np.cos(angle)
        v[axis] = np.sin(angle)
        return v + 0.003 * rng.standard_normal(dim)

    # near-dup cluster 0.3 rad off-axis in the (q, e1) plane: the HIGHEST
    # relevance (~0.955) and mutual sim ~1 — a λ=μ=0.5 MMR must stop
    # returning it after the first pick (remaining members score
    # 0.5·(0.955−1) < 0), while orthogonal-direction singletons
    # (rel ~0.765, sim-to-cluster cos0.7·cos0.3 ~0.73) stay positive
    for i in range(1, 6):
        vecs[i] = at(0.3, 1)
    # singletons at 0.7 rad, each in its OWN orthogonal plane (e2..e7):
    # mutually dissimilar (cos²0.7 ~0.59), individually relevant
    for j in range(6):
        vecs[6 + j] = at(0.7, 2 + j)
    rows = [(i, [float(x) for x in v]) for i, v in vecs.items()]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") == 0)
    got = {
        (r["query_id"], r["pick"]): r["vec_id"]
        for r in mmr_topk(
            df, queries, k=6, n_candidates=11, lam=0.5, mu=0.5
        ).collect()
    }

    # direct model
    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    rel = {i: cos(q, v) for i, v in vecs.items() if i != 0}
    cands = sorted(rel, key=lambda i: (-rel[i], i))[:11]
    sel = [min(cands, key=lambda i: (-rel[i], i))]
    while len(sel) < 6:
        rem = [i for i in cands if i not in sel]
        score = {
            i: 0.5 * rel[i]
            - 0.5 * max(cos(vecs[i], vecs[s]) for s in sel)
            for i in rem
        }
        sel.append(min(rem, key=lambda i: (-score[i], i)))
    expect = {(0, p + 1): v for p, v in enumerate(sel)}
    assert got == expect
    # and the diversity property actually bites on this input: plain top-6
    # is the cluster + one; MMR must pull in ≥2 extra singletons
    plain = set(sorted(rel, key=lambda i: (-rel[i], i))[:6])
    assert len(set(sel) - plain) >= 2


def test_mmr_rejects_duplicate_candidate_ids(spark):
    """A repeated corpus ``vec_id`` would merge two candidates into one
    relevance entry; mmr_topk must fail loudly instead."""
    from tamar_spark.operators.similarity import mmr_topk

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.8, 0.3]), (2, [0.1, 0.9])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") == 0)
    with pytest.raises(Exception, match=r"query 0 has duplicate ids \[2\]"):
        mmr_topk(df, queries, k=2, n_candidates=3).collect()


def test_hybrid_rrf_fuses_leg_ranks_exactly(spark, sf_dir):
    """The fused score must equal 1/(60+lex_rank) + 1/(60+sem_rank)
    recomputed directly from the emitted leg ranks (missing leg = 0), the
    per-query ranking must be contiguous from 1 and ordered by that score,
    and at least one hit must come from each leg alone AND from both —
    otherwise the fixture isn't actually exercising the fusion."""
    from tamar_spark.queries import QUERIES

    rows = QUERIES["hybrid_rrf_topk"](spark, sf_dir).collect()
    assert rows
    by_q: dict = {}
    both = lex_only = sem_only = 0
    for r in rows:
        expect = 0.0
        if r.lex_rank is not None:
            expect += 1.0 / (60 + r.lex_rank)
        if r.sem_rank is not None:
            expect += 1.0 / (60 + r.sem_rank)
        assert abs(r.rrf_score - expect) < 1e-6, r
        if r.lex_rank is not None and r.sem_rank is not None:
            both += 1
        elif r.lex_rank is not None:
            lex_only += 1
        else:
            sem_only += 1
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        scores = [r.rrf_score for r in rs]
        assert scores == sorted(scores, reverse=True)
    assert both and lex_only and sem_only, (both, lex_only, sem_only)


def test_kcore_query_converges_on_fixture(spark, sf_dir):
    """The registered graph_kcore claim is the true k-core (not a
    truncated peel): the operator must reach its fixpoint within the
    unrolled-round budget on the fixture graph, and every surviving
    node's in-core degree must be >= the derived k."""
    from pyspark.sql import functions as F

    from tamar_spark.operators.graph import kcore
    from tamar_spark.queries_ml import _KCORE_ROUNDS
    from tamar_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    )
    x, y = li.alias("x"), li.alias("y")
    edges = (
        x.join(y, (F.col("x.ok") == F.col("y.ok")) & (F.col("x.p") < F.col("y.p")))
        .select(F.col("x.p").alias("a"), F.col("y.p").alias("b"))
        .distinct()
    )
    n_edges = edges.count()
    n_nodes = (
        edges.select(F.col("a").alias("n"))
        .unionByName(edges.select(F.col("b").alias("n")))
        .distinct()
        .count()
    )
    k = (7 * ((2 * n_edges) // n_nodes)) // 10
    stats: dict = {}
    out = kcore(edges, k=k, max_rounds=_KCORE_ROUNDS, stats=stats)
    assert stats["converged"], stats
    assert out.filter(F.col("core_degree") < k).count() == 0
    assert out.count() > 0  # the derived k must not collapse the fixture
