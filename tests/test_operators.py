"""Unit tests for operators: as-of join, dedup, similarity, stateful,
multimodal plumbing, plan properties."""

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import Row, functions as F

from tamar_spark.operators.asof import asof_join
from tamar_spark.operators import dedup as D
from tamar_spark.operators import similarity as S


@pytest.fixture(scope="module")
def asof_data(spark):
    left = spark.createDataFrame(
        [
            Row(eid=1, k=1, t=datetime(2024, 1, 1, 10, 0)),
            Row(eid=2, k=1, t=datetime(2024, 1, 1, 12, 0)),
            Row(eid=3, k=2, t=datetime(2024, 1, 1, 9, 0)),   # before any right
            Row(eid=4, k=3, t=datetime(2024, 1, 1, 9, 0)),   # key with no right
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, rt=datetime(2024, 1, 1, 9, 30), rid=10, price=1.0),
            Row(k=1, rt=datetime(2024, 1, 1, 11, 0), rid=11, price=2.0),
            # tie on rt: greatest rid must win
            Row(k=1, rt=datetime(2024, 1, 1, 11, 0), rid=12, price=3.0),
            Row(k=2, rt=datetime(2024, 1, 1, 10, 0), rid=20, price=4.0),
        ]
    )
    return left, right


EXPECTED_ASOF = [
    (1, 10, 1.0),  # 10:00 → 9:30 order
    (2, 12, 3.0),  # 12:00 → 11:00 tie → rid 12
    (3, None, None),  # no right row before 9:00
    (4, None, None),  # no right rows at all
]


def test_asof_backward_matches_expected(spark, asof_data):
    left, right = asof_data
    out = asof_join(
        left,
        right,
        left_on="t",
        right_on="rt",
        left_by="k",
        right_by="k",
        right_cols=["rid", "price"],
        tiebreak="rid",
    )
    got = sorted((r.eid, r.rid, r.price) for r in out.collect())
    assert got == EXPECTED_ASOF


def test_asof_duplicate_left_rows_preserved(spark, asof_data):
    """Left-join cardinality contract: duplicate left rows each produce an
    output row."""
    left, right = asof_data
    dup_left = left.unionAll(left)  # every row exactly twice
    out = asof_join(
        left=dup_left,
        right=right,
        left_on="t",
        right_on="rt",
        left_by="k",
        right_by="k",
        right_cols=["rid", "price"],
        tiebreak="rid",
    )
    got = sorted((r.eid, r.rid, r.price) for r in out.collect())
    assert got == sorted(EXPECTED_ASOF * 2)


def test_asof_union_plan_has_no_python(spark, asof_data):
    left, right = asof_data
    out = asof_join(
        left, right, left_on="t", right_on="rt", left_by="k", right_by="k",
        right_cols=["rid", "price"], tiebreak="rid",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "FlatMapCoGroupsInPandas" not in plan


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("right_rows", ["null_times", "empty"])
def test_asof_null_times_never_match(spark, direction, right_rows):
    """A NULL time on either side never matches (SQL ``rt <= t`` / ``rt >=
    t`` semantics): right rows with a NULL time are ignored and a left row
    with a NULL time gets NULL right columns, in both directions; an empty
    right side gives every left row NULL right columns."""
    left = spark.createDataFrame(
        [
            (1, 1, datetime(2024, 1, 1, 10, 0)),
            (2, 1, None),
            (3, 2, datetime(2024, 1, 1, 10, 0)),
        ],
        "eid int, k int, t timestamp",
    )
    rows = {
        "null_times": [
            (1, None, 10),
            (1, datetime(2024, 1, 1, 12, 0), 11),
            (2, None, 20),
        ],
        "empty": [],
    }[right_rows]
    right = spark.createDataFrame(rows, "k int, rt timestamp, rid int")
    out = asof_join(
        left, right, left_on="t", right_on="rt", left_by="k", right_by="k",
        right_cols=["rid"], tiebreak="rid", direction=direction,
    )
    got = {r.eid: r.rid for r in out.collect()}
    forward_hit = direction == "forward" and right_rows == "null_times"
    assert got == {1: 11 if forward_hit else None, 2: None, 3: None}


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [Row(doc_id=5, text="a"), Row(doc_id=2, text="a"), Row(doc_id=9, text="b")]
    )
    got = sorted((r.doc_id, r.text) for r in D.exact_dedup(df).collect())
    assert got == [(2, "a"), (9, "b")]


def test_shingles(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="a b c d")])
    got = sorted(r.shingle for r in D.shingles(df, n=3).collect())
    assert got == ["a b c", "b c d"]
    # short doc → no shingles, no error
    short = spark.createDataFrame([Row(doc_id=1, text="a b")])
    assert D.shingles(short, n=3).count() == 0


def test_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="x y z w"), Row(doc_id=2, text="x y z w"),
         Row(doc_id=3, text="p q r s")]
    )
    got = [(r.doc_id_1, r.doc_id_2, r.jaccard) for r in D.jaccard_pairs(df, 0.5).collect()]
    assert got == [(1, 2, 1.0)]


def test_jaccard_cap_keeps_exact_values(spark):
    """max_doc_freq prunes CANDIDATE GENERATION only: every doc shares one
    hot boilerplate shingle, yet capped output must (a) still find the true
    near-dup pair and (b) report its EXACT full-set jaccard — the r2 bug
    computed intersections on pruned postings, deflating J."""
    boiler = "all rights reserved"
    rows = [Row(doc_id=i, text=f"unique{i} tokens{i} here{i} {boiler}") for i in range(20)]
    # one true near-dup pair sharing real content + the boilerplate
    rows += [
        Row(doc_id=100, text=f"same body of shared text {boiler}"),
        Row(doc_id=101, text=f"same body of shared text {boiler}"),
    ]
    df = spark.createDataFrame(rows)
    uncapped = sorted(
        (r.doc_id_1, r.doc_id_2, r.jaccard) for r in D.jaccard_pairs(df, 0.5).collect()
    )
    capped = sorted(
        (r.doc_id_1, r.doc_id_2, r.jaccard)
        for r in D.jaccard_pairs(df, 0.5, max_doc_freq=5).collect()
    )
    assert (100, 101, 1.0) in capped
    assert capped == uncapped  # cap ≥ dup-group size ⇒ identical output


# Docs 1 and 2 score exactly 2/3: below 0.66667, though 0.6667 rounded.
# Each pair stands alone and with two padding docs that make three of its
# words hot at cap 2, which sends the pair to the hot×hot verify tier.
_JACCARD_2_3 = (
    ["x y", "x y z"],
    ["s1 s2 s3 s4 u", "s1 s2 s3 s4 v", "s1 u v a3 b3 c3", "s1 u v a4 b4 c4"],
)
_CONTAINMENT_2_3 = (
    ["a b c", "a b d e"],
    ["s1 s2 s3 s4 u w", "s1 s2 s3 s4 v y z", "s1 u v a3 b3 c3", "s1 u v a4 b4 c4"],
)
# docs 1 and 2 score exactly 1.0 under both measures; "s1" is hot at cap 2
_EXACT_1 = ["s1 s2", "s1 s2", "s1 a3", "s1 a4"]


@pytest.mark.parametrize(
    "op", ["jaccard_pairs", "containment_pairs", "minhash_lsh_pairs", "minhash_lsh_join"]
)
def test_pair_threshold_compares_unrounded_score(spark, op):
    """A pair is kept when its unrounded score reaches the threshold, in
    every tier and under every cap: 2/3 misses 0.66667 and 1.0 meets 1.0.
    The join pairs odd ids (new) against even ids (old)."""

    def pairs(texts, threshold, cap):
        df = spark.createDataFrame(list(enumerate(texts, 1)), "doc_id long, text string")
        if op == "minhash_lsh_join":
            odd = F.col("doc_id") % 2 == 1
            out = D.minhash_lsh_join(
                df.filter(odd), df.filter(~odd), threshold, n=1, num_perm=64, bands=64
            )
        elif op == "minhash_lsh_pairs":
            out = D.minhash_lsh_pairs(df, threshold, n=1, num_perm=64, bands=64)
        else:
            out = getattr(D, op)(df, threshold, n=1, max_doc_freq=cap)
        return sorted(map(tuple, out.collect()))

    boundary = _CONTAINMENT_2_3 if op == "containment_pairs" else _JACCARD_2_3
    for cap in (None,) if op.startswith("minhash") else (None, 2, 5):
        for texts in boundary:
            assert pairs(texts, 0.66667, cap) == [], (texts, cap)
        assert pairs(_EXACT_1, 1.0, cap) == [(1, 2, 1.0)], cap


def test_minhash_finds_exact_dupes(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="x y z w v u t s"), Row(doc_id=2, text="x y z w v u t s"),
         Row(doc_id=3, text="completely different words here now ok yes no")]
    )
    got = [(r.doc_id_1, r.doc_id_2) for r in D.minhash_lsh_pairs(df, 0.5).collect()]
    assert got == [(1, 2)]


def test_simhash_identical_distance_zero(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="x y z w v u"), Row(doc_id=2, text="x y z w v u")]
    )
    got = [(r.doc_id_1, r.doc_id_2, r.hamming) for r in D.simhash_pairs(df, 3).collect()]
    assert got == [(1, 2, 0)]


def _lev(a: str, b: str) -> int:
    """Direct reference Levenshtein (full DP) for test oracles."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_matches_tier_model(spark):
    """The operator's output must equal the direct two-tier model: among
    pairs whose collected SimHash fingerprints are within the hamming
    bound (candidate tier — the pigeonhole equi-join may not miss any),
    exactly those with reference-DP Levenshtein ≤ max_dist, with the
    banded Spark distance agreeing with the full-matrix DP."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(12):
        rows.append(Row(doc_id=i, text=" ".join(rng.choices(vocab, k=30))))
    # near-identical variants: one-char typo and a two-token truncation
    rows.append(Row(doc_id=100, text=rows[0].text.replace("w", "v", 1)))
    rows.append(Row(doc_id=101, text=" ".join(rows[1].text.split()[:-2])))
    df = spark.createDataFrame(rows)
    texts = {r.doc_id: r.text for r in rows}

    fps = {r.doc_id: r.simhash for r in D.simhash_fingerprints(df).collect()}
    expected = {}
    ids = sorted(texts)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            i, j = ids[x], ids[y]
            if bin(fps[i] ^ fps[j]).count("1") > 7:
                continue
            d = _lev(texts[i], texts[j])
            if d <= 30:
                expected[(i, j)] = d

    got = {
        (r.doc_id_1, r.doc_id_2): (r.edit_dist, r.edit_sim)
        for r in D.edit_distance_pairs(df, max_dist=30, max_hamming=7).collect()
    }
    assert set(got) == set(expected)
    assert (0, 100) in got and (1, 101) in got
    for (i, j), (d, sim) in got.items():
        assert d == expected[(i, j)]
        assert sim == round(1 - d / max(len(texts[i]), len(texts[j])), 4)


def test_edit_distance_tier_recall_vs_brute_force(spark, sf_dir, duck):
    """Quality gate (the ANN-recall-test pattern), against the
    UNCONDITIONAL brute force rather than the tier's own twin: precision
    is exact at the default hamming bound (every emitted pair truly has
    lev ≤ 30), and widening the candidate knob to hamming ≤ 10 reaches
    recall 1.0 on this corpus.  The default bound's recall is
    corpus-dependent (sf0.001's shortest docs have few shingles, so
    ~3/28 true pairs land at hamming 8-10; at sf0.01 the default catches
    25/25) — which is why the bound is a knob, per the operator
    docstring."""
    from tamar_spark.sources import load_table

    truth = set(
        map(
            tuple,
            duck.execute(
                """
                SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b
                ON a.doc_id < b.doc_id
                WHERE levenshtein(a.text, b.text) <= 30
                """
            ).fetchall(),
        )
    )
    assert truth
    docs = load_table(spark, sf_dir, "documents")
    default = {
        (r.doc_id_1, r.doc_id_2)
        for r in D.edit_distance_pairs(docs, max_dist=30, max_hamming=7).collect()
    }
    assert default <= truth  # exact precision
    assert len(default) >= 0.85 * len(truth)  # measured default-knob floor
    widened = {
        (r.doc_id_1, r.doc_id_2)
        for r in D.edit_distance_pairs(docs, max_dist=30, max_hamming=10).collect()
    }
    assert widened == truth  # full recall with the widened candidate knob
    # production two-tier config (r6 VERDICT task 4): 120-bit fingerprint
    # for long docs, length-bucketed exact tier for short docs.  Hamming
    # scales with fingerprint width, so the wide tier's bound is ~2× the
    # 60-bit widened knob (10, matching this corpus's measured worst
    # long-pair 120-bit hamming); at sf0.01's longer documents h=7 holds
    # with margin and the chunk keys widen to 15 bits (the ~2⁶-2⁸×
    # candidate drop in bench_scale's wide-tier probe).  Full recall at
    # both widths is the invariant; the selectivity gain is
    # length-distribution-dependent, per the operator docstring.
    prod = {
        (r.doc_id_1, r.doc_id_2)
        for r in D.edit_distance_pairs(
            docs, max_dist=30, max_hamming=10, bits=120, short_max_chars=350
        ).collect()
    }
    assert prod == truth  # two-tier production config: full recall


def test_dedup_keep_best_picks_max_quality_then_min_id(spark, sf_dir):
    """Representative selection: within each duplicate cluster the kept doc
    has the maximum quality score; equal-quality ties break to the minimum
    doc id (exercised by an identical-text pair)."""
    from tamar_spark.queries import QUERIES

    base = "the quick brown fox jumps over the lazy dog and then runs far away to the old stone house near the river bank".split()
    full = " ".join(base)            # 22 tokens, has stopwords → quality 1.0
    trunc = " ".join(base[:15])      # under the 20-token band → quality 0.6
    rows = [
        Row(doc_id=1, text=full),
        Row(doc_id=2, text=trunc),   # shares 13/20 shingles with doc 1 → J ≥ 0.5
        Row(doc_id=10, text="alpha beta gamma delta " * 6),
        Row(doc_id=11, text="alpha beta gamma delta " * 6),  # identical → tie
    ]
    df = spark.createDataFrame(rows)
    from tamar_spark.functions import text as T
    from tamar_spark.operators.graph import connected_components

    pairs = D.jaccard_pairs(df, threshold=0.5)
    cc = connected_components(pairs)
    q = df.select(F.col("doc_id").alias("node"), T.quality_score(F.col("text")).alias("quality"))
    j = cc.join(q, "node")
    best = j.groupBy("component").agg(
        F.max(F.struct(F.col("quality"), (-F.col("node")).alias("neg_node"))).alias("b"),
    ).select("component", (-F.col("b.neg_node")).cast("long").alias("kept_doc"))
    got = {r.component: r.kept_doc for r in best.collect()}
    assert got == {1: 1, 10: 10}


def test_cosine_topk_orthonormal(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows)
    out = S.cosine_topk(df, df.filter(F.col("vec_id") == 0), k=2)
    got = [(r.neighbor_id, r.rank) for r in out.orderBy("rank").collect()]
    assert got == [(1, 1), (2, 2)]


def test_process_state_batch(spark):
    from tamar_spark import Environment

    env = Environment(spark)
    df = spark.createDataFrame(
        [Row(k=1, ts=datetime(2024, 1, 1, 0, i), v=i) for i in range(5)]
        + [Row(k=2, ts=datetime(2024, 1, 1, 0, 0), v=100)]
    )
    ds = env.add_source(df, event_time="ts")

    def running_max(key, pdf, state):
        out = pdf.copy()
        out["run_max"] = out["v"].cummax()
        return out[["k", "v", "run_max"]]

    got = sorted(
        tuple(r)
        for r in ds.key_by("k")
        .process_state(running_max, schema="k long, v long, run_max long")
        .to_df()
        .collect()
    )
    assert got == sorted(
        [(1, 0, 0), (1, 1, 1), (1, 2, 2), (1, 3, 3), (1, 4, 4), (2, 100, 100)]
    )


def test_process_state_streaming(spark, tmp_path):
    """Per-key running count over a stream (reference keyed process_state,
    src/lib.rs:323-361): one call per key and micro-batch, even when Arrow
    splits the key's rows into several record batches."""
    from tamar_spark import Environment
    from tamar_spark.streaming.stateful import process_state_streaming
    from tamar_spark.stream import KeyedDataStream

    src = str(tmp_path / "stream_src")
    spark.createDataFrame(
        [Row(k=i % 2, v=i) for i in range(6)]
    ).write.parquet(src)
    sdf = spark.readStream.schema("k long, v long").parquet(src)
    keyed = KeyedDataStream(sdf, keys=[F.col("k")], env=Environment(spark))

    def counting(key, pdf, state):
        if state is None:
            state = {}
        n0 = state.get("n", 0)
        out = pdf.copy()
        out["seen_before"] = n0
        state["n"] = n0 + len(pdf)
        return out[["k", "v", "seen_before"]]

    out = process_state_streaming(
        keyed, counting, schema="k long, v long, seen_before long",
        init_state=lambda k: {"n": 0},
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        q = (
            out.to_df()
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("process_state_out")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(conf, prior)
    rows = spark.table("process_state_out").collect()
    assert len(rows) == 6
    # each key saw 3 events; within one batch seen_before is the pre-batch count
    assert all(r.seen_before == 0 for r in rows)


def test_multimodal_decode(spark):
    """attach_media_meta derives the metadata struct with expressions;
    decode_image_pixels fails loudly on a payload it cannot decode."""
    from tamar_spark.functions import multimodal as M

    df = spark.createDataFrame(
        [Row(id=1, payload=bytearray(b"abc")), Row(id=2, payload=bytearray(b"defgh"))]
    )
    meta = M.attach_media_meta(df)
    m = meta.select("meta.n_bytes", "meta.sha256").orderBy("n_bytes").collect()
    assert m[0].n_bytes == 3 and len(m[0].sha256) == 64
    with pytest.raises(Exception, match="NotImplementedError"):
        M.decode_image_pixels(df).collect()


def test_media_operators_on_empty_input_keep_their_schema(spark):
    """Over a zero-row input each media operator returns zero rows with
    exactly its declared schema, the caller's id column first."""
    from pyspark.sql.types import StructType

    from tamar_spark.functions import multimodal as M

    media = spark.createDataFrame([], "vid long, payload binary")
    docs = spark.createDataFrame([], "doc_id long, text string")
    check = "n_channels int, decode_ok boolean"
    cases = [
        (
            M.sample_frames(media, id_col="vid"),
            "vid long, frame_idx int, n_bytes long, sha string",
        ),
        (
            M.decode_image_pixels(media, id_col="vid"),
            "vid long, width int, height int, n_channels int, pixel_sha string",
        ),
        (
            M.decode_audio(media, id_col="vid"),
            "vid long, sample_rate int, n_channels int, bits_per_sample int,"
            " n_samples long, duration_ms double",
        ),
        (
            M.pcm_stats(media, id_col="vid"),
            "vid long, n_samples bigint, peak_abs int, clip_frac double,"
            " rms double, duration_ms double",
        ),
        (
            M.pcm_silence_segments(media, id_col="vid"),
            "vid long, seg_idx int, start_sample bigint, n_samples bigint,"
            " duration_ms double",
        ),
        (
            M.jpeg_roundtrip_check(docs),
            f"doc_id long, width int, height int, {check}",
        ),
        (
            M.mjpeg_frame_pixel_check(docs),
            f"doc_id long, frame_idx int, width int, height int, {check}",
        ),
    ]
    for df, ddl in cases:
        assert df.schema == StructType.fromDDL(ddl), (ddl, df.schema)
        assert df.collect() == [], ddl


def test_synthesis_queries_encode_null_text_as_empty(spark, tmp_path):
    """A NULL ``documents.text`` is synthesized as the empty string:
    ``audio_wav_meta`` reads it as a 0-sample WAV and the four
    length-filtered synthesis queries drop it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tamar_spark.queries import QUERIES

    pq.write_table(
        pa.table({
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": pa.array([None, "x" * 64], pa.string()),
        }),
        str(tmp_path / "documents.parquet"),
    )
    sf = str(tmp_path)
    got = {r.doc_id: r for r in QUERIES["audio_wav_meta"](spark, sf).collect()}
    assert (got[1].n_samples, got[1].duration_ms) == (0, 0.0)
    assert (got[2].n_samples, got[2].duration_ms) == (32, 4.0)
    for name in (
        "audio_pcm_stats",
        "audio_silence_segments",
        "image_bmp_pixels",
        "image_png_pixels",
    ):
        assert {r.doc_id for r in QUERIES[name](spark, sf).collect()} == {2}, name


def test_table_profile_on_empty_orders_matches_oracle(spark, sf_dir, tmp_path):
    """Over a zero-row orders table ``table_profile`` gives one all-zero
    row per profiled column, as its DuckDB oracle does."""
    import duckdb
    import pyarrow.parquet as pq

    from tamar_spark.queries import ORACLES, QUERIES

    path = str(tmp_path / "orders.parquet")
    pq.write_table(pq.read_table(f"{sf_dir}/orders.parquet").slice(0, 0), path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{path}')")
    want = con.execute(ORACLES["table_profile"]).fetchall()
    got = [tuple(r) for r in QUERIES["table_profile"](spark, str(tmp_path)).collect()]
    assert got == want and len(got) == 6 and {r[1:] for r in got} == {(0, 0, 0)}


def test_text_kernels_map_null_to_null(spark):
    """Every per-value text kernel maps a NULL input to NULL, or to a
    struct whose fields are all NULL."""
    from tamar_spark.functions import text as T

    df = spark.createDataFrame([(None, None)], "s string, b binary")
    s, b = F.col("s"), F.col("b")
    scalars = {
        "entities": T.decode_numeric_entities(s),
        "html": T.html_main_text(s, numeric_entities=True),
        "deflate": T.deflate_compress(b),
        "nfc": T.unicode_normalize(s),
        "idn": T.idn_fold_host(s),
    }
    structs = {
        "inflate": T.decompress_payload(b),
        "warc": T.warc_parse(b),
        "http": T.http_response_split(b),
        "charset": T.decode_charset(b),
    }
    row = df.select(
        *[c.alias(k) for k, c in scalars.items()],
        *[c.alias(k) for k, c in structs.items()],
    ).collect()[0]
    for k in scalars:
        assert row[k] is None, k
    for k in structs:
        assert row[k] is not None and all(v is None for v in row[k]), (k, row[k])


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """The declarative filter path must push predicates into the parquet scan
    (SURVEY §4.1 — the single most important design rule)."""
    from tamar_spark.sources import load_table

    df = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "event_type" in plan.split("PushedFilters")[1][:200]


def test_ns_timestamps_read_truncated_like_duckdb(spark, tmp_path):
    """TIMESTAMP(NANOS) parquet: load_table and the events stream both read
    ``ts`` truncated to µs, equal to what DuckDB reads (toward zero, also
    before the epoch)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tamar_spark.queries import _events_stream, _run_to_memory, epoch_us
    from tamar_spark.sources import load_table, ts_ns_columns

    path = str(tmp_path / "events.parquet")
    ns = [1_700_000_000_123_456_789, 1_700_000_000_123_456_001, -1_000_000_001_999, 999]
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(ns)), pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
        }),
        path,
    )
    assert ts_ns_columns(path) == ("ts",)
    want = dict(
        duckdb.connect()
        .execute(f"SELECT event_id, epoch_us(ts) FROM read_parquet('{path}')")
        .fetchall()
    )
    assert want[0] == 1_700_000_000_123_456 and want[2] == -1_000_000_001

    def read(df):
        return {r[0]: r[1] for r in df.select("event_id", epoch_us("ts")).collect()}

    assert read(load_table(spark, str(tmp_path), "events")) == want
    stream = _events_stream(spark, str(tmp_path), watermark=None)
    assert read(_run_to_memory(stream)) == want

    # a TIMESTAMP(MICROS) file leaves the shared session conf alone
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    us_dir = tmp_path / "us"
    us_dir.mkdir()
    pq.write_table(
        pa.table({"event_id": [0], "ts": pa.array([0], pa.timestamp("us"))}),
        str(us_dir / "events.parquet"),
    )
    spark.conf.unset(conf)
    try:
        _events_stream(spark, str(us_dir))
        assert spark.conf.get(conf, None) is None
    finally:
        spark.conf.set(conf, "true")


def test_salted_join_matches_plain_join(spark):
    from tamar_spark.plans import salted_join

    left = spark.range(0, 1000).withColumn("k", (F.col("id") % 3).cast("long"))
    right = (
        spark.range(0, 3)
        .select(F.col("id").alias("k"), (F.col("id") * 100).alias("payload"))
    )
    plain = left.join(right, "k").select("id", "payload")
    salted = salted_join(left, right, on="k").select("id", "payload")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))

    # right/full outer would emit salt x null-padded rows for right keys
    # absent from the left, so they are rejected
    for bad in ("right", "full", "full_outer"):
        with pytest.raises(ValueError, match="left-preserving"):
            salted_join(left, right, on="k", how=bad)
    # left outer is supported: unmatched LEFT rows are not replicated
    left4 = spark.range(0, 1000).withColumn("k", (F.col("id") % 4).cast("long"))
    lo_plain = left4.join(right, "k", "left").select("id", "payload")
    lo_salt = salted_join(left4, right, on="k", how="left").select("id", "payload")
    assert sorted(map(tuple, lo_salt.collect()), key=str) == sorted(
        map(tuple, lo_plain.collect()), key=str
    )


def test_spread_is_condition_gated(spark, tmp_path):
    """sources.spread must repartition a below-parallelism scan up to
    defaultParallelism and return an already-parallel scan UNCHANGED
    (same plan object — the 100 TB no-op guarantee), preserving rows
    either way.  Probes are the r8-task-6 Connect-safe input-split
    estimate (file sizes + openCostInBytes packing), so both branches
    use parquet-backed frames: one file → under-parallel; 2×cores tiny
    files pack (with open-cost padding) into ≥cores splits → no-op.
    Non-scan frames (no input files) must also pass through unchanged."""
    from tamar_spark.sources import spread

    par = spark.sparkContext.defaultParallelism
    one = str(tmp_path / "one")
    many = str(tmp_path / "many")
    spark.range(0, 1000).coalesce(1).write.parquet(one)
    spark.range(0, 1000).repartition(2 * par).write.parquet(many)
    narrow = spark.read.parquet(one)
    wide = spark.read.parquet(many)
    s_narrow = spread(narrow)
    assert s_narrow.rdd.getNumPartitions() == par
    assert s_narrow.count() == 1000
    assert spread(wide) is wide  # condition false → identical object
    derived = spark.range(0, 10)  # no input files → conservative no-op
    assert spread(derived) is derived


def test_spread_estimate_agrees_with_actual_scan_partitioning(spark, tmp_path):
    """The spread() decision must agree with Spark's ACTUAL FilePartition
    packing in the direction that matters: whenever spread declines (est ≥
    cores), the real scan must genuinely have ≥ cores partitions — a
    decline on an actually-narrow scan would silently serialize a fold at
    100 TB-shaped inputs.  (The converse — repartitioning an
    already-parallel scan — costs one extra shuffle, not a cliff, so the
    estimate is allowed to be conservative there.)  Pins the estimator
    against FilePartition-formula drift across Spark versions."""
    from tamar_spark.sources import spread

    par = spark.sparkContext.defaultParallelism
    layouts = {
        "one": 1,
        "few": max(2, par // 4),
        "exactly": par,
        "double": 2 * par,
    }
    for name, n_files in layouts.items():
        path = str(tmp_path / name)
        spark.range(0, 20_000).repartition(n_files).write.parquet(path)
        df = spark.read.parquet(path)
        declined = spread(df) is df
        actual = df.rdd.getNumPartitions()
        if declined:
            assert actual >= par, (name, n_files, actual, par)
        else:
            assert spread(df).rdd.getNumPartitions() == par


def test_parse_bytes_handles_spark_size_forms():
    """spread()'s conf parser must round-trip every form Spark's byte
    confs emit: bare ints, the 'b' suffix Spark 3+ returns from
    conf.get, and human units."""
    from tamar_spark.sources import _parse_bytes

    assert _parse_bytes("134217728") == 128 << 20
    assert _parse_bytes("134217728b") == 128 << 20
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("128MB") == 128 << 20
    assert _parse_bytes("4mb") == 4 << 20
    assert _parse_bytes(" 1g ") == 1 << 30
    assert _parse_bytes("512k") == 512 << 10
    assert _parse_bytes("2tb") == 2 << 40
    assert _parse_bytes("1p") == 1 << 50
    assert _parse_bytes("1pb") == 1 << 50


def test_parse_bytes_matches_sparks_own_parser(spark):
    """Parity against the TRUE oracle — Spark's JavaUtils.byteStringAsBytes
    (the parser that validates these confs at set time): every unit the
    map knows, across magnitudes, must agree exactly.  A future Spark
    adding a unit shows up here as the JVM accepting what we reject
    (covered by spread()'s conservative fallback), never as a silent
    numeric disagreement."""
    from tamar_spark.sources import _parse_bytes

    ju = spark._jvm.org.apache.spark.network.util.JavaUtils
    for mag in ("1", "7", "128", "1536"):
        for unit in ("", "b", "k", "kb", "m", "mb", "g", "gb", "t", "tb", "p", "pb"):
            s = mag + unit
            assert _parse_bytes(s) == ju.byteStringAsBytes(s), s


def test_ivf_geometry_properties():
    """Size-derived IVF geometry invariants: 1 ≤ nprobe ≤ nlist = ⌈√n⌉,
    and the probed fraction stays ≤ 1/4 (+ ceiling rounding) at every
    corpus size — the fixed scan-fraction contract BASELINE.md's recall
    curve is recorded against."""
    import math

    from tamar_spark.operators.similarity import ivf_geometry

    for n in (0, 1, 2, 3, 10, 500, 2000, 10**6, 10**12):
        nlist, nprobe = ivf_geometry(n)
        assert nlist == max(1, math.ceil(math.sqrt(n)))
        assert 1 <= nprobe <= nlist
        assert nprobe == max(1, math.ceil(nlist / 4))


def test_spread_survives_unparseable_size_conf(spark, tmp_path, monkeypatch):
    """A size-conf form the parser doesn't know (r9 ADVICE: '1p' used to
    crash mid-query via float('1p')) must degrade to a conservative
    no-op, never an exception.  Spark's own conf.set validates size
    strings, so the alien form is injected at the RuntimeConfig.get
    layer (a future Spark accepting a new unit is exactly this shape)."""
    from pyspark.sql.conf import RuntimeConfig

    from tamar_spark.sources import spread

    path = str(tmp_path / "one")
    spark.range(0, 100).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    real_get = RuntimeConfig.get

    def alien_get(self, key, default=None):
        if key == "spark.sql.files.maxPartitionBytes":
            return "9x"  # a unit no parser version knows
        return real_get(self, key, default)

    monkeypatch.setattr(RuntimeConfig, "get", alien_get)
    assert spread(df) is df  # unparseable conf → conservative no-op
    monkeypatch.setattr(RuntimeConfig, "get", real_get)
    assert spread(df).rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism  # sane conf → engages again


def test_spread_caps_estimate_for_non_splittable_codecs(spark, tmp_path):
    """For gzip'd (non-splittable) input Spark yields one partition per
    file regardless of size, so spread() must cap its FilePartition
    estimate at len(files) (r9 ADVICE): a few large .gz files must
    ENGAGE even though their byte total estimates >= cores splits."""
    from tamar_spark.sources import spread

    par = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "gz")
    # Two large-ish gzip text files: byte-size estimate would say "many
    # splits", but the real scan is 2 tasks.
    spark.range(0, 400_000).selectExpr("repeat('x', 200) as v") \
        .coalesce(2).write.option("compression", "gzip").text(path)
    df = spark.read.text(path)
    files = df.inputFiles()
    assert len(files) == 2 and all(f.endswith(".gz") for f in files)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    # Force the byte-based estimate above cores: tiny split size.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
    try:
        out = spread(df)
        assert out is not df  # capped at len(files)=2 < cores → engage
        assert out.rdd.getNumPartitions() == par
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_declines_on_many_gz_csv_files(spark, tmp_path):
    """The other side of the codec cap (r10 VERDICT task 7), on a real
    gzipped CSV fixture: with at least ``defaultParallelism`` .gz files
    the capped estimate ``min(byte_estimate, len(files))`` is >= cores —
    the scan is already file-parallel — so spread() must DECLINE and add
    no shuffle (the production posture for a pre-sharded compressed
    drop: thousands of .csv.gz shards, one task each)."""
    from tamar_spark.sources import spread

    par = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "gzcsv")
    (
        spark.range(0, par * 1000)
        .selectExpr("id", "concat('row-', id) as name")
        .repartition(par)
        .write.option("compression", "gzip")
        .option("header", "true")
        .csv(path)
    )
    df = spark.read.option("header", "true").csv(path)
    files = df.inputFiles()
    assert len(files) >= par and all(f.endswith(".csv.gz") for f in files)
    out = spread(df)
    assert out is df, "spread() must decline on >=cores non-splittable files"


def test_plan_helpers_detect_python_stage(spark):
    from tamar_spark.plans import has_python_stage

    df = spark.range(10)
    assert not has_python_stage(df)
    mapped = df.mapInPandas(lambda it: it, schema="id long")
    assert has_python_stage(mapped)


def test_headline_plans_stay_jvm_side(spark, sf_dir):
    """Scale contract: core relational/dedup/similarity queries must compile
    to pure JVM plans (no Arrow/Python stages) with bounded shuffles."""
    from tamar_spark.plans import has_python_stage, shuffle_count
    from tamar_spark.queries import QUERIES

    for name, max_shuffles in [
        ("filter_map", 0),
        ("q1_pricing", 1),
        ("q5_region_revenue", 2),
        ("session_agg", 1),
        ("asof_join_latest_order", 1),
        # capped path: candidate generation (freq + pruned self-join +
        # distinct, cached) feeds an exact candidate-bounded verify — more
        # pipeline stages than the old uncapped join, every one of them
        # candidate-limited
        ("dedup_ngram_jaccard", 12),
        ("embed_cosine_topk", 2),
    ]:
        df = QUERIES[name](spark, sf_dir)
        assert not has_python_stage(df), f"{name} has a Python stage"
        assert shuffle_count(df) <= max_shuffles, (
            f"{name}: {shuffle_count(df)} shuffles > {max_shuffles}"
        )


def test_ivf_topk_single_list_equals_exact(spark):
    """With one inverted list (probe=1), IVF candidate generation degenerates
    to the full corpus — results must equal exact brute-force top-k."""
    import random

    from tamar_spark.operators.similarity import cosine_topk, ivf_topk

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") % 10 == 0)
    exact = cosine_topk(df, q, k=3)
    ivf = ivf_topk(df, q, k=3, n_centroids=1, n_probe=1)
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, ivf.collect()))


def test_embedding_neardup_finds_planted_dup(spark):
    """A planted near-identical vector pair must surface above threshold."""
    import random

    from tamar_spark.operators.dedup_embedding import blocked_cosine_pairs

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    dup = [v * 1.001 for v in rows[5][1]]
    rows.append((99, dup))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = blocked_cosine_pairs(df, threshold=0.99)
    pairs = {(r.src_id, r.dup_id) for r in out.collect()}
    assert (5, 99) in pairs


def test_csv_json_source_roundtrip(spark, tmp_path):
    """Connector coverage beyond parquet: the same pipeline reads csv and
    json sources through Environment.add_source (reference Source trait,
    src/lib.rs:60-62 — formats come free from Spark)."""
    from tamar_spark.env import Environment

    src = spark.createDataFrame(
        [(1, "a", 10.5), (2, "b", 20.25), (3, "a", 1.0)], "id long, k string, v double"
    )
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    src.write.option("header", True).csv(csv_dir)
    src.write.json(json_dir)

    env = Environment(spark)
    expected = sorted(map(tuple, src.collect()))
    got_csv = (
        env.add_source(csv_dir, fmt="csv", schema=src.schema, options={"header": True})
        .to_df()
        .collect()
    )
    got_json = env.add_source(json_dir, fmt="json", schema=src.schema).to_df().collect()
    assert sorted(map(tuple, got_csv)) == expected
    assert sorted(map(tuple, got_json)) == expected


def test_foreach_batch_multi_sink(spark, tmp_path):
    """Streaming fan-out via foreachBatch: one computed micro-batch written
    to two sinks (the scale-correct form of the reference's split+add_sink,
    src/lib.rs:217-245)."""
    from tamar_spark.env import Environment

    src_dir = str(tmp_path / "src")
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    base = spark.range(0, 100).withColumn("v", F.col("id") * 2)
    base.write.parquet(src_dir)

    env = Environment(spark, streaming=True)
    stream = env.add_source(src_dir, fmt="parquet")

    def write_both(df, batch_id):
        df.write.mode("append").parquet(out_a)
        df.filter(F.col("v") >= 100).write.mode("append").parquet(out_b)

    stream.foreach_batch(write_both)
    env.execute()

    assert spark.read.parquet(out_a).count() == 100
    assert spark.read.parquet(out_b).count() == 50


def test_foreach_batch_batch_mode_degenerates(spark):
    from tamar_spark.stream import DataStream

    seen = []
    DataStream(spark.range(5)).foreach_batch(lambda df, bid: seen.append((bid, df.count())))
    assert seen == [(0, 5)]


def _expr_cosine_pairs(df, threshold, id_col="vec_id", vec_col="embedding"):
    """Reference for the GEMM kernels: pure-JVM self-join with a
    ``zip_with``/``aggregate`` fold per pair — zero Python."""
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


def test_embedding_neardup_blocked_equals_expr(spark):
    """The GEMM-blocked path and the pure-JVM expression path must agree
    exactly (both are exact algorithms)."""
    import random

    from tamar_spark.operators.dedup_embedding import blocked_cosine_pairs

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    blocked = blocked_cosine_pairs(df, threshold=0.3, n_blocks=4)
    expr = _expr_cosine_pairs(df, threshold=0.3)
    assert sorted(map(tuple, blocked.collect())) == sorted(map(tuple, expr.collect()))


def test_approx_distinct_within_bounds(spark, sf_dir):
    """HLL estimate must land within 5% of the exact distinct count —
    checked independently of the query's own hll_ok flag, and the flag
    itself must be TRUE (the driver hashes it against a literal-TRUE
    oracle)."""
    from tamar_spark.queries import QUERIES
    from tamar_spark.sources import load_table

    est = {
        r.event_type: r.approx
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx"))
        .collect()
    }
    exact = {
        r.event_type: r.exact
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    for k, v in exact.items():
        assert abs(est[k] - v) / v <= 0.05, (k, est[k], v)
    rows = QUERIES["approx_distinct_users"](spark, sf_dir).collect()
    assert rows and all(r.hll_ok for r in rows)
    assert {r.event_type: r.exact_users for r in rows} == exact


def _topk_sets(df, k=5):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_lsh_and_ivf_recall_bounds(spark):
    """Approximate ANN quality gates on a corpus with planted cluster
    structure (10 centers + small noise — the regime LSH/IVF exist for;
    on near-orthogonal random vectors no sublinear method can beat chance).
    These are the rows-only queries — this test is their correctness story."""
    import random

    from tamar_spark.operators.similarity import cosine_topk, ivf_topk, lsh_topk

    rng = random.Random(17)
    dim, n_clusters, per_cluster = 16, 10, 20
    centers = [
        [rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    for i in range(n_clusters * per_cluster):
        c = centers[i % n_clusters]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries_df = emb.filter(F.col("vec_id") < 10)

    exact = _topk_sets(cosine_topk(emb, queries_df, k=5))
    lsh = _topk_sets(lsh_topk(emb, queries_df, k=5, dim=dim, n_tables=8, n_bits=8))
    ivf = _topk_sets(ivf_topk(emb, queries_df, k=5, n_centroids=16, n_probe=4))

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
        total = sum(len(nbrs) for nbrs in exact.values())
        return hits / total

    r_lsh, r_ivf = recall(lsh), recall(ivf)
    assert r_lsh >= 0.8, f"LSH recall too low: {r_lsh}"
    assert r_ivf >= 0.8, f"IVF recall too low: {r_ivf}"


def test_ivf_deterministic_across_partition_layouts(spark):
    """The default centroid seed must be order-stable: identical ivf_topk
    output whatever the corpus partitioning (r2 ADVICE fix — the old
    filter().limit() pick and monotonically_increasing_id list_id were both
    partition-layout-dependent)."""
    import random

    from tamar_spark.operators.similarity import ivf_topk

    rng = random.Random(41)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries_df = emb.filter(F.col("vec_id") < 8)

    def run(corpus):
        return sorted(
            (r.query_id, r.rank, r.neighbor_id, r.score)
            for r in ivf_topk(corpus, queries_df, k=5, n_centroids=8, n_probe=3).collect()
        )

    a = run(emb.repartition(1))
    b = run(emb.repartition(13, "vec_id"))
    c = run(emb.coalesce(3))
    assert a == b == c


def test_ivf_trained_centroids_derive_nprobe_from_centroid_count(spark):
    """r10 ADVICE: with a trained ``centroids=`` table and ``n_probe``
    left None, the default probe count must come from the CENTROID
    table's own row count (⌈nlist/4⌉ of the trained nlist), never from
    ⌈√corpus⌉ — otherwise the documented 1/4 scan-fraction contract
    silently breaks whenever trained nlist ≠ ⌈√n⌉.  Also pins that the
    trained path never counts the corpus: with explicit n_probe the
    construction is fully lazy (0 jobs), and with derived n_probe the
    single pre-flight touches only the tiny centroid table."""
    import math
    import random

    from tamar_spark.operators.similarity import ivf_topk, l2_norm

    rng = random.Random(23)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries_df = emb.filter(F.col("vec_id") < 6)

    # a "trained" table of 12 centroids in the documented shape
    nlist = 12
    cent_rows = [(j, [rng.gauss(0, 1) for _ in range(8)]) for j in range(nlist)]
    cents = spark.createDataFrame(
        cent_rows, "list_id int, _cent array<double>"
    ).withColumn("_cent_n", l2_norm(F.col("_cent")))

    def run(**kw):
        return sorted(
            (r.query_id, r.rank, r.neighbor_id, r.score)
            for r in ivf_topk(emb, queries_df, k=5, centroids=cents, **kw).collect()
        )

    # derived default == explicit ceil(nlist/4), and != a wrong corpus-
    # derived fraction (⌈√400⌉/4 = 5 probes of a 12-list table)
    derived = run()
    assert derived == run(n_probe=math.ceil(nlist / 4))
    assert derived != run(n_probe=5)

    # explicit n_probe alongside centroids= → fully lazy construction
    sc = spark.sparkContext
    group = "trained-centroid-probe"
    sc.setJobGroup(group, "asserting laziness", interruptOnCancel=False)
    try:
        df = ivf_topk(emb, queries_df, k=5, centroids=cents, n_probe=3)
    finally:
        sc.setJobGroup("", "", interruptOnCancel=False)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert jobs == [], f"trained-centroid construction launched jobs: {jobs}"
    assert df.count() >= 0


def test_incrementing_python_datasource(spark):
    """Custom Python DataSource parity with the reference's Source trait:
    IncrementingSource (src/lib.rs:968-984), partition-parallel."""
    from tamar_spark.sources.pysource import register_py_sources

    register_py_sources(spark)
    df = (
        spark.read.format("tamar_incrementing")
        .option("n", 1000)
        .option("num_partitions", 8)
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    rows = df.orderBy("value").collect()
    assert [r.value for r in rows] == list(range(1000))
    assert rows[10].event_time.second == 10
    assert rows[10].event_time == rows[10].processing_time


def test_slice_event_python_datasource(spark):
    """SliceEventSource replay (src/lib.rs:1019-1033): golden event fixtures
    through a custom source, then a session-window aggregate over them —
    the reference's separate-sessions scenario end-to-end from a user
    source."""
    import json

    from tamar_spark.sources.pysource import register_py_sources

    register_py_sources(spark)
    events = [(1, 12, 0), (2, 12, 10), (3, 13, 0)]  # gap 30m → 2 sessions
    df = (
        spark.read.format("tamar_slice")
        .option("events", json.dumps(events))
        .load()
    )
    agg = (
        df.groupBy(F.session_window("event_time", "30 minutes"))
        .agg(F.sum("value").alias("s"))
        .select("s")
    )
    assert sorted(r.s for r in agg.collect()) == [3, 3]


def test_incrementing_datasource_streams(spark, tmp_path):
    """Streaming read from the custom Python source: micro-batches advance
    a counter offset (the reference's push loop with Spark-owned offsets),
    then a watermarked tumbling aggregate consumes them."""
    from tamar_spark.sources.pysource import register_py_sources

    register_py_sources(spark)
    sdf = (
        spark.readStream.format("tamar_incrementing")
        .option("n", 100)
        .option("rows_per_batch", 37)
        .load()
    )
    agg = (
        sdf.withWatermark("event_time", "0 seconds")
        .groupBy(F.window("event_time", "1 minute"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    # availableNow drains only the first offset range of a custom Python
    # stream source — run on a fast processing-time trigger and stop once
    # the closed window lands in the sink
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("pysource_stream_out")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        while time.time() < deadline and spark.table("pysource_stream_out").count() == 0:
            time.sleep(0.5)
        rows = {
            r["window"].start.minute: (r.n, r.s)
            for r in spark.table("pysource_stream_out").collect()
        }
    finally:
        q.stop()
    # 100 events, 1/sec → minute 0 holds 0..59 and closes once the
    # watermark passes it; minute 1 (40 events) stays open and must NOT emit
    assert rows.get(0) == (60, sum(range(60)))
    assert 1 not in rows


def test_jsonl_sink_datasource(spark, tmp_path):
    """Custom Python writer (reference Sink trait, src/lib.rs:74-76):
    per-partition jsonl files + a driver-side commit manifest.  Readers
    consume only manifest-listed files, so an orphan part file from a
    retried/speculative attempt is never double-counted."""
    import json as _json

    from tamar_spark.sources.pysource import read_jsonl_sink, register_py_sources

    register_py_sources(spark)
    out = str(tmp_path / "sinkout")
    df = spark.range(0, 50).select(F.col("id"), (F.col("id") * 3).alias("v")).repartition(4)
    df.write.format("tamar_jsonl_sink").option("path", out).mode("append").save()

    success = _json.load(open(f"{out}/_SUCCESS.json"))
    assert success["rows"] == 50
    assert len(success["files"]) == 4

    # simulate an orphan file from a failed/speculative attempt: the
    # manifest-driven reader must ignore it
    with open(f"{out}/part-00001-deadbeef.jsonl", "w") as f:
        f.write(_json.dumps({"id": "999", "v": "2997"}) + "\n")

    rows = read_jsonl_sink(out)
    assert len(rows) == 50
    assert sorted(int(r["v"]) for r in rows) == [i * 3 for i in range(50)]


def test_bloom_sketch_membership(spark, sf_dir):
    """Bloom semantics: every true member's 3 hash bits are set in its
    group's words (no false negatives, the Bloom guarantee)."""
    import hashlib

    from tamar_spark.queries import QUERIES
    from tamar_spark.sources import load_table

    words = {
        r.event_type: [r.w0, r.w1, r.w2, r.w3]
        for r in QUERIES["bloom_sketch"](spark, sf_dir).collect()
    }
    pairs = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .collect()
    )
    for r in pairs:
        hx = hashlib.md5(str(r.user_id).encode()).hexdigest()
        for k in range(3):
            pos = int(hx[8 * k : 8 * k + 8], 16) % 252
            w, b = pos // 63, pos % 63
            assert words[r.event_type][w] & (1 << b), (r.event_type, r.user_id, k)


def test_asof_forward_matches_scan(spark, asof_data):
    """Forward as-of (earliest right with rt >= t), checked against a
    brute-force scan."""
    from tamar_spark.operators.asof import asof_join

    left, right = asof_data
    out = asof_join(
        left,
        right,
        left_on="t",
        right_on="rt",
        left_by="k",
        right_by="k",
        right_cols=["rid"],
        tiebreak="rid",
        direction="forward",
    ).collect()
    expect = {}
    for l in left.collect():
        cands = [r for r in right.collect() if r.k == l.k and r.rt >= l.t]
        if cands:
            earliest = min(c.rt for c in cands)
            expect[l.eid] = max(c.rid for c in cands if c.rt == earliest)
        else:
            expect[l.eid] = None
    got = {r.eid: r.rid for r in out}
    assert got == expect


def test_connected_components_chain_and_clique(spark):
    """A~B~C chain collapses to one component even though A!~C; separate
    clique keeps its own; singleton edges keep theirs."""
    from tamar_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_id_1 long, doc_id_2 long",
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_match_union_find(spark):
    """Components must equal a pure-Python union-find's on a random graph
    that includes a long chain (the diameter-growing case)."""
    import random

    from tamar_spark.operators.graph import connected_components

    rng = random.Random(23)
    edges = [(i, i + 1) for i in range(40)]  # one 41-node chain
    nodes = list(range(100, 140))
    edges += [(rng.choice(nodes), rng.choice(nodes)) for _ in range(30)]
    edges = [(a, b) for a, b in edges if a != b]

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # the root stays the minimum id
    want = sorted((n, find(n)) for n in parent)

    df = spark.createDataFrame(edges, "doc_id_1 long, doc_id_2 long")
    assert sorted(map(tuple, connected_components(df).collect())) == want


def test_connected_components_labels_long_chain_at_default_budget(spark):
    """A 31-node chain needs 30 rounds of min-label propagation; the
    default budget must still label every node with the component
    minimum, never return a partial labelling."""
    from tamar_spark.operators.graph import connected_components

    chain = spark.range(30).select(
        F.col("id").alias("doc_id_1"), (F.col("id") + 1).alias("doc_id_2")
    )
    got = {r.node: r.component for r in connected_components(chain).collect()}
    assert got == {n: 0 for n in range(31)}


def test_connected_components_raises_when_round_budget_runs_out(spark, monkeypatch):
    """Not a star forest when the budget is spent: a loud RuntimeError
    naming the round count, not whatever labels the last round left."""
    from tamar_spark.operators import graph

    monkeypatch.setattr(graph, "MAX_ROUNDS", 1)
    chain = spark.range(63).select(
        F.col("id").alias("doc_id_1"), (F.col("id") + 1).alias("doc_id_2")
    )
    with pytest.raises(RuntimeError, match="after 1 rounds"):
        graph.connected_components(chain)


def test_star_cc_round_count_is_logarithmic_on_chains(spark):
    """Pins the O(log² n) claim that justifies the star path's existence
    (r6 VERDICT task 8): on an n-node CHAIN — the diameter-growing worst
    case where min-label propagation needs n-1 rounds — large-star/
    small-star must converge in ~log₂(n) rounds (measured: log₂(n)+1 at
    every probed size; pinned with +2 slack), and the round count must
    grow by ≤2 per 4× nodes, never linearly."""
    import math

    from pyspark.sql import functions as F

    from tamar_spark.operators.graph import connected_components

    rounds = {}
    for n in [64, 256, 1024]:
        chain = spark.range(n - 1).select(
            F.col("id").alias("doc_id_1"), (F.col("id") + 1).alias("doc_id_2")
        )
        stats: dict = {}
        out = connected_components(chain, stats=stats)
        assert out.filter(F.col("component") != 0).count() == 0
        assert out.count() == n
        rounds[n] = stats["rounds"]
        assert stats["rounds"] <= math.log2(n) + 2, (n, stats["rounds"])
    assert rounds[256] - rounds[64] <= 2
    assert rounds[1024] - rounds[256] <= 2


def test_kcore_star_vs_clique(spark):
    """The semantic point of k-cores: a star's center has degree 5 but the
    2-core of a star is EMPTY (leaves die first, then the center), while a
    4-clique survives a 2-core intact with in-core degree 3."""
    from pyspark.sql import functions as F

    from tamar_spark.operators.graph import kcore

    star = [(0, i) for i in range(1, 6)]
    clique = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    df = spark.createDataFrame(star + clique, "a long, b long")
    stats: dict = {}
    got = {r.node: r.core_degree for r in kcore(df, k=2, stats=stats).collect()}
    assert got == {10: 3, 11: 3, 12: 3, 13: 3}
    assert stats["converged"]
    # the one-row-per-pair contract escape hatch: the same graph fed as
    # bi-oriented duplicated rows must yield the identical core when the
    # caller declares the input unnormalized (duplicates would otherwise
    # double every degree and fake a k=2 star core)
    messy = spark.createDataFrame(
        star + [(b, a) for a, b in star] + clique + clique,
        "a long, b long",
    )
    got_messy = {
        r.node: r.core_degree
        for r in kcore(messy, k=2, assume_one_row_per_pair=False).collect()
    }
    assert got_messy == got


def test_kcore_matches_direct_peel_on_random_graph(spark):
    """The distributed peel must equal a direct sequential peel (node set
    AND in-core degrees) on a random graph at several k — including a k
    high enough to collapse the graph entirely."""
    import random

    from tamar_spark.operators.graph import kcore

    rng = random.Random(29)
    nodes = list(range(60))
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.choice(nodes), rng.choice(nodes)) for _ in range(300)
            )
            if a != b
        }
    )
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    df = spark.createDataFrame(edges, "a long, b long")
    for k in (3, 6, 40):
        alive = set(adj)
        while True:
            dead = {
                u for u in alive if sum(1 for v in adj[u] if v in alive) < k
            }
            if not dead:
                break
            alive -= dead
        expect = {
            u: sum(1 for v in adj[u] if v in alive) for u in alive
        }
        stats: dict = {}
        got = {
            r.node: r.core_degree
            for r in kcore(df, k=k, max_rounds=30, stats=stats).collect()
        }
        assert got == expect, k
        assert stats["converged"], k


def test_approx_percentile_rank_error(spark):
    """percentile_approx at accuracy 10000 must land within rank error
    1e-3·n of the exact quantile (loose 10x slack over the sketch's 1e-4
    guarantee to keep the test non-flaky).  Checked independently of the
    query's own self-verification so both sides cover each other."""
    from pyspark.sql import functions as F

    from tamar_spark.sources import load_table

    sf_dir = "/root/testdata/sf0.01"
    got = {
        r.event_type: r.approx_pcts
        for r in (
            load_table(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(
                F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias(
                    "approx_pcts"
                )
            )
            .collect()
        )
    }
    e = load_table(spark, sf_dir, "events").select("event_type", "value").toPandas()
    for etype, pcts in got.items():
        vals = e[e.event_type == etype]["value"].sort_values().to_numpy()
        n = len(vals)
        for q, approx in zip((0.5, 0.9, 0.99), pcts):
            import bisect

            # rank band of the approximate answer in the exact distribution
            lo = bisect.bisect_left(vals, approx)
            hi = bisect.bisect_right(vals, approx)
            target = q * (n - 1)
            slack = max(1e-3 * n, 1.0)
            assert lo - slack <= target <= hi + slack, (
                f"{etype} p{q}: approx {approx} at ranks [{lo},{hi}] "
                f"vs target {target:.0f}±{slack:.0f} of n={n}"
            )


def test_lsh_tables_for_math():
    """Table auto-sizing uses the ANGLE (arccos of the cosine), not the
    cosine itself, in the sign-LSH collision formula (r2 ADVICE fix)."""
    import math

    from tamar_spark.operators.dedup_embedding import lsh_tables_for

    # hand-computed: cos 0.9 -> p_bit 0.8564, p_table(6 bits) 0.394,
    # miss(8 tables) 1.8e-2 -> 1e-4 needs 19 tables
    assert lsh_tables_for(0.9, 6, 1e-4) == 19
    # near-identical pairs need few tables
    assert lsh_tables_for(0.99, 6, 1e-4) <= 8
    # the sized miss rate actually meets the target
    for thr, bits in [(0.9, 6), (0.95, 6), (0.8, 4)]:
        t = lsh_tables_for(thr, bits, 1e-4)
        p_table = (1 - math.acos(thr) / math.pi) ** bits
        assert (1 - p_table) ** t <= 1e-4
        assert (1 - p_table) ** (t - 1) > 1e-4, "not minimal"


def test_approx_percentile_query_self_verifies(spark):
    """The shipped approx_percentile_value query emits rank-bound booleans
    that must all be TRUE at sf0.01 (the driver hashes them against a
    literal-TRUE oracle)."""
    from tamar_spark.queries import QUERIES

    rows = QUERIES["approx_percentile_value"](spark, "/root/testdata/sf0.01").collect()
    assert rows, "query returned no groups"
    for r in rows:
        assert r.p50_ok and r.p90_ok and r.p99_ok, r


def test_first_fit_pack_bucketed(spark, sf_dir):
    """n_buckets=1 must equal the shipped query exactly; n_buckets=4 must
    (a) preserve exact first-fit within each doc_id range bucket, (b) keep
    pack ids unique, ordered, and gap-free per (lang, source), and (c)
    never overfill a pack except for a single oversized doc."""
    from pyspark.sql import functions as F

    from tamar_spark.functions import text as T
    from tamar_spark.queries_pipeline import _PACK_CAPACITY, first_fit_pack
    from tamar_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", "source", "doc_id", T.token_count(F.col("text")).alias("n_tok")
    )

    base = {
        (r.lang, r.source, r.doc_id): (r.n_tok, r.pack_id)
        for r in first_fit_pack(toks).collect()
    }
    b1 = {
        (r.lang, r.source, r.doc_id): (r.n_tok, r.pack_id)
        for r in first_fit_pack(toks, n_buckets=1).collect()
    }
    assert b1 == base

    n_buckets = 4
    rows = first_fit_pack(toks, n_buckets=n_buckets).collect()
    assert len(rows) == len(base)

    lo = min(k[2] for k in base)
    hi = max(k[2] for k in base)
    width = (hi - lo + n_buckets) // n_buckets

    # replay exact first-fit per (shard, bucket) and compare relative pack
    # structure; collect per-shard pack ids for the global invariants
    from collections import defaultdict

    by_shard_bucket = defaultdict(list)
    for r in rows:
        by_shard_bucket[(r.lang, r.source, (r.doc_id - lo) // width)].append(r)
    per_shard_ids = defaultdict(set)
    for (lang, source, bucket), rs in by_shard_bucket.items():
        rs.sort(key=lambda r: r.doc_id)
        fill, pid = 0, 0
        local_of_first = rs[0].pack_id
        for j, r in enumerate(rs):
            assert r.n_tok == base[(lang, source, r.doc_id)][0]
            if j > 0 and fill + r.n_tok > _PACK_CAPACITY:
                pid += 1
                fill = 0
            fill += r.n_tok
            assert r.pack_id == local_of_first + pid, (
                lang, source, bucket, r.doc_id,
            )
            per_shard_ids[(lang, source)].add(r.pack_id)

    for (lang, source), ids in per_shard_ids.items():
        assert ids == set(range(len(ids))), (lang, source)

    # capacity invariant: multi-doc packs never exceed capacity
    pack_tot = defaultdict(int)
    pack_n = defaultdict(int)
    for r in rows:
        pack_tot[(r.lang, r.source, r.pack_id)] += r.n_tok
        pack_n[(r.lang, r.source, r.pack_id)] += 1
    for k, tot in pack_tot.items():
        assert tot <= _PACK_CAPACITY or pack_n[k] == 1, k


def _fake_jpeg(entropy: bytes, app_extra: bytes = b"") -> bytes:
    """Minimal structurally-valid JPEG: SOI, APP0 (+optional extra APP1
    payload), DQT, SOS header, entropy-coded data, EOI.  The entropy bytes
    are used verbatim — callers must pre-escape 0xFF as 0xFF 0x00."""
    import struct

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = b"\xff\xd8"  # SOI
    out += seg(0xE0, b"JFIF\x00" + b"\x01\x02\x00" + b"\x00\x48\x00\x48\x00\x00")
    if app_extra:
        out += seg(0xE1, app_extra)
    out += seg(0xDB, b"\x00" + bytes(64))  # DQT
    out += seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")  # SOS header
    out += entropy
    out += b"\xff\xd9"  # EOI
    return out


def test_mjpeg_frame_splitter_adversarial():
    """The structural splitter must survive the two traps a naive FFD9 scan
    dies on: an EXIF APP1 segment embedding a COMPLETE JPEG thumbnail (its
    own EOI included), and entropy data full of stuffed FF00s and restart
    markers."""
    from tamar_spark.functions.multimodal import _iter_jpeg_frames

    thumb = _fake_jpeg(b"\x12\x34\xff\x00\x56")  # complete JPEG incl. EOI
    f1 = _fake_jpeg(
        b"\x01\xff\x00\x02" + b"\xff\xd1" + b"\x03\xff\x00\x04",
        app_extra=b"Exif\x00\x00" + thumb,
    )
    f2 = _fake_jpeg(b"\xaa\xbb\xff\x00\xcc" + b"\xff\xd7" + b"\xdd")
    f3 = _fake_jpeg(b"")
    stream = f1 + f2 + f3

    bounds = list(_iter_jpeg_frames(stream))
    assert bounds == [
        (0, len(f1)),
        (len(f1), len(f1) + len(f2)),
        (len(f1) + len(f2), len(stream)),
    ]


def test_sample_frames_real_paths(spark):
    """Both real container paths end-to-end through mapInPandas: MJPEG
    (frame count + per-frame hashes of the exact byte slices) and rawvideo
    (fixed-size slicing with every_n sampling); unknown containers raise."""
    import hashlib

    import pytest
    from pyspark.sql import Row

    from tamar_spark.functions import multimodal as M

    frames = [_fake_jpeg(bytes([i, 0xFF, 0x00, i])) for i in range(5)]
    mjpeg = b"".join(frames)
    df = spark.createDataFrame([Row(id=1, payload=bytearray(mjpeg))])
    got = sorted(
        M.sample_frames(df, every_n=2, fmt="mjpeg").collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in got] == [0, 2, 4]
    for r in got:
        assert r.n_bytes == len(frames[r.frame_idx])
        assert r.sha == hashlib.sha256(frames[r.frame_idx]).hexdigest()

    raw = bytes(range(100))
    df2 = spark.createDataFrame([Row(id=7, payload=bytearray(raw))])
    got2 = sorted(
        M.sample_frames(
            df2, every_n=1, fmt="rawvideo", width=3, height=3, channels=1
        ).collect(),
        key=lambda r: r.frame_idx,
    )
    assert len(got2) == 11  # floor(100/9)
    for r in got2:
        sl = raw[r.frame_idx * 9 : r.frame_idx * 9 + 9]
        assert r.n_bytes == 9 and r.sha == hashlib.sha256(sl).hexdigest()

    with pytest.raises(Exception, match="not supported"):
        M.sample_frames(df2, fmt="mp4").collect()


def test_wav_decode_real_and_adversarial(spark):
    """decode_audio must parse canonical WAVs, WAVs with extra chunks
    before/after data (LIST/INFO, fact) and odd-length word-aligned data,
    and must reject non-PCM and non-RIFF payloads loudly."""
    import struct

    import pytest
    from pyspark.sql import Row

    from tamar_spark.functions import multimodal as M

    # canonical: 101 bytes of 16-bit mono 8kHz -> 50 samples
    wav1 = M.make_wav(bytes(101))
    # extra chunks + odd data: LIST before fmt, fact after data
    data = bytes(range(7))  # odd length
    body = b"LIST" + struct.pack("<I", 4) + b"INFO"
    fmtc = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    body += b"fmt " + struct.pack("<I", len(fmtc)) + fmtc
    body += b"data" + struct.pack("<I", len(data)) + data + b"\x00"
    body += b"fact" + struct.pack("<I", 4) + struct.pack("<I", 1)
    wav2 = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    df = spark.createDataFrame(
        [Row(id=1, payload=bytearray(wav1)), Row(id=2, payload=bytearray(wav2))]
    )
    rows = {r.id: r for r in M.decode_audio(df).collect()}
    assert rows[1].sample_rate == 8000 and rows[1].n_channels == 1
    assert rows[1].n_samples == 50 and rows[1].bits_per_sample == 16
    assert rows[1].duration_ms == 50 * 1000.0 / 8000
    assert rows[2].sample_rate == 44100 and rows[2].n_channels == 2
    assert rows[2].n_samples == 1  # 7 bytes // block 4

    # non-PCM (format tag 3 = IEEE float) and garbage must raise
    bad_fmt = struct.pack("<HHIIHH", 3, 1, 8000, 16000, 2, 16)
    nb = b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt
    nb += b"data" + struct.pack("<I", 2) + b"\x00\x00"
    non_pcm = b"RIFF" + struct.pack("<I", 4 + len(nb)) + b"WAVE" + nb
    for payload in (non_pcm, b"not audio at all"):
        bad = spark.createDataFrame([Row(id=9, payload=bytearray(payload))])
        with pytest.raises(Exception, match="not supported"):
            M.decode_audio(bad).collect()


def test_mjpeg_restart_stream_composition(spark):
    """Camera-shaped MJPEG end to end (r13): frames encoded WITH restart
    intervals, concatenated, re-split by the structural walker (RSTn are
    standalone markers the split must skip, and each frame's DRI segment
    must not desync the segment walk), then entropy-decoded with the
    restart protocol — every sampled frame inside the bound.  This is
    the composition video_frame_pixels' 100 TB claim rides on; the
    registered query keeps the restart-free synthesis so its driver
    ledger row stays comparable across rounds, and this test pins the
    restart-bearing variant through the same DataFrame kernel."""
    import random

    from pyspark.sql import Row

    from tamar_spark.functions import multimodal as M

    rng = random.Random(23)
    texts = [
        "".join(chr(rng.randrange(32, 127)) for _ in range(n))
        for n in (192, 600, 1537, 3000)
    ]
    # driver-side structural check: splitter recovers restart streams
    pay = texts[2].encode()
    chunks = [pay[k * 192 : (k + 1) * 192] for k in range(len(pay) // 192)]
    stream = b"".join(
        M.make_jpeg(c, width=8, quality=99, restart_interval=2) for c in chunks
    )
    bounds = list(M._iter_jpeg_frames(stream))
    assert len(bounds) == len(chunks)
    # and every split frame decodes with predictor resets intact
    for (s, e), c in zip(bounds, chunks):
        w, h, nch, px = M.parse_jpeg(stream[s:e])
        assert (w, h, nch) == (8, 8, 3)

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    out = M.mjpeg_frame_pixel_check(df, restart_interval=2).collect()
    assert len(out) == sum((len(t) // 192 + 3) // 4 for t in texts)
    assert all(r.decode_ok for r in out)


def test_pcm_stats_features_and_adversarial(spark):
    """pcm_stats (r13): sample-level features through the RIFF data
    chunk must match hand-computed values — including the clipping
    threshold (|s| ≥ 32767 counts -32768, -32767, and 32767), exact
    integer sum-of-squares RMS, and interleaved multi-channel pooling —
    and must reject non-PCM and non-16-bit payloads loudly."""
    import math
    import struct

    import pytest
    from pyspark.sql import Row

    from tamar_spark.functions import multimodal as M

    # synthetic extremes: full-scale negative, full-scale positive,
    # one-off-full-scale, and a zero → 3 of 4 samples clip
    samples = [-32768, 32767, -32767, 0]
    data = b"".join(struct.pack("<h", s) for s in samples)
    wav1 = M.make_wav(data)
    # stereo: pooled interleaved stats over both channels
    st_samples = [100, -200, 300, -400]
    wav2 = M.make_wav(
        b"".join(struct.pack("<h", s) for s in st_samples), n_channels=2
    )
    df = spark.createDataFrame(
        [Row(id=1, payload=bytearray(wav1)), Row(id=2, payload=bytearray(wav2))]
    )
    rows = {r.id: r for r in M.pcm_stats(df).collect()}
    assert rows[1].n_samples == 4 and rows[1].peak_abs == 32768
    assert rows[1].clip_frac == 0.75
    assert rows[1].rms == math.sqrt(
        float(sum(s * s for s in samples)) / 4
    )
    assert rows[1].duration_ms == 4 * 1000.0 / 8000
    assert rows[2].n_samples == 4 and rows[2].peak_abs == 400
    assert rows[2].clip_frac == 0.0
    # stereo frames = 2 → duration over frames, stats over all values
    assert rows[2].duration_ms == 2 * 1000.0 / 8000

    # a truncated data chunk (declared size exceeds the buffer) must
    # raise rather than silently compute stats over fewer samples
    trunc = bytearray(M.make_wav(bytes(40)))[:-10]
    bad = spark.createDataFrame([Row(id=9, payload=trunc)])
    with pytest.raises(Exception, match="truncated WAV"):
        M.pcm_stats(bad).collect()
    with pytest.raises(Exception, match="truncated WAV"):
        M.pcm_silence_segments(bad).collect()

    # 8-bit PCM and float WAV must raise loudly
    wav8 = M.make_wav(bytes(8), bits=8)
    bad = spark.createDataFrame([Row(id=9, payload=bytearray(wav8))])
    with pytest.raises(Exception, match="16-bit"):
        M.pcm_stats(bad).collect()
    bad_fmt = struct.pack("<HHIIHH", 3, 1, 8000, 16000, 2, 16)
    nb = b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt
    nb += b"data" + struct.pack("<I", 2) + b"\x00\x00"
    non_pcm = b"RIFF" + struct.pack("<I", 4 + len(nb)) + b"WAVE" + nb
    bad = spark.createDataFrame([Row(id=9, payload=bytearray(non_pcm))])
    with pytest.raises(Exception, match="not supported"):
        M.pcm_stats(bad).collect()


def test_exact_sum_sq_chunked_accumulation():
    """_exact_sum_sq (r13 ADVICE): a flat int64 np.sum(s*s) wraps
    silently past ~2³³ samples; the chunked form must (a) agree with a
    pure-Python exact sum across chunk boundaries (lengths straddling
    multiples of the chunk size, including 0 and exact multiples) and
    (b) keep every numpy partial in range by construction — pinned
    here by driving the chunk size down to 3 so the boundary walk is
    actually exercised with full-scale samples."""
    import numpy as np

    from tamar_spark.functions.multimodal import _exact_sum_sq

    rng = np.random.default_rng(7)
    for n in (0, 1, 2, 3, 4, 6, 7, 9, 10):
        s = rng.integers(-32768, 32768, size=n).astype(np.int64)
        want = sum(int(x) * int(x) for x in s)
        assert _exact_sum_sq(s, chunk=3) == want, (n, s)
    # full-scale samples: each chunk partial sits at 3·2³⁰ < 2⁶³ even
    # at the minimum chunk, and the Python-int total is exact
    s = np.full(10, -32768, dtype=np.int64)
    assert _exact_sum_sq(s, chunk=3) == 10 * 32768 * 32768
    # default chunk path (single partial) agrees too
    assert _exact_sum_sq(s) == 10 * 32768 * 32768


def test_pcm_silence_segments_runs_and_edges(spark):
    """pcm_silence_segments (r13): maximal-run detection must handle the
    classic edge cases — leading silence, trailing silence (open run at
    end-of-stream), adjacent runs separated by ONE active sample (no
    merge), sub-min_len runs dropped, a fully-silent payload as one run,
    and a nonzero threshold including small-amplitude samples."""
    import struct

    from pyspark.sql import Row

    from tamar_spark.functions import multimodal as M

    def wav(samples):
        return bytearray(
            M.make_wav(b"".join(struct.pack("<h", s) for s in samples))
        )

    # id 1: [0]*12, 500, [0]*11, 500, [0]*9  → runs at 0(len12) and
    # 13(len11); the trailing 9-run is sub-min_len
    s1 = [0] * 12 + [500] + [0] * 11 + [500] + [0] * 9
    # id 2: fully silent, 40 samples → one run spanning everything
    s2 = [0] * 40
    # id 3: no silence at all
    s3 = [300, -300] * 20
    # id 4: |s| <= 2 counts as silent at thresh=2
    s4 = [1, -2, 2, 0, 1, 0, 1, -1, 2, 1, 0, -2] + [900] * 5
    df = spark.createDataFrame(
        [
            Row(id=1, payload=wav(s1)),
            Row(id=2, payload=wav(s2)),
            Row(id=3, payload=wav(s3)),
        ]
    )
    got = sorted(
        (r.id, r.seg_idx, r.start_sample, r.n_samples)
        for r in M.pcm_silence_segments(df).collect()
    )
    assert got == [(1, 0, 0, 12), (1, 1, 13, 11), (2, 0, 0, 40)], got

    df4 = spark.createDataFrame([Row(id=4, payload=wav(s4))])
    got4 = [
        (r.seg_idx, r.start_sample, r.n_samples, r.duration_ms)
        for r in M.pcm_silence_segments(df4, thresh=2, min_len=12).collect()
    ]
    assert got4 == [(0, 0, 12, 12 * 1000.0 / 8000)], got4


def test_salted_sessions_match_plain_session_agg(spark, sf_dir):
    """The salted two-phase session plan (sessionize per (key, time-bucket
    salt), merge boundary-straddling sub-sessions) must be indistinguishable
    from the single-phase plan — including sessions that span bucket
    boundaries, which a 30-minute bucket forces plenty of."""
    from tamar_spark.queries import QUERIES
    from tamar_spark import windows

    plain = QUERIES["session_agg"](spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # deliberately tiny bucket (30 min == gap) to maximize boundary crossings
    salted = windows.salted_sessions(
        ev, keys=["user_id"], ts="ts", gap="30 minutes",
        sums=(("sum_value", "value"),), bucket_seconds=1800,
    ).select(
        "window_start", "window_end", "user_id", "n_events",
        F.round("sum_value", 2).cast("double").alias("sum_value"),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_auto_salted_sessions_engages_from_measured_skew(spark):
    """auto_salted_sessions (r8 VERDICT task 8) must ENGAGE the time-
    bucket salt on the hot-key probe corpus and DECLINE on the uniform
    one — decided from the measured per-key counts — and its output must
    be row-identical to the plain native session plan on BOTH corpora
    (the salted-twin identity that makes the decision purely physical)."""
    from datetime import datetime, timedelta

    from tamar_spark import windows

    base = datetime(2024, 3, 1)
    # skewed: one user holds 80% of events across 10 days; uniform: 50
    # users × 40 events each.  Gaps alternate inside/outside the 30-min
    # session gap so both corpora exercise real merges.
    skew_rows = [
        (0, base + timedelta(minutes=17 * i), float(i % 7))
        for i in range(1600)
    ] + [
        (1 + (i % 40), base + timedelta(minutes=45 * (i // 40)), float(i % 5))
        for i in range(400)
    ]
    unif_rows = [
        (u, base + timedelta(minutes=45 * j + 7 * (u % 3)), float(u + j))
        for u in range(50)
        for j in range(40)
    ]
    for rows, expect_engage in ((skew_rows, True), (unif_rows, False)):
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        )
        decision: dict = {}
        got = windows.auto_salted_sessions(
            df, keys=["user_id"], ts="ts", gap="30 minutes",
            sums=(("sum_value", "value"),), bucket_seconds=86400,
            partitions=32, min_hot_rows=0, decision=decision,
        )
        assert decision["engaged"] is expect_engage, decision
        if expect_engage:
            # third direction: the absolute-volume floor (r9 — measured:
            # a 3.2×-share hot key of only 1.4M rows still loses to the
            # plain plan locally) must DECLINE the same ratio-hot corpus
            # when the hot key is under the floor
            floor_dec: dict = {}
            windows.auto_salted_sessions(
                df, keys=["user_id"], ts="ts", gap="30 minutes",
                partitions=32, decision=floor_dec,  # default 2M floor
            )
            assert floor_dec["engaged"] is False, floor_dec
        plain = (
            df.groupBy(
                F.session_window("ts", "30 minutes").alias("w"), "user_id"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(28,6)")).alias("sum_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "user_id", "n_events", "sum_value",
            )
        )
        norm = lambda d: sorted(
            map(tuple, d.select(
                "window_start", "window_end", "user_id", "n_events",
                F.col("sum_value").cast("double"),
            ).collect())
        )
        assert norm(got) == norm(plain), f"engage={expect_engage}"


def test_session_agg_auto_fixture_decision_and_identity(spark, sf_dir):
    """The registered ``session_agg_auto`` query (r9 VERDICT task 2)
    routes the flagship session aggregation through the measured gate.
    Pin what the fixture run actually does: on the events corpus the
    measurement sees a sub-floor hot key, so the gate DECLINES to the
    plain single-shuffle session plan — the same posture as a uniform
    100 TB corpus — and the query's rows are identical to session_agg's
    (the driver oracle proves the same through the shared hash)."""
    from tamar_spark import windows
    from tamar_spark.queries import QUERIES
    from tamar_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    decision: dict = {}
    windows.auto_salted_sessions(
        ev, keys=["user_id"], ts="ts", gap="30 minutes",
        sums=(("sum_value", "value"),), bucket_seconds=6 * 3600,
        decision=decision,
    )
    assert decision["engaged"] is False, decision
    # the decline is measured, not vacuous: the corpus is non-empty and
    # the hot key sits under the 2M-row absolute floor
    assert decision["n_rows"] > 0 and 0 < decision["max_rows"] < 2_000_000

    auto = QUERIES["session_agg_auto"](spark, sf_dir)
    plain = QUERIES["session_agg"](spark, sf_dir)
    norm = lambda d: sorted(map(tuple, d.collect()))
    assert norm(auto) == norm(plain)


def test_session_agg_auto_skew_engages_the_salted_plan(spark, sf_dir):
    """The registered ``session_agg_auto_skew`` query (r10 VERDICT task 3)
    must take the ENGAGED branch on the fixture: the deterministic
    event_id%10 remap makes a ~10%-of-corpus hot key, the pinned 32-task
    layout sees a ~3.8× share ratio, and the remapped hot key clears the
    fixture-scaled absolute floor.  The decision is asserted here (the
    driver hash covers output identity; it cannot see WHICH branch ran)
    and the engaged output is cross-checked against the plain native
    session plan on the identical remapped corpus."""
    from tamar_spark.queries import _auto_skew_sessions
    from tamar_spark.sources import load_table

    decision: dict = {}
    got = _auto_skew_sessions(spark, sf_dir, decision=decision)
    assert decision["engaged"] is True, decision
    assert decision["max_rows"] >= 100
    assert decision["max_rows"] > 2.0 * decision["n_rows"] / 32

    ev = load_table(spark, sf_dir, "events").withColumn(
        "user_id",
        F.when(F.col("event_id") % 10 == 0, F.lit(0).cast("bigint")).otherwise(
            F.col("user_id")
        ),
    )
    plain = (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "n_events",
            F.round("sum_value", 2).cast("double").alias("sum_value"),
        )
    )
    norm = lambda d: sorted(map(tuple, d.collect()))
    assert norm(got) == norm(plain)


def test_pq_recall_and_compression(spark):
    """PQ+rerank quality gate on the planted-cluster corpus (same regime as
    the LSH/IVF gate): the ADC scan collapses tight clusters onto one code
    word, so ADC only prunes — the exact rerank must restore neighbor
    ordering.  Also pins layout-independence: identical output whatever
    the corpus partitioning (the codebook seed is order-stable)."""
    import random

    from tamar_spark.operators.similarity import cosine_topk, pq_topk

    rng = random.Random(17)
    dim, n_clusters, per_cluster = 16, 10, 20
    centers = [
        [rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    for i in range(n_clusters * per_cluster):
        c = centers[i % n_clusters]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries_df = emb.filter(F.col("vec_id") < 10)

    exact = _topk_sets(cosine_topk(emb, queries_df, k=5))
    pq = _topk_sets(pq_topk(emb, queries_df, k=5, dim=dim))
    hits = sum(len(pq.get(q, set()) & nbrs) for q, nbrs in exact.items())
    total = sum(len(nbrs) for nbrs in exact.values())
    assert hits / total >= 0.8, f"PQ+rerank recall too low: {hits / total}"

    # layout-independence: same result from a reshuffled corpus
    a = sorted(map(tuple, pq_topk(emb, queries_df, k=5, dim=dim).collect()))
    b = sorted(map(tuple, pq_topk(emb.repartition(7), queries_df, k=5, dim=dim).collect()))
    assert a == b


def test_orc_source_sink_roundtrip(spark, tmp_path):
    """Connector coverage: ORC through the same Environment source/sink
    surface as csv/json/parquet (reference Source/Sink traits,
    src/lib.rs:60-76 — columnar formats come free from Spark)."""
    from tamar_spark.env import Environment

    src = spark.createDataFrame(
        [(1, "a", 10.5), (2, "b", 20.25), (3, "a", 1.0)], "id long, k string, v double"
    )
    orc_dir = str(tmp_path / "orc")
    env = Environment(spark)
    env.add_source(src).add_sink("orc", path=orc_dir)
    got = env.add_source(orc_dir, fmt="orc", schema=src.schema).to_df().collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, src.collect()))


def test_mixture_prefilter_is_lossless(spark):
    """The two-phase mixture path (hash-threshold prefilter before the
    per-stratum rank) must return EXACTLY the exact-rank selection on a
    corpus where quotas are far below stratum sizes — the regime the
    prefilter exists for (here it discards ~95% of the big stratum before
    any sort)."""
    from tamar_spark.queries_pipeline import mixture_sample

    rows = [(i, "a") for i in range(100)] + [(1000 + i, "b") for i in range(900)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    weights = [("a", 90), ("b", 10)]
    exact = sorted(map(tuple, mixture_sample(docs, weights).collect()))
    pre = sorted(
        map(tuple, mixture_sample(docs, weights, prefilter_margin=0.5).collect())
    )
    assert exact == pre and len(exact) > 0
    # quotas: T = min(100*100//90, 900*100//10) = 111 -> a: 99, b: 11
    by_lang = {}
    for _, lang, _, quota in exact:
        by_lang[lang] = by_lang.get(lang, 0) + 1
        q = quota
    assert by_lang == {"a": 99, "b": 11}


def test_operators_tolerate_null_and_empty_text(spark):
    """Fixture corpora carry no NULL/empty text, so the oracle gate never
    exercises those rows — pin the behavior here: the text-pipeline
    kernels must not throw, must not emit phantom shingles for NULL/empty
    docs, and must still pair the real duplicates."""
    from tamar_spark.functions import text as T

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, None),
            (4, ""),
            (5, "   "),
            (6, "one"),
        ],
        "doc_id long, text string",
    )
    # shingles: NULL text contributes no rows; empty/whitespace yield no 3-grams
    sh = D.shingles(docs)
    by_doc = {r.doc_id for r in sh.select("doc_id").distinct().collect()}
    assert by_doc == {1, 2}
    # pairwise dedup still finds the one true pair, ignores degenerate docs
    pairs = D.jaccard_pairs(docs, threshold=0.5).collect()
    assert [(r.doc_id_1, r.doc_id_2, r.jaccard) for r in pairs] == [(1, 2, 1.0)]
    mh = D.minhash_lsh_pairs(docs, threshold=0.5, num_perm=64, bands=16).collect()
    assert [(r.doc_id_1, r.doc_id_2) for r in mh] == [(1, 2)]
    # scalar text functions: no exceptions, NULL-in → NULL-out
    out = docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n"),
        T.lang_id(F.col("text")).alias("lang"),
        T.fingerprint(F.col("text")).alias("fp"),
    ).collect()
    row3 = {r.doc_id: r for r in out}[3]
    assert row3.n is None and row3.fp is None


def test_minhash_skips_docs_without_shingles(spark):
    """NULL, empty, whitespace-only and sub-n-token docs have no shingle,
    so they must not reach the band join: a signature over an empty set
    would put every such doc in one shared bucket per band.  Neither the
    self-join nor the cross-corpus join may pair them, also when the
    whole corpus is short; nor may the inverted-index pairs, capped or
    not."""
    long_text = "the quick brown fox jumps over the lazy dog"
    short = [(3, None), (4, ""), (5, "   "), (6, "one"), (7, "two words")]
    docs = spark.createDataFrame(
        [(1, long_text), (2, long_text)] + short, "doc_id long, text string"
    )
    assert sorted(
        r.doc_id for r in D.minhash_signatures(docs, num_perm=64).collect()
    ) == [1, 2]
    mh = D.minhash_lsh_pairs(docs, 0.5, num_perm=64, bands=16, verify=False)
    assert [tuple(r) for r in mh.collect()] == [(1, 2)]
    shorts = spark.createDataFrame(
        short + [(8, "x y"), (9, None), (10, "one")], "doc_id long, text string"
    )
    assert D.minhash_signatures(shorts, num_perm=64).count() == 0
    for verify in (True, False):
        assert D.minhash_lsh_pairs(shorts, 0.5, num_perm=64, verify=verify).count() == 0
        new = shorts.filter(F.col("doc_id") % 2 == 1)
        old = shorts.filter(F.col("doc_id") % 2 == 0)
        assert D.minhash_lsh_join(new, old, 0.5, num_perm=64, verify=verify).count() == 0
    new = docs.filter(F.col("doc_id") != 2)
    old = docs.filter(F.col("doc_id") == 2).unionByName(shorts.filter(F.col("doc_id") > 8))
    got = D.minhash_lsh_join(new, old, 0.5, num_perm=64, bands=16).collect()
    assert [tuple(r) for r in got] == [(1, 2, 1.0)]
    for exact in (D.jaccard_pairs, D.containment_pairs):
        for cap in (None, 5):
            got = exact(docs, 0.5, max_doc_freq=cap).collect()
            assert [tuple(r) for r in got] == [(1, 2, 1.0)]
            assert exact(shorts, 0.5, max_doc_freq=cap).count() == 0


def test_bigram_kernel_tolerates_degenerate_docs(spark):
    """Fixture corpora carry no NULL/empty text, so the oracle gate never
    exercises those rows in the bigram LM path — pin it here: NULL, empty,
    whitespace-only and single-token docs contribute NO bigram rows (an
    unguarded Spark ``sequence(1, 0)`` would count DOWN and fabricate
    pairs), while a two-token doc yields exactly its one pair."""
    from tamar_spark.queries_layout import bigrams

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta"),
            (3, None),
            (4, ""),
            (5, "   "),
            (6, "solo"),
        ],
        "doc_id long, text string",
    )
    got = sorted((r.doc_id, r.bigram) for r in bigrams(docs).collect())
    assert got == [(1, "alpha beta"), (1, "beta gamma"), (2, "alpha beta")]


def test_rounded_aggregates_stable_under_repartitioning(spark, sf_dir):
    """The determinism house rule (queries.py docstring) claims rounded/
    exact outputs cannot change with partition count.  Pin it on the
    queries whose determinism argument is subtlest: the temperature
    mixture (ordered-cumsum double normalizer), the z-score monitor
    (decimal-exact moments + integer half-up mean), and the drift monitor
    (integer midpoint split) — identical results at 2 and 32 shuffle
    partitions."""
    from tamar_spark.queries import QUERIES

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    names = ["data_mixture_temperature", "anomaly_zscore", "drift_bins"]
    try:
        results = {}
        for parts in ("2", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for n in names:
                pdf = QUERIES[n](spark, sf_dir).toPandas()
                pdf = pdf[sorted(pdf.columns)].sort_values(
                    by=sorted(pdf.columns)
                ).reset_index(drop=True)
                results.setdefault(n, []).append(pdf)
        for n, (a, b) in results.items():
            assert a.equals(b), f"{n}: output changed with partition count"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_caller_set_width_survives_a_query_call(spark, sf_dir):
    """A session is prepared once: a shuffle width the caller sets after
    that survives both the query wrapper and ``Environment``."""
    from tamar_spark.queries import QUERIES

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    QUERIES["session_agg"](spark, sf_dir)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        QUERIES["session_agg"](spark, sf_dir)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_get_spark_width_survives_the_first_query_call(spark, sf_dir):
    """``get_spark`` prepares the session itself, so a shuffle width set
    on the session it returns survives the first query call."""
    from tamar_spark.env import get_spark
    from tamar_spark.queries import QUERIES

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.unset("spark.tamar.sessionPrepared")  # a fresh session
    try:
        session = get_spark()
        session.conf.set("spark.sql.shuffle.partitions", "3")
        QUERIES["session_agg"](session, sf_dir)
        assert session.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        spark.conf.set("spark.tamar.sessionPrepared", "true")
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_simhash_120bit_pigeonhole_exhaustive_with_straddling_chunks(spark):
    """The 120-bit pigeonhole must find EVERY pair within the hamming
    bound — including at max_hamming=8, where 9 chunks of 13 bits make
    chunk 4 straddle the lo/hi long boundary (bits 52..64) and exercise
    the splice expression.  Oracle: brute-force hamming over collected
    fingerprints."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(14):
        rows.append(Row(doc_id=i, text=" ".join(rng.choices(vocab, k=30))))
    # planted near-dups at several distances
    rows.append(Row(doc_id=100, text=rows[0].text.replace("w", "v", 1)))
    rows.append(Row(doc_id=101, text=" ".join(rows[1].text.split()[:-3])))
    rows.append(Row(doc_id=102, text=rows[2].text.replace("w", "u", 4)))
    df = spark.createDataFrame(rows)

    fps = {
        r.doc_id: (r.simhash, r.simhash_hi)
        for r in D.simhash_fingerprints(df, bits=120).collect()
    }
    ids = sorted(fps)
    want = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            i, j = ids[x], ids[y]
            h = bin(fps[i][0] ^ fps[j][0]).count("1") + bin(
                fps[i][1] ^ fps[j][1]
            ).count("1")
            if h <= 8:
                want.add((i, j, h))
    got = {
        (r.doc_id_1, r.doc_id_2, r.hamming)
        for r in D.simhash_pairs(df, max_hamming=8, bits=120).collect()
    }
    assert want, "no in-bound pairs: exhaustiveness check is vacuous"
    assert got == want


def test_bmp_roundtrip_and_ppm_parse():
    """Pure-Python BMP writer/parser must round-trip exactly: the parser
    recovers the original row-major top-down bytes through bottom-up
    storage and stride padding, at widths with zero padding (16 → stride
    48) and with padding (15 → 45+3).  A hand-built negative-height
    (top-down) BMP and binary PPM/PGM payloads with comments cover the
    variants the writer never emits."""
    import struct

    from tamar_spark.functions import multimodal as M

    payload = bytes(range(256)) * 4  # 1024 bytes
    for width in (15, 16, 7, 1):
        row = width * 3
        h = len(payload) // row
        w2, h2, nch, px = M.parse_bmp(M.make_bmp(payload, width=width))
        assert (w2, h2, nch) == (width, h, 3)
        assert px == payload[: h * row]  # exact prefix recovery
    # negative height = top-down storage: rows must NOT be flipped
    w, h = 3, 2
    rows = [bytes([i] * 9) + b"\x00" * 3 for i in range(h)]  # stride 12
    info = struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, 24, 0, 0, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + 24, 0, 0, 54)
    _, _, _, px = M.parse_bmp(hdr + info + b"".join(rows))
    assert px == bytes([0] * 9) + bytes([1] * 9)
    # PPM with a comment line; PGM single-channel
    raster = bytes(range(36))
    w3, h3, nch3, px3 = M.parse_ppm(b"P6\n# c\n4 3\n255\n" + raster)
    assert (w3, h3, nch3, px3) == (4, 3, 3, raster)
    w4, h4, nch4, px4 = M.parse_ppm(b"P5 6 6 255 " + raster)
    assert (w4, h4, nch4, px4) == (6, 6, 1, raster)
    import pytest as _pytest

    for bad in (b"BMxx", b"P6\n4 3\n255", b"\x89PNG"):
        with _pytest.raises(ValueError):
            M.parse_bmp(bad) if bad[:2] == b"BM" else M.parse_ppm(bad)


def test_png_roundtrip_all_filters_and_rejections():
    """The stdlib PNG codec must round-trip exactly through all five
    scanline filters (the writer cycles type = row % 5, so any height
    ≥ 5 exercises None/Sub/Up/Average/Paeth), reassemble split IDAT
    streams, honor the Paeth tie-break order on known vectors, decode
    hand-built grayscale files, and REJECT — not silently misdecode —
    interlaced layouts, CRC corruption, truncated rasters, unknown
    filter types, and corrupt DEFLATE streams."""
    import struct
    import zlib

    import pytest as _pytest

    from tamar_spark.functions import multimodal as M

    # round trip: ≥5 rows so every filter type runs; widths incl. 1 px
    payload = bytes((i * 31 + 7) % 256 for i in range(1024))
    for width in (11, 16, 3, 1):
        row = width * 3
        h = len(payload) // row
        w2, h2, nch, px = M.parse_png(M.make_png(payload, width=width))
        assert (w2, h2, nch) == (width, h, 3)
        assert px == payload[: h * row]
    # the filtered bytes must actually differ from the pixels (DEFLATE
    # of filtered data — a header-peek + offset copy cannot pass)
    png = M.make_png(payload, width=11)
    assert payload[:33] not in png
    # Paeth known vectors incl. both tie-breaks (spec: left, then up)
    assert M._paeth(3, 3, 0) == 3  # pa == pb == 3 → left wins
    assert M._paeth(0, 6, 2) == 6  # pb == pc == 2 < pa → up beats UL
    assert M._paeth(1, 3, 2) == 2  # pc == 0 strictly smallest → UL
    assert M._paeth(10, 20, 30) == 10
    # split IDAT: decoder must concatenate chunks before inflating
    sig = png[:8]
    ln = struct.unpack_from(">I", png, 33)[0]
    idat_body = png[41 : 41 + ln]
    ihdr_chunk = png[8:33]
    half = len(idat_body) // 2
    split = (
        sig
        + ihdr_chunk
        + M._png_chunk(b"IDAT", idat_body[:half])
        + M._png_chunk(b"IDAT", idat_body[half:])
        + M._png_chunk(b"IEND", b"")
    )
    assert M.parse_png(split)[3] == M.parse_png(png)[3]
    # grayscale (color type 0), filters 0 and 2
    rows = bytes([0]) + bytes(range(5)) + bytes([2]) + bytes([1] * 5)
    gray = (
        sig
        + M._png_chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 2, 8, 0, 0, 0, 0))
        + M._png_chunk(b"IDAT", zlib.compress(rows))
        + M._png_chunk(b"IEND", b"")
    )
    assert M.parse_png(gray) == (5, 2, 1, bytes(range(5)) + bytes([1, 2, 3, 4, 5]))

    def _variant(ihdr_tail=(8, 2, 0, 0, 0), raster=None, w=11, h=2):
        body = struct.pack(">IIBBBBB", w, h, *ihdr_tail)
        rast = raster if raster is not None else zlib.compress(
            bytes((w * 3 + 1) * h)
        )
        return (
            sig
            + M._png_chunk(b"IHDR", body)
            + M._png_chunk(b"IDAT", rast)
            + M._png_chunk(b"IEND", b"")
        )

    with _pytest.raises(ValueError, match="interlaced"):
        M.parse_png(_variant(ihdr_tail=(8, 2, 0, 0, 1)))
    with _pytest.raises(ValueError, match="unsupported"):
        M.parse_png(_variant(ihdr_tail=(16, 2, 0, 0, 0)))  # 16-bit
    with _pytest.raises(ValueError, match="CRC"):
        bad = bytearray(png)
        bad[-5] ^= 0xFF  # inside IEND CRC
        M.parse_png(bytes(bad))
    with _pytest.raises(ValueError, match="truncated PNG raster"):
        M.parse_png(_variant(raster=zlib.compress(bytes(10))))
    with _pytest.raises(ValueError, match="unknown PNG filter"):
        M.parse_png(
            _variant(raster=zlib.compress(bytes([9]) + bytes(33)), h=1)
        )
    with _pytest.raises(ValueError, match="inflate failed"):
        M.parse_png(_variant(raster=b"\x00not-deflate"))
    with _pytest.raises(ValueError, match="not a PNG"):
        M.parse_png(b"\x89PNG\r\n\x1a\x00junk")
    # guard ordering: width=0 must be the documented ValueError, not a
    # ZeroDivisionError from the row-size arithmetic
    with _pytest.raises(ValueError, match="width must be positive"):
        M.make_png(b"xyz", width=0)
    # a short IHDR (valid CRC over the short body) must be a ValueError,
    # not a struct.error escaping the parser's contract
    short_ihdr = (
        sig
        + M._png_chunk(b"IHDR", struct.pack(">IIBBBB", 5, 2, 8, 0, 0, 0))
        + M._png_chunk(b"IDAT", zlib.compress(bytes(12)))
        + M._png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="13 bytes"):
        M.parse_png(short_ihdr)


def test_decode_image_pixels_png_on_spark(spark):
    """decode_image_pixels must dispatch PNG payloads to the real
    inflate+unfilter path inside the Arrow-batched stage, alongside BMP
    in the same frame."""
    import hashlib as _h

    from tamar_spark.functions import multimodal as M

    raw = bytes((i * 7 + 3) % 256 for i in range(330))
    df = spark.createDataFrame(
        [
            Row(id=1, payload=bytearray(M.make_png(raw, width=11))),
            Row(id=2, payload=bytearray(M.make_bmp(raw, width=15))),
        ]
    )
    got = {
        r.id: (r.width, r.height, r.n_channels, r.pixel_sha)
        for r in M.decode_image_pixels(df).collect()
    }
    assert got[1] == (11, 10, 3, _h.sha256(raw).hexdigest())
    assert got[2] == (15, 7, 3, _h.sha256(raw[: 7 * 45]).hexdigest())


def test_decode_image_corrupt_png_is_data_error_not_codec_gap(spark):
    """A payload whose PNG magic is recognized but whose body is corrupt
    must surface the parser's ValueError (bad DATA), not the
    unsupported-format NotImplementedError — misdiagnosing corruption as
    a missing codec sends the operator hunting for the wrong fix."""
    from tamar_spark.functions import multimodal as M

    corrupt = bytearray(M.make_png(bytes(range(99)), width=11))
    corrupt[-5] ^= 0xFF  # break the IEND CRC
    df = spark.createDataFrame([Row(id=1, payload=bytes(corrupt))])
    with pytest.raises(Exception) as e:
        M.decode_image_pixels(df).collect()
    msg = str(e.value)
    assert "ValueError" in msg and "CRC mismatch" in msg
    assert "NotImplementedError" not in msg


def test_decode_image_real_path_without_pil_on_bmp(spark):
    """decode_image_pixels must decode BMP and binary PPM for REAL: dims
    from the actual container headers, pixels from the raster."""
    import hashlib as _h

    from tamar_spark.functions import multimodal as M

    bmp = M.make_bmp(bytes(range(90)), width=15)  # 15×2
    ppm = b"P6\n8 4\n255\n" + bytes(96)
    df = spark.createDataFrame(
        [Row(id=1, payload=bytearray(bmp)), Row(id=2, payload=bytearray(ppm))]
    )
    got = {
        r.id: (r.width, r.height, r.n_channels, r.pixel_sha)
        for r in M.decode_image_pixels(df).collect()
    }
    assert got == {
        1: (15, 2, 3, _h.sha256(bytes(range(90))).hexdigest()),
        2: (8, 4, 3, _h.sha256(bytes(96)).hexdigest()),
    }


def test_jpeg_codec_roundtrip_and_bounds():
    """The baseline JPEG pair (r12): encode → REAL entropy decode must
    round-trip dimensions exactly and pixels within the documented error
    bound, across content shapes (smooth, noise, text-like, constant)
    and non-block-aligned heights (SOF0 declares the true height, the
    decoder crops the padded block grid)."""
    import random

    import numpy as np

    from tamar_spark.functions import multimodal as M

    rng = random.Random(13)
    cases = [
        bytes(range(24)) * 10,                                   # 10 rows
        bytes(rng.randrange(256) for _ in range(24 * 20)),       # noise, 20 rows
        b"The quick brown fox jumps over the lazy dog. " * 30,   # text
        bytes(24 * 3),                                           # constant, 3 rows
        bytes(rng.randrange(256) for _ in range(24 * 9 + 17)),   # tail dropped
    ]
    for pay in cases:
        jp = M.make_jpeg(pay, width=8, quality=99)
        w, h, nch, px = M.parse_jpeg(jp)
        n = (len(pay) // 24) * 24
        assert (w, nch) == (8, 3)
        assert h == n // 24  # true (cropped) height, not the padded grid
        assert len(px) == n
        src = np.frombuffer(pay[:n], dtype=np.uint8).astype(int)
        dec = np.frombuffer(px, dtype=np.uint8).astype(int)
        assert int(np.abs(src - dec).max()) <= 12
    # quality 100 (all-ones quant tables): float-rounding error only
    jp = M.make_jpeg(cases[1], width=8, quality=100)
    _, _, _, px = M.parse_jpeg(jp)
    src = np.frombuffer(cases[1], dtype=np.uint8).astype(int)
    dec = np.frombuffer(px, dtype=np.uint8).astype(int)
    assert int(np.abs(src - dec).max()) <= 3


def test_jpeg_decoder_rejects_corrupt_and_out_of_scope():
    """parse_jpeg fails LOUDLY: ValueError on structural corruption,
    NotImplementedError on the declared out-of-scope variants
    (progressive SOF2, sampling beyond 2×2) — never a silent wrong
    decode."""
    import pytest

    from tamar_spark.functions import multimodal as M

    pay = bytes(range(24)) * 8
    jp = bytearray(M.make_jpeg(pay, width=8, quality=99))

    with pytest.raises(ValueError, match="not a JPEG"):
        M.parse_jpeg(b"\x00\x01" + bytes(jp[2:]))
    # cut mid-ENTROPY-STREAM (a noise payload so the scan is long; the
    # smooth fixture compresses to ~28 bytes and a cut lands in headers)
    import random

    rng = random.Random(3)
    noisy = bytes(rng.randrange(256) for _ in range(24 * 16))
    jp_noise = M.make_jpeg(noisy, width=8, quality=99)
    scan_at = jp_noise.index(b"\xff\xda")
    with pytest.raises(ValueError, match="truncated JPEG entropy"):
        M.parse_jpeg(jp_noise[: scan_at + 40])

    i = bytes(jp).index(b"\xff\xc0")
    prog = bytearray(jp)
    prog[i + 1] = 0xC2  # progressive DCT
    with pytest.raises(NotImplementedError, match="baseline"):
        M.parse_jpeg(bytes(prog))

    sub = bytearray(jp)
    sub[i + 11] = 0x33  # 3x3 sampling — beyond the supported 2x2
    with pytest.raises(NotImplementedError, match="beyond 2x2"):
        M.parse_jpeg(bytes(sub))

def test_jpeg_restart_markers_roundtrip_and_adversarial():
    """DRI/RSTn restart intervals (r13 — the layout real camera/FFmpeg
    MJPEG carries): round trip within the documented bound at several
    intervals (including interval 1, which exercises the full 0-7 marker
    cycle on multi-MCU payloads), 4:2:0 composes with restarts, and the
    decoder REJECTS a corrupted restart stream — marker out of sequence,
    RSTn with no DRI declared, and a surplus marker all raise ValueError
    rather than silently desyncing the scan."""
    import random

    import numpy as np
    import pytest

    from tamar_spark.functions import multimodal as M

    rng = random.Random(19)
    cases = [
        bytes(range(24)) * 80,                               # 10 MCUs
        bytes(rng.randrange(256) for _ in range(24 * 100)),  # noise
        b"The quick brown fox jumps over the lazy dog. " * 60,
        bytes(24 * 3),                                       # single MCU
    ]
    for ri in (1, 2, 3):
        for pay in cases:
            jp = M.make_jpeg(pay, width=8, quality=99, restart_interval=ri)
            w, h, nch, px = M.parse_jpeg(jp)
            n = (len(pay) // 24) * 24
            assert (w, nch, h) == (8, 3, n // 24)
            src = np.frombuffer(pay[:n], dtype=np.uint8).astype(int)
            dec = np.frombuffer(px, dtype=np.uint8).astype(int)
            assert int(np.abs(src - dec).max()) <= 12
    # 4:2:0 subsampling composes with the restart protocol
    lum = [rng.randrange(256) for _ in range(16 * 40)]
    gray = bytes(v for v in lum for _ in range(3))
    jp = M.make_jpeg(
        gray, width=16, quality=99, subsampling="420", restart_interval=1
    )
    w, h, nch, px = M.parse_jpeg(jp)
    src = np.frombuffer(gray, dtype=np.uint8).astype(int)
    dec = np.frombuffer(px, dtype=np.uint8).astype(int)
    assert (w, h, nch) == (16, 40, 3)
    assert int(np.abs(src - dec).max()) <= 4

    jp = M.make_jpeg(cases[0], width=8, quality=99, restart_interval=1)

    def first_rst(b: bytes) -> int:
        j = b.index(b"\xff\xda")
        while j < len(b) - 1:
            if b[j] == 0xFF and 0xD0 <= b[j + 1] <= 0xD7:
                return j
            j += 1
        raise AssertionError("no restart marker found")

    # out-of-sequence marker cycle
    bad = bytearray(jp)
    at = first_rst(jp)
    bad[at + 1] = 0xD0 + ((bad[at + 1] - 0xD0 + 3) % 8)
    with pytest.raises(ValueError, match="out of sequence"):
        M.parse_jpeg(bytes(bad))
    # RSTn with no DRI declared
    no_dri = bytearray(jp)
    k = no_dri.index(b"\xff\xdd")
    del no_dri[k : k + 6]
    with pytest.raises(ValueError, match="without a DRI"):
        M.parse_jpeg(bytes(no_dri))
    # surplus marker: append a cycle-correct extra RST just before EOI
    # (10 MCUs at interval 5 → one real marker, RST0; the forged RST1
    # splits off an empty trailing segment the MCU walk never consumes)
    jp5 = M.make_jpeg(cases[0], width=8, quality=99, restart_interval=5)
    assert jp5.endswith(b"\xff\xd9")
    surplus = jp5[:-2] + b"\xff\xd1\xff\xd9"
    with pytest.raises(ValueError, match="surplus"):
        M.parse_jpeg(surplus)
    # missing marker: strip the interval-5 stream's only RST — the walk
    # needs a second byte-aligned segment at MCU 5 and must say so
    missing = bytearray(jp5)
    at5 = first_rst(jp5)
    del missing[at5 : at5 + 2]
    with pytest.raises(ValueError, match="missing JPEG restart"):
        M.parse_jpeg(bytes(missing))


def test_jpeg_420_subsampled_roundtrip():
    """4:2:0 support (r12): the common camera layout — 16×16 MCUs of four
    luma blocks + one box-averaged block each of Cb/Cr — must round-trip
    GRAYSCALE content within the luma-only bound (R=G=B ⇒ chroma is the
    constant 128, so 2×2 subsampling is exactly lossless on it and the
    only error left is the 4:4:4 float/quant path), across widths that
    exercise one MCU column, two, and horizontal padding.  On saturated-
    color content chroma subsampling loses information BY DESIGN — that
    is the format, not a codec bug — so gray fixtures are the honest
    roundtrip probe."""
    import random

    import numpy as np

    from tamar_spark.functions import multimodal as M

    rng = random.Random(17)
    for width in (8, 16, 24):  # 24 pads to the 32-px MCU grid
        lum = [rng.randrange(256) for _ in range(width * 20)]
        gray = bytes(v for v in lum for _ in range(3))
        jp = M.make_jpeg(gray, width=width, quality=99, subsampling="420")
        w, h, nch, px = M.parse_jpeg(jp)
        assert (w, h, nch) == (width, 20, 3)
        src = np.frombuffer(gray, dtype=np.uint8).astype(int)
        dec = np.frombuffer(px, dtype=np.uint8).astype(int)
        assert int(np.abs(src - dec).max()) <= 4
    # colored content still decodes structurally (chroma loss expected)
    color = bytes(rng.randrange(256) for _ in range(24 * 12))
    w, h, nch, px = M.parse_jpeg(
        M.make_jpeg(color, width=8, quality=99, subsampling="420")
    )
    assert (w, h, nch, len(px)) == (8, 12, 3, 24 * 12)


def test_jpeg_payloads_flow_through_decode_image_pixels(spark):
    """The magic-byte dispatch routes JPEG payloads through the real
    entropy decoder in the DataFrame path: dims land from SOF0 and the
    pixel hash equals a driver-side parse of the same payload."""
    import hashlib

    from tamar_spark.functions import multimodal as M

    pays = [
        M.make_jpeg(bytes((i * 7 + j) % 256 for j in range(24 * 12)), 8, 99)
        for i in range(4)
    ]
    expect = {}
    for i, p in enumerate(pays):
        w, h, nch, px = M.parse_jpeg(p)
        expect[i] = (w, h, nch, hashlib.sha256(px).hexdigest())
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(pays)], "id long, payload binary"
    )
    got = {
        r.id: (r.width, r.height, r.n_channels, r.pixel_sha)
        for r in M.decode_image_pixels(df).collect()
    }
    assert got == expect


def test_mjpeg_frame_pixel_check_samples_and_bounds(spark):
    """The MJPEG pixel-decode composition: frames re-found by the
    STRUCTURAL splitter (not construction offsets), every 4th decoded
    and bounded — frame indices, geometry, and ok-bits all pin it."""
    from tamar_spark.functions import multimodal as M

    texts = [
        (0, "A" * 192 * 6),            # 6 frames → sampled 0, 4
        (1, "B" * 192 * 4 + "C" * 50),  # 4 frames, tail dropped → sampled 0
        (2, "D" * 100),                 # < 1 frame → no rows
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    rows = M.mjpeg_frame_pixel_check(df).collect()
    got = {(r.doc_id, r.frame_idx): (r.width, r.height, r.n_channels, r.decode_ok) for r in rows}
    assert got == {
        (0, 0): (8, 8, 3, True),
        (0, 4): (8, 8, 3, True),
        (1, 0): (8, 8, 3, True),
    }


def test_ivfpq_recall_and_layout_independence(spark):
    """IVF+PQ quality gate on the planted-cluster corpus (same regime as
    the PQ gate): coarse pruning must send queries to the right lists and
    the residual-ADC + exact-rerank tail must restore neighbor ordering —
    recall@5 >= 0.8 vs brute force.  Layout-independence pins the
    order-stable double seeding (coarse md5(id), residual md5('r'||id))."""
    import random

    from tamar_spark.operators.similarity import cosine_topk, ivfpq_topk

    rng = random.Random(29)
    dim, n_clusters, per_cluster = 16, 10, 20
    centers = [
        [rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    for i in range(n_clusters * per_cluster):
        c = centers[i % n_clusters]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries_df = emb.filter(F.col("vec_id") < 10)

    exact = _topk_sets(cosine_topk(emb, queries_df, k=5))
    got = _topk_sets(
        ivfpq_topk(emb, queries_df, k=5, dim=dim, n_centroids=8, n_probe=3)
    )
    hits = sum(len(got.get(q, set()) & nbrs) for q, nbrs in exact.items())
    total = sum(len(nbrs) for nbrs in exact.values())
    assert hits / total >= 0.8, f"IVFPQ recall too low: {hits / total}"

    a = sorted(
        map(
            tuple,
            ivfpq_topk(
                emb, queries_df, k=5, dim=dim, n_centroids=8, n_probe=3
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            ivfpq_topk(
                emb.repartition(7),
                queries_df,
                k=5,
                dim=dim,
                n_centroids=8,
                n_probe=3,
            ).collect(),
        )
    )
    assert a == b


def test_ivfpq_trained_centroids_recall_and_probe_contract(spark):
    """The trained-quantizer IVFPQ path (r12 — ivfpq_topk gains the same
    ``centroids=`` contract as ivf_topk): on the planted-cluster corpus a
    k-means-trained coarse stage must reach the same >= 0.8 recall gate
    as the md5-seeded one (residuals against trained centroids are
    lower-variance, so quality should not drop), and the default
    ``n_probe`` must derive from the TRAINED table's own row count
    (⌈count/4⌉) — pinned by equality with the explicit value."""
    import math
    import random

    from tamar_spark.operators.clustering import kmeans_centroids
    from tamar_spark.operators.similarity import cosine_topk, ivfpq_topk, l2_norm

    rng = random.Random(31)
    dim, n_clusters, per_cluster = 16, 10, 20
    centers = [
        [rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    for i in range(n_clusters * per_cluster):
        c = centers[i % n_clusters]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries_df = emb.filter(F.col("vec_id") < 10)

    trained = kmeans_centroids(emb, k=10, iters=2)
    cents = (
        trained.select(
            F.col("cluster").alias("list_id"), F.col("_c").alias("_cent")
        )
        .withColumn("_cent_n", l2_norm(F.col("_cent")))
        .localCheckpoint(eager=True)
    )
    n_lists = cents.count()

    exact = _topk_sets(cosine_topk(emb, queries_df, k=5))
    got = _topk_sets(
        ivfpq_topk(emb, queries_df, k=5, dim=dim, centroids=cents)
    )
    hits = sum(len(got.get(q, set()) & nbrs) for q, nbrs in exact.items())
    total = sum(len(nbrs) for nbrs in exact.values())
    assert hits / total >= 0.8, f"trained-IVFPQ recall too low: {hits / total}"

    # default n_probe follows the TRAINED table's row count: identical
    # output to the explicit ⌈n_lists/4⌉
    a = sorted(
        map(
            tuple,
            ivfpq_topk(emb, queries_df, k=5, dim=dim, centroids=cents).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            ivfpq_topk(
                emb,
                queries_df,
                k=5,
                dim=dim,
                centroids=cents,
                n_probe=math.ceil(n_lists / 4),
            ).collect(),
        )
    )
    assert a == b


def test_streaming_minhash_bands_match_batch_family(spark, sf_dir):
    """The streaming per-row signature (no groupBy — streaming-safe) must
    produce EXACTLY the batch pipeline's band bucket keys (shingles →
    xxhash64 → shared universal-hash family → per-band xxhash64), so an
    index built by either side is usable by the other.  Also pins that
    the carried shingle sets equal the batch shingle table per doc."""
    from tamar_spark.operators import dedup as D
    from tamar_spark.operators.dedup import _band_keys
    from tamar_spark.streaming.dedup import attach_minhash_bands

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(60)
    )
    sig = D.minhash_signatures(docs, num_perm=64)
    batch = {
        r.doc_id: list(r.bands)
        for r in sig.select("doc_id", _band_keys(F.col("sig"), 4, 16).alias("bands")).collect()
    }
    stream_expr = {
        r.doc_id: list(r.bands)
        for r in attach_minhash_bands(docs).select("doc_id", "bands").collect()
    }
    assert stream_expr == batch
    # the numpy kernel against the same arithmetic in Python integers
    p, coeffs = D.minhash_coeffs(64)
    hashed = F.transform("sh_set", lambda g: F.xxhash64(g)).alias("h")
    for r in sig.select("sig", hashed).collect():
        assert list(r.sig) == [min((a * (h % p) + b) % p for h in r.h) for a, b in coeffs]

    batch_sh = {
        r.doc_id: frozenset(x[0] for x in r.sh)
        for r in D.shingles(docs)
        .select("doc_id", F.xxhash64("shingle").alias("h"))
        .groupBy("doc_id")
        .agg(F.collect_set(F.struct("h")).alias("sh"))
        .collect()
    }
    carried = {
        r.doc_id: frozenset(int(x) for x in r.shingles)
        for r in attach_minhash_bands(docs).select("doc_id", "shingles").collect()
    }
    assert carried == batch_sh


def test_canonical_url_edge_cases(spark):
    """canonical_url (r13) beyond the registered synthesis's three
    shapes: NON-default ports must survive (8443 on https, 443 on http
    — the default strip is scheme-aware), tracker-only queries drop the
    '?' entirely, already-canonical URLs are fixed points, param sort
    is lexicographic on the full key=value string, and path/query case
    is preserved while scheme/host fold."""
    from pyspark.sql import Row

    from tamar_spark.functions.text import canonical_url

    cases = [
        ("HTTPS://Ex.COM:443/a?b=2&a=1#f", "https://ex.com/a?a=1&b=2"),
        ("https://ex.com:8443/a", "https://ex.com:8443/a"),  # non-default
        ("http://ex.com:443/a", "http://ex.com:443/a"),      # not http's default
        ("http://ex.com:80/a", "http://ex.com/a"),
        ("https://ex.com/?utm_source=x&utm_medium=y", "https://ex.com/"),
        ("https://ex.com", "https://ex.com/"),                # empty path
        ("https://ex.com/A/B?Q=V#frag", "https://ex.com/A/B?Q=V"),
        ("https://ex.com/p?b=1&a=2&fbclid=abc&gclid=z",
         "https://ex.com/p?a=2&b=1"),
        ("https://ex.com/p?a=10&a=2", "https://ex.com/p?a=10&a=2"),
        # r13 review findings: a '?' inside the fragment is fragment
        # text, never a query; bare (valueless) click-ids drop like
        # their valued forms — but 'fbclid2=x' is a DIFFERENT key
        ("https://ex.com/p#sec?x=1", "https://ex.com/p"),
        ("https://ex.com/p?fbclid&a=1", "https://ex.com/p?a=1"),
        ("https://ex.com/p?gclid", "https://ex.com/p"),
        ("https://ex.com/p?fbclid2=x", "https://ex.com/p?fbclid2=x"),
        # r14: dot-segment resolution (RFC 3986 5.2.4) — trailing
        # './'/'..' keep the directory form, excess '..' drops at the
        # root, '//' empty segments survive, %2E resolves as '.'
        # (percent normalization runs first per 6.2.2.3)
        ("https://ex.com/a/b/../c/./d", "https://ex.com/a/c/d"),
        ("https://ex.com/../a", "https://ex.com/a"),
        ("https://ex.com/a/..", "https://ex.com/"),
        ("https://ex.com/a/.", "https://ex.com/a/"),
        ("https://ex.com/a//b/./", "https://ex.com/a//b/"),
        ("https://ex.com/%2e%2E/a", "https://ex.com/a"),
        ("https://ex.com/a/b/../../../x", "https://ex.com/x"),
        # r14: userinfo is case-sensitive and survives verbatim while
        # the host folds; url_host strips it for the stats key
        ("https://User:Pw@Ex.COM:443/a", "https://User:Pw@ex.com/a"),
        ("http://U@EX.com:80/", "http://U@ex.com/"),
    ]
    df = spark.createDataFrame(
        [Row(id=i, url=u) for i, (u, _) in enumerate(cases)]
    )
    got = {
        r.id: r.c
        for r in df.select("id", canonical_url(F.col("url")).alias("c")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_streaming_dedup_rounding_matches_engines():
    """r13 review finding: Python's builtin round is banker's (ties to
    even) while Spark F.round and DuckDB round are HALF_UP on the
    double's decimal form — and exact binary ties DO occur for Jaccard
    with power-of-two unions.  The handler's _round_half_up must match
    the engines on those ties (where the builtin diverges)."""
    import duckdb

    from tamar_spark.streaming.dedup import _round_half_up

    for num in (17, 21, 25, 29):
        x = num / 32  # dyadic: exactly representable, a true .xxxx5 tie
        want = duckdb.sql(f"select round({num}/32.0, 4)").fetchone()[0]
        assert _round_half_up(x) == want, (num, _round_half_up(x), want)
        assert round(x, 4) != want  # the builtin would have diverged
    # non-tie values agree with the builtin too
    assert _round_half_up(1 / 3) == 0.3333
    assert _round_half_up(2 / 3) == 0.6667
    assert _round_half_up(1.0) == 1.0


def test_canonical_url_is_idempotent(spark):
    """A canonicalizer must be a projection: canonical(canonical(u)) ==
    canonical(u), or downstream dedup keys depend on how many times a
    pipeline stage ran.  Deterministic fuzz over the supported URL
    grammar (schemes × host cases × ports × paths × params incl.
    trackers × fragments): one DataFrame pass computes canonical and
    re-canonical side by side and they must match on every row."""
    import random

    from pyspark.sql import Row

    from tamar_spark.functions.text import canonical_url

    rng = random.Random(29)
    schemes = ["http", "HTTPS", "https", "HTTP"]
    hosts = ["Ex.COM", "a.b.example.org", "WWW.Example.com", "xn--bcher-kva.ch",
             "User:Pw@Ex.COM", "u@ex.com"]
    ports = ["", ":80", ":443", ":8080", ":8443"]
    paths = ["", "/", "/a", "/A/b.c", "/p%20q", "/d/42",
             "/a/../b", "/./x", "/a/b/..", "/%2e/q"]
    params = ["a=1", "B=2", "utm_source=x", "z=9&a=1", "fbclid=f", "gclid=g",
              "q=a%26b", "utm_medium=m&k=v"]
    frags = ["", "#f", "#Sec-2"]
    urls = []
    for _ in range(200):
        q = "&".join(
            rng.sample(params, rng.randrange(0, 3))
        )
        urls.append(
            rng.choice(schemes) + "://" + rng.choice(hosts)
            + rng.choice(ports) + rng.choice(paths)
            + (("?" + q) if q else "") + rng.choice(frags)
        )
    df = spark.createDataFrame([Row(id=i, url=u) for i, u in enumerate(urls)])
    once = canonical_url(F.col("url"))
    out = df.select("id", "url", once.alias("c1")).withColumn(
        "c2", canonical_url(F.col("c1"))
    )
    bad = out.filter(F.col("c1") != F.col("c2")).collect()
    assert not bad, [(r.url, r.c1, r.c2) for r in bad[:5]]


def test_html_main_text_adversarial(spark):
    """html_main_text (r13) must survive the classic extraction traps:
    markup-looking strings inside script character data, nested inline
    tags, attribute-bearing paragraph tags, malformed/unknown entities
    passing through VERBATIM, double-encoded entities decoding exactly
    one level (&amp;lt; → &lt;, never <), boilerplate containers
    dropped wholesale, and content outside <p> blocks excluded."""
    from pyspark.sql import Row

    from tamar_spark.functions.text import html_main_text

    cases = [
        # script string data must not fabricate paragraphs
        ('<body><script>var p = "<p>evil</p>";</script>'
         "<p>real text</p></body>", "real text"),
        # nested inline tags strip; attributes on <p> handled
        ('<p id="a" class="b c">one <b>two <i>three</i></b> four</p>',
         "one two three four"),
        # malformed + unknown entities pass through; double-encoded
        # decodes one level only
        ("<p>&#xZZ; &unknown; &amp;lt; &lt;ok&gt;</p>",
         "&#xZZ; &unknown; &lt; <ok>"),
        # boilerplate containers vanish with their content
        ("<head><title>T</title></head><nav><p>menu</p></nav>"
         "<aside><p>ads</p></aside><footer><p>legal</p></footer>"
         "<p>body</p>", "body"),
        # bare divs and link clusters are not paragraphs
        ('<div><a href="/x">link one</a> <a href="/y">two</a></div>'
         "<p>kept</p><div>stray div text</div>", "kept"),
        # style blocks with selector braces; multiple paragraphs join
        ("<style>p{color:red}</style><p>first</p>\n<p>second</p>",
         "first second"),
        # case-insensitive tags, whitespace collapse across lines
        ("<P>alpha\n   beta</P><SCRIPT>x<p>no</p></SCRIPT>",
         "alpha beta"),
        # comments drop with their content — commented-out markup must
        # not leak paragraphs; a JS string containing '-->' must not
        # truncate the comment scan (script removal runs first)
        ("<!-- <p>ghost</p> --><p>kept</p>"
         '<script>var s = "-->";</script><!-- tail -->', "kept"),
        # a comment INSIDE a paragraph drops, the paragraph survives
        ("<p>one <!-- hidden <b>two</b> --> three</p>", "one three"),
        # r13 review finding: <pre>/<param>/<picture> are NOT paragraph
        # openers — preformatted content must not leak into main text
        ("<pre>var x = 1;</pre><p>hello</p><param name=\"a\">",
         "hello"),
    ]
    df = spark.createDataFrame(
        [Row(id=i, html=h) for i, (h, _) in enumerate(cases)]
    )
    got = {
        r.id: r.out
        for r in df.select(
            "id", html_main_text(F.col("html")).alias("out")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_percent_normalize_adversarial(spark):
    """percent_normalize (r14) — RFC 3986 §6.2.2 on top of the r13
    canonicalizer: unreserved escapes decode across EVERY hex case
    form, reserved escapes stay encoded but uppercase (decoding %2F
    would fabricate a path segment), a malformed bare '%' (not
    followed by two hex digits) canonicalizes to its own escape %25
    (r15 — the protection pass that makes the chain idempotent on ALL
    input; r14 passed these through verbatim, which let a bare '%'
    steal decoded output and fabricate a fresh escape), and %25 never
    decodes (it would re-open a decode pass on whatever follows)."""
    from pyspark.sql import Row

    from tamar_spark.functions.text import percent_normalize

    cases = [
        ("%7E", "~"), ("%7e", "~"), ("~", "~"),      # three forms, one key
        ("%41%5a%61%7a%30%39", "AZaz09"),            # alpha/digit bounds
        ("%2d%2e%5f", "-._"),                        # the four marks
        ("a%2fb%3Fc%23d", "a%2Fb%3Fc%23d"),          # delimiters: upper, kept
        ("%25%34", "%254"),                          # %25 kept, %34 decoded
        ("%3a%3A", "%3A%3A"),                        # hex case fold only
        ("100% sure", "100%25 sure"),                # bare % protected
        ("%4", "%254"), ("%", "%25"), ("%zz", "%25zz"),  # truncated/invalid
        ("%aF%Af%af%AF", "%AF%AF%AF%AF"),            # 0xAF not unreserved
        # the r14 documented-divergence inputs, now CLOSED by the
        # protection pass: the bare '%' becomes %25 before any decode,
        # so it can no longer steal the decoded '2'/'E' ('%%32%45' →
        # '%25%32%45' → '%252E', a fixed point) — r14 read '.', and a
        # second application then diverged ('.' vs '%2E' → '.')
        ("%%32%45", "%252E"),
        ("%%37%45", "%257E"),
        # the nesting that defeats ANY fixed number of extra decode
        # sweeps without protection (needs 3 passes: → '%%37E' →
        # '%7E' → '~'); with protection it is a one-pass fixed point
        ("%%%33%37%45", "%25%2537E"),
    ]
    df = spark.createDataFrame(
        [Row(id=i, s=s) for i, (s, _) in enumerate(cases)]
    )
    got = {
        r.id: r.n
        for r in df.select(
            "id", percent_normalize(F.col("s")).alias("n")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i][0], got[i], want)


def test_percent_normalize_idempotent_on_valid_urls(spark):
    """Normalization must be a projection on RFC-valid input: every
    output escape is uppercase non-unreserved, which no pass rewrites.
    Deterministic fuzz over valid percent-encoded URLs (every '%'
    starts a two-hex-digit escape, codes spanning unreserved/reserved
    × hex cases): normalize twice in one pass, rows must match."""
    import random

    from pyspark.sql import Row

    from tamar_spark.functions.text import canonical_url, percent_normalize

    rng = random.Random(41)
    codes = ["%7e", "%7E", "%2F", "%2f", "%41", "%61", "%30", "%25",
             "%3A", "%3a", "%2D", "%5f", "%20", "%C3", "%a9"]
    urls = []
    for _ in range(200):
        path = "/" + "".join(
            rng.choice(codes + ["a", "B", "7", "/"]) for _ in range(8)
        )
        q = "q=" + "".join(rng.choice(codes + ["x"]) for _ in range(4))
        urls.append(f"https://ex.com{path}?{q}")
    df = spark.createDataFrame([Row(id=i, url=u) for i, u in enumerate(urls)])
    out = df.select(
        "id", "url", percent_normalize(F.col("url")).alias("n1")
    ).withColumn("n2", percent_normalize(F.col("n1"))).withColumn(
        "c1", canonical_url(F.col("url"))
    ).withColumn("c2", canonical_url(F.col("c1")))
    bad = out.filter(
        (F.col("n1") != F.col("n2")) | (F.col("c1") != F.col("c2"))
    ).collect()
    assert not bad, [(r.url, r.n1, r.n2, r.c1, r.c2) for r in bad[:5]]


def test_decode_numeric_entities_adversarial(spark):
    """The generic numeric-reference decoder (r14): decimal, lower/
    upper hex, and capital-X forms decode to their code points;
    NUL, surrogates, past-ceiling and overlong (8+ digit) references,
    unterminated and non-numeric forms pass through VERBATIM; and the
    &amp;-protection holds through the full html_main_text chain —
    '&amp;#65;' is the author writing a literal '&#65;', so the
    numeric stage must run before (never after) the &amp; collapse."""
    from pyspark.sql import Row

    from tamar_spark.functions.text import (
        decode_numeric_entities,
        html_main_text,
    )

    cases = [
        ("&#65;&#97;", "Aa"),
        ("&#x41;&#x61;&#X5A;", "AaZ"),
        ("&#233; caf&#xE9;", "\xe9 caf\xe9"),
        ("&#128512;", "\U0001F600"),                  # astral plane
        ("&#1114111;", "\U0010FFFF"),                 # the ceiling decodes
        ("&#1114112; &#x110000;", "&#1114112; &#x110000;"),  # past it: verbatim
        ("&#0; &#xD800; &#xDFFF;", "&#0; &#xD800; &#xDFFF;"),
        ("&#12345678; &#x12345678;", "&#12345678; &#x12345678;"),  # overlong
        ("&#65 &#; &#x; &#xZZ; &65;", "&#65 &#; &#x; &#xZZ; &65;"),
        ("a&#65;b&#65;c", "aAbAc"),
        # standalone semantics: single pass, &#38; IS an ampersand and
        # its output is final text — never re-read as a new reference
        ("&#38;x &#38;#65; &#x26;gt;", "&x &#65; &gt;"),
    ]
    df = spark.createDataFrame(
        [Row(id=i, s=s) for i, (s, _) in enumerate(cases)]
    )
    got = {
        r.id: r.d
        for r in df.select(
            "id", decode_numeric_entities(F.col("s")).alias("d")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i][0], got[i], want)

    # through the full extraction chain: numeric + named resolve in ONE
    # pass, so no spelling of '&' can make decoded output re-read as a
    # new reference (r14 review finding: the numeric-then-chain layout
    # turned '&#38;lt;' into '<')
    hcases = [
        ("<p>&amp;#65; &#66; &amp;lt; &#xZZ;</p>", "&#65; B &lt; &#xZZ;"),
        ("<p>a &#38;lt; b</p>", "a &lt; b"),
        ("<p>&#38;amp; &#x26;#101; &&#108;t;</p>", "&amp; &#101; &lt;"),
    ]
    h = spark.createDataFrame(
        [Row(id=i, html=html) for i, (html, _) in enumerate(hcases)]
    )
    hgot = {
        r.id: r.t
        for r in h.select(
            "id", html_main_text(F.col("html"), numeric_entities=True).alias("t")
        ).collect()
    }
    for i, (_, want) in enumerate(hcases):
        assert hgot[i] == want, (i, hcases[i][0], hgot[i], want)


def test_lang_segments_tile_and_alternate(spark, sf_dir):
    """The zero-shuffle array-fold segmentation must produce, per doc,
    segments that (a) tile [0, n_sentences) exactly — contiguous, ordered,
    non-overlapping — and (b) never place two consecutive segments with the
    same language (else the collapse missed a merge).  This is the invariant
    pair the windowed gaps-and-islands formulation guarantees by
    construction; the fold must match it."""
    from tamar_spark.queries import QUERIES

    seg = QUERIES["lang_segments"](spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", (F.size(F.split("text", r"\.")) ).alias("n_sent")
    )
    per_doc = seg.groupBy("doc_id").agg(
        F.min("start_idx").alias("first_start"),
        F.max("end_idx").alias("last_end"),
        F.sum("n_sentences").alias("tot"),
        # ordered-by-seg_idx arrays for adjacency checks
        F.array_sort(
            F.collect_list(F.struct("seg_idx", "start_idx", "end_idx", "lang"))
        ).alias("segs"),
    )
    joined = per_doc.join(docs, "doc_id")
    bad_tile = joined.filter(
        (F.col("first_start") != 0)
        | (F.col("last_end") != F.col("n_sent") - 1)
        | (F.col("tot") != F.col("n_sent"))
    ).count()
    assert bad_tile == 0
    # adjacency: each segment starts right after the previous ends, and
    # consecutive languages differ
    gaps = joined.select(
        F.exists(
            F.zip_with(
                F.slice(F.col("segs"), 1, F.size("segs") - 1),
                F.slice(F.col("segs"), 2, F.size("segs") - 1),
                lambda a, b: (b["start_idx"] != a["end_idx"] + 1)
                | (b["lang"] == a["lang"]),
            ),
            lambda x: x,
        ).alias("bad")
    ).filter("bad").count()
    assert gaps == 0


def test_streaming_asof_dim_point_in_time(spark, sf_dir):
    """The streaming SCD2 enrichment must be point-in-time correct: every
    output row's event ts falls inside its matched version's
    [o_orderdate, valid_to) window, and the match is the LATEST version at
    or before ts (no training-serving leakage, no stale pick when a newer
    valid version exists)."""
    from tamar_spark.queries import QUERIES

    out = QUERIES["streaming_asof_dim"](spark, sf_dir)
    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window
    dim = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .withColumn(
            "valid_to",
            F.lead("o_orderdate").over(
                w.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
            ),
        )
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.col("ts").alias("ev_ts")
    )
    checked = (
        out.join(
            dim,
            (out["user_id"] == dim["o_custkey"])
            & (out["version_order"] == dim["o_orderkey"]),
        )
        .join(ev, "event_id")
    )
    n_out = out.count()
    assert n_out > 0
    in_window = checked.filter(
        (F.col("ev_ts") >= F.col("o_orderdate"))
        & (F.col("valid_to").isNull() | (F.col("ev_ts") < F.col("valid_to")))
    ).count()
    assert in_window == n_out  # every row matched exactly its valid version


def test_streaming_ewma_anomaly_scores_before_update(spark, sf_dir):
    """E2E vs a direct per-user walk: the monitor must score each event
    against the PRE-update baseline (so a spike is flagged, and the next
    normal reading is judged against the spike-polluted baseline), carry
    state in (ts, event_id) order, and leave the first event unflagged."""
    import math

    import pandas as pd

    from tamar_spark.queries import QUERIES

    out = (
        QUERIES["streaming_ewma_anomaly"](spark, sf_dir)
        .toPandas()
        .set_index("event_id")
    )
    raw = pd.read_parquet(f"{sf_dir}/events.parquet")[
        ["event_id", "user_id", "ts", "value"]
    ].sort_values(["user_id", "ts", "event_id"])

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    n_checked = 0
    for _, grp in raw.groupby("user_id"):
        e = None
        for row in grp.itertuples():
            got = out.loc[row.event_id]
            if e is None:
                assert pd.isna(got["prior_ewma"]) and not got["is_anomaly"]
                e = float(row.value)
            else:
                d = abs(float(row.value) - e)
                assert got["prior_ewma"] == r6(e)
                assert got["deviation"] == r6(d)
                assert bool(got["is_anomaly"]) == (d > 100.0)
                e = 0.5 * float(row.value) + 0.5 * e
            n_checked += 1
    assert n_checked == len(out)
    # the monitor actually fires on the fixture
    assert out["is_anomaly"].sum() > 0


def test_dsir_select_prefers_target_like_docs(spark, tmp_path):
    """On a crafted corpus the importance ordering must be semantic: a
    pool document built from the target corpus's bigrams outranks (and is
    selected over) same-language gibberish documents sharing no target
    bigram."""
    import pandas as pd

    from tamar_spark.queries import QUERIES

    target_phrase = "the quick brown fox jumps over the lazy dog"
    rows = []
    # target corpus: en docs repeating the phrase's bigrams
    for i in range(4):
        rows.append((i, target_phrase, "en", "srcT", len(target_phrase)))
    # pool (fr): one target-like doc, seven gibberish docs → quota 2 of 8
    rows.append((100, "quick brown fox jumps over the lazy", "fr", "srcP", 35))
    for j in range(7):
        txt = f"zab{j} qux{j} blorp{j} wib{j} zonk{j} flum{j}"
        rows.append((101 + j, txt, "fr", "srcP", len(txt)))
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    out = QUERIES["dsir_select"](spark, str(tmp_path)).toPandas()
    # 8 fr pool docs → floor(8/4) = 2 selected; the target-like doc wins
    assert len(out) == 2
    assert out.loc[out["sel_rank"] == 1, "doc_id"].iloc[0] == 100
    top = out.set_index("doc_id")["importance"]
    assert top[100] > top.drop(100).max()


def test_dq_constraints_clean_fixture_passes(spark, sf_dir):
    """The TPC-H-shaped fixture satisfies every registered constraint
    (complete custkeys, unique orderkeys, positive totals, O/F/P
    statuses, lineitem keys all resolving in orders) — so each metric is
    exactly 1.0 and each gate passes.  Also pins the metric range and
    the constraint roster so a silently-dropped check can't pass CI."""
    from tamar_spark.queries import QUERIES

    rows = {
        r.constraint_name: r
        for r in QUERIES["dq_constraints"](spark, sf_dir).collect()
    }
    assert set(rows) == {
        "completeness_o_custkey",
        "unique_o_orderkey",
        "positive_o_totalprice",
        "domain_o_orderstatus",
        "ri_lineitem_orderkey",
    }
    for r in rows.values():
        assert 0.0 <= r.metric <= 1.0
        assert r.passed and r.metric == 1.0, r


def test_l_diversity_invariants(spark, sf_dir):
    """Structural invariants of the l-diversity audit: the sensitive
    cardinality is bounded by both the class size and the 5-segment
    domain, and the gate boolean is exactly n_segments >= l."""
    from tamar_spark.queries import QUERIES
    from tamar_spark.queries_layout import _LDIV_L

    rows = QUERIES["l_diversity"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_segments <= min(r.class_size, 5)
        assert r.diverse == (r.n_segments >= _LDIV_L)


def test_seasonal_decompose_additivity(spark, sf_dir):
    """The decomposition reconstructs: on every full-window day,
    total = trend + seasonal + residual within the 4-dp rounding of the
    three components; edge days (first/last 3) carry NULL trend AND
    NULL residual (never a silently-biased partial mean), while their
    weekday seasonal is still reported."""
    from tamar_spark.queries import QUERIES

    rows = QUERIES["seasonal_decompose"](spark, sf_dir).collect()
    full = [r for r in rows if r.trend is not None]
    assert len(full) == len(rows) - 6
    for r in full:
        assert abs(r.total_value - (r.trend + r.seasonal + r.residual)) < 5e-4, r
    for r in rows:
        assert (r.trend is None) == (r.residual is None)
        assert r.seasonal is not None


def test_paragraph_filter_linear_reassembly_equivalence(spark):
    """r15 (r14 VERDICT task 5): the linear reassembly — kp plus an
    appended last paragraph iff n ≡ 1 (mod P) — must produce exactly
    the r14 output, whose formulation scanned the kept list once per
    paragraph (filter(all_paras, p -> array_position(kp, p) > 0 or
    n - p*P == 1): O(paras × kept) per row).  The reference here
    re-implements the FULL r14 semantics in Python — bigram counts,
    corpus mean, the 0.9× keep rule, and the membership-scan
    reassembly verbatim — and the real pipeline runs over documents up
    to 2,000 paragraphs (the verdict's ≥1k bar), plus the boundary
    sizes where the two formulations could plausibly diverge (n = 1,
    P, P+1, 2P+1, a multiple with an unfamiliar tail).  Every integer
    division/sum is exact and the one IEEE division + 0.9× product is
    computed identically in both engines, so equality is exact."""
    import hashlib
    import math
    import re as _re

    from pyspark.sql import Row

    from tamar_spark.queries_pipeline import _PARA_P, _paragraph_filter_frame

    P = _PARA_P
    rng_tokens = {
        # long docs: a small common vocabulary (familiar bigrams) with
        # runs of unique tokens spliced in (count-1 bigrams → those
        # paragraphs fall under 0.9× the corpus mean and drop)
        0: ["t%d" % ((i * 7919 + i // 97) % 23) for i in range(10001)],
        1: [
            ("u%d" % i) if (i // 10) % 7 == 3 else ("t%d" % ((i * 31) % 23))
            for i in range(20000)
        ],
        2: ["t%d" % (i % 5) for i in range(10050 + 1)],
        # boundary sizes
        3: ["a"],                                     # n = 1
        4: ["t%d" % (i % 3) for i in range(P)],       # n = P
        5: ["t%d" % (i % 3) for i in range(P + 1)],   # n = P+1 (1-token tail)
        6: ["x%d" % i for i in range(2 * P + 1)],     # unfamiliar + tail
        7: ["t1", "t2"] * (P // 2) + ["q9"],          # n = P+1 mixed
    }
    docs = [(d, " ".join(toks)) for d, toks in sorted(rng_tokens.items())]

    # --- r14 reference, verbatim semantics -------------------------------
    words = {d: _re.split(r"\s+", t.strip()) for d, t in docs}
    cnt: dict = {}
    occ = []  # (doc, para, bigram)
    for d, w in words.items():
        n = len(w)
        for i in range(1, n):  # 1-based bigram index, i % P != 0
            if i % P != 0:
                bg = w[i - 1] + " " + w[i]
                occ.append((d, (i - 1) // P, bg))
                cnt[bg] = cnt.get(bg, 0) + 1
    cs = [cnt[bg] for _, _, bg in occ]
    gmean = sum(cs) / len(cs)
    fam: dict = {}
    for d, para, bg in occ:
        s, k = fam.get((d, para), (0, 0))
        fam[(d, para)] = (s + cnt[bg], k + 1)
    keptset = {
        key for key, (s, k) in fam.items() if s / k >= 0.9 * gmean
    }
    expected = {}
    for d, w in words.items():
        n = len(w)
        n_paras = math.ceil(n / float(P))
        kept_full = [
            p
            for p in range(n_paras)
            if (d, p) in keptset or (n - p * P) == 1  # r14 membership scan
        ]
        toks_after = [
            tok for p in kept_full for tok in w[p * P : p * P + P]
        ]
        expected[d] = (
            n_paras,
            len(kept_full),
            n,
            len(toks_after),
            hashlib.md5(" ".join(toks_after).encode()).hexdigest(),
        )

    got = {
        r.doc_id: (r.n_paras, r.n_kept, r.n_before, r.n_after, r.cleaned_fp)
        for r in _paragraph_filter_frame(
            spark.createDataFrame([Row(doc_id=d, text=t) for d, t in docs])
        ).collect()
    }
    assert got == expected
    # the comparison is only meaningful if the filter actually bites:
    # at least one long doc must both drop and keep paragraphs
    assert any(
        0 < got[d][1] < got[d][0] for d in (0, 1, 2)
    ), {d: got[d][:2] for d in (0, 1, 2)}


def test_idn_fold_host_adversarial(spark):
    """idn_fold_host (r15, r14 VERDICT task 4): Unicode labels fold to
    their RFC 3492 punycode ASCII form; a Unicode host and its xn--
    DNS spelling are ONE key; existing xn-- labels re-canonicalize
    through decode → NFC → re-encode; INVALID punycode passes through
    verbatim; pure-ASCII labels are untouched.  Fixtures include the
    RFC 3492 §7.1 sample strings (C Chinese simplified, L Japanese)
    as the spec pins them."""
    from pyspark.sql import Row

    from tamar_spark.functions.text import idn_fold_host

    cases = [
        ("bücher.example", "xn--bcher-kva.example"),
        # decomposed spelling of the SAME host -> the same key
        ("bücher.example", "xn--bcher-kva.example"),
        ("xn--bcher-kva.example", "xn--bcher-kva.example"),
        # RFC 3492 7.1 (C) Chinese (simplified): 他们为什么不说中文
        (
            "他们为什么不说中文.cn",
            "xn--ihqwcrb4cv8a8dqg056pqjye.cn",
        ),
        # RFC 3492 7.1 (L): 3年B組金八先生 (mixed basic + non-basic),
        # after the host convention's lowercase ('b' stays 'b')
        (
            "3年b組金八先生.example",
            "xn--3b-ww4c5e180e575a65lsy2b.example",
        ),
        ("www.example.com", "www.example.com"),      # pure ASCII verbatim
        # invalid punycode: truncated extended part -> VERBATIM
        ("xn--zzz999.example", "xn--zzz999.example"),
        # xn-- label that decodes but was encoded from a non-NFC
        # string re-canonicalizes onto the NFC key: 'bücher' spelled
        # decomposed (u + combining diaeresis) encodes to
        # 'bucher-xyd' -- decode + NFC + re-encode folds it
        ("xn--bucher-xyd.example", "xn--bcher-kva.example"),
        ("日本語.jp", "xn--wgv71a119e.jp"),
        # mixed: one ASCII label, one IDN label
        ("api.例え.test", "api.xn--r8jz45g.test"),
    ]
    df = spark.createDataFrame(
        [Row(id=i, h=h) for i, (h, _) in enumerate(cases)]
    )
    got = {
        r.id: r.f
        for r in df.select("id", idn_fold_host(F.col("h")).alias("f")).collect()
    }
    for i, (h, want) in enumerate(cases):
        assert got[i] == want, (h, got[i], want)


def test_url_host_idn_knob_and_canonical_url_composition(spark):
    """The idn knob end-to-end: two spellings of one IDN URL (Unicode
    composed, Unicode decomposed, and the xn-- form) must produce ONE
    canonical_url(idn=True) key, while the default idn=False path is
    byte-identical to r14 (the zero-Python contract of
    url_canonicalize depends on it)."""
    from pyspark.sql import Row

    from tamar_spark.functions.text import canonical_url, url_host

    urls = [
        "https://Bücher.example:443/x?a=1",
        "https://Bücher.example/x?a=1",
        "https://xn--bcher-kva.example:443/x?a=1#frag",
    ]
    df = spark.createDataFrame([Row(id=i, u=u) for i, u in enumerate(urls)])
    rows = df.select(
        "id",
        canonical_url(F.col("u"), idn=True).alias("c"),
        url_host(F.col("u"), idn=True).alias("h"),
        canonical_url(F.col("u")).alias("c0"),
    ).collect()
    keys = {r.c for r in rows}
    hosts = {r.h for r in rows}
    assert keys == {"https://xn--bcher-kva.example/x?a=1"}, keys
    assert hosts == {"xn--bcher-kva.example"}, hosts
    # idn=False keeps the Unicode spellings distinct (scope-stated)
    c0 = {r.id: r.c0 for r in rows}
    assert c0[2] == "https://xn--bcher-kva.example/x?a=1"
    assert c0[0] == "https://bücher.example/x?a=1"
    assert c0[1] == "https://bücher.example/x?a=1"


def test_unicode_normalize_forms_and_idempotence(spark):
    """unicode_normalize (r15, r14 VERDICT task 1): composed and
    decomposed spellings land on one NFC key (the dedup-key claim);
    singleton decompositions fold (U+212B ANGSTROM SIGN -> U+00C5);
    Hangul jamo compose; combining marks reach canonical order (two
    orderings, one key); NFKC folds compatibility forms (ligature,
    fullwidth, superscript) that NFC must NOT touch; casefold=True is
    the fold-then-renormalize composition.  Idempotence and
    NFC(NFD(x)) == NFC(x) are asserted for every fixture IN the same
    Spark job (normalize twice, compare columns)."""
    import unicodedata

    from pyspark.sql import Row

    from tamar_spark.functions.text import unicode_normalize

    fixtures = [
        "café",                # decomposed e + acute
        "café",                 # composed
        "Ångström",        # ANGSTROM SIGN singleton
        "가힠",        # jamo pair + lone trailing jamo
        "q̣̇",             # marks out of canonical order
        "q̣̇",             # canonical order
        "ﬁle für Ａ１ m²",  # NFKC bait
        "Å",                   # A + ring = Å
        "ß STİ",           # sharp s + dotted capital I (casefold)
        "plain ascii stays",
    ]
    df = spark.createDataFrame(
        [Row(id=i, s=s) for i, s in enumerate(fixtures)]
    )
    out = df.select(
        "id",
        "s",
        unicode_normalize(F.col("s")).alias("nfc"),
        unicode_normalize(F.col("s"), form="NFD").alias("nfd"),
        unicode_normalize(F.col("s"), form="NFKC").alias("nfkc"),
        unicode_normalize(F.col("s"), casefold=True).alias("cf"),
    )
    out = out.withColumn("nfc2", unicode_normalize(F.col("nfc"))).withColumn(
        "nfc_of_nfd", unicode_normalize(F.col("nfd"))
    ).withColumn("cf2", unicode_normalize(F.col("cf"), casefold=True))
    rows = {r.id: r for r in out.collect()}
    for i, s in enumerate(fixtures):
        r = rows[i]
        assert r.nfc == unicodedata.normalize("NFC", s), (s, r.nfc)
        assert r.nfkc == unicodedata.normalize("NFKC", s), (s, r.nfkc)
        assert r.nfc2 == r.nfc, ("not idempotent", s)
        assert r.nfc_of_nfd == r.nfc, ("NFC(NFD(x)) != NFC(x)", s)
        assert r.cf2 == r.cf, ("casefold not idempotent", s)
    # the dedup-key collapses the kernel exists for:
    assert rows[0].nfc == rows[1].nfc == "café"
    assert rows[4].nfc == rows[5].nfc            # one mark ordering
    assert rows[2].nfc.startswith("Å")      # singleton folded
    assert rows[7].nfc == "Å"
    # NFC preserves compatibility characters; NFKC folds them
    assert rows[6].nfc == fixtures[6]
    assert rows[6].nfkc == "file für A1 m2"
    # casefold: sharp-s -> ss, dotted capital I -> i + combining dot
    assert rows[8].cf == unicodedata.normalize(
        "NFC", unicodedata.normalize("NFC", fixtures[8]).casefold()
    )


def test_unicode_normalize_rejects_unknown_form():
    import pytest as _pytest

    from tamar_spark.functions.text import unicode_normalize

    with _pytest.raises(ValueError):
        unicode_normalize(F.lit("x"), form="NFKC_Casefold")


def test_decode_charset_adversarial(spark):
    """decode_charset (r15, r14 VERDICT task 3) adversarial surface:
    BOM beats a lying meta; http-equiv and quoted/unquoted/uppercase
    labels all resolve; the WHATWG latin-1→cp1252 remap applies; an
    UNKNOWN label falls to the default; a WRONG hint decodes with
    counted replacements instead of throwing; a TRUNCATED multibyte
    tail replaces exactly once; UTF-16-BE BOM works; and pre-existing
    U+FFFD in valid input is NOT counted (the audit column is true
    replacements, not a character count)."""
    from pyspark.sql import Row

    from tamar_spark.functions.text import decode_charset

    cases = [
        # (payload bytes, expected text, expected encoding, expected n_replaced)
        (b"\xef\xbb\xbfhi", "hi", "utf-8", 0),
        # BOM + lying meta: BOM wins
        (
            b"\xef\xbb\xbf" + b"<meta charset=shift_jis>ok",
            "<meta charset=shift_jis>ok",
            "utf-8",
            0,
        ),
        (b"\xfe\xff" + "Ab".encode("utf-16-be"), "Ab", "utf-16-be", 0),
        # http-equiv form, single quotes, uppercase label
        (
            b"<meta http-equiv='Content-Type' "
            b"content='text/html; CHARSET=WINDOWS-1252'>\x93x\x94",
            "<meta http-equiv='Content-Type' "
            "content='text/html; CHARSET=WINDOWS-1252'>“x”",
            "cp1252",
            0,
        ),
        # unknown label -> default utf-8
        (b"<meta charset=bogus-enc>caf\xc3\xa9", "<meta charset=bogus-enc>café", "utf-8", 0),
        # WRONG hint: says utf-8, bytes are cp1252 smart quotes ->
        # two replacement runs, never a throw
        (
            b"<meta charset=utf-8>\x93q\x94",
            "<meta charset=utf-8>�q�",
            "utf-8",
            2,
        ),
        # truncated multibyte at end of payload: exactly one run
        (b"caf\xc3", "caf�", "utf-8", 1),
        # pre-existing U+FFFD in VALID utf-8 is not a replacement
        ("already � here".encode("utf-8"), "already � here", "utf-8", 0),
        # ascii label remaps to cp1252 too (WHATWG)
        (b"<meta charset=us-ascii>\xe9", "<meta charset=us-ascii>é", "cp1252", 0),
        # no hint, pure ascii: default, zero replacements
        (b"plain", "plain", "utf-8", 0),
    ]
    df = spark.createDataFrame(
        [Row(id=i, b=bytearray(b)) for i, (b, _, _, _) in enumerate(cases)]
    )
    dec = decode_charset(F.col("b"))
    got = {
        r.id: (r.t, r.e, r.n)
        for r in df.select(
            "id",
            dec["text"].alias("t"),
            dec["encoding"].alias("e"),
            dec["n_replaced"].alias("n"),
        ).collect()
    }
    for i, (b, t, e, n) in enumerate(cases):
        assert got[i] == (t, e, n), (i, b, got[i], (t, e, n))


def test_fingerprint_of_nfc_text_collapses_spellings(spark):
    """fingerprint(unicode_normalize(text)): composed and decomposed
    spellings of one document produce ONE md5 key; without the
    normalization they stay apart."""
    from pyspark.sql import Row

    from tamar_spark.functions.text import fingerprint, unicode_normalize

    df = spark.createDataFrame(
        [
            Row(id=0, t="Caf\u00e9  du  Monde"),
            Row(id=1, t="Cafe\u0301  du  Monde"),
        ]
    )
    rows = df.select(
        "id",
        fingerprint(unicode_normalize(F.col("t"))).alias("k"),
        fingerprint(F.col("t")).alias("k0"),
    ).collect()
    k = {r.id: r.k for r in rows}
    k0 = {r.id: r.k0 for r in rows}
    assert k[0] == k[1]          # one key after NFC
    assert k0[0] != k0[1]        # split keys without it


def test_shingles_of_nfc_text_collapses_spellings(spark):
    """shingles over unicode_normalize(text): composed and decomposed
    spellings of one document produce IDENTICAL shingle sets (so every
    MinHash/SimHash signature downstream collapses too); without the
    normalization they stay distinct."""
    from pyspark.sql import Row

    from tamar_spark.functions.text import unicode_normalize
    from tamar_spark.operators.dedup import shingles

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="drink caf\u00e9 au lait now"),
            Row(doc_id=1, text="drink cafe\u0301 au lait now"),
        ]
    )
    nfc_docs = docs.select("doc_id", unicode_normalize(F.col("text")).alias("text"))
    with_nfc = shingles(nfc_docs, n=3).collect()
    sets = {}
    for r in with_nfc:
        sets.setdefault(r.doc_id, set()).add(r.shingle)
    assert sets[0] == sets[1] and len(sets[0]) == 3
    plain = shingles(docs, n=3).collect()
    psets = {}
    for r in plain:
        psets.setdefault(r.doc_id, set()).add(r.shingle)
    assert psets[0] != psets[1]


def test_decompress_payload_adversarial(spark):
    """decompress_payload (r15) edge surface: multi-member gzip joins;
    trailing non-member garbage keeps the prefix and flags ok=false;
    corrupt gzip (strong magic) yields NULL/false; a stored payload
    whose first two bytes happen to pass the weak zlib header check
    falls back to store verbatim (never reported corrupt); the
    max_bytes cap abandons a bomb mid-stream; raw deflate is
    indistinguishable from store (stated non-goal) and passes
    through."""
    import gzip
    import zlib

    from pyspark.sql import Row

    from tamar_spark.functions.text import decompress_payload

    two = gzip.compress(b"abc", mtime=0) + gzip.compress(b"def", mtime=0)
    garbage = gzip.compress(b"abc", mtime=0) + b"NOTGZIP"
    corrupt = b"\x1f\x8b" + b"\x00" * 10
    # ASCII bytes passing the zlib header check: 'H' = 0x48 (CM=8),
    # 0x48<<8|0x2c = 0x482c = 18476 ... pick programmatically
    fp = None
    for second in range(256):
        if ((0x48 << 8) | second) % 31 == 0 and 0x20 <= second < 0x7F:
            fp = bytes([0x48, second]) + b"plain tail"
            break
    assert fp is not None
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    raw = co.compress(b"rawdeflate") + co.flush()
    bomb = zlib.compress(b"\x00" * 10_000_000, 9)  # ~10 MB from ~10 KB

    cases = [
        (two, (b"abcdef", "gzip", True, 6)),
        (garbage, (b"abc", "gzip", False, 3)),
        (corrupt, (None, "gzip", False, None)),
        (fp, (fp, "store", True, len(fp))),
        (raw, (raw, "store", True, len(raw))),
        (b"", (b"", "store", True, 0)),
    ]
    df = spark.createDataFrame(
        [Row(id=i, b=bytearray(b)) for i, (b, _) in enumerate(cases)]
    )
    dec = decompress_payload(F.col("b"))
    got = {
        r.id: (
            None if r.d is None else bytes(r.d),
            r.c,
            r.o,
            r.n,
        )
        for r in df.select(
            "id",
            dec["data"].alias("d"),
            dec["codec"].alias("c"),
            dec["ok"].alias("o"),
            dec["n_out"].alias("n"),
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)

    # the bomb, capped: abandoned mid-stream, never materialized
    df2 = spark.createDataFrame([Row(id=0, b=bytearray(bomb))])
    dec2 = decompress_payload(F.col("b"), max_bytes=1_000_000)
    r = df2.select(
        dec2["data"].alias("d"), dec2["codec"].alias("c"),
        dec2["ok"].alias("o"),
    ).collect()[0]
    assert (r.d, r.c, r.o) == (None, "zlib", False)
    # and uncapped it round-trips (the cap is the only difference)
    dec3 = decompress_payload(F.col("b"))
    r3 = df2.select(dec3["n_out"].alias("n")).collect()[0]
    assert r3.n == 10_000_000


def _warc_record(
    payload: bytes,
    wtype: str = "response",
    version: str = "WARC/1.0",
    content_length: str | None = None,
    terminator: bytes = b"\r\n\r\n",
) -> bytes:
    cl = str(len(payload)) if content_length is None else content_length
    head = (
        f"{version}\r\n"
        f"WARC-Type: {wtype}\r\n"
        "WARC-Target-URI: http://e.com/x\r\n"
        "WARC-Date: 2026-01-01T00:00:00Z\r\n"
        "WARC-Record-ID: <urn:uuid:1>\r\n"
        "Content-Type: application/http;msgtype=response\r\n"
        f"Content-Length: {cl}\r\n\r\n"
    )
    return head.encode("latin-1") + payload + terminator


def test_warc_parse_adversarial(spark):
    """warc_parse (r15) edge surface: clean records parse with either
    record terminator; header names are case-insensitive; a bad
    version line or a non-WARC prefix yields the full-null ok=false
    row; a TRUNCATED payload (Content-Length past the record end)
    flags ok=false with payload NULL; a garbled Content-Length flags
    ok=false keeping the remainder; trailing non-terminator garbage
    flags ok=false keeping the payload — and nothing ever throws."""
    from pyspark.sql import Row

    from tamar_spark.functions.text import warc_parse

    body = b"HTTP/1.1 200 OK\r\n\r\nhi"
    lower = _warc_record(body).replace(b"WARC-Type:", b"warc-type:")
    cases = [
        (_warc_record(body), ("response", 21, body, True)),
        (_warc_record(body, terminator=b"\r\n"), ("response", 21, body, True)),
        (lower, ("response", 21, body, True)),
        (_warc_record(body, version="WARC/2.0"), (None, None, None, False)),
        (b"HTTP/1.1 200 OK\r\n\r\nnope", (None, None, None, False)),
        (b"WARC/1.0 no blank line", (None, None, None, False)),
        (
            _warc_record(body, content_length="9999"),
            ("response", 9999, None, False),
        ),
        (
            _warc_record(body, content_length="abc"),
            ("response", None, body + b"\r\n\r\n", False),
        ),
        (
            _warc_record(body, terminator=b"JUNK"),
            ("response", 21, body, False),
        ),
    ]
    df = spark.createDataFrame(
        [Row(id=i, b=bytearray(b)) for i, (b, _) in enumerate(cases)]
    )
    w = warc_parse(F.col("b"))
    got = {
        r.id: (r.t, r.cl, None if r.p is None else bytes(r.p), r.o)
        for r in df.select(
            "id",
            w["warc_type"].alias("t"),
            w["content_length"].alias("cl"),
            w["payload"].alias("p"),
            w["ok"].alias("o"),
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_http_response_split_adversarial(spark):
    """http_response_split (r15) edge surface: clean responses split
    with and without Content-Length; HTTP/1.0 accepted; a
    Content-Length that disagrees with the actual body size flags
    ok=false keeping the body (truncation evidence, not an encoding
    to undo); a chunked body keeps its framing untouched; the request
    form a WARC ``request`` record carries and a non-digit status are
    REFUSED as full-null ok=false."""
    from pyspark.sql import Row

    from tamar_spark.functions.text import http_response_split

    cases = [
        (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Length: 2\r\n\r\nhi",
            (200, "text/html", b"hi", True),
        ),
        (
            b"HTTP/1.0 301 Moved\r\nLocation: /y\r\n\r\n",
            (301, None, b"", True),
        ),
        (
            b"HTTP/1.1 200 OK\r\nContent-Length: 99\r\n\r\nshort",
            (200, None, b"short", False),
        ),
        (
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"4\r\nWiki\r\n5;ext=1\r\npedia\r\n0\r\n\r\n",
            (200, None, b"4\r\nWiki\r\n5;ext=1\r\npedia\r\n0\r\n\r\n", True),
        ),
        (
            b"GET /doc/1 HTTP/1.1\r\nHost: e.com\r\n\r\n",
            (None, None, None, False),
        ),
        (b"HTTP/1.1 ABC nope\r\n\r\nx", (None, None, None, False)),
        (b"no framing at all", (None, None, None, False)),
    ]
    df = spark.createDataFrame(
        [Row(id=i, b=bytearray(b)) for i, (b, _) in enumerate(cases)]
    )
    h = http_response_split(F.col("b"))
    got = {
        r.id: (r.s, r.ct, None if r.b is None else bytes(r.b), r.o)
        for r in df.select(
            "id",
            h["status"].alias("s"),
            h["content_type"].alias("ct"),
            h["body"].alias("b"),
            h["ok"].alias("o"),
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_fixture_text_is_nfc():
    """crawl_e2e's one fixture assumption, made LOUD (the r14-ADVICE
    pattern: an oracle that splices raw corpus text assumes properties
    of that text — assert them, so a fixture regeneration fails here
    with a name, not as an opaque sha diff): documents.text at the
    oracle SF is NFC-normalized (true a fortiori of ASCII)."""
    import unicodedata

    import duckdb

    rows = duckdb.sql(
        "SELECT text FROM read_parquet("
        "'/root/testdata/sf0.01/documents.parquet')"
    ).fetchall()
    assert rows
    bad = [t for (t,) in rows if unicodedata.normalize("NFC", t) != t]
    assert not bad, f"{len(bad)} non-NFC documents; first: {bad[0][:80]!r}"
