"""Property-based tests: Spark operator semantics vs independent Python
reference models on randomized inputs (hypothesis).

The reference's own tests are hand-picked golden sequences (SURVEY §5);
these generalize them: for arbitrary event sets, our session windowing must
match a direct re-implementation of the reference's gap-merge store
semantics (src/lib.rs:458-613), and the as-of join must match a per-row
linear scan.

Each example runs a real (local) Spark job, so examples are few and small —
the value is the randomized structure, not volume.
"""

import datetime as dt

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

BASE = dt.datetime(2009, 10, 11, 0, 0, 0)

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # user id
        st.integers(min_value=0, max_value=600),    # minute offset
        st.integers(min_value=1, max_value=100),    # value
    ),
    min_size=1,
    max_size=40,
)


def ref_sessions(events, gap_min):
    """Reference model of the session store (gap-merge over sorted times):
    per key, sort event times; a gap > ``gap_min`` starts a new session.
    Returns {(user, start, last_event): (count, sum)} with Spark's
    window-end convention (last event + gap)."""
    out = {}
    by_user = {}
    for u, m, v in events:
        by_user.setdefault(u, []).append((m, v))
    for u, evs in by_user.items():
        evs.sort()
        cur = [evs[0]]
        for e in evs[1:]:
            if e[0] - cur[-1][0] > gap_min:
                out[_sess_key(u, cur, gap_min)] = _sess_val(cur)
                cur = [e]
            else:
                cur.append(e)
        out[_sess_key(u, cur, gap_min)] = _sess_val(cur)
    return out


def _sess_key(u, cur, gap_min):
    start = BASE + dt.timedelta(minutes=cur[0][0])
    end = BASE + dt.timedelta(minutes=cur[-1][0] + gap_min)
    return (u, start, end)


def _sess_val(cur):
    return (len(cur), sum(v for _, v in cur))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=events_strategy)
def test_session_window_matches_reference_model(spark, events):
    gap = 30
    rows = [
        (u, BASE + dt.timedelta(minutes=m), float(v)) for u, m, v in events
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    got = {
        (r.user_id, r.start, r.end): (r.n, r.s)
        for r in df.groupBy(F.session_window("ts", f"{gap} minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").cast("long").alias("s"))
        .select(
            F.col("session_window.start").alias("start"),
            F.col("session_window.end").alias("end"),
            "user_id",
            "n",
            "s",
        )
        .collect()
    }
    assert got == ref_sessions(events, gap)


asof_strategy = st.tuples(
    st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=15),
    st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=15),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=asof_strategy)
def test_asof_join_matches_linear_scan(spark, data):
    """asof_join(left, right): for each left row, the latest right row with
    rts <= lts — compared against a brute-force scan."""
    from tamar_spark.operators.asof import asof_join

    lefts, rights = data
    ldf = spark.createDataFrame(
        [(i, 1, BASE + dt.timedelta(minutes=m)) for i, m in enumerate(lefts)],
        "lid int, lk int, lts timestamp",
    )
    rdf = spark.createDataFrame(
        [(i, 1, BASE + dt.timedelta(minutes=m)) for i, m in enumerate(sorted(set(rights)))],
        "rid int, rk int, rts timestamp",
    )
    out = asof_join(
        ldf,
        rdf,
        left_on="lts",
        right_on="rts",
        left_by="lk",
        right_by="rk",
        right_cols=["rid"],
    ).collect()
    rsorted = sorted((BASE + dt.timedelta(minutes=m) for m in set(rights)))
    expect = {}
    for i, m in enumerate(lefts):
        lts = BASE + dt.timedelta(minutes=m)
        match = None
        for j, rts in enumerate(rsorted):
            if rts <= lts:
                match = j
            else:
                break
        expect[i] = match
    got = {r.lid: r.rid for r in out}
    assert got == expect


# ---------------------------------------------------------------------------
# Pure-kernel round-trips (no Spark session: these run hundreds of examples)
# ---------------------------------------------------------------------------

jpeg_frames_strategy = st.lists(
    st.tuples(
        st.binary(min_size=0, max_size=40),   # raw entropy payload
        st.booleans(),                        # embed a thumbnail in APP1?
    ),
    min_size=1,
    max_size=6,
)


@given(frames=jpeg_frames_strategy)
@settings(max_examples=200, deadline=None)
def test_mjpeg_splitter_roundtrip(frames):
    """For ANY concatenation of structurally-valid JPEGs — arbitrary
    entropy bytes (FF pre-escaped, as encoders emit), optional
    EXIF-embedded thumbnails — the splitter must recover the exact
    original frame boundaries."""
    from tamar_spark.functions.multimodal import _iter_jpeg_frames
    from tests.test_operators import _fake_jpeg

    def escape(raw: bytes) -> bytes:
        return raw.replace(b"\xff", b"\xff\x00")

    blobs = []
    for raw, with_thumb in frames:
        extra = b"Exif\x00\x00" + _fake_jpeg(escape(b"\x01\xff")) if with_thumb else b""
        blobs.append(_fake_jpeg(escape(raw), app_extra=extra))
    stream = b"".join(blobs)

    expected, pos = [], 0
    for b in blobs:
        expected.append((pos, pos + len(b)))
        pos += len(b)
    assert list(_iter_jpeg_frames(stream)) == expected


png_strategy = st.tuples(
    st.integers(min_value=1, max_value=19),    # width (px)
    st.binary(min_size=3, max_size=1200),      # payload bytes
)


@given(params=png_strategy)
@settings(max_examples=200, deadline=None)
def test_png_roundtrip_property(params):
    """For ANY payload and width, make_png → parse_png must recover the
    exact full-row prefix of the payload: the writer cycles filter types
    0-4 per scanline, so any payload tall enough exercises every
    unfilter branch (Sub/Up/Average/Paeth modular arithmetic) against
    arbitrary byte content — including the adversarial cases a fixed
    vector can miss (0x00/0xFF runs straddling row boundaries, payloads
    shorter than one row, widths where bpp > row)."""
    from tamar_spark.functions.multimodal import make_png, parse_png

    width, payload = params
    row = width * 3
    h = len(payload) // row
    if h == 0:
        try:
            make_png(payload, width=width)
            assert False, "zero-row PNG must raise"
        except ValueError:
            return
    w2, h2, nch, pixels = parse_png(make_png(payload, width=width))
    assert (w2, h2, nch) == (width, h, 3)
    assert pixels == payload[: h * row]


jpeg_strategy = st.tuples(
    st.sampled_from([99, 100]),                 # registered-margin qualities
    st.binary(min_size=0, max_size=24 * 40),    # up to 40 pixel rows
    st.sampled_from([0, 1, 3]),                 # DRI restart interval (r13)
)


@given(params=jpeg_strategy)
@settings(max_examples=60, deadline=None)
def test_jpeg_roundtrip_bounded_error_property(params):
    """For ANY payload, make_jpeg → parse_jpeg must (a) recover the exact
    geometry (8 px/row, full-row count, 3 channels, padded block grid
    cropped away) and (b) land every pixel within the registered error
    bound — 12 at quality 99 (measured fixture max 5), 3 at quality 100
    where quantization is all-ones and only float rounding remains —
    and (c) hold both properties under any DRI restart interval (r13:
    byte-aligned restart segments with DC-predictor resets must be decode-
    transparent).  Arbitrary bytes are the adversarial content class for
    a DCT codec (maximal high-frequency energy), so a bound that holds
    here holds on any real corpus; sub-one-row payloads must raise."""
    import numpy as np

    from tamar_spark.functions.multimodal import make_jpeg, parse_jpeg

    quality, payload, rst = params
    h = len(payload) // 24
    if h == 0:
        try:
            make_jpeg(payload, width=8, quality=quality, restart_interval=rst)
            assert False, "zero-row JPEG must raise"
        except ValueError:
            return
    w2, h2, nch, pixels = parse_jpeg(
        make_jpeg(payload, width=8, quality=quality, restart_interval=rst)
    )
    assert (w2, h2, nch) == (8, h, 3)
    assert len(pixels) == h * 24
    src = np.frombuffer(payload[: h * 24], dtype=np.uint8).astype(int)
    dec = np.frombuffer(pixels, dtype=np.uint8).astype(int)
    bound = 12 if quality == 99 else 3
    assert int(np.abs(src - dec).max()) <= bound


wav_strategy = st.tuples(
    st.sampled_from([8000, 16000, 44100, 48000]),
    st.integers(min_value=1, max_value=8),     # channels
    st.sampled_from([8, 16, 24, 32]),          # bits
    st.binary(min_size=0, max_size=200),       # sample data
)


@given(params=wav_strategy)
@settings(max_examples=200, deadline=None)
def test_wav_header_roundtrip(params):
    """make_wav → _parse_wav must round-trip every PCM parameter
    combination, with n_samples = data bytes // block size."""
    from tamar_spark.functions.multimodal import _parse_wav, make_wav

    sr, ch, bits, data = params
    got = _parse_wav(make_wav(data, sample_rate=sr, n_channels=ch, bits=bits))
    block = ch * (bits // 8)
    assert got == (sr, ch, bits, len(data) // block)


pack_strategy = st.tuples(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),      # shard choice
            st.integers(min_value=1, max_value=200),    # n_tok (can exceed cap)
        ),
        min_size=1,
        max_size=30,
    ),
    st.integers(min_value=1, max_value=5),              # n_buckets
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=pack_strategy)
def test_first_fit_pack_matches_model(spark, data):
    """For arbitrary token-length sequences and bucket counts, the packed
    output must equal a direct first-fit replay run per (shard, bucket)
    with cumulative pack-id offsets — the full semantics, not just
    invariants."""
    from tamar_spark.queries_pipeline import _PACK_CAPACITY, first_fit_pack

    docs, n_buckets = data
    rows = [
        ("en", "web" if s == 0 else "book", i, t)
        for i, (s, t) in enumerate(docs)
    ]
    df = spark.createDataFrame(
        rows, "lang string, source string, doc_id long, n_tok long"
    )

    lo, hi = 0, len(docs) - 1
    width = (hi - lo + n_buckets) // n_buckets if n_buckets > 1 else None

    def replay():
        from collections import defaultdict

        shard_rows = defaultdict(list)
        for lang, source, i, t in rows:
            b = (i - lo) // width if width else 0
            shard_rows[(lang, source)].append((b, i, t))
        out = {}
        for key, rs in shard_rows.items():
            rs.sort()
            offset, cur_b, fill, pid = 0, None, 0, -1
            for b, i, t in rs:
                if b != cur_b:
                    offset += pid + 1 if cur_b is not None else 0
                    cur_b, fill, pid = b, 0, -1
                if pid < 0 or fill + t > _PACK_CAPACITY:
                    pid += 1
                    fill = 0
                fill += t
                out[i] = offset + pid
        return out

    got = {
        r.doc_id: r.pack_id
        for r in first_fit_pack(df, n_buckets=n_buckets).collect()
    }
    assert got == replay()


salted_events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # user id
        st.integers(min_value=0, max_value=600),    # minute offset
        st.integers(min_value=1, max_value=100),    # value
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=salted_events_strategy)
def test_salted_sessions_match_reference_model(spark, events):
    """The salted two-phase session plan must match the reference gap-merge
    model on arbitrary event sets — with a bucket (60 min) far smaller than
    the event span, so nearly every multi-bucket session exercises the
    sub-session merge."""
    from tamar_spark import windows

    gap = 30
    rows = [
        (u, BASE + dt.timedelta(minutes=m), float(v)) for u, m, v in events
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    merged = windows.salted_sessions(
        df, keys=["user_id"], ts="ts", gap=f"{gap} minutes",
        sums=(("s", "value"),), bucket_seconds=3600,
    )
    got = {
        (r.user_id, r.window_start, r.window_end): (r.n_events, int(r.s))
        for r in merged.collect()
    }
    assert got == ref_sessions(events, gap)


span_corpus_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12
    ),
    min_size=1,
    max_size=6,
)


def ref_span_rewrite(token_lists, k):
    """Direct model of the exact-substring rewrite: global canonical (min
    (doc, pos)) occurrence per duplicated k-gram survives, tokens covered
    by any other occurrence are cut, docs reassemble in order."""
    occ = {}
    for d, toks in enumerate(token_lists):
        for p in range(len(toks) - k + 1):
            occ.setdefault(tuple(toks[p:p + k]), []).append((d, p))
    drop = {}
    for gram, places in occ.items():
        for d, p in sorted(places)[1:]:
            drop.setdefault(d, set()).update(range(p, p + k))
    out = {}
    for d, toks in enumerate(token_lists):
        kept = [t for i, t in enumerate(toks) if i not in drop.get(d, set())]
        out[d] = (len(toks), len(kept), " ".join(kept))
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=span_corpus_strategy)
def test_span_rewrite_matches_model(spark, corpus):
    """Spark span-rewrite vs the direct Python model on tiny 3-letter-vocab
    corpora, where k=2 duplications are dense and overlapping windows,
    intra-doc repeats, and whole-doc erasures all occur."""
    import hashlib

    from tamar_spark.queries_pipeline import span_rewrite

    k = 2
    docs = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in enumerate(corpus)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_before, r.n_after, r.cleaned_fp)
        for r in span_rewrite(docs, k=k).collect()
    }
    want = {
        d: (nb, na, hashlib.md5(txt.encode()).hexdigest())
        for d, (nb, na, txt) in ref_span_rewrite(corpus, k).items()
    }
    assert got == want


winnow_corpus_strategy = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=15),
    min_size=1,
    max_size=5,
)


def _md5_48(s):
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def ref_winnow(token_lists, k, w):
    """Direct winnowing model: per doc, the distinct window-mins over each
    run of w consecutive k-gram hashes (complete windows only)."""
    out = {}
    for d, toks in enumerate(token_lists):
        hs = [
            _md5_48(" ".join(toks[p:p + k]))
            for p in range(len(toks) - k + 1)
        ]
        fps = {
            min(hs[p:p + w]) for p in range(len(hs) - w + 1)
        }
        if fps:
            out[d] = fps
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=winnow_corpus_strategy)
def test_winnow_matches_model(spark, corpus):
    """Spark winnowing vs the direct Python model, plus the winnowing
    GUARANTEE itself: two docs sharing a verbatim run of >= w + k - 1
    tokens must share at least one fingerprint."""
    from tamar_spark.queries_pipeline import winnow_fingerprints

    k, w = 2, 3
    docs = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in enumerate(corpus)],
        "doc_id long, text string",
    )
    got = {}
    for r in winnow_fingerprints(docs, k=k, w=w).collect():
        got.setdefault(r.doc_id, set()).add(r.fp)
    assert got == ref_winnow(corpus, k, w)

    # guarantee check on a constructed pair: plant a (w+k-1)-token run
    run = ["x1", "x2", "x3", "x4"]  # w + k - 1 = 4
    pair = [["p"] + run + ["q"], ["r", "s"] + run]
    pdocs = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in enumerate(pair)],
        "doc_id long, text string",
    )
    sets = {}
    for r in winnow_fingerprints(pdocs, k=k, w=w).collect():
        sets.setdefault(r.doc_id, set()).add(r.fp)
    assert sets[0] & sets[1], "winnowing guarantee violated"


manifest_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),       # partition id
        st.integers(min_value=0, max_value=50),      # file id (may collide)
        st.integers(min_value=1, max_value=900),     # file size
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda r: (r[0], r[1]),                # one row per (part, file)
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(files=manifest_strategy)
def test_compaction_bins_match_model(spark, files):
    """For arbitrary file manifests, the window-cumsum bin assignment must
    equal a direct sequential replay (sort per partition, accumulate start
    offsets, bin = start // target), and every bin must hold a CONTIGUOUS
    file_id run — the invariant that makes a bin rewritable as one output
    file without interleaving reads."""
    from collections import defaultdict

    from tamar_spark.queries_layout import compaction_bins

    target = 1000
    df = spark.createDataFrame(files, "part long, file_id long, size long")
    got = {
        (r.part, r.file_id): (r.start_off, r.bin)
        for r in compaction_bins(df, target=target).collect()
    }

    by_part = defaultdict(list)
    for p, f, sz in files:
        by_part[p].append((f, sz))
    want = {}
    for p, rows in by_part.items():
        off = 0
        for f, sz in sorted(rows):
            want[(p, f)] = (off, off // target)
            off += sz
    assert got == want

    # contiguity: within a partition, bins partition the file_id order
    for p, rows in by_part.items():
        seq = [got[(p, f)][1] for f, _ in sorted(rows)]
        assert seq == sorted(seq)  # bins never decrease along the layout


cep_events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # user id
        st.integers(min_value=0, max_value=30),     # minute offset (ties likely)
        st.sampled_from(["view", "click", "purchase", "error"]),
    ),
    min_size=1,
    max_size=40,
)


def _cep_frame(spark, events):
    rows = [
        (u, i, t, BASE + dt.timedelta(minutes=m))
        for i, (u, m, t) in enumerate(events)
    ]
    return spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp"
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=cep_events_strategy)
def test_funnel_matches_model(spark, events):
    """The lag-chain CEP kernel must equal a direct per-user scan over the
    (ts, event_id)-sorted filtered stream — including inputs with tied
    timestamps, which the fixture corpora never produce and which would
    expose any non-total ordering."""
    from tamar_spark.queries_layout import funnel_matches

    within = 10 * 60 * 1_000_000  # 10 minutes in µs
    got = {
        (r.user_id, r.view_id, r.click_id, r.purchase_id, r.elapsed_sec)
        for r in funnel_matches(_cep_frame(spark, events), within_us=within).collect()
    }

    by_user = {}
    for i, (u, m, t) in enumerate(events):
        if t in ("view", "click", "purchase"):
            by_user.setdefault(u, []).append((m * 60_000_000, i, t))
    want = set()
    for u, rows in by_user.items():
        rows.sort()  # (ts, event_id) total order
        for j in range(2, len(rows)):
            (ts2, id2, t2), (_, id1, t1), (ts0, id0, t0) = (
                rows[j - 2],
                rows[j - 1],
                rows[j],
            )
            if (t2, t1, t0) == ("view", "click", "purchase") and ts0 - ts2 <= within:
                want.add((u, id2, id1, id0, (ts0 - ts2) // 1_000_000))
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=cep_events_strategy)
def test_type_runs_match_model(spark, events):
    """Gaps-and-islands runs must equal a direct run-length scan of each
    user's (ts, event_id)-sorted stream."""
    from tamar_spark.queries_layout import type_runs

    got = {
        (r.user_id, r.event_type, r.run_start_id, r.run_len)
        for r in type_runs(_cep_frame(spark, events), min_len=2).collect()
    }

    by_user = {}
    for i, (u, m, t) in enumerate(events):
        by_user.setdefault(u, []).append((m, i, t))
    want = set()
    for u, rows in by_user.items():
        rows.sort()
        run_start, run_type, run_len = None, None, 0
        for m, i, t in rows + [(None, None, None)]:
            if t == run_type:
                run_len += 1
                continue
            if run_type is not None and run_len >= 2:
                want.add((u, run_type, run_start, run_len))
            run_start, run_type, run_len = i, t, 1
    assert got == want


# ---------------------------------------------------------------------------
# floor_div: engine-identical floor semantics for ANY sign (r5 ADVICE — the
# `div`-vs-`//` trap only held on the fixture because its values were
# non-negative)
# ---------------------------------------------------------------------------

signed_div_strategy = st.lists(
    st.tuples(
        st.integers(min_value=-(2**52), max_value=2**52),
        st.integers(min_value=1, max_value=10_000_000_000),
    ),
    min_size=1,
    max_size=64,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pairs=signed_div_strategy)
def test_floor_div_matches_python_floordiv(spark, pairs):
    from tamar_spark.queries import floor_div
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pairs, "a long, b long")
    got = [
        r.q
        for r in df.select(floor_div(F.col("a"), F.col("b")).alias("q"))
        .collect()
    ]
    assert got == [a // b for a, b in pairs]


# ---------------------------------------------------------------------------
# Percent-encoding normalization: the codegen replace chain vs a direct
# single-pass reference (RFC 3986 §6.2.2)
# ---------------------------------------------------------------------------

def _escape_with_case(t):
    b, up1, up2 = t
    h = "%02x" % b
    return "%" + (h[0].upper() if up1 else h[0]) + (h[1].upper() if up2 else h[1])


_URL_SEGMENT = st.one_of(
    # a valid escape in a random hex case
    st.tuples(
        st.integers(min_value=0, max_value=255),
        st.booleans(),
        st.booleans(),
    ).map(_escape_with_case),
    # literal characters INCLUDING bare '%' (r15, closing the r14
    # ADVICE: the fuzz previously covered only the valid grammar, so
    # the bare-% fabrication divergence was never exercised; the
    # protection pass now canonicalizes a bare '%' to %25 and the
    # chain must be idempotent on these too)
    st.text(
        alphabet="abzAZ09-._~/?#&=:@ %", min_size=0, max_size=6
    ),
)

percent_urls_strategy = st.lists(
    st.lists(_URL_SEGMENT, min_size=0, max_size=8).map("".join),
    min_size=1,
    max_size=24,
)


def _ref_percent_normalize(s: str) -> str:
    """Independent single-pass reference: protect every malformed bare
    '%' as %25 (r15 — RFC 3986's grammar forbids a bare '%', and
    encoding it is the one canonical spelling that closes the chain),
    then one regex scan decoding the unreserved set and uppercasing
    the hex of every other valid escape — never rescans its own
    output, exactly the RFC's normal form."""
    import re
    import string as _string

    unreserved = set(_string.ascii_letters + _string.digits + "-._~")

    def repl(m):
        ch = chr(int(m.group(1), 16))
        return ch if ch in unreserved else "%" + m.group(1).upper()

    s = re.sub(r"%(?![0-9A-Fa-f]{2})", "%25", s)
    return re.sub(r"%([0-9A-Fa-f]{2})", repl, s)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(urls=percent_urls_strategy)
def test_percent_normalize_matches_single_pass_reference(spark, urls):
    """The 1+12+66-pass codegen replace chain must equal the one-pass
    reference on EVERY input, including malformed bare-'%' strings
    (r15): after the protection pass every '%' owns a valid escape,
    the remaining passes touch disjoint escape patterns, and
    replacements can no longer fabricate new escapes (fabrication
    needed a bare '%' to steal decoded output), so chain order is
    unobservable — this property is what makes the chain a legitimate
    implementation of the single-scan semantics.  Idempotence
    (chain∘chain == chain) is asserted on the same inputs: the r14
    ADVICE divergence was exactly a fuzz that stopped at the valid
    grammar."""
    from tamar_spark.functions.text import percent_normalize

    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "id int, u string"
    )
    got = {
        r.id: (r.n, r.n2)
        for r in df.select(
            "id", percent_normalize(F.col("u")).alias("n")
        )
        .withColumn("n2", percent_normalize(F.col("n")))
        .collect()
    }
    for i, u in enumerate(urls):
        ref = _ref_percent_normalize(u)
        assert got[i][0] == ref, (u, got[i][0], ref)
        assert got[i][1] == got[i][0], ("not idempotent", u, got[i])


# ---------------------------------------------------------------------------
# BPE induction: the distributed kernel vs direct reference BPE
# ---------------------------------------------------------------------------

bpe_words_strategy = st.lists(
    st.tuples(
        st.text(alphabet="abc", min_size=1, max_size=6),
        st.integers(min_value=1, max_value=5),
    ),
    min_size=1,
    max_size=12,
)


def _py_bpe(word_freqs, steps):
    """Direct reference BPE (Sennrich et al.): overlapping pair counts,
    (count DESC, pair ASC) tie-break, non-overlapping left-to-right merge."""
    from collections import Counter

    reprs = {w: list(w) + ["_"] for w in word_freqs}
    merges = []
    for s in range(1, steps + 1):
        cnt = Counter()
        for w, f in word_freqs.items():
            t = reprs[w]
            for i in range(len(t) - 1):
                cnt[(t[i], t[i + 1])] += f
        if not cnt:
            break
        (a, b), c = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((s, a, b, a + b, c))
        for w, t in reprs.items():
            out, i = [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            reprs[w] = out
    return merges


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pairs=bpe_words_strategy)
def test_bpe_learn_matches_reference_model(spark, pairs):
    """Both kernel tiers (r8 VERDICT task 2) must replay the reference
    model exactly: the driver-local merge loop (vocab under the measured
    cap — the default path here) and the distributed step loop (forced
    with local_below=0), so the tier split can never make the two
    regimes drift."""
    from tamar_spark.queries_pipeline import bpe_learn

    word_freqs = {}
    for w, f in pairs:
        word_freqs[w] = word_freqs.get(w, 0) + f
    df = spark.createDataFrame(
        list(word_freqs.items()), "word string, freq long"
    )
    expected = _py_bpe(word_freqs, 3)
    for local_below in (200_000, 0):
        got = [
            (r.step, r.pair_left, r.pair_right, r.merged, r.cnt)
            for r in bpe_learn(df, steps=3, local_below=local_below).collect()
        ]
        assert got == expected, f"local_below={local_below}"


def test_bpe_apply_merges_rejects_truncated_merge_table(spark):
    """A merge table shorter than ``steps`` must raise, not under-apply."""
    import pytest

    from tamar_spark.queries_pipeline import bpe_apply_merges

    merges = spark.createDataFrame(
        [(1, "a", "b", "ab", 3), (2, "ab", "c", "abc", 2)],
        "step INT, pair_left STRING, pair_right STRING, merged STRING, cnt BIGINT",
    )
    df = spark.createDataFrame([(1, "<a><b><c><_>")], "doc_id long, r string")
    assert bpe_apply_merges(df, merges, 2).first()["r"] == "<abc><_>"
    with pytest.raises(ValueError, match="steps=3, only 2 rules"):
        bpe_apply_merges(df, merges, 3)


token_list_strategy = st.lists(
    st.sampled_from(["a", "bb", "ccc", "a", "dd", "e"]),
    min_size=0,
    max_size=25,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(toks=token_list_strategy)
def test_top_token_count_matches_counter_model(spark, toks):
    """The sorted-run fold (functions.text.top_token_count) must equal the
    direct Counter max for arbitrary token multisets, including the
    empty-text convention (trim + split yields one empty token)."""
    import re
    from collections import Counter

    from pyspark.sql import functions as F

    from tamar_spark.functions.text import top_token_count

    text = " ".join(toks)
    model = max(Counter(re.split(r"\s+", text.strip())).values())
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(top_token_count(F.col("text")).alias("c")).first().c
    assert got == model


# ---------------------------------------------------------------------------
# Triangle counting: degree-oriented kernel vs direct enumeration
# ---------------------------------------------------------------------------

tri_edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=9),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw=tri_edges_strategy)
def test_triangles_match_direct_enumeration(spark, raw):
    from itertools import combinations

    from tamar_spark.operators.graph import triangles_per_node

    edges = sorted({(min(u, v), max(u, v)) for u, v in raw})
    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        (r.node, r.n_triangles) for r in triangles_per_node(df).collect()
    }

    eset = set(edges)
    nodes = sorted({n for e in edges for n in e})
    want = {}
    for x, y, z in combinations(nodes, 3):
        if ((x, y) in eset) and ((x, z) in eset) and ((y, z) in eset):
            for n in (x, y, z):
                want[n] = want.get(n, 0) + 1
    assert got == set(want.items())


cep4_events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # user id
        st.integers(min_value=0, max_value=30),     # minute offset (ties likely)
        st.sampled_from(["signup", "view", "click", "purchase", "error"]),
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=cep4_events_strategy)
def test_funnel_matches_nstep_model(spark, events):
    """The n-step generalization of the lag-chain CEP kernel (r6 VERDICT
    task 3) at pattern length 4 must equal a direct per-user scan over
    the (ts, event_id)-sorted filtered stream — same model as the 3-step
    property test, one more step in the chain, tied timestamps included."""
    from tamar_spark.queries_layout import funnel_matches

    pattern = ("signup", "view", "click", "purchase")
    within = 10 * 60 * 1_000_000  # 10 minutes in µs
    got = {
        (r.user_id, r.step1_id, r.step2_id, r.step3_id, r.step4_id, r.elapsed_sec)
        for r in funnel_matches(
            _cep_frame(spark, events),
            within_us=within,
            pattern=pattern,
            id_names=("step1_id", "step2_id", "step3_id", "step4_id"),
        ).collect()
    }

    by_user = {}
    for i, (u, m, t) in enumerate(events):
        if t in pattern:
            by_user.setdefault(u, []).append((m * 60_000_000, i, t))
    want = set()
    for u, rows in by_user.items():
        rows.sort()  # (ts, event_id) total order
        for j in range(3, len(rows)):
            window = rows[j - 3 : j + 1]
            if (
                tuple(r[2] for r in window) == pattern
                and window[3][0] - window[0][0] <= within
            ):
                want.add(
                    (
                        u,
                        window[0][1],
                        window[1][1],
                        window[2][1],
                        window[3][1],
                        (window[3][0] - window[0][0]) // 1_000_000,
                    )
                )
    assert got == want


def test_rendezvous_moves_only_into_the_new_shard(spark, sf_dir):
    """HRW's minimal-disruption guarantee, recomputed against a direct
    hashlib model: every document's shard at k=8 and k=9 must equal the
    Python argmax of md5('doc:shard'), and expansion must move documents
    ONLY into the new shard (anything else would mean the weight function
    depends on the shard set, which breaks consistency)."""
    import hashlib

    from pyspark.sql import functions as F

    from tamar_spark.queries_pipeline import _rendezvous_assign
    from tamar_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    a8 = {r.doc_id: r.shard for r in _rendezvous_assign(docs, 8).collect()}
    a9 = {r.doc_id: r.shard for r in _rendezvous_assign(docs, 9).collect()}

    def model(doc_id, k):
        return max(
            range(k),
            key=lambda s: (hashlib.md5(f"{doc_id}:{s}".encode()).hexdigest(), s),
        )

    assert a8 and set(a8) == set(a9)
    for d in a8:
        assert a8[d] == model(d, 8)
        assert a9[d] == model(d, 9)
        if a8[d] != a9[d]:
            assert a9[d] == 8, (d, a8[d], a9[d])
    moved = sum(1 for d in a8 if a8[d] != a9[d])
    assert moved > 0  # the fixture must exercise the rebalance


def test_quantile_normalize_calibrates_each_language(spark, sf_dir):
    """Per-language percentiles must make the 0.5 cut fair by
    construction: every language keeps floor(n/2) of its documents
    (percent_rank >= 0.5 over a total order), whereas the raw global cut
    keeps language-dependent fractions — and the flipped column must
    capture exactly the disagreement."""
    from tamar_spark.queries import QUERIES

    rows = QUERIES["quantile_normalize"](spark, sf_dir).collect()
    assert rows
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
        assert r.flipped == (r.keep_lang != r.keep_global)
    any_flipped = any(r.flipped for r in rows)
    for lang, rs in by_lang.items():
        n = len(rs)
        kept = sum(1 for r in rs if r.keep_lang)
        # percent_rank >= 0.5 keeps the top ceil((n-1)/2)+... exactly:
        # ranks r with (r-1)/(n-1) >= 0.5, i.e. r >= (n+1)/2
        expect = n - (-(-(n + 1) // 2)) + 1 if n > 1 else 1
        assert kept == expect, (lang, n, kept, expect)
    assert any_flipped  # raw-vs-calibrated must actually disagree somewhere


# ---------------------------------------------------------------------------
# PCA power-iteration kernel vs a direct numpy model
# ---------------------------------------------------------------------------

vec_table_strategy = st.lists(
    st.lists(
        st.integers(min_value=-50, max_value=50), min_size=4, max_size=4
    ),
    min_size=3,
    max_size=12,
)


def _np_power_component(rows, iters=2):
    """Direct numpy replay of the kernel's exact arithmetic contract:
    6 dp-rounded means, per-term 9 dp rounding before (exact) summation,
    9 dp-rounded normalized components each iteration."""
    import numpy as np

    X = np.array(rows, dtype=float)
    m = np.round(np.round(X, 6).sum(axis=0) / len(rows), 6)
    Xc = X - m
    v = np.zeros(X.shape[1])
    v[0] = 1.0
    lam = 0.0
    for _ in range(iters):
        d = Xc @ v  # per-row fold; exact in float for these integer inputs
        w = np.round(d[:, None] * Xc, 9).sum(axis=0)
        lam = float(np.sqrt(np.round(w * w, 9).sum()))
        v = np.round(w / lam, 9) if lam > 0 else np.zeros_like(w)
    return m, v, lam


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vec_table_strategy)
def test_pca_power_matches_numpy_model(spark, rows):
    """The distributed Σ(x·v)x kernel must agree with a direct numpy
    power iteration that replays the same rounding contract — on random
    small integer matrices the decimal accumulators are exact, so
    agreement is to the last printed digit (we assert 1e-9).  Also pins
    the ABTT identity: corrected vectors are orthogonal to the component
    (|x'·v| ≤ d·1e-9 — the rounding slack of the 9 dp component)."""
    import numpy as np

    from tamar_spark.queries_ml import _pca_center_component

    emb = spark.createDataFrame(
        [(i, [float(x) for x in r]) for i, r in enumerate(rows)],
        "vec_id long, embedding array<double>",
    )
    x, v_df = _pca_center_component(spark, emb, dim=4, iters=2)
    got = v_df.collect()[0]
    m_np, v_np, lam_np = _np_power_component(rows)
    assert abs(got["lam"] - lam_np) <= 1e-9 * max(1.0, lam_np)
    assert np.allclose(got["pv"], v_np, atol=1e-9)

    d = F.aggregate(
        F.zip_with("xv", "pv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    corrected = (
        x.crossJoin(F.broadcast(v_df))
        .withColumn("_d", d)
        .select(
            F.zip_with("xv", "pv", lambda a, b: a - F.col("_d") * b).alias("cv"),
            "pv",
        )
        .select(
            F.abs(
                F.aggregate(
                    F.zip_with("cv", "pv", lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                )
            ).alias("resid")
        )
    )
    max_resid = corrected.agg(F.max("resid")).collect()[0][0]
    scale = max(abs(x) for r in rows for x in r) or 1
    assert max_resid <= 4 * scale * 1e-8


# ---------------------------------------------------------------------------
# PII redaction regexes vs Python's re on adversarial soup
# ---------------------------------------------------------------------------

pii_soup_strategy = st.lists(
    st.sampled_from(
        [
            "plain", "words", "a.b", "x@y", "user7@example.com",
            "admin@corp.example.org", "555-123-4567", "555-12-345",
            "10.1.2.3", "999.999.999.999", "1.2.3", "10.0.0.256",
            "@nouser", "trailing@", "a@b.co", "5551234567",
            "eat 10.20.30.40 now", "Mixed@Case.COM",
        ]
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pii_soup_strategy)
def test_pii_regexes_match_python_re(spark, parts):
    """The three PII patterns restrict themselves to the Java∩RE2∩Python
    common regex subset; this pins it — counts and the fully masked
    string from Spark's JVM regexp engine must equal Python re on
    adversarial soup (near-miss IPs, bare @, uppercase, boundary
    abutments)."""
    import re

    from tamar_spark.queries_pipeline import _PII_EMAIL, _PII_IP, _PII_PHONE

    s = " ".join(parts)
    df = spark.createDataFrame([(s,)], "s string")
    r1 = F.regexp_replace("s", _PII_EMAIL, "[EMAIL]")
    got = df.select(
        F.regexp_count("s", F.lit(_PII_EMAIL)).alias("ne"),
        F.regexp_count("s", F.lit(_PII_PHONE)).alias("np"),
        F.regexp_count(r1, F.lit(_PII_IP)).alias("ni"),
        F.regexp_replace(
            F.regexp_replace(r1, _PII_PHONE, "[PHONE]"), _PII_IP, "[IP]"
        ).alias("masked"),
    ).collect()[0]
    e1 = re.sub(_PII_EMAIL, "[EMAIL]", s)
    assert got["ne"] == len(re.findall(_PII_EMAIL, s))
    assert got["np"] == len(re.findall(_PII_PHONE, s))
    assert got["ni"] == len(re.findall(_PII_IP, e1))
    assert got["masked"] == re.sub(
        _PII_IP, "[IP]", re.sub(_PII_PHONE, "[PHONE]", e1)
    )


# ---------------------------------------------------------------------------
# Time-decay attribution: banded-bucket join vs direct model
# ---------------------------------------------------------------------------

decay_events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),    # user
        st.integers(min_value=0, max_value=120),  # hour offset (5 days)
        st.integers(min_value=0, max_value=4),    # type idx (0 = purchase)
        st.integers(min_value=1, max_value=99),   # whole-unit value
    ),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=decay_events_strategy)
def test_attribution_time_decay_matches_model(spark, events, tmp_path_factory):
    """The banded (user, day-bucket) equi-join must find EXACTLY the pairs
    of the plain range predicate — the ≤4-bucket explode is the part a
    fixture can't stress (hour-granular offsets here straddle the strict
    3-day boundary and bucket edges), and the power-of-two credits make
    the comparison exact (whole-unit values ⇒ no 6dp decimal ties, see
    the query docstring)."""
    import datetime as dt
    from decimal import Decimal, ROUND_HALF_UP

    from tamar_spark.queries import QUERIES

    import pyarrow as pa
    import pyarrow.parquet as pq

    types = ["purchase", "view", "click", "signup", "error"]
    # write with pyarrow at µs precision: Spark's own writer emits INT96,
    # which pyarrow reads back as ns and would misroute load_table's
    # nanos-normalization branch
    table = pa.table(
        {
            "event_id": pa.array(range(len(events)), pa.int64()),
            "ts": pa.array(
                [BASE + dt.timedelta(hours=h) for _, h, _, _ in events],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for u, _, _, _ in events], pa.int64()),
            "event_type": pa.array([types[t] for _, _, t, _ in events]),
            "value": pa.array([float(v) for _, _, _, v in events], pa.float64()),
            "props": pa.array(["{}"] * len(events)),
        }
    )
    d = tmp_path_factory.mktemp("decay")
    pq.write_table(table, str(d / "events.parquet"))

    got = {
        r["channel"]: (
            r["n_touches"],
            r["n_conversions"],
            r["decayed_revenue"],
        )
        for r in QUERIES["attribution_time_decay"](spark, str(d)).collect()
    }

    DAY_US = 86_400_000_000
    us = {i: (BASE + dt.timedelta(hours=h)) for i, (u, h, t, v) in enumerate(events)}
    stamp = {i: int(ts.timestamp() * 1_000_000) for i, ts in us.items()}
    agg = {}
    for ci, (cu, ch_, ct, cv) in enumerate(events):
        if types[ct] != "purchase":
            continue
        for ti, (tu, th, tt, tv) in enumerate(events):
            if types[tt] == "purchase" or tu != cu:
                continue
            if not (stamp[ti] <= stamp[ci] and stamp[ti] > stamp[ci] - 3 * DAY_US):
                continue
            k = (stamp[ci] - stamp[ti]) // 21_600_000_000
            credit = Decimal(cv / float(1 << k)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
            ch = types[tt]
            n, convs, rev = agg.get(ch, (0, set(), Decimal(0)))
            convs = set(convs) | {ci}
            agg[ch] = (n + 1, convs, rev + credit)
    expect = {
        ch: (
            n,
            len(convs),
            float(rev.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)),
        )
        for ch, (n, convs, rev) in agg.items()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# WARC record framing: synthesis → parse round trip on arbitrary payloads
# ---------------------------------------------------------------------------

warc_payloads_strategy = st.lists(
    st.tuples(
        st.binary(max_size=120),
        st.sampled_from(["response", "request", "warcinfo"]),
        st.sampled_from([b"", b"\r\n", b"\r\n\r\n"]),
    ),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cases=warc_payloads_strategy)
def test_warc_parse_roundtrip_property(spark, cases):
    """For ANY payload bytes — including payloads that themselves
    contain ``\\r\\n\\r\\n`` (the adversarial case: Content-Length must
    govern payload extent, never a blank-line search through the
    body) — a well-formed record with a true Content-Length and any
    legal terminator parses back to exactly that payload with
    ``ok=true`` and the stated type; and an HTTP 200 wrapper around
    the same bytes splits back to the identical body."""
    from pyspark.sql import Row

    from tamar_spark.functions.text import http_response_split, warc_parse

    records = []
    for payload, wtype, term in cases:
        head = (
            "WARC/1.0\r\n"
            f"WARC-Type: {wtype}\r\n"
            "WARC-Target-URI: http://e.com/p\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode("latin-1")
        records.append(head + payload + term)
    http_msgs = [
        (
            f"HTTP/1.1 200 OK\r\nContent-Length: {len(p)}\r\n\r\n"
        ).encode("latin-1")
        + p
        for p, _, _ in cases
    ]
    df = spark.createDataFrame(
        [
            Row(id=i, rec=bytearray(r), msg=bytearray(m))
            for i, (r, m) in enumerate(zip(records, http_msgs))
        ]
    )
    w = warc_parse(F.col("rec"))
    h = http_response_split(F.col("msg"))
    got = {
        r.id: r
        for r in df.select(
            "id",
            w["warc_type"].alias("t"),
            w["content_length"].alias("cl"),
            w["payload"].alias("p"),
            w["ok"].alias("wok"),
            h["status"].alias("s"),
            h["body"].alias("b"),
            h["ok"].alias("hok"),
        ).collect()
    }
    for i, (payload, wtype, _) in enumerate(cases):
        r = got[i]
        assert (
            r.t,
            r.cl,
            bytes(r.p),
            r.wok,
            r.s,
            bytes(r.b),
            r.hok,
        ) == (wtype, len(payload), payload, True, 200, payload, True), (
            i,
            payload,
            r,
        )


# ---------------------------------------------------------------------------
# decode_charset: synthesis → decode round trip across hint mechanisms
# ---------------------------------------------------------------------------

_CHARSET_ALPHABETS = {
    # (codec, alphabet the codec can encode, hint mechanism)
    "utf-8": ("abc é“quote” 日本", "bom"),
    "utf-16-le": ("abc é“quote” 日本", "bom"),
    "cp1252": ("abc é“quote” ", "meta"),
    "shift_jis": ("abc 日本語 ", "meta"),
}

charset_cases_strategy = st.lists(
    st.tuples(
        st.sampled_from(sorted(_CHARSET_ALPHABETS)),
        st.integers(min_value=0, max_value=2**31),
    ),
    min_size=1,
    max_size=8,
).flatmap(
    lambda picks: st.tuples(
        st.just([p[0] for p in picks]),
        st.tuples(
            *[
                st.text(
                    alphabet=_CHARSET_ALPHABETS[enc][0],
                    min_size=0,
                    max_size=40,
                )
                for enc, _ in picks
            ]
        ),
    )
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cases=charset_cases_strategy)
def test_decode_charset_roundtrip_property(spark, cases):
    """For ANY text drawn from a codec's encodable alphabet, bytes
    synthesized with that codec under its hint mechanism (BOM for the
    UTF family, a <meta charset> prescan hint for the byte codecs)
    decode back to exactly that text with the canonical codec name
    reported and ZERO replacements — the lossless half of the
    decode_charset contract, fuzzed where the unit tests pin single
    shapes.  The meta tag itself survives in the decoded text (the
    kernel is a transcoder, not a stripper — tag removal is
    html_main_text's job downstream)."""
    from pyspark.sql import Row

    encs, texts = cases
    rows = []
    for i, (enc, text) in enumerate(zip(encs, texts)):
        if _CHARSET_ALPHABETS[enc][1] == "bom":
            if enc == "utf-8":
                b = b"\xef\xbb\xbf" + text.encode("utf-8")
                expected = text
            else:
                b = b"\xff\xfe" + text.encode("utf-16-le")
                expected = text
        else:
            prefix = f'<meta charset="{enc}">'
            b = (prefix + text).encode(enc)
            expected = prefix + text
        rows.append((i, b, enc, expected))
    df = spark.createDataFrame(
        [Row(id=i, b=bytearray(b)) for i, b, _, _ in rows]
    )
    from tamar_spark.functions.text import decode_charset

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
    for i, _, enc, expected in rows:
        assert got[i] == (expected, enc, 0), (i, enc, expected, got[i])
