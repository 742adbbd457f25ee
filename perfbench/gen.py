"""Seeded input generation for the benchmark.

Writes the tables the query registry reads — the TPC-H-ish star schema,
the ``events`` stream table, ``documents`` and ``embeddings`` — with the
column names and Arrow types of the repository's fixture tables
(FIXTURES.md), one snappy parquet file per table named ``<table>.parquet``.
The layout matters: the streaming queries select their input from the
directory by that file name.

Sizes and value distributions follow statistics measured on the fixture
parquet files at sf0.001, sf0.01 and sf0.1 (the constants below say which).
Every timestamp is written as ``timestamp[us]``, the parquet logical type
(``TIMESTAMP(MICROS)``) the fixture footers carry at all three scales, so
``load_table`` and ``_events_stream`` take the same read path as on the
fixtures.  One departure is deliberate: fixture events arrive uniformly at
random (per-user gaps are exponential with a median of 440 min, and 95% of
30-minute sessions hold one event), whereas FIXTURES.md asks for per-key
bursts separated by more and by less than the session gap.  Events here
arrive in such bursts, so session merging carries real load.

The same ``(seed, sf)`` always yields byte-identical tables.  Row order
and surrogate ids both come from the seed: every key column is a seeded
permutation of ``0..n-1``, and foreign keys are drawn from the permuted
parent ids, so joins stay consistent while no two seeds share a layout.
Each table group draws from its own seeded stream, so generating a subset
of the tables yields the same rows as generating all of them.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# events (fixture: 1,000,000 x sf rows, 15,000 x sf users, 30 days from
# 2024-01-01 in ts order with event_id = row number, five event types in
# equal shares, value exponential with mean 50 and quantiles 5.3 / 34.7 /
# 114 / 228 at 10 / 50 / 90 / 99%, props '{"k": 0..99}')
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_EVENT_DAYS = 30
_VALUE_MEAN = 50.0
# bursts: events per burst geometric with this mean; gaps inside a burst
# exponential with this mean, so about 5% of them exceed the 30-minute
# session gap and split the burst
_BURST_MEAN = 4.0
_BURST_GAP_MIN = 10.0

# documents (fixture: max(500, 50,000 x sf) rows, 10..100 tokens drawn
# from the 31 words below, 5% near duplicates ending in " dup", 20
# sources src<doc_id % 20>, language shares below)
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big filter "
    "group stream vector"
).split()
_TOKENS = (10, 100)
_DUP_SHARE = 0.05
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]

# embeddings (fixture: max(500, 20,000 x sf) rows of 64 float32 values,
# unit norm, isotropic, with no cluster structure; labels 0..9 uniform)
_DIM = 64

_US = np.int64(1_000_000)
_GROUPS = {
    "star": ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"),
    "events": ("events",),
    "documents": ("documents",),
    "embeddings": ("embeddings",),
}


def _epoch_us(year: int, month: int, day: int) -> int:
    return (dt.date(year, month, day) - dt.date(1970, 1, 1)).days * 86400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _days(rng, n: int, lo: tuple, hi: tuple) -> np.ndarray:
    a, b = _epoch_us(*lo) // (86400 * _US), _epoch_us(*hi) // (86400 * _US)
    return rng.integers(a, b + 1, n).astype("int64") * 86400 * _US


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(rng, n: int) -> np.ndarray:
    """Surrogate ids ``0..n-1`` in a seeded order (the table's row order)."""
    return rng.permutation(n).astype("int64")


def _star(rng, sf: float) -> dict:
    n_cust = max(10, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(20, round(200_000 * sf))
    n_ord = max(100, round(1_500_000 * sf))
    n_line = 4 * n_ord

    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    ck = _keys(rng, n_cust)
    t["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )

    sk = _keys(rng, n_supp)
    t["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )

    pk = _keys(rng, n_part)
    names = np.char.add(
        np.char.add(rng.choice(_PART_ADJ, n_part), " "), rng.choice(_PART_NOUN, n_part)
    )
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": names,
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
        }
    )

    ok = _keys(rng, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.choice(ck, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _ts(_days(rng, n_ord, (1995, 1, 1), (2001, 8, 1))),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )

    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.choice(ok, n_line),
            "l_partkey": rng.choice(pk, n_line),
            "l_suppkey": rng.choice(sk, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts(_days(rng, n_line, (1995, 1, 2), (2001, 11, 4))),
        }
    )
    return t


def _events(rng, sf: float) -> dict:
    """Per-user bursts at uniformly random start times; within a burst the
    gaps are short, so most bursts form one session and some split."""
    n_ev = max(100, round(1_000_000 * sf))
    n_users = max(5, round(15_000 * sf))
    sizes = rng.geometric(1.0 / _BURST_MEAN, n_ev)
    n_bursts = int(np.searchsorted(np.cumsum(sizes), n_ev)) + 1
    sizes = sizes[:n_bursts]
    sizes[-1] -= sizes.sum() - n_ev
    first = np.concatenate(([0], np.cumsum(sizes)[:-1]))

    t0 = _epoch_us(2024, 1, 1)
    starts = rng.integers(t0, t0 + _EVENT_DAYS * 86400 * _US, n_bursts)
    gaps = rng.exponential(_BURST_GAP_MIN * 60 * 1e6, n_ev).astype("int64") + 1
    gaps[first] = 0
    walk = np.cumsum(gaps)
    ts = np.repeat(starts, sizes) + walk - np.repeat(walk[first], sizes)
    user = np.repeat(rng.choice(_keys(rng, n_users), n_bursts), sizes)

    order = np.argsort(ts, kind="stable")
    return {
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype="int64"),
                "ts": _ts(ts[order]),
                "user_id": user[order],
                "event_type": rng.choice(_EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(_VALUE_MEAN, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        )
    }


def _documents(rng, sf: float) -> dict:
    """Prose over the fixture vocabulary; a share are near duplicates (an
    earlier document plus a trailing " dup" token)."""
    n_docs = max(500, round(50_000 * sf))
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < _DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(_TOKENS[0], _TOKENS[1] + 1))
            texts.append(" ".join(rng.choice(_WORDS, n)))
    order = rng.permutation(n_docs)
    texts = [texts[j] for j in order]
    doc_ids = np.arange(n_docs, dtype="int64")
    return {
        "documents": pa.table(
            {
                "doc_id": doc_ids,
                "text": texts,
                "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
                "source": [f"src{i % 20}" for i in doc_ids],
                "n_chars": np.array([len(s) for s in texts], dtype="int64"),
            }
        )
    }


def _embeddings(rng, sf: float) -> dict:
    n_vecs = max(500, round(20_000 * sf))
    vecs = rng.standard_normal((n_vecs, _DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return {
        "embeddings": pa.table(
            {
                "vec_id": np.arange(n_vecs, dtype="int64"),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": rng.integers(0, 10, n_vecs).astype("int32"),
            }
        )
    }


_BUILDERS = {"star": _star, "events": _events, "documents": _documents, "embeddings": _embeddings}


def generate(out_dir: str, seed: int, sf: float, tables=None) -> dict:
    """Write ``tables`` (default: every table) for ``(seed, sf)`` under
    ``out_dir``; return their row counts."""
    wanted = set(tables) if tables is not None else {t for g in _GROUPS.values() for t in g}
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, (group, names) in enumerate(_GROUPS.items()):
        if not wanted.intersection(names):
            continue
        built = _BUILDERS[group](np.random.default_rng([seed, i]), sf)
        for name in wanted.intersection(names):
            table = built[name]
            pq.write_table(
                table,
                os.path.join(out_dir, f"{name}.parquet"),
                compression="snappy",
                row_group_size=max(1, table.num_rows),
            )
            rows[name] = table.num_rows
    return rows
