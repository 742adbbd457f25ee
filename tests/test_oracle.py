"""Driver-shaped correctness gate: every query in the inventory vs DuckDB.

Mirrors the harness contract: run the Spark query and the oracle SQL on the
same parquet tables, sort columns by name, and compare values
order-insensitively.  Queries without an oracle get a rows-only sanity check.
"""

import numpy as np
import pandas as pd
import pytest

from tamar_spark.queries import ORACLES, QUERIES


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("Int64")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
    pdf = pdf.sort_values(by=list(pdf.columns), na_position="first").reset_index(
        drop=True
    )
    return pdf


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    sdf = QUERIES[name](spark, sf_dir)
    spdf = sdf.toPandas()
    if name not in ORACLES:
        assert len(spdf) >= 0  # rows-only check (approximate operator)
        return
    opdf = duck.execute(ORACLES[name]).df()
    assert sorted(spdf.columns) == sorted(opdf.columns), (
        f"{name}: column mismatch {sorted(spdf.columns)} vs {sorted(opdf.columns)}"
    )
    assert len(spdf) == len(opdf), f"{name}: row count {len(spdf)} vs {len(opdf)}"
    s_n, o_n = _normalize(spdf), _normalize(opdf)
    pd.testing.assert_frame_equal(s_n, o_n, check_dtype=False, check_exact=True)


def test_floor_probe_shape_and_cleanup(spark):
    """Pins the r10-VERDICT task-5 artifact contract: ``bench.floor_probe``
    returns the three fixed-cost machinery medians (positive seconds,
    stable keys — BASELINE.md's floor reading rule keys on these names)
    and leaves nothing behind: no temp dir, no registered streaming
    query, no persisted RDDs."""
    import glob
    import tempfile

    import bench

    before_tmp = set(glob.glob(tempfile.gettempdir() + "/tamar_floor_*"))
    floor = bench.floor_probe(spark, runs=1)
    assert set(floor) == {"range_job", "empty_microbatch", "stateful_1key_noop"}
    assert all(isinstance(v, float) and v > 0 for v in floor.values())
    assert set(glob.glob(tempfile.gettempdir() + "/tamar_floor_*")) == before_tmp
    assert not spark.streams.active


def test_registry_invariants():
    """The three registries the driver and bench read must agree: every
    bench headline name resolves to a registered query, every oracle
    belongs to a query, the changed-list entries exist, and the rotation
    covers the full inventory with no duplicates (a typo here silently
    drops a query from the correctness rotation — exactly the staleness
    failure the r4 verdict flagged)."""
    import bench
    import __spark_entry__ as entry

    assert set(ORACLES) <= set(QUERIES)
    missing_bench = [q for q in bench.HEADLINE if q not in QUERIES]
    assert not missing_bench, f"bench names not registered: {missing_bench}"
    missing_chg = [q for q in entry._CHANGED_IN_ROUND if q not in QUERIES]
    assert not missing_chg, f"changed-list names not registered: {missing_chg}"
    ordered = entry.queries()
    assert set(ordered) == set(QUERIES)
    assert len(ordered) == len(QUERIES)


def test_rotation_is_stalest_first():
    """Pins the r5-VERDICT rotation invariant: the driver checks the FIRST
    50 registered queries each round, so registration order must be
    stalest-first — computed from the CORRECTNESS_r*.json ledger, never a
    hand-maintained list.  Recomputes the expected priority independently
    of __spark_entry__._ordered and asserts (a) priorities are
    non-decreasing along the registration order and (b) the head-50 is
    exactly the 50 lowest-priority names (new/changed queries first, then
    oldest driver rows)."""
    import glob
    import json
    import os
    import re

    import __spark_entry__ as entry

    here = os.path.dirname(os.path.abspath(entry.__file__))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        for q, row in json.load(open(path)).items():
            # green rows only (r6 ADVICE): an errored or mismatched row
            # must NOT count as verification — the query stays at the head
            if row.get("err") is not None or any(
                row.get(k) is False
                for k in ("rows_match", "hash_match", "schema_match")
            ):
                continue
            last[q] = max(last.get(q, 0), rnd)

    names = list(entry.queries())
    # a changed-in-round entry is live only until a green row from that
    # round or later attests the new semantics (r6 ADVICE: self-clearing)
    prios = [
        0
        if last.get(n, 0) < entry._CHANGED_IN_ROUND.get(n, 0)
        else last.get(n, 0)
        for n in names
    ]
    assert prios == sorted(prios), "rotation is not stalest-first"

    head, cap = set(names[:50]), min(50, len(names))
    cutoff = sorted(prios)[cap - 1]
    # every query strictly staler than the cutoff must be inside the head
    must_have = {n for n, p in zip(names, prios) if p < cutoff}
    assert must_have <= head, f"stale rows missing from head-50: {must_have - head}"
    # never-verified (new) and live-changed queries always make the head
    fresh_now = {
        n
        for n in names
        if last.get(n, 0) < entry._CHANGED_IN_ROUND.get(n, 0) or n not in last
    }
    assert fresh_now <= head or len(names) < 50


def test_changed_in_round_has_no_duplicate_keys():
    """Pins the r10-VERDICT task-4 guard: ``_CHANGED_IN_ROUND`` is a dict
    literal, and Python silently keeps the LAST duplicate key — so a
    stale lower-round duplicate added later would shadow a newer entry
    and un-pin a head query without any visible failure.  Parse the
    source and reject duplicates at the AST level (runtime inspection
    cannot see them — the dict has already collapsed)."""
    import ast
    import collections
    import inspect

    import __spark_entry__ as entry

    tree = ast.parse(inspect.getsource(entry))
    lits = [
        node.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign)
        and any(
            isinstance(t, ast.Name) and t.id == "_CHANGED_IN_ROUND"
            for t in node.targets
        )
    ]
    assert len(lits) == 1 and isinstance(lits[0], ast.Dict)
    keys = [
        k.value for k in lits[0].keys if isinstance(k, ast.Constant)
    ]
    assert len(keys) == len(lits[0].keys), "non-literal key in _CHANGED_IN_ROUND"
    dupes = [k for k, n in collections.Counter(keys).items() if n > 1]
    assert not dupes, f"duplicate _CHANGED_IN_ROUND keys: {dupes}"


def test_contention_report_separates_uniform_from_concentrated():
    """Pins the r6-VERDICT task-7 semantics: the bench artifact must
    distinguish shared-box contention (uniform inflation across the
    anchor, including untouched queries) from a real regression
    (concentrated in a few queries) mechanically.  Three synthetic runs:
    quiet, 1.35x-uniform (the r6 driver signature), and one 3x outlier on
    an otherwise-quiet machine."""
    import bench

    quiet = {q: med for q, (med, _) in bench.CANONICAL_ANCHOR.items()}
    r = bench.contention_report(quiet)
    assert r["verdict"] == "quiet" and not r["regressions_adjusted"]

    uniform = {q: round(med * 1.35, 3) for q, (med, _) in bench.CANONICAL_ANCHOR.items()}
    r = bench.contention_report(uniform)
    assert r["verdict"] == "uniform-contention"
    assert r["uniform"] and abs(r["index"] - 1.35) < 0.02
    # the raw rule fires on many queries, the adjusted rule on none —
    # exactly the "prose was needed" case the index now decides
    assert r["regressions_raw"] and not r["regressions_adjusted"]

    spiked = dict(quiet)
    spiked["dedup_minhash_lsh"] = quiet["dedup_minhash_lsh"] * 3
    r = bench.contention_report(spiked)
    assert r["verdict"] == "concentrated-regression"
    assert r["regressions_adjusted"] == ["dedup_minhash_lsh"]


@pytest.mark.parametrize("shared, want_edge", [(9_999, False), (10_000, True)])
@pytest.mark.parametrize("name", ["dedup_clusters", "dedup_keep_best"])
def test_cluster_oracles_keep_edges_on_unrounded_jaccard(spark, tmp_path, name, shared, want_edge):
    """Two documents with 15,000 and 5,000 + ``shared`` word 3-gram
    shingles, ``shared`` of them in common: J = shared / 20,000.  At
    J = 0.49995 (0.5 once rounded to 4 places) neither Spark nor the
    DuckDB oracle may draw an edge; at J = 0.5 both must."""
    import duckdb

    a = [f"a{i}" for i in range(15_002)]
    b = a[: shared + 2] + [f"b{i}" for i in range(5_000)]
    texts = [" ".join(a), " ".join(b)]
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": texts,
            "lang": ["en", "en"],
            "source": ["web", "web"],
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    spdf = QUERIES[name](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    opdf = con.execute(ORACLES[name]).df()
    con.close()
    assert len(opdf) == len(spdf) == (2 if name == "dedup_clusters" else 1) * want_edge
    if want_edge:
        pd.testing.assert_frame_equal(
            _normalize(spdf), _normalize(opdf), check_dtype=False, check_exact=True
        )
