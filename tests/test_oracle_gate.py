"""The full-oracle correctness gate (VERDICT r7 #1; hardened r9).

The driver's CORRECTNESS_r*.json only covers the first 50 registered
queries; the rest are verified by the full DuckDB sweeps ($TESTDATA is
the fixture root that TESTDATA.md names; ARTIFACTS below pins each
sweep's SF dir)

  python tools/check_oracle.py --json ORACLE_SWEEP.json $TESTDATA/sf0.001
  python tools/check_oracle.py --json ORACLE_SWEEP_SF0.01.json $TESTDATA/sf0.01
  python tools/check_oracle.py --json ORACLE_SWEEP_SF0.1.json $TESTDATA/sf0.1

whose committed artifacts this test pins against the LIVE tree:

  * each artifact must exist, parse, contain zero failures, and come
    from its declared SF dir (VERDICT r8 #3: the sf0.01 sweep is now a
    machine-checked artifact, not a commit-message claim);
  * its query-name set must EXACTLY equal the registry's — registering,
    removing, or renaming a query without re-running the sweep fails
    here;
  * its ok/rows-only split must match the registry's oracle set — adding
    or dropping an oracle_sql() entry without re-sweeping fails here;
  * its recorded engine-source sha256 must match the current tree
    (VERDICT r8 #5) — so EDITING any engine source without re-running
    all three sweeps fails here too. The hash function is imported from
    tools/check_oracle.py, so gate and sweep can't diverge on scope.
"""

from __future__ import annotations

import json
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
ARTIFACTS = {
    REPO / "ORACLE_SWEEP.json": "/root/testdata/sf0.001",
    REPO / "ORACLE_SWEEP_SF0.01.json": "/root/testdata/sf0.01",
    # Round 11 (VERDICT r10 #9): the bench-fixture-scale sweep joined
    # the permanent gate — it measured 8 min, cheap insurance against
    # fixture-scale-dependent oracle divergence (the 2^53
    # double-rounding class) at the SF the bench actually runs.
    REPO / "ORACLE_SWEEP_SF0.1.json": "/root/testdata/sf0.1",
}


def _check_artifact(path, want_sf_dir, registry, want_sha):
    assert path.exists(), (
        f"{path.name} missing — run `python tools/check_oracle.py "
        f"--json {path.name} {want_sf_dir}` and commit the result"
    )
    data = json.loads(path.read_text())
    assert data["n_failed"] == 0, {
        n: r for n, r in data["queries"].items() if r["status"] == "fail"
    }
    assert data["sf_dir"].rstrip("/") == want_sf_dir, (
        f"{path.name} was generated at {data['sf_dir']}, expected "
        f"{want_sf_dir}"
    )
    assert data.get("source_sha") == want_sha, (
        f"{path.name} was swept against different engine sources — "
        "re-run both full sweeps and commit the artifacts"
    )
    # Round 12 (VERDICT r11 #6): the sweep also runs the structural
    # nested-column ordering rule (plans.unsorted_collector_violations
    # over every query's analyzed plan) — the artifact must prove the
    # check executed, not merely that no failure happened to land.
    assert data.get("nested_order_checked") is True, (
        f"{path.name} predates the nested-order rule — re-run the sweep"
    )

    swept = set(data["queries"])
    live = set(registry.QUERIES)
    assert swept == live, (
        f"registry changed since last sweep of {path.name}: "
        f"new={sorted(live - swept)} removed={sorted(swept - live)} — "
        "re-run the full oracle sweep"
    )

    swept_ok = {n for n, r in data["queries"].items() if r["status"] == "ok"}
    live_oracled = set(registry.ORACLES)
    assert swept_ok == live_oracled, (
        f"oracle set changed since last sweep of {path.name}: "
        f"new={sorted(live_oracled - swept_ok)} "
        f"dropped={sorted(swept_ok - live_oracled)} — re-run the sweep"
    )

    rows_only = {
        n for n, r in data["queries"].items() if r["status"] == "rows_only"
    }
    assert rows_only == live - live_oracled


def test_oracle_sweep_artifacts_match_registry_and_sources(registry):
    sys.path.insert(0, str(REPO / "tools"))
    from check_oracle import engine_source_sha

    want_sha = engine_source_sha()
    for path, sf_dir in ARTIFACTS.items():
        _check_artifact(path, sf_dir, registry, want_sha)


def test_live_oracle_smoke(spark, registry):
    """Per-commit live slice of the full sweep: ten representative
    queries — one per operator family, biased toward the paths that
    change most — re-verified against their DuckDB oracles at sf0.001
    on every suite run. The committed-artifact test above catches
    registry drift; this one catches behavior regressions in EXISTING
    queries between full sweeps (the r7 verdict's residual caveat).
    Reuses tools/check_oracle's exact compare."""
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    from check_oracle import compare, duck_con

    SMOKE = [
        "tpch_q9_profit",       # derived-partsupp TPC-H
        "corpus_curate",        # the full curation DAG
        "customer_rfm",         # two-phase global rank x3
        "heavy_hitters",        # two-pass Misra-Gries
        "bm25_search",          # retrieval scoring
        "pagerank_copurchase",  # bit-exact iterative graph
        "lm_score",             # pruned bigram LM (r8)
        "coverage_time",        # densified sweep line (r8)
        "dedup_near",           # MinHash-LSH
        "ohlc_hourly",          # struct-keyed edge aggregation (r8)
    ]
    con = duck_con("/root/testdata/sf0.001")
    failures = []
    for name in SMOKE:
        sdf = registry.QUERIES[name](spark, "/root/testdata/sf0.001").toPandas()
        registry.clear_caches()
        odf = con.execute(registry.ORACLES[name]).fetchdf()
        problems = compare(name, sdf, odf)
        if problems:
            failures.append(f"{name}: " + "; ".join(problems))
    assert not failures, failures


def test_compare_is_dtype_faithful():
    """Pin the type-faithful compare (VERDICT r10 #2). Round 10's
    driver failures (pagerank_copurchase, bpe_merges, knn_pq_adc) were
    DuckDB sum(BIGINT)->HUGEINT->float64 rendering vs Spark bigint —
    equal VALUES, different dtype kind — and the old compare coerced
    both sides to float whenever EITHER was float, so both committed
    sweeps were falsely green. The driver's value hash is
    type-sensitive, so the local gate must be too. This test fails if
    anyone reintroduces the one-sided coercion. (A separate LIMIT-0
    schema scan would be strictly weaker than the sweeps themselves:
    since compare() now enforces kind parity on every column of every
    swept query, the committed two-SF sweeps ARE the registry-wide
    dtype-parity gate.)"""
    import pandas as pd

    sys.path.insert(0, str(REPO / "tools"))
    from check_oracle import compare

    ints = pd.DataFrame({"k": [1, 2], "v": pd.array([10, 20], dtype="int64")})
    floats = pd.DataFrame({"k": [1, 2], "v": [10.0, 20.0]})

    # int-kind vs float-kind: equal values must still FAIL, loudly.
    problems = compare("dtype_case", ints, floats)
    assert problems and "DTYPE-mismatch" in problems[0], problems
    problems = compare("dtype_case_rev", floats, ints)
    assert problems and "DTYPE-mismatch" in problems[0], problems

    # both-float and both-int equal frames still pass.
    assert compare("ff", floats, floats.copy()) == []
    assert compare("ii", ints, ints.copy()) == []
    # int32 vs int64 is same-kind: values compare fine, no dtype fail.
    i32 = ints.assign(v=ints["v"].astype("int32"))
    assert compare("i32_i64", i32, ints) == []
    # and genuinely different float values still fail on VALUE.
    bad = floats.assign(v=[10.0, 21.0])
    problems = compare("fv", floats, bad)
    assert problems and "mismatch" in problems[0], problems

    # Datetime-vs-object (VERDICT r10 #8): Spark DATE renders as
    # object-dtype datetime.date, DuckDB DATE as datetime64[us] —
    # element-equal but hash-divergent. Must FAIL on kind.
    import datetime

    dts = pd.DataFrame({"d": pd.to_datetime(["2024-01-01", "2024-01-08"])})
    objs = pd.DataFrame(
        {"d": [datetime.date(2024, 1, 1), datetime.date(2024, 1, 8)]}
    )
    problems = compare("date_case", objs, dts)
    assert problems and "DTYPE-mismatch" in problems[0], problems
    # ns-vs-us datetime resolution is same-kind and value-equal: pass
    # (the driver has hash-matched this pair for 10 rounds — see
    # PARITY.md).
    us = pd.DataFrame({"d": dts["d"].astype("datetime64[us]")})
    assert compare("dt_res", dts, us) == []
