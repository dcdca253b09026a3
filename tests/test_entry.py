from __future__ import annotations

from tests.conftest import SF_SMALL


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_every_query_has_callable_and_runs(spark, registry):
    qs = registry.QUERIES
    assert len(qs) >= 5
    for name, fn in qs.items():
        df = fn(spark, SF_SMALL)
        assert df.columns, name


def test_oracles_reference_registered_queries(registry):
    assert set(registry.ORACLES) <= set(registry.QUERIES)


def test_bench_run_timed_takes_min_of_passes(spark):
    """bench.run_timed is the artifact-of-record mechanism: it must
    execute the query once per pass and record the MINIMUM (the r5
    official bench was contamination-distorted 2.4x; min-of-2 is the
    defense), clearing per-query scratch caches between passes."""
    import bench
    from cs686_big_data_p1_spark import registry as reg

    calls = []

    def fake_query(s, sf_dir):
        calls.append(sf_dir)
        return s.range(3)

    real = bench.run_one
    ticks = iter([5.0, 1.0])
    bench.run_one = lambda s, fn, sf: (fn(s, sf), next(ticks))[1]
    try:
        got = bench.run_timed(spark, fake_query, "sfX", passes=2)
    finally:
        bench.run_one = real
    assert got == 1.0  # min, not first or mean
    assert calls == ["sfX", "sfX"]  # both passes really ran
    assert reg.TRACKED_CACHES == []  # clear_caches ran between passes


def test_bench_compare_refuses_sf_mismatch(tmp_path):
    """VERDICT r8 #8: comparing bench artifacts from different scale
    factors (the r7 mislabeling) must exit 2 with a loud message, not
    print meaningless ratios; same-SF artifacts compare normally."""
    import json
    import subprocess
    import sys

    a = tmp_path / "old.json"
    b = tmp_path / "new.json"
    a.write_text(json.dumps({"sf": 0.1, "queries": {"q": 1.0}}))
    b.write_text(json.dumps({"sf": 0.01, "queries": {"q": 0.1}}))
    r = subprocess.run(
        [sys.executable, "tools/bench_compare.py", str(a), str(b)],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert r.returncode == 2
    assert "SF MISMATCH" in r.stdout

    b.write_text(json.dumps({"sf": 0.1, "queries": {"q": 0.9}}))
    r = subprocess.run(
        [sys.executable, "tools/bench_compare.py", str(a), str(b)],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert r.returncode == 0
    assert "SF MISMATCH" not in r.stdout


def test_bench_contention_tag_and_compare_warning(tmp_path, monkeypatch):
    """VERDICT r9 #5: a bench run started on a loaded box must tag its
    artifact contended=true (BASELINE.md's caveat: loadavg ~10 inflates
    untouched queries 1.5-2.5x), and bench_compare must warn — without
    refusing — when either side of a comparison carries the tag."""
    import json
    import os
    import subprocess
    import sys

    import bench

    monkeypatch.setattr(os, "getloadavg", lambda: (9.7, 9.0, 8.0))
    load, contended = bench.check_contention()
    assert contended and load == 9.7
    monkeypatch.setattr(os, "getloadavg", lambda: (0.4, 0.5, 0.5))
    load, contended = bench.check_contention()
    assert not contended and load == 0.4

    a = tmp_path / "old.json"
    b = tmp_path / "new.json"
    a.write_text(json.dumps({"sf": 0.1, "queries": {"q": 1.0}}))
    b.write_text(
        json.dumps(
            {
                "sf": 0.1,
                "queries": {"q": 1.1},
                "contended": True,
                "loadavg_at_start": 9.7,
            }
        )
    )
    r = subprocess.run(
        [sys.executable, "tools/bench_compare.py", str(a), str(b)],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert r.returncode == 0  # warn, never refuse: the run still counts
    assert "contended=true" in r.stdout and "9.7" in r.stdout


def test_priority_order_is_clean_permutation_prefix(registry):
    """Registry hygiene at 200+ entries (VERDICT r9 #10): PRIORITY_ORDER
    is hand-maintained, and load_all silently SKIPS names that match no
    registered query — so a typo would quietly reshuffle the driver's
    50-row correctness window. Pin: every entry registered, no
    duplicates, and the §2.A-2.D core holds slots 1-24 exactly (the
    rotating window is slots 25-50 since r14 — VERDICT r13 #2 widened
    the old 44-50 block; the displaced §2.E-2.I representatives have
    13 straight green driver rounds and stay pinned by the
    source-sha'd sweeps)."""
    from cs686_big_data_p1_spark.registry import PRIORITY_ORDER

    assert len(PRIORITY_ORDER) == len(set(PRIORITY_ORDER)), "duplicate entry"
    dangling = [n for n in PRIORITY_ORDER if n not in registry.QUERIES]
    assert not dangling, f"PRIORITY_ORDER names not registered: {dangling}"

    # Slots 1-24: the SURVEY §2.A-2.D reference-parity core. These
    # must never rotate — the driver's correctness window derives its
    # §2 coverage claim from them.
    expected_pinned = [
        "chunk_plan", "chunk_assign", "recovery_scan", "reassembly_order",
        "event_dispatch", "checksum_compute", "checksum_verify",
        "chunkname_parse", "chunkname_format", "unit_convert",
        "free_space_total", "replica_count", "chunk_count", "file_manifest",
        "list_filenames", "incomplete_files", "dead_nodes", "node_inventory",
        "replicas_on_offline_nodes", "surviving_replicas", "lost_chunks",
        "replicas_after_corruption", "placement_candidates",
        "inventory_delta",
    ]
    assert PRIORITY_ORDER[:24] == expected_pinned
    # The displaced §2.E-2.I representatives all sit after the window,
    # in their relative order (the judge's sweep-derived coverage check
    # walks them in that order). Rotating the window moves them, so the
    # invariant is their order past slot 50, not their exact slots.
    expected_displaced = [
        "publish_upsert", "checksum_join", "list_storage_nodes",
        "placement_pick", "round_robin_assign", "under_replicated",
        "failover_choice", "queue_order", "corruption_scan",
        "replication_orders", "hb_tumbling", "hb_sliding", "hb_session",
        "dedup_exact", "dedup_near", "knn_bruteforce", "text_stats",
        "doc_embedding_join", "tpch_q1_pricing",
    ]
    post_window = PRIORITY_ORDER[50:]
    assert [n for n in post_window if n in expected_displaced] == (
        expected_displaced
    )
    # Registration order actually honors the list: the first 50 QUERIES
    # keys are exactly PRIORITY_ORDER[:50] (the driver's window).
    assert list(registry.QUERIES)[:50] == PRIORITY_ORDER[:50]
    # VERDICT r11 #9: EVERY registered query is named explicitly — the
    # post-window ordering is deliberate, never import-order-accidental.
    # A new @query registration without a PRIORITY_ORDER row fails here.
    unlisted = [n for n in registry.QUERIES if n not in PRIORITY_ORDER]
    assert not unlisted, f"queries missing from PRIORITY_ORDER: {unlisted}"
    assert len(PRIORITY_ORDER) == len(registry.QUERIES)


def test_scaling_artifact_records_sublinear_exponents():
    """SCALING_SF1.json is the committed sf0.1->sf1 scale evidence
    (VERDICT r9 #8, produced by tools/scale_run.py over the 15 most
    expensive bench queries): pin that the artifact exists, parses,
    covers the intended breadth, carries a measured exponent for every
    query that ran, and that nothing recorded is super-linear beyond
    its DOCUMENTED complexity. The bound is per-query (ADVICE r10):
    each row records expected_e — 1.0 for everything except the
    operators whose docstrings commit to a super-linear form (the
    O(n^1.5) adaptive-cell ANN/semantic family, expected_e = 1.5, see
    tools/scale_run.py EXPECTED_E) — and the gate asserts measured <=
    expected + 0.05 tolerance. The r10 run measured a real 1.24 on a
    query whose documented form was linear (the pre-sqrt cell sizing),
    which is exactly the class this catches; a 1.4 on a documented
    O(n^1.5) stage would NOT be a regression and no longer trips a
    blind global cap. The allowlist lives in the ARTIFACT so a new
    super-linear excuse requires re-running the measurement, not just
    editing a test constant. Freshness is the per-round scale run's
    job, like the bench series."""
    import json
    import pathlib

    path = pathlib.Path(__file__).resolve().parent.parent / "SCALING_SF1.json"
    assert path.exists(), "run tools/make_sf1.py + tools/scale_run.py"
    doc = json.loads(path.read_text())
    assert doc["sf_pair"] == [0.1, 1.0]
    qs = doc["queries"]
    assert len(qs) >= 15
    for name, row in qs.items():
        assert row["t_sf0_1"] > 0 and row["t_sf1"] > 0, name
        assert row["exponent"] is not None, name
        expected = row.get("expected_e", 1.0)
        assert expected <= 1.5, (
            f"{name} claims expected_e={expected}: nothing in the repo "
            "documents worse than O(n^1.5) — justify in scale_run.py"
        )
        assert row["exponent"] <= expected + 0.05, (
            f"{name} measured e={row['exponent']} above its documented "
            f"complexity (expected_e={expected}); fix the plan or "
            "document the complexity in tools/scale_run.py EXPECTED_E"
        )
