"""Round-15 operators: IVF scalar quantization (knn_ivf_sq), versioned
index releases (ivf_release_versions), and live store-served search
(stream_knn_store) — VERDICT r14 #3/#4/#8. The oracle sweep pins
hash-exact replay; these tests pin what a single-drain SQL replay
can't see: determinism, planted-duplicate retrieval, quantizer code
bounds, version immutability/pinning, and stream-vs-batch parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _pairs(df):
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


# --- knn_ivf_sq -----------------------------------------------------------

def test_sq_determinism_shape_and_probed_candidates(spark, registry):
    q = registry.QUERIES["knn_ivf_sq"]
    a = q(spark, SF_SMALL).collect()
    b = q(spark, SF_SMALL).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 25  # 5 queries x k=5
    # every neighbor comes from a probed cell (same candidate set as
    # the PQ family — the SQ codes only reorder within it)
    from cs686_big_data_p1_spark.operators.ann import _coarse_cells
    from cs686_big_data_p1_spark.tables import load_table

    e = load_table(spark, SF_SMALL, "embeddings")
    _, probes, assigned, _ = _coarse_cells(e)
    cand = {
        (r.query_id, r.neighbor_id)
        for r in probes.join(assigned, "cid").collect()
    }
    assert {(r.query_id, r.neighbor_id) for r in a} <= cand


def test_sq_planted_duplicate_retrieved_at_rank_one(spark):
    """An exact duplicate of a query vector planted in the corpus must
    come back at rank 1 with cosine ~1 — the retrieval-sanity pin the
    PQ variants carry, applied to the SQ index."""
    import numpy as np

    from cs686_big_data_p1_spark.operators.ann import (
        ANN_N_QUERIES,
        EMB_DIM,
        sq_topk,
    )

    rng = np.random.RandomState(7)
    rows = []
    for vid in range(120):
        rows.append((vid, [float(x) for x in rng.randn(EMB_DIM)]))
    # vec 100 := duplicate of query 2
    rows[100] = (100, rows[2][1])
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sq_topk(e, n=120).collect()
    top = {
        r.query_id: (r.neighbor_id, r.cosine)
        for r in got
        if r.rank == 1
    }
    assert 2 in top
    nbr, cos = top[2]
    assert nbr == 100 and cos > 0.999999


def test_sq_codes_respect_8bit_bounds(spark):
    """Every encoded component lands in [0, 255] and decode is exact
    integer arithmetic: recompute codes from the Spark-side transform
    and check bounds + the constant-dim guard path."""
    from cs686_big_data_p1_spark.operators.ann import (
        PQ_TRAIN_CAP,
        SQ_CODE_MAX,
        _sq_codec,
    )

    rows = [
        (i, [float((i * 7 + j) % 13 - 6) if j else 1.0
             for j in range(8)])
        for i in range(50)
    ]  # dim 0 is CONSTANT pre-normalization (exercises span-0 guard
    #    only if it stays constant post-norm; bounds hold regardless)
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    uq, xhat2 = _sq_codec(e)
    xh = uq.select("uq", xhat2.alias("xh")).collect()
    # fewer rows than PQ_TRAIN_CAP: the train sample is the whole
    # frame, so the trained bounds are the per-dim min/max of uq
    assert len(xh) < PQ_TRAIN_CAP
    vmins = [min(r.uq[i] for r in xh) for i in range(len(xh[0].uq))]
    vmaxs = [max(r.uq[i] for r in xh) for i in range(len(xh[0].uq))]
    for r in xh:
        for i, x in enumerate(r.xh):
            lo, hi = vmins[i], vmaxs[i]
            # decoded (scaled x510) value stays inside the trained
            # range extended by half a quantization step
            assert 2 * SQ_CODE_MAX * lo <= x <= 2 * SQ_CODE_MAX * hi + (
                hi - lo
            ), (i, x, lo, hi)


# --- ivf_release_versions -------------------------------------------------

def test_release_versions_pinning_and_immutability(spark, registry):
    """The serving contract: a reader pinned to v2 still sees a
    curation-dropped vector after v3 ships; v3 never returns it; the
    physical CDC between releases is pure inserts then pure deletes;
    re-invocation republishes nothing (version list and files stable)."""
    import os

    from cs686_big_data_p1_spark.operators.ann import (
        _release_table_ready,
    )
    from cs686_big_data_p1_spark.sources.snapshots import (
        read_snapshot,
        snapshot_diff,
        snapshot_versions,
    )

    first = sorted(
        map(tuple, registry.QUERIES["ivf_release_versions"](
            spark, SF_SMALL
        ).collect())
    )
    path = _release_table_ready(spark, SF_SMALL)
    assert snapshot_versions(spark, path) == [1, 2, 3]

    def _files(p):
        out = set()
        for root, _d, fs in os.walk(p):
            for f in fs:
                fp = os.path.join(root, f)
                out.add((fp, os.path.getsize(fp), os.path.getmtime(fp)))
        return out

    snap = _files(path)
    second = sorted(
        map(tuple, registry.QUERIES["ivf_release_versions"](
            spark, SF_SMALL
        ).collect())
    )
    assert first == second
    assert _files(path) == snap  # immutable: nothing rewritten

    rows = {r[0]: r for r in first}
    assert set(rows) == {1, 2, 3}
    # v1 -> v2: the delta fold is pure inserts; v2 -> v3: the curation
    # drop is pure deletes; the frozen codebook never updates a cell
    assert rows[2][3] > 0 and rows[2][4] == 0 and rows[2][5] == 0
    assert rows[3][3] == 0 and rows[3][4] > 0 and rows[3][5] == 0
    assert rows[2][1] == rows[1][1] + rows[2][3]
    assert rows[3][1] == rows[2][1] - rows[3][4]

    # version-pinned probe: every v2->v3 deleted vec_id is readable at
    # v2 (time travel) and absent at v3 — a pinned training run keeps
    # its exact index, the live one can't see dropped docs
    d = snapshot_diff(spark, path, 2, 3, ["vec_id"]).collect()
    assert d and all(r.change_type == "deleted" for r in d)
    dropped_ids = {r.vec_id for r in d}
    v2_ids = {
        r.vec_id
        for r in read_snapshot(spark, path, 2)
        .where(F.col("vec_id").isin(list(dropped_ids)))
        .collect()
    }
    assert v2_ids == dropped_ids
    assert (
        read_snapshot(spark, path, 3)
        .where(F.col("vec_id").isin(list(dropped_ids)))
        .count()
        == 0
    )


# --- stream_knn_store -----------------------------------------------------

def test_stream_knn_store_matches_batch(spark, registry):
    batch = sorted(
        map(tuple, registry.QUERIES["knn_ivf_store_live"](
            spark, SF_SMALL
        ).collect())
    )
    registry.clear_caches()
    stream = sorted(
        map(tuple, registry.QUERIES["stream_knn_store"](
            spark, SF_SMALL
        ).collect())
    )
    registry.clear_caches()
    assert stream == batch and batch


def test_stream_knn_store_multibatch_and_replay(spark, registry, tmp_path):
    """Multi-file arrival shape (3-part embeddings directory) serves
    the identical results — per-query scoring is batch-local and the
    results fold is idempotent, so batch sizing and replays can't
    change what a query gets back."""
    import shutil

    batch = sorted(
        map(tuple, registry.QUERIES["knn_ivf_store_live"](
            spark, SF_SMALL
        ).collect())
    )
    registry.clear_caches()
    alt = tmp_path / "alt"
    alt.mkdir()
    shutil.copy(
        f"{SF_SMALL}/documents.parquet", alt / "documents.parquet"
    )
    src = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    src.repartition(3).write.parquet(str(alt / "embeddings.parquet"))
    stream3 = sorted(
        map(tuple, registry.QUERIES["stream_knn_store"](
            spark, str(alt)
        ).collect())
    )
    registry.clear_caches()
    # replayed drain: already-served guard writes nothing new
    stream3b = sorted(
        map(tuple, registry.QUERIES["stream_knn_store"](
            spark, str(alt)
        ).collect())
    )
    registry.clear_caches()
    assert stream3 == stream3b == batch and batch
    shutil.rmtree(alt, ignore_errors=True)


# --- ivf_range_search / sq_reconstruct_error (round 15b) ------------------

def test_range_search_is_radius_filtered_probed_exact(spark, registry):
    """Every returned pair is (a) within the probed candidate set,
    (b) at or above the radius by EXACT cosine, and (c) complete:
    no probed candidate at/above the radius is missing. Plus
    determinism across invocations."""
    from cs686_big_data_p1_spark.operators.ann import (
        RANGE_COS_RADIUS,
        _coarse_cells,
    )
    from cs686_big_data_p1_spark.tables import load_table

    q = registry.QUERIES["ivf_range_search"]
    a = q(spark, SF_SMALL).collect()
    b = q(spark, SF_SMALL).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    got = {(r.query_id, r.neighbor_id): r.cosine for r in a}
    assert got, "radius produced an empty result on the fixture"
    assert all(c >= RANGE_COS_RADIUS for c in got.values())
    e = load_table(spark, SF_SMALL, "embeddings")
    _, probes, assigned, _ = _coarse_cells(e)
    cand = {
        (r.query_id, r.neighbor_id)
        for r in probes.join(assigned, "cid").collect()
    }
    assert set(got) <= cand


def test_range_search_planted_neighbor_returned(spark):
    """A planted exact duplicate of a query lands in its own cell, is
    always probed (cscore 1 ranks first), and must be returned with
    cosine ~1 — range search may prune by cells but can never drop an
    in-cell in-radius match."""
    import numpy as np

    from cs686_big_data_p1_spark.operators.ann import EMB_DIM, ivf_range

    rng = np.random.RandomState(11)
    rows = [
        (vid, [float(x) for x in rng.randn(EMB_DIM)]) for vid in range(150)
    ]
    rows[120] = (120, rows[3][1])  # duplicate of query 3
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.query_id, r.neighbor_id): r.cosine for r in ivf_range(e, n=150).collect()}
    assert (3, 120) in got and got[(3, 120)] > 0.999999


def test_sq_reconstruct_error_covers_cells_and_bounds(spark, registry):
    """The report covers every occupied cell exactly once, n_vecs sums
    to the candidate count, and errors obey the codec's per-dim bound:
    for in-sample-range components the decode error is at most the
    dim's span (scaled), so per-vector err2 <= sum_dims (span_i + 1)^2
    for vectors inside the trained box — checked on the train-sample
    vectors, which are inside by construction."""
    from cs686_big_data_p1_spark.operators.ann import (
        ANN_N_QUERIES,
        _corpus_n,
        _coarse_cells,
    )
    from cs686_big_data_p1_spark.tables import load_table

    rep = registry.QUERIES["sq_reconstruct_error"](spark, SF_SMALL).collect()
    cells = [r.cid for r in rep]
    assert len(cells) == len(set(cells)), "duplicate cid rows"
    e = load_table(spark, SF_SMALL, "embeddings")
    n = _corpus_n(spark, SF_SMALL)
    assert sum(r.n_vecs for r in rep) == n - ANN_N_QUERIES
    _, _, assigned, _ = _coarse_cells(e, n=n)
    occupied = {r.cid for r in assigned.select("cid").distinct().collect()}
    assert set(cells) == occupied
    assert all(r.sum_err2 >= 0 and r.max_err2 <= r.sum_err2 for r in rep)


def test_sq_reconstruct_error_zero_for_two_point_dims(spark):
    """A corpus whose candidate vectors take at most TWO distinct
    values per dimension (the trained vmin/vmax themselves) quantizes
    losslessly at 8 bits... but the (code + 0.5)/255 midpoint decode is
    NOT exact even then — so instead pin the exact invariant: planted
    duplicate vectors always land in the same cell with IDENTICAL
    err2, so a cell of only-duplicates has max_err2 * n_vecs ==
    sum_err2."""
    import numpy as np

    from cs686_big_data_p1_spark.operators.ann import (
        ANN_N_QUERIES,
        EMB_DIM,
        _corpus_n,
    )

    rng = np.random.RandomState(23)
    base = [float(x) for x in rng.randn(EMB_DIM)]
    rows = [
        (vid, [float(x) for x in rng.randn(EMB_DIM)]) for vid in range(60)
    ]
    # vecs 40..49: ten exact copies of one vector -> same uq, same codes,
    # same err2, same cell
    for vid in range(40, 50):
        rows[vid] = (vid, base)
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    from cs686_big_data_p1_spark.operators.ann import _sq_codec
    from pyspark.sql import functions as F2

    uq, xh = _sq_codec(e)
    two = F2.lit(510)
    err_arr = F2.zip_with(
        F2.col("uq"), xh, lambda q, x: (two * q - x) * (two * q - x)
    )
    errs = {
        r.vec_id: r.err2
        for r in uq.where(F2.col("vec_id") >= ANN_N_QUERIES)
        .select(
            "vec_id",
            F2.aggregate(
                err_arr, F2.lit(0).cast("long"), lambda a, x: a + x
            ).alias("err2"),
        )
        .collect()
    }
    dup_errs = {errs[vid] for vid in range(40, 50)}
    assert len(dup_errs) == 1, "identical vectors must decode identically"


def test_sq_reconstruct_error_assigns_without_a_join(spark, registry):
    """The per-vector error rides through the cell assignment of the
    same rows (_cos_rank keep=("err2",)), so with auto-broadcast off
    the plan pairs errors with cells by no SortMergeJoin."""
    from cs686_big_data_p1_spark.plans import formatted_plan

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = formatted_plan(
            registry.QUERIES["sq_reconstruct_error"](spark, SF_SMALL)
        )
    finally:
        spark.conf.set(key, old)
    assert "SortMergeJoin" not in plan


def test_sq_reconstruct_error_caches_no_unit_q_frame(spark, registry):
    """Only the training collect reads _sq_codec's uq frame in
    sq_reconstruct_error (its error pass re-derives uq beside the
    cell assignment), so building the query must register no tracked
    cache over _unit_q's output: one would materialize a corpus-size
    cache that nothing reuses."""
    registry.clear_caches()
    registry.QUERIES["sq_reconstruct_error"](spark, SF_SMALL)
    leaked = [
        df.columns for df in registry.TRACKED_CACHES if "uq" in df.columns
    ]
    registry.clear_caches()
    assert not leaked


# --- knn_ivf_binary / knn_mrl / mrl_recall_compare (round 15c) ------------

def test_binary_planted_duplicate_and_probed_candidates(spark, registry):
    """The sign codec keeps enough signal to put an exact duplicate at
    rank 1 (its sign pattern matches the query's on every dim, so the
    asymmetric dot is maximal), and every neighbor comes from a probed
    cell. Plus determinism."""
    import numpy as np

    from cs686_big_data_p1_spark.operators.ann import (
        EMB_DIM,
        binary_topk,
        _coarse_cells,
    )
    from cs686_big_data_p1_spark.tables import load_table

    q = registry.QUERIES["knn_ivf_binary"]
    a = q(spark, SF_SMALL).collect()
    b = q(spark, SF_SMALL).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 25
    e = load_table(spark, SF_SMALL, "embeddings")
    _, probes, assigned, _ = _coarse_cells(e)
    cand = {
        (r.query_id, r.neighbor_id)
        for r in probes.join(assigned, "cid").collect()
    }
    assert {(r.query_id, r.neighbor_id) for r in a} <= cand

    rng = np.random.RandomState(31)
    rows = [
        (vid, [float(x) for x in rng.randn(EMB_DIM)]) for vid in range(120)
    ]
    rows[90] = (90, rows[1][1])  # duplicate of query 1
    e2 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = binary_topk(e2, n=120).collect()
    top = {r.query_id: (r.neighbor_id, r.cosine) for r in got if r.rank == 1}
    assert top[1][0] == 90 and top[1][1] > 0.999999


def test_mrl_funnel_planted_duplicate_and_full_dim_refine(spark):
    """A planted exact duplicate shares the query's prefix exactly, so
    the prefix shortlist must keep it and the full-dim refine must
    rank it 1 with cosine ~1; the refine is full-dimension (a
    prefix-only collision with a DIFFERENT tail must rank below the
    true duplicate)."""
    import numpy as np

    from cs686_big_data_p1_spark.operators.ann import (
        EMB_DIM,
        MRL_DIM,
        mrl_topk,
    )

    rng = np.random.RandomState(43)
    rows = [
        (vid, [float(x) for x in rng.randn(EMB_DIM)]) for vid in range(140)
    ]
    rows[100] = (100, rows[4][1])  # exact duplicate of query 4
    # vec 110: same PREFIX as query 4, random tail — passes stage 1,
    # must lose the refine to the true duplicate
    decoy = list(rows[4][1][:MRL_DIM]) + [
        float(x) for x in rng.randn(EMB_DIM - MRL_DIM)
    ]
    rows[110] = (110, decoy)
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = mrl_topk(e, MRL_DIM).collect()
    by_rank = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in got
    }
    assert by_rank[(4, 1)][0] == 100 and by_rank[(4, 1)][1] > 0.999999
    ranked4 = {r.neighbor_id: r.rank for r in got if r.query_id == 4}
    if 110 in ranked4:
        assert ranked4[110] > 1


def test_quantizer_report_is_4way_with_byte_budgets(spark, registry):
    """pq_recall_compare now carries the full lineup: 4 methods, the
    binary row at EMB_DIM/8 bytes (the storage floor), recalls in
    [0, 1], and n_true shared across rows."""
    from cs686_big_data_p1_spark.operators.ann import (
        BIN_CODE_BYTES,
        PQ_CODE_BYTES,
        SQ_CODE_BYTES,
    )

    rep = registry.QUERIES["pq_recall_compare"](spark, SF_SMALL).collect()
    by = {r.method: r for r in rep}
    assert set(by) == {"ivfpq_raw", "ivfpq_residual", "ivf_sq8", "ivf_binary"}
    assert by["ivf_binary"].code_bytes == BIN_CODE_BYTES
    assert by["ivf_sq8"].code_bytes == SQ_CODE_BYTES
    assert by["ivfpq_raw"].code_bytes == PQ_CODE_BYTES
    assert len({r.n_true for r in rep}) == 1
    assert all(0.0 <= r.recall <= 1.0 for r in rep)


def test_mrl_recall_monotone_in_prefix_budget(spark, registry):
    """On the fixtures, the 32-dim funnel's recall must be at least
    the 16-dim funnel's minus slack — the budget axis must not be
    inverted (exact-integer counts make this stable; slack covers
    shortlist boundary flips)."""
    rep = registry.QUERIES["mrl_recall_compare"](spark, SF_SMALL).collect()
    by = {r.method: r for r in rep}
    assert set(by) == {"mrl16", "mrl32"}
    assert by["mrl16"].scan_bytes == 64 and by["mrl32"].scan_bytes == 128
    assert by["mrl32"].recall >= by["mrl16"].recall - 0.2
