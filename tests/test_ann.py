"""LSH similarity-search tests (operators/ann.py).

Recall is measured against knn_bruteforce — the exact oracle the LSH
variant approximates (SURVEY.md §2.I E3). The fixture embeddings are
near-random (pairwise cosines ~N(0, 0.12)), which is the worst case
for sign-LSH: measured recall is 0.44 at sf0.001 / 0.32 at sf0.01.
The collision test covers the case that matters for dedup — true
near-duplicates (cosine -> 1) must land in a shared bucket.
"""

from __future__ import annotations

import math
import random

from tests.conftest import SF_SMALL


def _pairs(df):
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


def test_ann_recall_vs_bruteforce(spark, registry):
    ann = _pairs(registry.QUERIES["ann_lsh"](spark, SF_SMALL))
    bf = _pairs(registry.QUERIES["knn_bruteforce"](spark, SF_SMALL))
    assert len(bf) == 25  # 5 queries x k=5
    assert len(ann) == 25
    recall = len(ann & bf) / len(bf)
    assert recall >= 0.2, f"LSH recall {recall} collapsed vs brute force"


def test_ivf_recall_vs_bruteforce(spark, registry):
    ivf = _pairs(registry.QUERIES["knn_ivf"](spark, SF_SMALL))
    bf = _pairs(registry.QUERIES["knn_bruteforce"](spark, SF_SMALL))
    assert len(bf) == 25
    assert len(ivf) == 25
    # nprobe/nlist = 1/4 of the corpus scored; near-random embeddings
    # make this a lower bound sanity check, not a quality claim
    recall = len(ivf & bf) / len(bf)
    assert recall >= 0.2, f"IVF recall {recall} collapsed vs brute force"


def test_ann_recall_query(spark, registry):
    """ann_recall must agree with a directly-computed intersection of
    each approximate method's pairs vs brute force, and stay above the
    floor the per-method tests pin — the query is the tuning instrument
    for N_BITS/IVF_NPROBE, so a silent drift here would misguide both."""
    rows = {
        r.method: r
        for r in registry.QUERIES["ann_recall"](spark, SF_SMALL).collect()
    }
    assert set(rows) == {"lsh", "ivf"}
    bf = _pairs(registry.QUERIES["knn_bruteforce"](spark, SF_SMALL))
    for method, qname in (("lsh", "ann_lsh"), ("ivf", "knn_ivf")):
        approx = _pairs(registry.QUERIES[qname](spark, SF_SMALL))
        r = rows[method]
        assert r.n_true == len(bf) == 25
        assert r.n_hits == len(approx & bf)
        assert r.recall == r.n_hits / r.n_true
        assert r.recall >= 0.2, f"{method} recall {r.recall} collapsed"


def test_ivf_probes_bound_work(spark):
    """Every reported neighbor must come from a probed cell — i.e. the
    candidate set really is restricted to nprobe inverted lists.
    Probed cells and per-vector assignments are recomputed through the
    operator's own _coarse_cells helper, so the assertion checks the
    actual cell membership, not just rank shape."""
    from cs686_big_data_p1_spark.operators.ann import (
        ANN_N_QUERIES,
        IVF_NPROBE,
        _coarse_cells,
    )
    from cs686_big_data_p1_spark import registry as reg

    reg.load_all()
    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    _, probes, assigned, _ = _coarse_cells(e)
    probed = {}
    for r in probes.collect():
        probed.setdefault(r.query_id, set()).add(r.cid)
    cell_of = {r.neighbor_id: r.cid for r in assigned.collect()}
    assert all(len(cids) <= IVF_NPROBE for cids in probed.values())

    rows = reg.QUERIES["knn_ivf"](spark, SF_SMALL).collect()
    assert rows
    assert all(r.query_id < ANN_N_QUERIES for r in rows)
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
        assert cell_of[r.neighbor_id] in probed[r.query_id], (
            f"neighbor {r.neighbor_id} (cell {cell_of[r.neighbor_id]}) "
            f"not in query {r.query_id}'s probed cells {probed[r.query_id]}"
        )
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_lsh_collides_near_duplicates(spark):
    from cs686_big_data_p1_spark.operators.ann import EMB_DIM, _bucketed

    rng = random.Random(686)
    base = [rng.uniform(-0.5, 0.5) for _ in range(EMB_DIM)]
    near = [x + 1e-4 for x in base]
    far = [[rng.uniform(-0.5, 0.5) for _ in range(EMB_DIM)] for _ in range(8)]
    rows = [(0, base), (1, near)] + [(i + 2, v) for i, v in enumerate(far)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bk = _bucketed(e).select("vec_id", "t", "bucket").collect()
    tables = {}
    for r in bk:
        tables.setdefault(r.vec_id, set()).add((r.t, r.bucket))
    # a near-identical pair must collide in (essentially) every table
    assert len(tables[0] & tables[1]) >= 1


def test_dedup_embedding_caps_degenerate_bucket(spark):
    """Scale guard: a pathological corpus where every vector is
    identical piles all n rows into one bucket per table. Uncapped,
    candidate generation would emit ~n^2/2 pairs; with MAX_BUCKET_VECS
    the bucket is skipped entirely (0 pairs) and the skip is visible in
    the accounting output."""
    from cs686_big_data_p1_spark.operators.ann import (
        EMB_DIM,
        MAX_BUCKET_VECS,
        N_TABLES,
        dedup_embedding_pairs,
        skipped_buckets,
    )

    n = MAX_BUCKET_VECS * 4
    vec = [0.1 * ((i % 7) - 3) for i in range(EMB_DIM)]
    rows = [(i, vec) for i in range(n)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert dedup_embedding_pairs(e).count() == 0
    skipped = skipped_buckets(e).collect()
    assert len(skipped) == N_TABLES  # one overfull bucket per table
    assert all(r.n_vecs == n for r in skipped)

    # below the cap the same corpus dedups normally: all-pairs emitted
    small = spark.createDataFrame(rows[:5], "vec_id long, embedding array<float>")
    assert dedup_embedding_pairs(small).count() == 10  # C(5,2)
    assert skipped_buckets(small).count() == 0


def test_knn_graph_edges_symmetric_tied_and_capped(spark):
    """knn_graph's frame core on a planted corpus: a near-duplicate
    pair (0, 1); a source (10) with one nearest mate (11) and then
    three identical copies (14, 12, 13) tied on cosine; a pile-up of
    MAX_BUCKET_VECS + 1 identical vectors whose buckets are all over
    the cap; and random filler. Edges run both ways with bit-equal
    cosines, ties break on ascending dst_id, no source exceeds
    KNN_GRAPH_K edges, and the pile-up gets none."""
    from cs686_big_data_p1_spark.operators.ann import (
        EMB_DIM,
        KNN_GRAPH_K,
        MAX_BUCKET_VECS,
        knn_graph_edges,
    )

    rng = random.Random(2015)

    def rnd():
        return [rng.uniform(-0.5, 0.5) for _ in range(EMB_DIM)]

    base, hub, pile = rnd(), rnd(), rnd()
    tied = [x + 3e-3 * ((i % 5) - 2) for i, x in enumerate(hub)]
    rows = [(0, base), (1, [x + 1e-4 for x in base])]
    rows += [(10, hub), (11, [x + 1e-4 for x in hub])]
    rows += [(14, tied), (12, tied), (13, tied)]
    piled = range(100, 100 + MAX_BUCKET_VECS + 1)
    rows += [(i, pile) for i in piled]
    rows += [(200 + i, rnd()) for i in range(12)]
    schema = "vec_id long, embedding array<float>"
    out = knn_graph_edges(spark.createDataFrame(rows, schema))
    assert out.dtypes == [
        ("src_id", "bigint"), ("dst_id", "bigint"),
        ("cosine", "double"), ("rank", "int"),
    ]
    edges = {(r.src_id, r.dst_id): r for r in out.collect()}

    by_src = {}
    for (s, d), r in edges.items():
        by_src.setdefault(s, []).append(r)
    for s, rs in by_src.items():
        rs.sort(key=lambda r: r.rank)
        assert len(rs) <= KNN_GRAPH_K
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert [(r.cosine, r.dst_id) for r in rs] == sorted(
            ((r.cosine, r.dst_id) for r in rs), key=lambda t: (-t[0], t[1])
        )
    for (s, d), r in edges.items():
        if (d, s) in edges:
            assert edges[(d, s)].cosine == r.cosine  # bit-equal both ways
    assert edges[(0, 1)].rank == edges[(1, 0)].rank == 1
    assert edges[(0, 1)].cosine == edges[(1, 0)].cosine
    assert [r.dst_id for r in by_src[10]] == [11, 12, 13, 14][:KNN_GRAPH_K]
    assert not [k for k in edges if k[0] in piled or k[1] in piled]

    # every vector's buckets over the cap: no edges, same typed frame
    only_pile = knn_graph_edges(
        spark.createDataFrame([(i, pile) for i in piled], schema)
    )
    assert only_pile.dtypes == out.dtypes
    assert only_pile.count() == 0


def test_dedup_embedding_contract(spark, registry):
    from cs686_big_data_p1_spark.operators.ann import DEDUP_COS_THRESHOLD

    df = registry.QUERIES["dedup_embedding"](spark, SF_SMALL)
    rows = df.collect()
    assert all(r.vec_a < r.vec_b for r in rows)
    assert all(r.cosine >= DEDUP_COS_THRESHOLD for r in rows)
    # every reported pair must be a genuine above-threshold pair: spot-check
    # one pair against an independent Python recomputation of the same
    # fixed-point cosine
    if rows:
        r0 = rows[0]
        emb = {
            x.vec_id: [float(v) for v in x.embedding]
            for x in spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
            .select("vec_id", "embedding")
            .collect()
        }

        def q_norm(v):
            return math.sqrt(sum(math.floor(x * x * 1e12) for x in v) / 1e12)

        dot = sum(
            math.floor(a * b * 1e12)
            for a, b in zip(emb[r0.vec_a], emb[r0.vec_b])
        ) / 1e12
        cos = dot / (q_norm(emb[r0.vec_a]) * q_norm(emb[r0.vec_b]))
        assert abs(cos - r0.cosine) < 1e-9


def test_ivf_store_partition_pruning(spark, tmp_path):
    """The IVF store's physical layout must deliver the promised scale
    property: probing nprobe cells reads exactly those cells' files
    (the scan's inputFiles are the files in the manifest's directories
    of the probed cells, nothing else)."""
    from cs686_big_data_p1_spark.operators.ann import (
        read_ivf_store,
        write_ivf_store,
    )

    store = str(tmp_path / "ivf")
    write_ivf_store(spark, SF_SMALL, store)
    probed = read_ivf_store(spark, store, [7, 9], "all")
    assert _input_files(probed, store) == _cell_files(spark, store, [7, 9])
    # row-level check: only the probed cells come back
    cells = {r.cid for r in probed.select("cid").distinct().collect()}
    assert cells <= {7, 9} and cells


def _input_files(df, store):
    """The store-relative paths of the files `df` scans."""
    return {f[f.index(store) + len(store) + 1:] for f in df.inputFiles()}


def _cell_files(spark, store, cids):
    """The data files in the latest manifest's directories of cells
    `cids` (nonempty)."""
    import os

    from cs686_big_data_p1_spark.sources.snapshots import read_manifest

    data = read_manifest(spark, store)[0]["data"]
    files = {
        f"{d}/{f}"
        for c in cids
        for d in data.get(str(c), [])
        for f in os.listdir(os.path.join(store, d))
        if f.endswith(".parquet")
    }
    assert files
    return files


def test_kmeans_cells_deterministic_and_better_than_seed(spark, registry):
    """The trained quantizer must be reproducible (fixed seed) and
    strictly better than the seed-vector cells it replaces: recomputing
    each partition's means in numpy, the k-means assignment's inertia
    (sum of squared distances to own-cell mean) must beat the
    seed-vector assignment's."""
    import numpy as np

    from cs686_big_data_p1_spark.operators.ann import _coarse_cells

    q = registry.QUERIES["kmeans_cells"]
    a = {r.vec_id: r.cell for r in q(spark, SF_SMALL).collect()}
    b = {r.vec_id: r.cell for r in q(spark, SF_SMALL).collect()}
    assert a == b and a  # seeded fit is reproducible
    from cs686_big_data_p1_spark.operators.ann import _nlist

    assert set(a.values()) <= set(range(_nlist(len(a))))
    assert len(set(a.values())) > 1

    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    }
    assert set(a) == set(emb)  # every vector got a cell

    _, _, assigned, _ = _coarse_cells(
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    )
    seed = {r.neighbor_id: r.cid for r in assigned.collect()}

    def inertia(assign):
        cells = {}
        for v, c in assign.items():
            cells.setdefault(c, []).append(emb[v])
        total = 0.0
        for vecs in cells.values():
            X = np.stack(vecs)
            total += ((X - X.mean(axis=0)) ** 2).sum()
        return total

    km = inertia(a)
    sv = inertia({v: c for v, c in seed.items()})
    assert km < sv, (km, sv)


def test_ivf_trained_recall_determinism_and_cell_bound(spark, registry):
    """The trained-quantizer IVF path must (a) be deterministic across
    runs (seeded k-means||), (b) keep recall vs brute force above the
    same floor as the seeded-centroid variants, and (c) only report
    neighbors from probed cells — the nprobe/nlist work bound."""
    from cs686_big_data_p1_spark.operators.ann import _coarse_cells

    t1 = _pairs(registry.QUERIES["knn_ivf_trained"](spark, SF_SMALL))
    t2 = _pairs(registry.QUERIES["knn_ivf_trained"](spark, SF_SMALL))
    assert t1 == t2
    assert len(t1) == 25
    bf = _pairs(registry.QUERIES["knn_bruteforce"](spark, SF_SMALL))
    recall = len(t1 & bf) / len(bf)
    assert recall >= 0.2, f"trained-IVF recall {recall} collapsed"

    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    _, probes, assigned, _ = _coarse_cells(e, trained=True)
    probed: dict[int, set[int]] = {}
    for r in probes.collect():
        probed.setdefault(r.query_id, set()).add(r.cid)
    cell_of = {r.neighbor_id: r.cid for r in assigned.collect()}
    for q, n in t1:
        assert cell_of[n] in probed[q], (q, n)


def test_ivfpq_recall_determinism_and_cell_bound(spark, registry):
    """IVFPQ (ADC shortlist + exact refine) must (a) be deterministic
    across runs, (b) keep recall vs brute force above the suite's
    floor, and (c) only report neighbors from probed cells — PQ
    scoring prunes WITHIN the IVF candidate set, never adds to it."""
    from cs686_big_data_p1_spark.operators.ann import _coarse_cells

    p1 = _pairs(registry.QUERIES["knn_ivfpq"](spark, SF_SMALL))
    p2 = _pairs(registry.QUERIES["knn_ivfpq"](spark, SF_SMALL))
    assert p1 == p2
    assert len(p1) == 25
    bf = _pairs(registry.QUERIES["knn_bruteforce"](spark, SF_SMALL))
    recall = len(p1 & bf) / len(bf)
    assert recall >= 0.2, f"IVFPQ recall {recall} collapsed"

    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    _, probes, assigned, _ = _coarse_cells(e)
    probed: dict[int, set[int]] = {}
    for r in probes.collect():
        probed.setdefault(r.query_id, set()).add(r.cid)
    cell_of = {r.neighbor_id: r.cid for r in assigned.collect()}
    for q, n in p1:
        assert cell_of[n] in probed[q], (q, n)


def test_ivfpq_planted_duplicate_rank1(spark):
    """ADC's defining guarantee: ADC(q, x) >= ADC(q, q) for every x
    (each subspace term is bounded below by the distance to q's own
    nearest centroid), so an exact copy of a query vector planted in
    the corpus must survive the ADC shortlist and the exact refine must
    put it at rank 1 with cosine ~1."""
    from cs686_big_data_p1_spark.operators.ann import (
        ANN_N_QUERIES,
        EMB_DIM,
        ivfpq_topk,
    )

    rng = random.Random(686)
    n = ANN_N_QUERIES + 16 + 40  # 61 vectors -> 2 adaptive cells
    rows = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(EMB_DIM)])
        for i in range(n)
    ]
    planted = ANN_N_QUERIES + 16 + 7
    rows[planted] = (planted, list(rows[2][1]))  # exact copy of query 2
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.query_id: r for r in ivfpq_topk(e).where("rank = 1").collect()}
    assert out[2].neighbor_id == planted
    assert out[2].cosine > 0.999


def test_semantic_dedup_keeps_centroid_nearest(spark):
    """SemDeDup contract on a planted corpus: an exact copy of a
    centroid vector and a slightly-perturbed near-copy land in that
    centroid's cell; the copy (cosine 1.0 to centroid) outranks the
    perturbed one, which must be DROPPED (cosine to the copy >>
    SEM_TAU) while the copy stays kept; far-apart random vectors all
    stay kept; every vector appears exactly once with a verdict."""
    import random

    from cs686_big_data_p1_spark.operators.ann import (
        ANN_N_QUERIES,
        EMB_DIM,
        semantic_dedup,
    )

    rng = random.Random(99)
    n = ANN_N_QUERIES + 16 + 30  # 51 vectors -> 2 adaptive cells
    rows = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(EMB_DIM)])
        for i in range(n)
    ]
    cent0 = ANN_N_QUERIES  # first centroid's vec_id
    copy_id = n - 2
    near_id = n - 1
    rows[copy_id] = (copy_id, list(rows[cent0][1]))
    rows[near_id] = (
        near_id,
        [x * 1.001 + 0.001 for x in rows[cent0][1]],
    )
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in semantic_dedup(e).collect()}
    assert len(out) == n  # every vector has a verdict
    assert out[cent0].cid == cent0 and out[cent0].kept
    assert out[copy_id].cid == cent0
    assert out[near_id].cid == cent0
    # the centroid vector itself (cosine 1.0, lowest vec_id) is the
    # representative; both planted near-copies must be dropped
    assert not out[copy_id].kept
    assert not out[near_id].kept
    # random 64-dim vectors are near-orthogonal in expectation (cosine
    # std ~ 1/8, threshold 0.35 ~ 2.8 sigma): a handful of chance
    # near-threshold pairs may drop, but the corpus must stay mostly
    # kept — only the planted structure is a guaranteed duplicate
    n_dropped = sum(1 for r in out.values() if not r.kept)
    assert 2 <= n_dropped <= n // 4


def test_semantic_cells_adapt_to_corpus_size(spark):
    """VERDICT r9 #3: the coarse-cell count must scale with the corpus
    (ncells = ceil(sqrt(n)) — the FAISS sizing), so the assignment pass
    (n x ncells) and the within-cell all-pairs volume (n x occupancy)
    are BOTH O(n^1.5) instead of re-quadratizing at 100x (the r10 sf1
    scale run measured exponent 1.24 for the linear-cell-count form
    before this sizing). On a corpus ~10x the old fixed-16-cell design
    point, the cell-id range must widen accordingly and no cell may
    hold more than a small multiple of the mean occupancy (uniform
    random vectors — the spread the adaptive count is sized for;
    adversarial duplicate pileups are the near-dups the operator
    exists to drop, not an occupancy bug)."""
    import random

    from cs686_big_data_p1_spark.operators.ann import (
        ANN_N_QUERIES,
        EMB_DIM,
        _nlist,
        semantic_dedup,
    )

    assert _nlist(500) == 23  # ceil(sqrt(500))
    assert _nlist(640) == 26 and _nlist(1) == 1 and _nlist(32_400) == 180

    rng = random.Random(7)
    n = 640
    rows = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(EMB_DIM)])
        for i in range(n)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    occ = (
        semantic_dedup(e)
        .groupBy("cid")
        .count()
        .collect()
    )
    cells = {r.cid for r in occ}
    assert cells <= set(range(ANN_N_QUERIES, ANN_N_QUERIES + _nlist(n)))
    assert len(cells) > 16  # genuinely more cells than the old constant
    assert max(r["count"] for r in occ) <= 5 * (n // _nlist(n) + 1)


def test_kmeans_lloyd_matches_numpy_recurrence(spark, registry):
    """kmeans_lloyd's distributed fixed-point rounds must equal an
    independent pure-numpy replay of the identical quantized
    recurrence (seeded centroids, integer distances, truncating-
    division recenters, dist/cid tie-break) — the pagerank-style
    proof that the distributed plan computes the DECLARED iteration,
    not merely "a" k-means."""
    import numpy as np

    from cs686_big_data_p1_spark.operators.ann import (
        ANN_N_QUERIES,
        LLOYD_ITERS,
        _LQ,
        _nlist,
    )
    from tests.conftest import SF_SMALL

    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").orderBy("vec_id")
    rows = e.collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array(
        [[float(x) for x in r.embedding] for r in rows], dtype=np.float64
    )
    Q = np.floor(X * _LQ).astype(np.int64)
    nlist = _nlist(len(ids))  # corpus-adaptive cell count
    cents = Q[(ids >= ANN_N_QUERIES) & (ids < ANN_N_QUERIES + nlist)]
    for it in range(1, LLOYD_ITERS + 1):
        # exact integer distances; argmin ties break on cid asc (np
        # argmin already returns the first minimum)
        d = ((Q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        dist = d[np.arange(len(Q)), assign]
        if it < LLOYD_ITERS:
            new = np.empty_like(cents)
            for c in range(len(cents)):
                members = Q[assign == c]
                s = members.sum(axis=0)
                n = len(members)
                # truncating integer division (Spark div / DuckDB //)
                new[c] = np.trunc(s / n).astype(np.int64)
            cents = new
    want = {int(v): (int(a), int(dd)) for v, a, dd in zip(ids, assign, dist)}
    got = {
        r.vec_id: (r.cell, r.dist_q)
        for r in registry.QUERIES["kmeans_lloyd"](spark, SF_SMALL).collect()
    }
    assert got == want


def test_pq_lloyd_matches_numpy_recurrence(spark, registry):
    """pq_encode_lloyd's codes AND knn_pq_adc's top-k must equal an
    independent pure-numpy replay of the per-subspace fixed-point
    Lloyd recurrence plus ADC table lookups — pinning the distributed
    train/encode/search pipeline to the declared iteration."""
    import numpy as np

    from cs686_big_data_p1_spark.operators.ann import (
        ANN_K,
        ANN_N_QUERIES,
        LLOYD_ITERS,
        PQ_K,
        PQ_M,
        PQ_SUB,
        _LQ,
    )
    from tests.conftest import SF_SMALL

    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").orderBy("vec_id")
    rows = e.collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array(
        [[float(x) for x in r.embedding] for r in rows], dtype=np.float64
    )
    Q = np.floor(X * _LQ).astype(np.int64)
    # per-subspace Lloyd: subspace m covers columns [m*PQ_SUB, (m+1)*PQ_SUB)
    codes = np.empty((len(ids), PQ_M), dtype=np.int64)
    cbs = []
    seed_mask = (ids >= ANN_N_QUERIES) & (ids < ANN_N_QUERIES + PQ_K)
    for m in range(PQ_M):
        S = Q[:, m * PQ_SUB : (m + 1) * PQ_SUB]
        cents = S[seed_mask]
        for it in range(1, LLOYD_ITERS + 1):
            d = ((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            if it < LLOYD_ITERS:
                new = np.empty_like(cents)
                for c in range(len(cents)):
                    mem = S[assign == c]
                    new[c] = np.trunc(mem.sum(axis=0) / len(mem)).astype(
                        np.int64
                    )
                cents = new
        codes[:, m] = assign
        cbs.append(cents)
    want_codes = {
        int(v): tuple(int(c) for c in codes[k]) for k, v in enumerate(ids)
    }
    got_codes = {
        r.vec_id: tuple(r[f"code_{m}"] for m in range(PQ_M))
        for r in registry.QUERIES["pq_encode_lloyd"](
            spark, SF_SMALL
        ).collect()
    }
    assert got_codes == want_codes
    # ADC: per-query distance tables over the final codebooks, summed
    # over the candidates' stored codes; top-k (adc asc, id asc)
    want_topk = {}
    qmask = ids < ANN_N_QUERIES
    for qi in np.nonzero(qmask)[0]:
        dts = [
            ((Q[qi, m * PQ_SUB : (m + 1) * PQ_SUB][None, :] - cbs[m]) ** 2)
            .sum(axis=1)
            for m in range(PQ_M)
        ]
        cand = [
            (
                sum(int(dts[m][codes[k, m]]) for m in range(PQ_M)),
                int(ids[k]),
            )
            for k in np.nonzero(ids >= ANN_N_QUERIES)[0]
        ]
        cand.sort()
        want_topk[int(ids[qi])] = [
            (nid, d, rk + 1) for rk, (d, nid) in enumerate(cand[:ANN_K])
        ]
    got_topk = {}
    for r in (
        registry.QUERIES["knn_pq_adc"](spark, SF_SMALL)
        .orderBy("query_id", "rank")
        .collect()
    ):
        got_topk.setdefault(r.query_id, []).append(
            (r.neighbor_id, r.adc_q, r.rank)
        )
    assert got_topk == want_topk


def test_lloyd_sampled_rounds_equal_distributed_rounds(spark):
    """_lloyd's driver-side numpy rounds (sampled form) and its
    distributed rounds must compute the same recurrence: fed the same
    quantized points and the same seeds — a "sample" holding every
    point, ranked so its first k are the distributed form's seed
    vectors — both return identical codebooks and assignments. The
    data plant an exact distance tie (the point (5, 0) is 25 from all
    three seeds and must go to cid 0), a memberless cell (seed cid 2
    duplicates seed cid 0, loses every tie, and must drop from the
    codebook), and a negative member sum that truncating division
    rounds toward zero (floor would give -1). Checked unkeyed (the IVF
    quantizer) and keyed on the PQ subspace s."""
    from cs686_big_data_p1_spark.operators.ann import ANN_N_QUERIES as NQ
    from cs686_big_data_p1_spark.operators.ann import _lloyd

    s0 = {
        0: [3, 3],  # a query row: trained on like any other point
        NQ: [0, 0],
        NQ + 1: [10, 0],
        NQ + 2: [0, 0],
        NQ + 3: [5, 0],
        NQ + 4: [11, 2],
        NQ + 5: [-1, 1],
        NQ + 6: [9, -3],
    }
    s1 = {
        0: [1, 1],
        NQ: [0, 5],
        NQ + 1: [4, 4],
        NQ + 2: [8, 0],
        NQ + 3: [2, 2],
        NQ + 4: [7, 1],
        NQ + 5: [4, 5],
        NQ + 6: [0, -7],
    }
    # sample rank: the candidates in id order, then the query row
    samp = spark.createDataFrame(
        [(v, v - NQ + 1 if v >= NQ else 100 + v) for v in s0],
        "vec_id long, rk int",
    )

    def both_forms(pts, by):
        out = []
        for sample in (None, samp):
            assigned, cb = _lloyd(pts, 3, 3, by, sample)
            out.append((
                sorted(
                    (r.vec_id, *[r[b] for b in by], int(r.cid), r.dist)
                    for r in assigned.collect()
                ),
                sorted(
                    (*[r[b] for b in by], int(r.cid), tuple(r.cq_arr))
                    for r in cb.collect()
                ),
            ))
        assert out[0] == out[1]
        return out[0]

    flat = spark.createDataFrame(
        list(s0.items()), "vec_id long, sub_q array<bigint>"
    )
    assigned, codebook = both_forms(flat, ())
    assert codebook == [(0, (1, 0)), (1, (10, 0))]
    assert (NQ + 3, 0, 16) in assigned

    keyed = spark.createDataFrame(
        [(v, s, q) for s, pts in enumerate((s0, s1)) for v, q in pts.items()],
        "vec_id long, s int, sub_q array<bigint>",
    )
    assigned_k, codebook_k = both_forms(keyed, ("s",))
    assert [c[1:] for c in codebook_k if c[0] == 0] == codebook
    assert [
        (v, c, d) for v, s, c, d in assigned_k if s == 0
    ] == assigned
    assert len([c for c in codebook_k if c[0] == 1]) == 3


def test_ann_recall_all_covers_every_method_with_floor(spark, registry):
    """The five-method recall report must carry one row per index
    (lsh, seeded ivf, Lloyd-trained ivf, ivfpq, raw pq_adc), each with
    n_hits <= n_true and recall = n_hits/n_true, and every method must
    clear the suite's recall floor at sf0.001 — the report exists to
    make index tuning empirical, so a collapsed cosine method must
    fail loudly here (pq_adc is L2-metric — see inline note)."""
    rows = {
        r.method: r
        for r in registry.QUERIES["ann_recall_all"](spark, SF_SMALL).collect()
    }
    assert set(rows) == {"lsh", "ivf", "ivf_trained", "ivfpq", "pq_adc"}
    for m, r in rows.items():
        assert 0 <= r.n_hits <= r.n_true, m
        assert abs(r.recall - r.n_hits / r.n_true) < 1e-12, m
    # the four cosine-metric indexes must clear the suite floor; raw
    # pq_adc ranks by L2 over non-normalized vectors, so its recall vs
    # the COSINE ground truth is the metric-mismatch diagnostic the
    # report exists to surface (near zero on norm-varying data), not a
    # quality floor
    for m in ("lsh", "ivf", "ivf_trained", "ivfpq"):
        assert rows[m].recall >= 0.2, f"{m} recall collapsed"


def test_corpus_count_memo_structural_staleness_guard(spark, tmp_path):
    """ADVICE r11: the memo's correctness must not rest on every
    caller remembering clear_caches(). The key carries a (size,
    mtime_ns) fingerprint of every fixture table, so a REWRITTEN
    fixture dir yields the fresh count even when nobody cleared the
    memo between queries."""
    import os

    from cs686_big_data_p1_spark import registry
    from cs686_big_data_p1_spark.operators.ann import _corpus_n

    registry.clear_caches()
    sf_dir = str(tmp_path)
    path = f"{sf_dir}/embeddings.parquet"
    emb = [float(i) for i in range(8)]
    spark.createDataFrame(
        [(i, emb) for i in range(5)], "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    assert _corpus_n(spark, sf_dir) == 5

    # Rewrite the fixture IN PLACE with a different row count and a
    # bumped mtime — no clear_caches() in between.
    spark.createDataFrame(
        [(i, emb) for i in range(9)], "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    os.utime(
        path, ns=(os.stat(path).st_mtime_ns + 1, os.stat(path).st_mtime_ns + 1)
    )
    assert _corpus_n(spark, sf_dir) == 9
    registry.clear_caches()


def test_ivf_append_merge_equals_batch_and_is_searchable(spark):
    """knn_ivf_append (VERDICT r11 #8): the append contract is that
    folding a delta batch into a FROZEN index loses nothing vs
    rebuilding the index's assignment from scratch with the same
    codebook — assignment depends only on (row, codebook). Pin:
    (1) merged incremental assignment == single-pass batch assignment
    over base ∪ delta against the same frozen centroids, row for row;
    (2) delta vectors are retrievable through the merged search (the
    fixture surfaces from_delta rows) and every from_delta row is
    genuinely in the delta residue class;
    (3) recall vs brute force clears the same floor the other
    approximate methods are held to (the frozen quantizer is sized on
    the base only, so parity with the full-retrain knn_ivf is NOT
    expected — measured 0.36 vs 0.48 at sf0.001, the honest price of
    not retraining)."""
    from pyspark.sql import functions as F

    from cs686_big_data_p1_spark import registry
    from cs686_big_data_p1_spark.operators.ann import (
        ANN_N_QUERIES,
        DELTA_MOD,
        DELTA_RES,
        _append_parts,
        _cos_rank,
        knn_ivf_append,
    )
    from cs686_big_data_p1_spark.operators.llm import knn_bruteforce

    vecs, _base, delta, cents, merged, _probes = _append_parts(
        spark, SF_SMALL
    )
    assert delta.count() > 0  # the residue class is populated
    batch = (
        _cos_rank(vecs.where(F.col("vec_id") >= ANN_N_QUERIES), cents, 1)
        .select(F.col("vec_id").alias("neighbor_id"), "cid")
    )
    m = {(r.neighbor_id, r.cid) for r in merged.collect()}
    b = {(r.neighbor_id, r.cid) for r in batch.collect()}
    assert m == b, "incremental merge diverged from batch assignment"
    registry.clear_caches()

    rows = knn_ivf_append(spark, SF_SMALL).collect()
    registry.clear_caches()
    assert {r.query_id for r in rows} == set(range(ANN_N_QUERIES))
    for r in rows:
        assert r.from_delta == (r.neighbor_id % DELTA_MOD == DELTA_RES)
    assert any(r.from_delta for r in rows), (
        "no delta vector retrievable through the merged search"
    )

    truth = {
        (r.query_id, r.neighbor_id)
        for r in knn_bruteforce(spark, SF_SMALL).collect()
    }
    registry.clear_caches()
    got = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(got & truth) / len(truth) >= 0.2, "append recall collapsed"


def test_ivf_imbalance_flags_exact_integer_hot(spark):
    """ivf_imbalance completes knn_ivf_append's story: per-cell
    occupancy of the merged frozen-quantizer assignment with the exact
    cross-multiplied hot flag (occupancy > 3x mean, no division in the
    boolean). Pin end-to-end: occupancies sum to the candidate count,
    every codebook cell is present (empty cells kept — the dead-cell
    drift signal), n_delta counts exactly the residue class, and the
    hot flag equals the integer cross-multiply recomputed in python on
    BOTH branches' inputs."""
    from cs686_big_data_p1_spark import registry
    from cs686_big_data_p1_spark.operators.ann import (
        ANN_N_QUERIES,
        DELTA_MOD,
        DELTA_RES,
        IMBALANCE_DEN,
        IMBALANCE_NUM,
        _append_parts,
        ivf_imbalance,
    )

    rows = ivf_imbalance(spark, SF_SMALL).collect()
    registry.clear_caches()
    _v, base, delta, cents, merged, _p = _append_parts(spark, SF_SMALL)
    n_cand = base.count() + delta.count()
    n_cents = len(cents)
    n_delta_total = delta.count()
    m = [(r.neighbor_id, r.cid) for r in merged.collect()]
    registry.clear_caches()

    assert len(rows) == n_cents  # every cell reported, empty included
    assert sum(r.occupancy for r in rows) == n_cand == len(m)
    assert sum(r.n_delta for r in rows) == n_delta_total
    by_cid = {}
    for nid, cid in m:
        by_cid.setdefault(cid, [0, 0])
        by_cid[cid][0] += 1
        by_cid[cid][1] += int(nid % DELTA_MOD == DELTA_RES)
    n_total, n_cells = len(m), len(rows)
    for r in rows:
        occ, nd = by_cid.get(r.cid, [0, 0])
        assert (r.occupancy, r.n_delta) == (occ, nd), r.cid
        assert r.hot == (
            occ * n_cells * IMBALANCE_DEN > n_total * IMBALANCE_NUM
        ), r.cid


def test_embedding_drift_flag_is_exact_cross_multiply(spark, registry):
    """embedding_drift's boolean must equal |Δmean| > 0.05 computed on
    the exact integer sums (no float in the decision): recompute both
    the fixed-point sums and the cross-multiplied flag in numpy from
    the raw parquet and pin every row; on the near-isotropic fixture
    the residue-class split should drift on no (or almost no)
    dimension — assert the flag count is small, so a sign error that
    inverts the comparison cannot pass."""
    import numpy as np
    import pandas as pd

    from cs686_big_data_p1_spark.operators.ann import (
        ANN_N_QUERIES,
        DELTA_MOD,
        DELTA_RES,
        DRIFT_DEN,
        DRIFT_NUM,
    )

    sf = "/root/testdata/sf0.001"
    rows = registry.QUERIES["embedding_drift"](spark, sf).collect()
    registry.clear_caches()
    emb = pd.read_parquet(f"{sf}/embeddings.parquet")
    emb = emb[emb.vec_id >= ANN_N_QUERIES]
    x = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    q = np.floor(x * 1e6).astype(np.int64)
    dmask = (emb.vec_id.to_numpy() % DELTA_MOD) == DELTA_RES
    sxb, sxd = q[~dmask].sum(axis=0), q[dmask].sum(axis=0)
    nb, nd = int((~dmask).sum()), int(dmask.sum())
    assert len(rows) == x.shape[1]
    for r in rows:
        k = r.dim - 1
        assert (r.base_sum_e6, r.delta_sum_e6) == (sxb[k], sxd[k])
        assert (r.n_base, r.n_delta) == (nb, nd)
        want = (
            abs(int(sxd[k]) * nb - int(sxb[k]) * nd) * DRIFT_DEN
            > nb * nd * 1_000_000 * DRIFT_NUM
        )
        assert r.drift == want, r.dim
    assert sum(r.drift for r in rows) <= len(rows) // 4  # isotropic fixture


def test_append_ivf_store_folds_delta_without_rewriting_base(
    spark, tmp_path
):
    """The storage half of the append story: write the base-only store
    ("the index built yesterday"), fold the delta batch in with
    append_ivf_store, and pin that (1) the merged store's vec->cid map
    equals knn_ivf_append's merged assignment exactly, (2) the base
    corpus's parquet files are byte-identical after the fold (dynamic
    partition APPEND adds files, never rewrites), and (3)
    a probe of the merged store still reads only the probed cells'
    files."""
    import os

    from cs686_big_data_p1_spark import registry
    from cs686_big_data_p1_spark.operators.ann import (
        _append_parts,
        append_ivf_store,
        read_ivf_store,
        write_ivf_base_store,
    )

    store = str(tmp_path / "ivf")
    write_ivf_base_store(spark, SF_SMALL, store)
    registry.clear_caches()

    def snapshot(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
        return out

    before = snapshot(store)
    append_ivf_store(spark, SF_SMALL, store)
    registry.clear_caches()
    after = snapshot(store)
    # every pre-fold data file survives untouched (same size); the fold
    # only ADDS files
    for rel, size in before.items():
        if rel.endswith(".parquet"):
            assert after.get(rel) == size, f"base file rewritten: {rel}"
    assert len(after) > len(before)

    merged_store = {
        (r.vec_id, r.cid)
        for r in read_ivf_store(spark, store, rows="all").collect()
    }
    _v, _b, _d, _c, merged, _p = _append_parts(spark, SF_SMALL)
    want = {(r.neighbor_id, r.cid) for r in merged.collect()}
    registry.clear_caches()
    assert merged_store == want

    probed = read_ivf_store(spark, store, [7, 9], "all")
    assert _input_files(probed, store) == _cell_files(spark, store, [7, 9])

    # Idempotence: a RETRIED fold (orchestrator re-run) must be a
    # no-op — the anti-join on existing vec_ids keeps the store free
    # of duplicate delta rows.
    append_ivf_store(spark, SF_SMALL, store)
    registry.clear_caches()
    again = read_ivf_store(spark, store, rows="all")
    assert {(r.vec_id, r.cid) for r in again.collect()} == want
    assert again.count() == len(want)


def test_ivf_store_prune_scan_is_partition_pruned(spark, registry):
    """ivf_store_prune's docstring promise (VERDICT r12 #1): the
    measured probe pass reads only the probed cells' files of the
    PHYSICAL store, and the report's totals must be internally
    consistent (nonempty <= probed <= total cells; scanned rows
    between 0 and the store total; every probe list nprobe-wide)."""
    from cs686_big_data_p1_spark.operators.ann import (
        ANN_N_QUERIES,
        IVF_NPROBE,
        _ivf_store_ready,
        read_ivf_store,
    )

    df = registry.QUERIES["ivf_store_prune"](spark, SF_SMALL)
    rows = df.collect()
    assert len(rows) == ANN_N_QUERIES
    for r in rows:
        assert r.cells_probed == min(IVF_NPROBE, r.cells_total)
        assert 0 <= r.cells_nonempty <= r.cells_probed
        assert 0 <= r.rows_scanned <= r.rows_total
        assert 0 <= r.delta_rows_scanned <= r.rows_scanned
        assert abs(r.scan_fraction - r.rows_scanned / r.rows_total) < 1e-12
        # pruning is real: a 4-of-nlist probe never scans everything —
        # but only when there ARE unprobed cells (ADVICE r13: a tiny
        # fixture with nlist <= nprobe legitimately scans all rows)
        if r.cells_total > IVF_NPROBE:
            assert r.rows_scanned < r.rows_total

    # Re-derive the probe scan the query builds: it reads exactly the
    # probed cells' files.
    path = _ivf_store_ready(spark, SF_SMALL)
    probed = read_ivf_store(spark, path, [7, 9], "all")
    assert _input_files(probed, path) == _cell_files(spark, path, [7, 9])


def test_ivf_nprobe_sweep_monotone_and_agrees_with_full_probe(
    spark, registry
):
    """ivf_nprobe_sweep: recall must be monotone nondecreasing in
    nprobe (a wider probe never removes candidates), every row shares
    the same truth denominator, and the nprobe = IVF_NPROBE row must
    agree EXACTLY with recall computed from knn_ivf's own top-k (the
    sweep's last level IS the production probe width)."""
    from pyspark.sql import functions as F

    from cs686_big_data_p1_spark.operators.ann import ANN_K, IVF_NPROBE

    rows = sorted(
        registry.QUERIES["ivf_nprobe_sweep"](spark, SF_SMALL).collect(),
        key=lambda r: r.nprobe,
    )
    registry.clear_caches()
    assert [r.nprobe for r in rows] == list(range(1, IVF_NPROBE + 1))
    assert len({r.n_true for r in rows}) == 1
    recalls = [r.recall for r in rows]
    assert all(a <= b + 1e-12 for a, b in zip(recalls, recalls[1:]))
    for r in rows:
        assert 0.0 <= r.recall <= 1.0
        assert abs(r.recall - r.n_hits / r.n_true) < 1e-12

    truth = {
        (x.query_id, x.neighbor_id)
        for x in registry.QUERIES["knn_bruteforce"](spark, SF_SMALL)
        .select("query_id", "neighbor_id")
        .collect()
    }
    registry.clear_caches()
    ivf = {
        (x.query_id, x.neighbor_id)
        for x in registry.QUERIES["knn_ivf"](spark, SF_SMALL)
        .where(F.col("rank") <= ANN_K)
        .select("query_id", "neighbor_id")
        .collect()
    }
    registry.clear_caches()
    assert rows[-1].n_hits == len(ivf & truth)


def _cos_rank_reference(vecs, book, k):
    """The relational form _cos_rank replaced, kept here as its
    reference: crossJoin with the codebook, fixed-point cosine, and a
    row_number window per vec_id ordered by (cscore DESC, cid ASC)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from cs686_big_data_p1_spark.functions.vector import pair_dot_pd

    cents = vecs.sparkSession.createDataFrame(
        book, "cid bigint, cent_emb array<float>, cent_norm double"
    )
    cscore = (
        pair_dot_pd(F.col("embedding"), F.col("cent_emb"))
        / (F.col("norm") * F.col("cent_norm"))
    ).alias("cscore")
    w = Window.partitionBy("vec_id").orderBy(F.desc("cscore"), F.asc("cid"))
    return (
        vecs.crossJoin(cents)
        .select("vec_id", "cid", cscore)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def _rank_rows(df):
    return sorted((r.vec_id, r.cid, r.cscore.hex(), r.rk) for r in df.collect())


def test_cos_rank_kernel_equals_relational_reference(spark):
    """The _cos_rank Arrow kernel returns exactly the rows of the
    crossJoin + window form it replaced — (vec_id, cid, cscore bits,
    rk) — at two scale factors and for k = 1, IVF_NPROBE and more
    cells than the codebook holds; an exact tie (a duplicated
    centroid) resolves to the lower cid; empty input and an empty
    codebook give typed empty frames; a zero-norm row still raises
    ANSI DIVIDE_BY_ZERO."""
    import pytest

    from cs686_big_data_p1_spark.operators.ann import (
        IVF_NPROBE,
        _cos_rank,
        _nlist,
        _seed_book,
        _with_norm,
    )
    from cs686_big_data_p1_spark.tables import load_table

    for sf in (SF_SMALL, "/root/testdata/sf0.01"):
        e = load_table(spark, sf, "embeddings")
        vecs = _with_norm(e)
        nlist = _nlist(e.count())
        book = _seed_book(e, nlist)
        assert len(book) == nlist
        for k in (1, IVF_NPROBE, nlist + 1):
            got = _cos_rank(vecs, book, k)
            want = _cos_rank_reference(vecs, book, k)
            assert got.schema == want.schema
            assert _rank_rows(got) == _rank_rows(want), (sf, k)

    # An exact tie: cid -1 duplicates the last centroid, so every row
    # scores the two equally and must rank -1 first.
    e = load_table(spark, SF_SMALL, "embeddings")
    vecs = _with_norm(e)
    book = _seed_book(e, _nlist(e.count()))
    twin = book[-1]
    tied = [(-1, list(twin.cent_emb), twin.cent_norm)] + list(book)
    k = len(tied)
    got = _cos_rank(vecs, tied, k)
    assert _rank_rows(got) == _rank_rows(_cos_rank_reference(vecs, tied, k))
    rk = {(r.vec_id, r.cid): r.rk for r in got.collect()}
    for v in {v for v, _ in rk}:
        assert rk[(v, -1)] + 1 == rk[(v, twin.cid)], v

    # Typed empty frames: no input rows, or no cells.
    want_schema = _cos_rank_reference(vecs, book, 1).schema
    for empty in (_cos_rank(vecs.limit(0), book, 3), _cos_rank(vecs, [], 3)):
        assert empty.schema == want_schema
        assert empty.collect() == []

    # A zero-norm row divides by zero, as the relational form did.
    zero = spark.createDataFrame(
        [(0, [0.0] * len(twin.cent_emb))], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _cos_rank(_with_norm(zero), book, 1).collect()
