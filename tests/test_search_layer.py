"""The ANN family's search layer on tiny hand-built frames.

exact_cosine and top_k (functions/vector.py) and recall_report
(operators/ann.py) carry the two decisions every ANN oracle replays —
the fixed-point cosine and the (score, ascending neighbor_id) ranking
rule — plus the micro-averaged recall arithmetic of every report
query. These tests pin each on inputs small enough to check by hand:
planted exact score ties, the k cut, the (p, query_id) partition, a
method with no hits, and empty candidate frames.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

# (query_id, neighbor_id, score): ties at 2 (ids 3, 5) and 3 (ids 1, 9)
TIED = [(0, 5, 2), (0, 3, 2), (0, 4, 1), (0, 9, 3), (0, 1, 3), (1, 7, 0)]


def _ranked(df):
    return [
        (r.query_id, r.neighbor_id, r.rank)
        for r in df.orderBy("query_id", "rank").collect()
    ]


def test_top_k_ties_ascending_neighbor_both_orders_and_k_cut(spark):
    from cs686_big_data_p1_spark.functions.vector import top_k

    scored = spark.createDataFrame(
        TIED, "query_id long, neighbor_id long, score long"
    )
    assert _ranked(top_k(scored, "score", 3)) == [
        (0, 1, 1), (0, 9, 2), (0, 3, 3), (1, 7, 1),
    ]
    assert _ranked(top_k(scored, "score", 3, asc=True)) == [
        (0, 4, 1), (0, 3, 2), (0, 5, 3), (1, 7, 1),
    ]
    assert _ranked(top_k(scored, "score", 1)) == [(0, 1, 1), (1, 7, 1)]
    assert top_k(scored, "score", 3).columns == [
        "query_id", "neighbor_id", "score", "rank",
    ]


def test_top_k_partition_keys(spark):
    from cs686_big_data_p1_spark.functions.vector import top_k

    rows = [(p, q, n, s) for p in (1, 2) for q, n, s in TIED]
    rows += [(2, 0, 8, 9)]  # only in level 2: outranks the whole level
    scored = spark.createDataFrame(
        rows, "p int, query_id long, neighbor_id long, score long"
    )
    got = sorted(
        (r.p, r.query_id, r.neighbor_id, r.rank)
        for r in top_k(scored, "score", 2, by=("p", "query_id")).collect()
    )
    assert got == [
        (1, 0, 1, 1), (1, 0, 9, 2), (1, 1, 7, 1),
        (2, 0, 1, 2), (2, 0, 8, 1), (2, 1, 7, 1),
    ]
    # partitioned by query alone, both levels compete for one k
    assert len(top_k(scored, "score", 2).where("query_id = 0").collect()) == 2


def _vecs(spark, rows):
    from cs686_big_data_p1_spark.functions.vector import norm

    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, cid long"
    ).select("vec_id", "embedding", norm(F.col("embedding")).alias("norm"), "cid")


def _fixed_cos(a, b):
    """The engine's fixed-point cosine, in numpy over float32 inputs."""
    a = np.asarray(a, dtype=np.float32).astype(np.float64)
    b = np.asarray(b, dtype=np.float32).astype(np.float64)
    dot = np.floor(a * b * 1e12).astype(np.int64).sum() / 1e12
    na = np.sqrt(np.floor(a * a * 1e12).astype(np.int64).sum() / 1e12)
    nb = np.sqrt(np.floor(b * b * 1e12).astype(np.int64).sum() / 1e12)
    return dot / (na * nb)


QV = [(0, [1.0, 0.0], 0), (1, [0.0, 1.0], 0)]
# ids 10 and 11 are the same vector: an exact cosine tie for both queries
CV = [
    (10, [0.6, 0.8], 100),
    (11, [0.6, 0.8], 100),
    (12, [0.8, 0.6], 101),
    (13, [-1.0, 0.0], 102),
]


def test_exact_cosine_all_pairs_matches_fixed_point_and_ties(spark):
    from cs686_big_data_p1_spark.functions.vector import exact_cosine, top_k

    q = _vecs(spark, QV).drop("cid")
    c = _vecs(spark, CV).drop("cid")
    scored = exact_cosine(q, c)
    assert scored.columns == ["query_id", "neighbor_id", "cosine"]
    emb = {i: v for i, v, _ in QV + CV}
    got = {(r.query_id, r.neighbor_id): r.cosine for r in scored.collect()}
    assert got == {
        (qi, ci): _fixed_cos(emb[qi], emb[ci])
        for qi, _, _ in QV
        for ci, _, _ in CV
    }
    assert _ranked(top_k(scored, "cosine", 3)) == [
        (0, 12, 1), (0, 10, 2), (0, 11, 3),
        (1, 10, 1), (1, 11, 2), (1, 12, 3),
    ]


def test_exact_cosine_joined_candidates_and_keep(spark):
    from cs686_big_data_p1_spark.functions.vector import exact_cosine

    q = _vecs(spark, QV).drop("cid")
    c = _vecs(spark, CV)
    cand = spark.createDataFrame(
        [(0, 10, 1), (0, 12, 2), (1, 11, 1)],
        "query_id long, neighbor_id long, prk int",
    )
    by_id = exact_cosine(q, c.drop("cid"), cand, keep=("prk",))
    assert by_id.columns == ["query_id", "neighbor_id", "prk", "cosine"]
    assert sorted(
        (r.query_id, r.neighbor_id, r.prk) for r in by_id.collect()
    ) == [(0, 10, 1), (0, 12, 2), (1, 11, 1)]
    probes = spark.createDataFrame(
        [(0, 100), (1, 102)], "query_id long, cid long"
    )
    by_cell = exact_cosine(q, c, F.broadcast(probes), on="cid")
    assert sorted(
        (r.query_id, r.neighbor_id) for r in by_cell.collect()
    ) == [(0, 10), (0, 11), (1, 13)]


def test_exact_cosine_empty_candidates_typed_empty(spark):
    from cs686_big_data_p1_spark.functions.vector import exact_cosine, top_k

    q = _vecs(spark, QV).drop("cid")
    c = _vecs(spark, CV).drop("cid")
    none = spark.createDataFrame([], "query_id long, neighbor_id long")
    out = top_k(exact_cosine(q, c, none), "cosine", 2)
    assert out.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("query_id", "bigint"),
        ("neighbor_id", "bigint"),
        ("cosine", "double"),
        ("rank", "int"),
    ]
    no_c = exact_cosine(q, c.where("vec_id < 0"))
    assert top_k(no_c, "cosine", 2).collect() == []


def test_recall_report_counts_zero_hit_methods(spark):
    from cs686_big_data_p1_spark.operators.ann import recall_report

    truth = spark.createDataFrame(
        [(0, 10), (0, 12), (1, 11), (1, 10)], "query_id long, neighbor_id long"
    )
    approx = spark.createDataFrame(
        [("a", 0, 10), ("a", 0, 13), ("a", 1, 11), ("b", 0, 99)],
        "method string, query_id long, neighbor_id long",
    )
    methods = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "method string, code_bytes int"
    )
    rep = recall_report(truth, approx, methods)
    assert rep.columns == [
        "method", "code_bytes", "n_hits", "n_true", "recall",
    ]
    got = {tuple(r) for r in rep.collect()}
    assert got == {("a", 1, 2, 4, 0.5), ("b", 2, 0, 4, 0.0), ("c", 3, 0, 4, 0.0)}
    empty = recall_report(truth, approx.where("method = 'none'"), methods)
    assert {(r.method, r.n_hits, r.recall) for r in empty.collect()} == {
        ("a", 0, 0.0), ("b", 0, 0.0), ("c", 0, 0.0),
    }


def test_recall_report_keyed_on_probe_level(spark):
    from cs686_big_data_p1_spark.operators.ann import recall_report

    truth = spark.createDataFrame([(0, 10), (0, 11)], "query_id long, neighbor_id long")
    topk = spark.createDataFrame(
        [(1, 0, 10), (2, 0, 10), (2, 0, 11)],
        "p int, query_id long, neighbor_id long",
    )
    levels = spark.createDataFrame([(1,), (2,), (3,)], "p int")
    got = sorted(tuple(r) for r in recall_report(truth, topk, levels).collect())
    assert got == [(1, 1, 2, 0.5), (2, 2, 2, 1.0), (3, 0, 2, 0.0)]
