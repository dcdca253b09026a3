"""The dedup family's candidate-pair layer on tiny hand-built frames.

bucket_pairs and set_overlap (functions/pairs.py) carry the decisions
every dedup oracle replays: which buckets are too crowded to pair, the
pair rule (a < b, or a != b when directed), one row per pair however
many buckets it shares, and the exact intersection counts behind every
Jaccard and set cosine. These tests pin each on inputs small enough to
check by hand.
"""

from __future__ import annotations

import itertools
import random

SIGS = "doc_id long, k int, bval long"


def _pairs(df):
    return sorted((r[0], r[1]) for r in df.collect())


def test_bucket_pairs_cap_is_inclusive(spark):
    from cs686_big_data_p1_spark.functions.pairs import bucket_pairs

    cap = 4
    at_cap = [(i, 0, 7) for i in range(cap)]  # exactly cap members: kept
    over = [(10 + i, 1, 7) for i in range(cap + 1)]  # cap + 1: skipped
    out = bucket_pairs(
        spark.createDataFrame(at_cap + over, SIGS), "doc_id", ["k", "bval"], cap
    )
    assert _pairs(out) == list(itertools.combinations(range(cap), 2))


def test_bucket_pairs_one_row_per_pair_and_pair_rule(spark):
    from cs686_big_data_p1_spark.functions.pairs import bucket_pairs

    rows = [(1, k, 5) for k in range(3)] + [(2, k, 5) for k in range(3)]
    rows += [(3, 0, 9), (4, 1, 9), (5, 2, 9)]  # singleton buckets
    sigs = spark.createDataFrame(rows, SIGS)
    und = bucket_pairs(sigs, "doc_id", ["k", "bval"], 50)
    assert und.columns == ["doc_a", "doc_b"]
    assert _pairs(und) == [(1, 2)]  # three shared buckets, one pair
    directed = bucket_pairs(sigs, "doc_id", ["k", "bval"], 50, directed=True)
    assert _pairs(directed) == [(1, 2), (2, 1)]


def test_bucket_pairs_singletons_and_empty_input(spark):
    from cs686_big_data_p1_spark.functions.pairs import bucket_pairs

    singles = spark.createDataFrame([(i, 0, i) for i in range(5)], SIGS)
    assert bucket_pairs(singles, "doc_id", ["k", "bval"], 50).count() == 0
    empty = spark.createDataFrame([], "vec_id long, g long")
    out = bucket_pairs(empty, "vec_id", "g", 50, directed=True)
    assert out.dtypes == [("vec_a", "bigint"), ("vec_b", "bigint")]
    assert out.count() == 0


def test_set_overlap_matches_python_intersection(spark):
    from cs686_big_data_p1_spark.functions.pairs import set_overlap

    rng = random.Random(2008)
    sets = {d: set(rng.sample(range(12), rng.randint(1, 8))) for d in range(9)}
    rows = [(d, h) for d, hs in sets.items() for h in sorted(hs)]
    frame = spark.createDataFrame(rows, "doc_id long, h long")
    cand = list(itertools.combinations(range(9), 2))
    got = set_overlap(
        spark.createDataFrame(cand, "doc_a long, doc_b long"), frame, "h"
    )
    assert got.columns == ["doc_a", "doc_b", "n_inter", "n_a", "n_b"]
    want = sorted(
        (a, b, len(sets[a] & sets[b]), len(sets[a]), len(sets[b]))
        for a, b in cand
        if sets[a] & sets[b]  # a pair sharing nothing has no row
    )
    assert sorted(tuple(r) for r in got.collect()) == want
