"""Pins for the retrieval (operators/search.py), graph
(operators/graph.py), and cohort (sessions.retention_cohorts)
operators beyond the DuckDB oracle: structural invariants the
hash-compare can't express (two-level top-K == naive top-K, PageRank
mass conservation, cohort-triangle identities) plus planted fixtures
for the ranking edge cases.
"""

from __future__ import annotations

import pandas as pd

from tests.conftest import SF_SMALL


def _write_docs(tmp_path, texts):
    pd.DataFrame(
        [(i, t, "en", f"src{i % 3}", len(t)) for i, t in enumerate(texts)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(str(tmp_path / "documents.parquet"), index=False)
    return str(tmp_path)


# ------------------------------ inverted_index ------------------------------


def test_inverted_index_two_level_topk_matches_naive(spark):
    """The bucketed pre-top-K must be invisible: result == the naive
    single-window per-term top-K recomputed in pandas from raw tf."""
    from pyspark.sql import functions as F

    from cs686_big_data_p1_spark.operators.search import (
        POSTINGS_K,
        inverted_index,
    )
    from cs686_big_data_p1_spark.tables import load_table

    got = inverted_index(spark, SF_SMALL).toPandas()

    d = load_table(spark, SF_SMALL, "documents").where(F.length("text") > 0)
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .count()
        .toPandas()
    )
    tf = tf.rename(columns={"count": "tf"})
    tf = tf.sort_values(["term", "tf", "doc_id"], ascending=[True, False, True])
    naive = tf.groupby("term").head(POSTINGS_K)

    got_key = set(map(tuple, got[["term", "doc_id", "tf"]].values))
    naive_key = set(map(tuple, naive[["term", "doc_id", "tf"]].values))
    assert got_key == naive_key
    # df column is constant per term and equals the true df
    true_df = tf.groupby("term").size()
    for term, sub in got.groupby("term"):
        assert set(sub["df"]) == {true_df[term]}
        assert sorted(sub["rnk"]) == list(range(1, len(sub) + 1))


# ------------------------------ bm25_search ---------------------------------


def test_bm25_prefers_term_dense_short_docs(spark, tmp_path):
    """Planted corpus: a short doc saturated with a rare query term
    must outrank long padding docs that mention it once; docs without
    any query term must not appear at all."""
    from cs686_big_data_p1_spark.operators.search import (
        BM25_TERMS,
        bm25_search,
    )

    t = BM25_TERMS[0]
    texts = (
        [f"{t} {t} {t} {t}"]  # doc 0: dense in the query term
        + [("pad " * 60) + t for _ in range(3)]  # 1-3: one mention, long
        + ["pad only filler text" for _ in range(6)]  # 4-9: no query term
    )
    out = bm25_search(spark, _write_docs(tmp_path, texts)).toPandas()
    out = out.sort_values("rnk")
    assert list(out["doc_id"])[0] == 0  # dense short doc wins
    assert set(out["doc_id"]).isdisjoint(set(range(4, 10)))
    assert (out["score_e6"] > 0).all()
    # ranks are 1..n with scores non-increasing
    assert list(out["rnk"]) == list(range(1, len(out) + 1))
    assert (out["score_e6"].diff().dropna() <= 0).all()


# ---------------------------- collocations_lift -----------------------------


def test_collocations_planted_pair_tops_lift(spark, tmp_path):
    """Two rare words that ONLY ever occur as an adjacent pair get the
    maximal possible lift N / count and must rank first."""
    from cs686_big_data_p1_spark.operators.search import (
        COLLOC_MIN_COUNT,
        collocations_lift,
    )

    pair_doc = "alpha beta " * COLLOC_MIN_COUNT  # alpha->beta x5
    noise = "x y z w x z y w v u " * 10
    out = collocations_lift(
        spark, _write_docs(tmp_path, [pair_doc.strip(), noise.strip()])
    ).toPandas()
    top = out.iloc[0]
    assert (top["term_a"], top["term_b"]) == ("alpha", "beta")
    n_tokens = 2 * COLLOC_MIN_COUNT + 100
    assert top["c_xy"] == COLLOC_MIN_COUNT
    assert (
        top["lift_e6"]
        == top["c_xy"] * n_tokens * 1_000_000 // (top["c_a"] * top["c_b"])
    )


# --------------------------- pagerank_copurchase ----------------------------


def test_pagerank_mass_and_floor_invariants(spark):
    """Fixed-point PageRank: total mass never exceeds SCALE (floor
    division only leaks downward), every rank is at least the damping
    base, and a second run is bit-identical (determinism contract)."""
    from cs686_big_data_p1_spark.operators.graph import (
        PR_SCALE,
        pagerank_copurchase,
    )

    out = pagerank_copurchase(spark, SF_SMALL).toPandas()
    n = len(out)
    assert n > 0
    base = ((PR_SCALE // n) * 15) // 100
    assert (out["rank_e12"] >= base).all()
    assert out["rank_e12"].sum() <= PR_SCALE
    # truncation leak is bounded: every vertex loses < 1 unit per
    # floor-div per iteration; with 5 iterations and 3 divisions the
    # retained mass still dominates
    assert out["rank_e12"].sum() > PR_SCALE * 9 // 10

    again = pagerank_copurchase(spark, SF_SMALL).toPandas()
    merged = out.merge(again, on="part_id", suffixes=("_a", "_b"))
    assert (merged["rank_e12_a"] == merged["rank_e12_b"]).all()


def test_pagerank_star_graph_concentrates_rank(spark, tmp_path):
    """Planted star: a hub part in every order outranks leaf parts
    that each appear once."""
    rows = []
    # 6 orders; order i holds hub part 1 and leaf part 10+i
    for i in range(6):
        rows.append((i, 1))
        rows.append((i, 10 + i))
    pd.DataFrame(
        [
            (ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
             pd.Timestamp("2026-01-01"))
            for ok, pk in rows
        ],
        columns=[
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        ],
    ).to_parquet(str(tmp_path / "lineitem.parquet"), index=False)

    from cs686_big_data_p1_spark.operators.graph import pagerank_copurchase

    out = pagerank_copurchase(spark, str(tmp_path)).toPandas()
    hub = out.loc[out.part_id == 1, "rank_e12"].iloc[0]
    leaves = out.loc[out.part_id != 1, "rank_e12"]
    assert (hub > leaves).all()


# ---------------------------- retention_cohorts -----------------------------


def test_retention_triangle_identities(spark):
    """Offset-0 rows must cover every user exactly once (everyone is
    active in their own first week), and n_user_days must total the
    corpus's distinct (user, day) count."""
    from pyspark.sql import functions as F

    from cs686_big_data_p1_spark.operators.sessions import retention_cohorts
    from cs686_big_data_p1_spark.tables import load_table

    out = retention_cohorts(spark, SF_SMALL).toPandas()
    e = load_table(spark, SF_SMALL, "events")
    n_users = e.select("user_id").distinct().count()
    n_user_days = (
        e.select("user_id", F.to_date("ts").alias("d")).distinct().count()
    )
    assert out.loc[out.week_offset == 0, "n_users"].sum() == n_users
    assert out["n_user_days"].sum() == n_user_days
    assert (out["week_offset"] >= 0).all()
    assert (out["n_users"] <= out["n_user_days"]).all()


# ----------------------------- stream_trending ------------------------------


def test_stream_trending_withholds_unfinalized_windows(spark):
    """Append mode must only emit windows whose end the watermark
    passed: no emitted window_end may exceed max(ts) - 90 min, ranks
    are 1..K per window, and an emitted window's counts must equal the
    batch recount over the raw events."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cs686_big_data_p1_spark.streaming.trending import (
        TRENDING_K,
        stream_trending,
    )
    from cs686_big_data_p1_spark.tables import load_table

    out = stream_trending(spark, SF_SMALL).toPandas()
    assert len(out) > 0
    ev = load_table(spark, SF_SMALL, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    assert out["window_end"].max() <= max_ts - pd.Timedelta(minutes=90)
    assert set(out["rnk"]) <= set(range(1, TRENDING_K + 1))

    # spot-check the densest emitted window against a batch recount
    ws = out.loc[out["n"].idxmax(), "window_start"]
    sub = out[out["window_start"] == ws].sort_values("rnk")
    batch = (
        ev.where(F.date_trunc("hour", "ts") == F.lit(ws))
        .groupBy("event_type")
        .count()
        .toPandas()
        .set_index("event_type")["count"]
    )
    for _, r in sub.iterrows():
        assert batch[r["event_type"]] == r["n"]


# ------------------------------ triangle_count ------------------------------


def test_triangle_count_on_planted_clique_and_invariants(spark, tmp_path):
    """One order holding parts {1,2,3,4} makes K4: C(4,3)=4 triangles,
    every vertex in exactly 3. A second disjoint order of 2 parts adds
    an edge but no triangle."""
    rows = [(0, p) for p in (1, 2, 3, 4)] + [(1, 10), (1, 11)]
    pd.DataFrame(
        [
            (ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
             pd.Timestamp("2026-01-01"))
            for ok, pk in rows
        ],
        columns=[
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        ],
    ).to_parquet(str(tmp_path / "lineitem.parquet"), index=False)

    from cs686_big_data_p1_spark.operators.graph import triangle_count

    out = triangle_count(spark, str(tmp_path)).toPandas()
    got = dict(zip(out.part_id, out.n_triangles))
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}  # parts 10/11 have none


def test_triangle_count_corner_sum_invariant(spark):
    """Sum of per-vertex counts must be exactly 3x the number of
    distinct triangles (each triangle has three corners)."""
    from cs686_big_data_p1_spark.operators.graph import triangle_count

    out = triangle_count(spark, SF_SMALL).toPandas()
    assert out["n_triangles"].sum() % 3 == 0
    assert (out["n_triangles"] > 0).all()


# ---------------------------- stream_attribution ----------------------------


def test_stream_attribution_lag_bounds_and_batch_parity(spark):
    """Every emitted pair respects the window (0 <= lag <= 3600 s) and
    the pair set equals the batch range-join recomputed directly."""
    from pyspark.sql import functions as F

    from cs686_big_data_p1_spark.streaming.trending import stream_attribution
    from cs686_big_data_p1_spark.tables import load_table

    out = stream_attribution(spark, SF_SMALL).toPandas()
    assert len(out) > 0
    assert (out["lag_s"] >= 0).all() and (out["lag_s"] <= 3600).all()

    ev = load_table(spark, SF_SMALL, "events")
    p = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
    )
    v = ev.where("event_type = 'view'").select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("vid"),
        F.col("ts").alias("vts"),
    )
    batch = (
        p.join(v, "u")
        .where(
            (F.col("vts") <= F.col("pts"))
            & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        )
        .select("pid", "vid")
        .toPandas()
    )
    got = set(zip(out["purchase_id"], out["view_id"]))
    want = set(zip(batch["pid"], batch["vid"]))
    assert got == want


# ----------------------------- event_throttle -------------------------------


def test_event_throttle_matches_sequential_recompute(spark):
    """The applyInPandas kept-anchor scan must equal an independent
    pure-Python recompute, and every throttled survivor must also be a
    debounce survivor's superset-side member (throttle keeps <= rows
    than raw, >= spacing than debounce... precisely: throttle-kept is
    a SUBSET of raw and each consecutive kept pair per group is
    > GAP apart by the anchor rule)."""
    from pyspark.sql import functions as F

    from cs686_big_data_p1_spark.operators.sessions import (
        THROTTLE_GAP_S,
        event_throttle,
    )
    from cs686_big_data_p1_spark.tables import load_table

    out = event_throttle(spark, SF_SMALL).toPandas()
    raw = (
        load_table(spark, SF_SMALL, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .toPandas()
    )
    # independent recompute
    want_ids = []
    for (_, _), grp in raw.groupby(["user_id", "event_type"]):
        grp = grp.sort_values(["ts", "event_id"], kind="mergesort")
        last = None
        for _, r in grp.iterrows():
            if last is None or (r["ts"] - last).total_seconds() > THROTTLE_GAP_S:
                want_ids.append(r["event_id"])
                last = r["ts"]
    assert sorted(out["event_id"]) == sorted(want_ids)

    # consecutive kept events per group are strictly > GAP apart
    for (_, _), grp in out.groupby(["user_id", "event_type"]):
        ts = grp.sort_values("ts")["ts"].tolist()
        for a, b in zip(ts, ts[1:]):
            assert (b - a).total_seconds() > THROTTLE_GAP_S


def test_stream_throttle_matches_batch_throttle(spark):
    """The stateful streaming throttle must emit exactly the batch
    kept-anchor operator's row set on the fixture stream."""
    from cs686_big_data_p1_spark.operators.sessions import event_throttle
    from cs686_big_data_p1_spark.streaming.trending import stream_throttle

    got = stream_throttle(spark, SF_SMALL).toPandas()
    want = event_throttle(spark, SF_SMALL).toPandas()
    key = ["user_id", "event_type", "event_id"]
    assert sorted(map(tuple, got[key].values)) == sorted(
        map(tuple, want[key].values)
    )


def test_bfs_path_graph_exact_distances(spark, tmp_path):
    """Planted path 1-2-3-4-5 (consecutive parts co-ordered pairwise):
    distances from source min(part)=1 must be exact hop counts, and a
    disconnected component must not appear at all."""
    rows = []
    for i, (a, b) in enumerate([(1, 2), (2, 3), (3, 4), (4, 5)]):
        rows.append((i, a))
        rows.append((i, b))
    # disconnected pair far from the source
    rows += [(99, 50), (99, 51)]
    pd.DataFrame(
        [
            (ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
             pd.Timestamp("2026-01-01"))
            for ok, pk in rows
        ],
        columns=[
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        ],
    ).to_parquet(str(tmp_path / "lineitem.parquet"), index=False)

    from cs686_big_data_p1_spark.operators.graph import bfs_distances

    got = {
        r.part_id: r.dist
        for r in bfs_distances(spark, str(tmp_path)).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_phrase_search_overlap_and_positions(spark, tmp_path):
    """Planted docs: overlapping repeats each count, first_pos is
    1-based, phrase split across docs does not match, and a doc
    containing all three words non-adjacently is excluded."""
    from cs686_big_data_p1_spark.operators.search import (
        PHRASE,
        phrase_search,
    )

    a, b, c = PHRASE
    texts = [
        f"x {a} {b} {c} y {a} {b} {c}",         # two matches, first at 2
        f"{a} {b} {c} {b} {c}",                  # one match at 1
        f"{a} x {b} x {c}",                      # words present, no adjacency
        f"{a} {b}",                              # prefix only
    ]
    got = {
        r.doc_id: (r.n_matches, r.first_pos)
        for r in phrase_search(spark, _write_docs(tmp_path, texts)).collect()
    }
    assert got == {0: (2, 2), 1: (1, 1)}


# ------------------------------- mmr_rerank ---------------------------------


def test_mmr_rerank_diversifies_planted_neardup(spark, tmp_path):
    """Planted MMR trajectory: doc 1 is the SECOND-most-relevant
    candidate but a near-duplicate (cosine ~1) of the top pick, so
    lambda=0.7 must defer it behind every orthogonal lower-relevance
    candidate; the greedy order is exactly [0, 2, 3, 4, 1]. Also pins
    the structural contract: picks are 1..k, doc_ids distinct, pick 1
    is the pure-relevance argmax, and mmr_e6 == 7*rel_e6 - 3*max_sim
    (== 7*rel_e6 for the first pick)."""
    from cs686_big_data_p1_spark.operators.search import (
        BM25_TERMS,
        MMR_K,
        mmr_rerank,
    )

    t = BM25_TERMS[0]
    docs = [
        (0, " ".join([t] * 5), "en", "src0", 10),
        (1, " ".join([t] * 4), "en", "src0", 10),  # near-dup of 0
        (2, " ".join([t] * 3), "en", "src0", 10),
        (3, " ".join([t] * 2), "en", "src0", 10),
        (4, t, "en", "src0", 10),
    ]
    embs = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [1.0, 0.01, 0.0, 0.0], 0),  # cos(0,1) ~ 0.99995
        (2, [0.0, 1.0, 0.0, 0.0], 0),
        (3, [0.0, 0.0, 1.0, 0.0], 0),
        (4, [0.0, 0.0, 0.0, 1.0], 0),
    ]
    pd.DataFrame(
        docs, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(str(tmp_path / "documents.parquet"), index=False)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([e[0] for e in embs], pa.int64()),
                "embedding": pa.array(
                    [e[1] for e in embs], pa.list_(pa.float32())
                ),
                "label": pa.array([e[2] for e in embs], pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )

    out = mmr_rerank(spark, str(tmp_path)).toPandas().sort_values("pick")
    assert list(out["pick"]) == list(range(1, MMR_K + 1))
    assert list(out["doc_id"]) == [0, 2, 3, 4, 1]
    assert out["doc_id"].is_unique
    first = out.iloc[0]
    assert first["mmr_e6"] == 7 * first["rel_e6"]
    # relevance strictly decreasing in the planted corpus: the pure
    # BM25 order would be [0,1,2,3,4]; MMR demoted the near-dup to last
    rels = out.sort_values("doc_id")["rel_e6"].tolist()
    assert rels == sorted(rels, reverse=True)


def test_mmr_rerank_zero_candidates_is_typed_empty(spark, tmp_path):
    """A corpus holding none of the query terms gives bm25_search no
    candidates; mmr_rerank must return an empty frame with its normal
    schema, not raise from an argmax over nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cs686_big_data_p1_spark.operators.search import BM25_TERMS, mmr_rerank

    docs = [(0, "alpha beta", "en", "src0", 10), (1, "gamma", "en", "src0", 5)]
    assert not any(t in d[1].split() for d in docs for t in BM25_TERMS)
    pd.DataFrame(
        docs, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(str(tmp_path / "documents.parquet"), index=False)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0, 1], pa.int64()),
                "embedding": pa.array(
                    [[1.0, 0.0], [0.0, 1.0]], pa.list_(pa.float32())
                ),
                "label": pa.array([0, 0], pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )

    out = mmr_rerank(spark, str(tmp_path))
    assert out.columns == ["pick", "doc_id", "rel_e6", "mmr_e6"]
    assert out.count() == 0
