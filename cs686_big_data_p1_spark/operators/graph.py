"""Iterative graph analytics: fixed-point PageRank over the part
co-purchase graph.

The reference's only iterative loops are control-plane polls
(controller/HeartbeatMonitor.java's periodic scan); dedup_clusters
(operators/llm.py) already recasts one graph algorithm — connected
components — as DataFrame iteration. This module adds the weighted
cousin every data-platform ships: PageRank, here over the "parts
bought together" graph derived from lineitem, the classic
recommendation / importance signal.

Determinism contract: ranks live in 1e-12 fixed-point BIGINTs and
every update is integer arithmetic (floor-div by out-degree, floor-div
damping), so K iterations produce bit-identical ranks regardless of
partitioning — and the DuckDB oracle replays the SAME K updates as K
unrolled CTEs (no float mass anywhere, no recursion-semantics risk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.iterate import iterate
from ..registry import query, track_cache
from ..tables import load_table

PR_ITERS = 5
PR_SCALE = 1_000_000_000_000  # 1e-12 fixed point
# damping 0.85 as the exact rational 85/100, applied in integer math


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DIRECTED co-purchase edge list pagerank and bfs share, built
    through its canonical half: the symmetric pair set {(s,d): s≠d}
    equals lt ∪ swap(lt) for lt = the a<b pairs, so the dedup —
    the build's dominant exchange (~10M raw pair rows at sf0.1) —
    runs over HALF the rows, and the localCheckpoint materializes half
    the bytes (guide §2.3: shuffle fewer bytes; the mirror is a
    map-side projection over checkpointed blocks). Result set is
    bit-identical to distinct-ing the directed pairs directly."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src")
    )
    b = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst")
    )
    lt = (
        a.join(b, "k")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    return lt.unionAll(
        lt.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _pagerank_oracle() -> str:
    """Unroll PR_ITERS identical update steps as chained CTEs.

    A recursive CTE is the obvious encoding but aggregate-in-
    recursive-term support differs across engines; a fixed K unrolls
    to the exact same relational algebra the Spark loop executes."""
    base = f"((CAST({PR_SCALE} AS BIGINT) // n.n_verts) * 15) // 100"
    steps = []
    prev = "pr0"
    for i in range(1, PR_ITERS + 1):
        cur = f"pr{i}"
        steps.append(
            f"""{cur} AS (
  SELECT v.v AS v,
         {base} + (85 * coalesce(s.s, 0)) // 100 AS r
  FROM verts v CROSS JOIN n
  LEFT JOIN (
    SELECT e.dst AS v, sum(p.r // d.deg) AS s
    FROM {prev} p JOIN edges e ON p.v = e.src
    JOIN outdeg d ON d.src = p.v
    GROUP BY e.dst
  ) s ON s.v = v.v
)"""
        )
        prev = cur
    chain = ",\n".join(steps)
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
verts AS (SELECT DISTINCT src AS v FROM edges),
n AS (SELECT count(*) AS n_verts FROM verts),
pr0 AS (
  SELECT v.v, CAST({PR_SCALE} AS BIGINT) // n.n_verts AS r
  FROM verts v CROSS JOIN n
),
{chain}
SELECT v AS part_id, CAST(r AS BIGINT) AS rank_e12,
       CAST(r // {PR_SCALE} AS DOUBLE)
         + CAST(r % {PR_SCALE} AS DOUBLE) / {PR_SCALE}.0 AS rank
FROM {prev}
"""


PAGERANK_ORACLE = _pagerank_oracle()


@query("pagerank_copurchase", oracle=PAGERANK_ORACLE)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank ({PR_ITERS} iterations, damping 85/100) over the
    part co-purchase graph: parts are linked when some order contains
    both (lineitem self-join on l_orderkey — fanout bounded by order
    size^2, <=13 lines per order in this schema, and the join key is
    high-cardinality and uniform).

    Each iteration is ONE shuffle pattern: ranks join the
    (checkpointed) edge list on src, contributions group by dst, and
    a left join folds the damping base back over the full vertex set.
    Ranks are 1e-12 fixed-point bigints and every step floor-divides
    nonnegative int64s (`div` here == DuckDB `//`), so the result is
    bit-identical to the oracle's unrolled-CTE replay. The seed and
    every round are cut by functions/iterate.py's iterate (one eager
    localCheckpoint each, no convergence probe: the oracle replays
    exactly PR_ITERS rounds): lineage stays depth-1, each round is
    planned against a materialized table instead of re-optimizing the
    whole co-purchase DAG. The co-purchase graph is symmetric, so no
    dangling-mass term is needed (every vertex has out-degree >= 1;
    the coalesce(0) guard still covers isolated-in-iteration
    vertices)."""
    edges = _copurchase_edges(spark, sf_dir)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    outdeg = track_cache(outdeg)
    verts = edges.select(F.col("src").alias("v")).distinct()
    verts = track_cache(verts)
    n = verts.agg(F.count(F.lit(1)).alias("n_verts"))
    seed = verts.crossJoin(F.broadcast(n)).select(
        "v", F.expr(f"CAST({PR_SCALE} AS BIGINT) div n_verts").alias("r")
    )
    update = F.expr(
        f"((CAST({PR_SCALE} AS BIGINT) div n_verts) * 15) div 100"
        " + (85 * coalesce(s, 0)) div 100"
    ).alias("r")

    def step(ranks: DataFrame, _: int) -> DataFrame:
        contrib = (
            ranks.join(edges, ranks.v == edges.src)
            .join(outdeg, "src")
            .select(F.col("dst").alias("cv"), F.expr("r div deg").alias("c"))
            .groupBy("cv")
            .agg(F.sum("c").alias("s"))
        )
        return (
            verts.crossJoin(F.broadcast(n))
            .join(contrib, verts.v == F.col("cv"), "left")
            .select("v", update)
        )

    ranks, _ = iterate(seed, step, PR_ITERS)
    return ranks.select(
        F.col("v").alias("part_id"),
        F.col("r").alias("rank_e12"),
        F.expr(
            f"CAST(r div {PR_SCALE} AS DOUBLE)"
            f" + CAST(pmod(r, {PR_SCALE}) AS BIGINT) / {PR_SCALE}.0"
        ).alias("rank"),
    )


TRIANGLES_ORACLE = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ce AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM ce UNION ALL SELECT b FROM ce
  ) GROUP BY v
),
oe AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND ce.a < ce.b)
              THEN ce.a ELSE ce.b END AS u,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND ce.a < ce.b)
              THEN ce.b ELSE ce.a END AS v,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND ce.a < ce.b)
              THEN db.d ELSE da.d END AS dv
  FROM ce JOIN deg da ON da.v = ce.a JOIN deg db ON db.v = ce.b
),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM oe e1
  JOIN oe e2 ON e1.u = e2.u
   AND ((e1.dv < e2.dv) OR (e1.dv = e2.dv AND e1.v < e2.v))
  JOIN oe e3 ON e3.u = e1.v AND e3.v = e2.v
)
SELECT v AS part_id, count(*) AS n_triangles FROM (
  SELECT x AS v FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
) GROUP BY v
"""


@query("triangle_count", oracle=TRIANGLES_ORACLE)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts over the part co-purchase graph —
    the clustering/community-strength signal (and the classic
    "MapReduce-hard" graph benchmark).

    Uses the DEGREE-ORDERED orientation (Cohen / Suri-Vassilvitskii):
    every undirected edge points from its lower-(degree, id) endpoint
    to the higher one, so each triangle {x,y,z} (ordered x<y<z by
    (degree, id)) is found exactly once — at edge (x,y), as
    z ∈ out(x) ∩ out(y). The orientation bounds OUT-degree by
    O(sqrt(m)) regardless of raw-degree skew (the celebrity-vertex
    guard), which makes the EDGE-CENTRIC plan safe: out-adjacency is
    collected into one bounded sorted array per vertex, each oriented
    edge joins both endpoints' arrays, and the JVM array_intersect
    emits that edge's triangles map-side. Versus the wedge-join
    formulation (materialize every out-neighbor PAIR, then semi-join):
    this shuffles |E| rows carrying <= O(sqrt(m)) ints instead of
    sum-of-C(outdeg,2) wedge rows — at sf0.1 that is 1.2M arrays vs
    41M wedges, and the measured win is ~3x. The final per-vertex
    rollup map-side combines the exploded triangle corners."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("a")
    )
    b = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("b")
    )
    ce = (
        a.join(b, "k")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # eager bound: one (a, b) long pair per distinct co-purchase edge
    # = O(|E|); MEMORY_AND_DISK spills, never OOMs (§5).
    ce = track_cache(ce, eager=True)
    deg = (
        ce.select(F.col("a").alias("v"))
        .unionAll(ce.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oe = (
        ce.join(da, "a")
        .join(db, "b")
        .select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dv"),
        )
        .localCheckpoint(eager=True)
    )
    adj = oe.groupBy("u").agg(
        F.sort_array(F.collect_list("v")).alias("nbrs")
    )
    # eager bound: one row per vertex, arrays sum to O(|E|) ints
    # (forward-degree orientation caps each at O(sqrt m)); spills (§5).
    adj = track_cache(adj, eager=True)
    au = adj.select(F.col("u"), F.col("nbrs").alias("nu"))
    av = adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nv"))
    tri = (
        oe.select("u", "v")
        .join(au, "u")
        .join(av, "v")
        .select(
            F.col("u").alias("x"),
            F.col("v").alias("y"),
            F.explode(F.array_intersect("nu", "nv")).alias("z"),
        )
    )
    corners = (
        tri.select(F.col("x").alias("v"))
        .unionAll(tri.select(F.col("y").alias("v")))
        .unionAll(tri.select(F.col("z").alias("v")))
    )
    return corners.groupBy(F.col("v").alias("part_id")).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


# ---------------------------------------------------------------------------
# Single-source BFS (hop distances)
# ---------------------------------------------------------------------------

BFS_ITERS = 8  # >= co-purchase graph diameter at any fixture SF


BFS_ORACLE = f"""
WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
s0 AS (SELECT min(src) AS s FROM edges),
reach(v, d) AS (
  SELECT s, 0 FROM s0
  UNION
  SELECT e.dst, r.d + 1
  FROM reach r JOIN edges e ON e.src = r.v
  WHERE r.d < {BFS_ITERS}
)
SELECT v AS part_id, CAST(min(d) AS INT) AS dist
FROM reach GROUP BY v
"""


@query("bfs_distances", oracle=BFS_ORACLE)
def bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distances over the part co-purchase
    graph, from the deterministic source vertex min(part_id) — the
    frontier-expansion iterative pattern (the one classic graph shape
    pagerank's fixed-point and dedup_clusters' label propagation
    don't cover).

    FRONTIER-based expansion (textbook BFS, not whole-table
    relaxation): in a level-synchronous BFS from one source, the
    vertices discovered in round i are exactly the vertices at
    distance i, so each round expands ONLY the previous frontier and
    anti-joins the settled set — never re-relaxing vertices whose
    distance is final. After K rounds every vertex within K hops
    holds its exact distance, which is what the oracle's depth-capped
    recursive CTE (UNION-dedup on (v, d), d < K) computes: min over
    walks == min over paths, so the two agree exactly for matching
    caps. Distances are small ints; no float anywhere.

    Scale: the edge list localCheckpoints once (same cut as
    pagerank; the edge materialization, not the waves, dominates the
    measured cost at fixture scale). The loop is functions/iterate.py's
    iterate over the settled set (v, d): round i expands the d = i - 1
    wave, shuffling O(|frontier| x avg-degree) dst keys plus the
    anti-join against the settled set, and each round's checkpoint job
    also observes the settled count. On small-world graphs the
    frontier saturates by round 2-3; the first round whose count does
    not grow (an empty wave) ends the loop with no probe job of its
    own, and running out of rounds is the oracle's depth cap.
    """
    edges = _copurchase_edges(spark, sf_dir)
    s0 = edges.agg(F.min("src").alias("s"))
    seed = (
        edges.select(F.col("src").alias("v"))
        .distinct()
        .crossJoin(F.broadcast(s0))
        .where(F.col("v") == F.col("s"))
        .select("v", F.lit(0).alias("d"))
    )

    def wave(dist: DataFrame, i: int) -> DataFrame:
        frontier = dist.where(F.col("d") == i - 1)
        return dist.unionAll(
            frontier.join(edges, frontier.v == edges.src)
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(dist, "v", "left_anti")
            .select("v", F.lit(i).alias("d"))
        )

    dist, _ = iterate(seed, wave, BFS_ITERS, F.count(F.lit(1)))
    return dist.select(
        F.col("v").alias("part_id"), F.col("d").cast("int").alias("dist")
    )
